package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal plumbing: schema contracts, frame explode arithmetic,
  * the real codec round trips and their fallbacks, and fixed-dim features.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "abcdefghij"),     // 10 bytes
    (2L, "0123456789abcdef") // 16 bytes
  ).toDF("doc_id", "text")

  private val media = Multimodal.asMedia(docs, "doc_id", "text", "image")

  test("asMedia: binary column + typed metadata struct") {
    val sch = media.schema
    assert(sch("bytes").dataType == BinaryType)
    val meta = sch("meta").dataType.asInstanceOf[StructType]
    assert(meta.fieldNames.toSeq == Seq("n_bytes", "width", "height", "sample_rate"))
    val m = media.filter(col("media_id") === 1L).select("meta.n_bytes").as[Int].head()
    assert(m == 10)
  }

  test("frameSample: explode produces ceil((len-frame)/stride)+1 frames of frame size") {
    val frames = Multimodal.frameSample(media, frameBytes = 4, stride = 3)
    val counts = frames.groupBy("media_id").count().as[(Long, Long)].collect().toMap
    // len 10: floor((10-4)/3)+1 = 3 frames; len 16: floor(12/3)+1 = 5
    assert(counts(1L) == 3 && counts(2L) == 5)
    val lens = frames.select(length(col("frame_bytes")).cast("int")).as[Int].collect()
    assert(lens.forall(_ <= 4) && lens.count(_ == 4) >= 6)
  }

  test("renderPng → decodeImage: REAL ImageIO round trip recovers the raster law exactly") {
    val rendered = Multimodal.renderPng(docs, "doc_id", "text")
    // the PNG bytes are a real container: magic header present
    val pngs = rendered.select("doc_id", "png").as[(Long, Array[Byte])].collect().toMap
    assert(pngs.values.forall(b =>
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'))
    val media = Multimodal.asMedia(rendered, "doc_id", "png", "image")
    val dec = Multimodal.decodeImage(media, dim = 8)
      .select("media_id", "decode_ok", "width", "height", "px00_r", "px00_g", "px00_b", "lum_sum")
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    for ((id, payload) <- Map(1L -> "abcdefghij", 2L -> "0123456789abcdef")) {
      val bs = payload.getBytes
      val len = bs.length
      val w = Multimodal.rasterWidth(len)
      val h = Multimodal.rasterHeight(len)
      val r = dec(id)
      assert(r.getBoolean(1), s"decode failed for $id")
      assert(r.getInt(2) == w && r.getInt(3) == h, s"dims for $id: $r")
      assert(r.getInt(4) == (bs(0) & 0xff))
      assert(r.getInt(5) == (bs(7 % len) & 0xff))
      assert(r.getInt(6) == (bs(13 % len) & 0xff))
      val lum = (0 until w * h).map { i =>
        (bs(i % len) & 0xff) + (bs((i * 31 + 7) % len) & 0xff) + (bs((i * 131 + 13) % len) & 0xff)
      }.map(_.toLong).sum
      assert(r.getLong(7) == lum, s"lum_sum for $id: got ${r.getLong(7)}, want $lum")
    }
  }

  test("dhashBytes: codec path equals the raster-law computation; perturbation is local") {
    def lawDhash(payload: Array[Byte]): (Long, Long) = {
      val len = payload.length
      val w = Multimodal.rasterWidth(len)
      val h = Multimodal.rasterHeight(len)
      val sums = Array.ofDim[Long](8, 9)
      val cnts = Array.ofDim[Long](8, 9)
      for (i <- 0 until w * h) {
        val x = i % w; val y = i / w
        val gray = (payload(i % len) & 0xff) + (payload((i * 31 + 7) % len) & 0xff) +
          (payload((i * 131 + 13) % len) & 0xff)
        sums(y * 8 / h)(x * 9 / w) += gray
        cnts(y * 8 / h)(x * 9 / w) += 1
      }
      var lo = 0L; var hi = 0L
      for (cy <- 0 until 8; cx <- 0 until 8)
        if (sums(cy)(cx + 1) * cnts(cy)(cx) > sums(cy)(cx) * cnts(cy)(cx + 1)) {
          val pos = cy * 8 + cx
          if (pos < 32) lo |= 1L << pos else hi |= 1L << (pos - 32)
        }
      (lo, hi)
    }
    for (payload <- Seq("abcdefghij", "the quick brown fox jumps over the lazy dog", "0123456789abcdef")) {
      val bs = payload.getBytes
      val (ok, lo, hi) = Multimodal.dhashBytes(Multimodal.renderPngBytes(bs))
      assert(ok, s"decode failed for '$payload'")
      assert((lo, hi) == lawDhash(bs), s"codec dhash != law dhash for '$payload'")
      // both halves stay in 32-bit positive range (the SQL portability contract)
      assert(lo >= 0 && lo < (1L << 32) && hi >= 0 && hi < (1L << 32))
    }
    // locality: a single-byte change moves few bits ONLY when the payload
    // is much longer than the raster (each payload byte feeds ~3·w·h/len
    // pixels — at len=10 one byte is 30% of all pixels and the hash
    // rightly scrambles; the q149 corpus texts are ~300 bytes)
    val long = ("the quick brown fox jumps over the lazy dog " * 7).getBytes
    val (_, llo, lhi) = Multimodal.dhashBytes(Multimodal.renderPngBytes(long))
    val pert = long.clone(); pert(long.length - 1) = '#'.toByte
    val (_, plo, phi) = Multimodal.dhashBytes(Multimodal.renderPngBytes(pert))
    val hamming = java.lang.Long.bitCount(llo ^ plo) + java.lang.Long.bitCount(lhi ^ phi)
    assert(hamming <= 12, s"single-byte perturbation of a long payload moved $hamming bits")
  }

  test("decodeImage: real pixel features are fixed-dim, in (-1,1), deterministic, identity-preserving") {
    val rendered = Multimodal.renderPng(docs, "doc_id", "text")
    val media = Multimodal.asMedia(rendered, "doc_id", "png", "image")
    def feats() = Multimodal.decodeImage(media, dim = 16)
      .select("media_id", "features").as[(Long, Seq[Float])].collect().toMap
    val f1 = feats()
    assert(f1.values.forall(_.size == 16))
    assert(f1.values.flatten.forall(v => v > -1f && v < 1f))
    assert(f1.mapValues(_.toList).toMap == feats().mapValues(_.toList).toMap) // deterministic
    // identical payloads → identical features; different → different
    val dup = Seq((10L, "abcdefghij"), (11L, "abcdefghij"), (12L, "zyxwvutsrq")).toDF("doc_id", "text")
    val fd = Multimodal.decodeImage(
      Multimodal.asMedia(Multimodal.renderPng(dup, "doc_id", "text"), "doc_id", "png", "image"),
      dim = 16
    ).select("media_id", "features").as[(Long, Seq[Float])].collect().toMap
    assert(fd(10L) == fd(11L))
    assert(fd(10L) != fd(12L))
  }

  test("decodeImage: unparseable payload takes the documented fallback, not a failure") {
    val dec = Multimodal.decodeImage(media, dim = 8) // text bytes: no codec can parse
    val rows = dec.select("decode_ok", "width", "features").collect()
    assert(rows.forall(!_.getBoolean(0)))
    assert(rows.forall(_.getInt(1) == -1))
    assert(rows.forall(_.getSeq[Float](2).size == 8))
  }

  test("q32 audits: all zero and decoded values obey the raster law at sf0.001") {
    val rows = graft.Queries.q32Multimodal(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.getAs[Int]("audit_undecoded") == 0))
    assert(rows.forall(r => r.getAs[Long]("audit_bad_frame_len") == 0L))
    assert(rows.forall(r => r.getAs[Int]("audit_bad_frame_count") == 0))
    assert(rows.forall(r => r.getAs[Int]("audit_bad_features") == 0))
    assert(rows.forall { r =>
      val w = r.getAs[Int]("width"); val h = r.getAs[Int]("height")
      w >= 8 && w <= 16 && h >= 8 && h <= 14
    })
  }

  test("renderWav → decodeAudio: REAL WAV round trip recovers the audio law sample-exactly") {
    val rendered = Multimodal.renderWav(docs, "doc_id", "text")
    val wavs = rendered.select("doc_id", "wav").as[(Long, Array[Byte])].collect().toMap
    // real RIFF container
    assert(wavs.values.forall(b => b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F'))
    val media = Multimodal.asMedia(rendered, "doc_id", "wav", "audio")
    val dec = Multimodal.decodeAudio(media, dim = 8)
      .select("media_id", "decode_ok", "sample_rate", "n_samples", "first_sample", "amp_sum", "meta.sample_rate")
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    for ((id, payload) <- Map(1L -> "abcdefghij", 2L -> "0123456789abcdef")) {
      val bs = payload.getBytes
      val len = bs.length
      val r = dec(id)
      assert(r.getBoolean(1), s"decode failed for $id")
      assert(r.getInt(2) == Multimodal.audioRate(len))
      assert(r.getInt(6) == Multimodal.audioRate(len), "meta.sample_rate not filled")
      assert(r.getLong(3) == Multimodal.audioSamples(len).toLong)
      def sample(i: Int): Int =
        ((((bs((i * 17 + 3) % len) & 0xff) << 8) | (bs(i % len) & 0xff)).toShort).toInt
      assert(r.getInt(4) == sample(0), s"first_sample for $id")
      val amp = (0 until Multimodal.audioSamples(len)).map(i => math.abs(sample(i)).toLong).sum
      assert(r.getLong(5) == amp, s"amp_sum for $id: got ${r.getLong(5)}, want $amp")
    }
  }

  test("decodeAudio: unparseable payload takes the documented fallback") {
    val dec = Multimodal.decodeAudio(media, dim = 8) // text bytes: not a WAV
    val rows = dec.select("decode_ok", "sample_rate", "envelope").collect()
    assert(rows.forall(!_.getBoolean(0)))
    assert(rows.forall(_.getInt(1) == -1))
    assert(rows.forall(_.getSeq[Float](2).size == 8))
  }

  test("q108 audio audits: all zero at sf0.001, envelope in range") {
    val rows = graft.Queries.q108AudioDecode(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.getAs[Int]("audit_undecoded") == 0))
    assert(rows.forall(r => r.getAs[Int]("audit_bad_envelope") == 0))
    assert(rows.forall(r => r.getAs[Long]("amp_sum") > 0))
  }

  test("q54 media-dedup integration: identical payloads all found via the embedding path") {
    val r = graft.Queries.q54MediaDedup(spark, "/root/testdata/sf0.001").collect().head
    assert(r.getAs[Long]("n_identical") >= 250, "corpus lost its planted re-uploads")
    assert(r.getAs[Double]("recall_identical") == 1.0,
      s"identical media payloads (cosine 1.0, identical buckets) must ALL be found: $r")
    assert(r.getAs[Long]("n_exact") > 0)
    assert(r.getAs[Double]("recall") >= 0.9,
      s"LSH recall over all cosine>=0.9 pairs degraded: $r")
  }

  test("frame-level dedup: shared frames across different media found by fingerprint join") {
    // two videos that share a middle segment + one unrelated
    val vids = Seq(
      (1L, "AAAABBBBCCCC"),
      (2L, "XXXXBBBBZZZZ"), // shares frame "BBBB" with 1
      (3L, "MMMMNNNNOOOO")
    ).toDF("doc_id", "text")
    val frames = Multimodal
      .frameSample(Multimodal.asMedia(vids, "doc_id", "text", "video"), frameBytes = 4, stride = 4)
      .select(col("media_id"), col("frame_idx"), md5(col("frame_bytes")).as("fp"))
    val a = frames.select(col("media_id").as("m_a"), col("frame_idx").as("i_a"), col("fp"))
    val b = frames.select(col("media_id").as("m_b"), col("frame_idx").as("i_b"), col("fp"))
    val shared = a
      .join(b, "fp")
      .filter(col("m_a") < col("m_b"))
      .select("m_a", "m_b", "i_a", "i_b")
      .as[(Long, Long, Int, Int)]
      .collect()
      .toSet
    assert(shared == Set((1L, 2L, 1, 1)), s"got $shared")
  }
}
