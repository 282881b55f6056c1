package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Multimodal columns for the training-data pipeline extension: media as
  * opaque `binary` columns with typed metadata, plus encode / decode /
  * perceptual-hash / frame-sample stages.
  *
  * The image kernels are REAL: `renderPng` rasterizes payload bytes into
  * a tiny RGB image and PNG-encodes it with `javax.imageio` (ships in the
  * JDK's java.desktop module — headless safe), and `decodeImage` decodes
  * those bytes back with `ImageIO.read` and computes features from the
  * actual pixels. Because the raster law (dimensions + per-pixel
  * channels) is a CLOSED FORM over the payload bytes, the whole encode →
  * PNG → decode round trip is certifiable relationally — q32's DuckDB
  * oracle recomputes the decoded width/height/pixel values from the raw
  * text. `renderWav`/`decodeAudio` are the same discipline over
  * `javax.sound` WAV (q108). A payload no codec parses is not an error:
  * the decode kernels return `ok = false` rows with byte-hash features.
  *
  * Scale notes: all stages are map-side (no shuffles); one
  * decode per row inside the partition iterator ([[decodeImage]] is the
  * mapPartitions seam where a production codec/model server would
  * amortize native init); frame sampling is a generator (posexplode) so
  * one 100 MB video row becomes many frame rows without driver
  * involvement; feature extraction emits fixed-dim vectors ready for
  * graft.ops.Similarity.
  */
object Multimodal {

  // ImageIO.read(InputStream)/write(.., OutputStream) consult the
  // JVM-global useCache flag (default TRUE) and wrap even pure
  // in-memory streams in FileCacheImageInput/OutputStream — one temp
  // FILE create/write/delete in java.io.tmpdir per codec call. At
  // thousands of tiny images per task that is pure syscall overhead
  // (measured in this container: 2,000 encode/decode cycles 1.8–11.6 s
  // file-cached and kernel-dominated vs 0.85–1.1 s memory-cached,
  // identical bytes — the r14 q149_image_dhash 2× drift was exactly
  // this, psys rivaling puser with flat minflt), and at cluster scale
  // it is tmpdir contention across executor cores. Memory-backed
  // streams are strictly better for the tiny rasters this pipeline
  // produces. Object-init is the right seam: every codec kernel below
  // references this object, so any executor JVM that loads the class
  // flips the flag before its first ImageIO call.
  ImageIO.setUseCache(false)

  // ------------------------------------------------------------------
  // The deterministic raster law — shared by the encode side
  // (renderPng), the decode audits, and the q32 DuckDB oracle. Keep the
  // three in sync: width/height from payload length, channel bytes from
  // payload positions.
  //   width  = 8 + len % 9   (8..16)
  //   height = 8 + len % 7   (8..14)
  //   pixel(x, y), idx = y*width + x:
  //     r = payload[idx % len], g = payload[(idx*31 + 7) % len],
  //     b = payload[(idx*131 + 13) % len]
  // ------------------------------------------------------------------
  def rasterWidth(len: Int): Int = 8 + len % 9
  def rasterHeight(len: Int): Int = 8 + len % 7

  /** Pure-JVM encode kernel (PropsSpec property-tests this over random
    * byte payloads; the mapPartitions stage wraps it): rasterize under
    * the closed-form law and PNG-encode via ImageIO.
    */
  def renderPngBytes(payload0: Array[Byte]): Array[Byte] = {
    // total law: a null/empty payload renders as the single zero byte
    // (one bad row must not abort a whole stage — the encode-side
    // counterpart of decode_ok=false)
    val payload = if (payload0 == null || payload0.isEmpty) Array[Byte](0) else payload0
    val len = payload.length
    val w = rasterWidth(len)
    val h = rasterHeight(len)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var idx = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = payload(idx % len) & 0xff
        val g = payload((idx * 31 + 7) % len) & 0xff
        val b = payload((idx * 131 + 13) % len) & 0xff
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        idx += 1
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream(256)
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Pure-JVM decode kernel result ([[decodeImageBytes]]). */
  final case class DecodedImage(
      ok: Boolean,
      width: Int,
      height: Int,
      px00r: Int,
      px00g: Int,
      px00b: Int,
      lumSum: Long,
      features: Array[Float]
  )

  /** Pure-JVM decode kernel: ImageIO decode + real-pixel stats/features
    * (see [[decodeImage]] for the column contract); byte-hash fallback
    * with ok=false when no codec parses the payload.
    */
  def decodeImageBytes(bytes: Array[Byte], dim: Int): DecodedImage = {
    val img =
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) {
      val feats = Array.tabulate(dim) { d =>
        val hx = scala.util.hashing.MurmurHash3.bytesHash(bytes, d)
        ((((hx % 2000L) + 2000L) % 2000L).toDouble / 1000.0 - 1.0).toFloat
      }
      DecodedImage(ok = false, -1, -1, -1, -1, -1, -1L, feats)
    } else {
      val w = img.getWidth
      val h = img.getHeight
      // LINEAR contiguous binning over the raster-order pixel index
      // (cell = i·dim/(w·h)) — total by construction: every pixel lands
      // in exactly one of the dim cells, and every cell is nonempty
      // whenever w·h ≥ dim. (A 2-D ceil(√dim)-grid was measured to DROP
      // the last cell's pixels from the feature vector for any dim with
      // gx·gy > dim, e.g. dim=8 → 3×3 grid with cell 8 unread.)
      val nPix = w * h
      val sums = new Array[Long](dim)
      val counts = new Array[Long](dim)
      var lumSum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val s = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          lumSum += s
          val i = y * w + x
          val cell = (i.toLong * dim / nPix).toInt
          sums(cell) += s
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      val imgMean = lumSum.toDouble / (3.0 * w * h)
      val feats = Array.tabulate(dim) { c =>
        if (counts(c) > 0) {
          val cellMean = sums(c).toDouble / (3.0 * counts(c))
          // (cellMean − imgMean) ∈ (−256, 256) ⇒ /256 ∈ (−1, 1)
          ((cellMean - imgMean) / 256.0).toFloat
        } else 0f
      }
      val p00 = img.getRGB(0, 0)
      DecodedImage(ok = true, w, h, (p00 >> 16) & 0xff, (p00 >> 8) & 0xff, p00 & 0xff, lumSum, feats)
    }
  }

  /** Rasterize each row's payload into a tiny RGB image under the
    * closed-form raster law and encode it as REAL PNG bytes via
    * `javax.imageio` — the ingest stage that turns an opaque payload
    * into decodable media. Deterministic: byte-identical payloads yield
    * byte-identical PNGs (PNG is lossless; the law has no randomness).
    * Map-side mapPartitions (the codec-init amortization seam).
    */
  def renderPng(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // ImageIO scans for plugin providers on first use — once per
        // partition here, not once per row
        rows.map { case (id, payload) =>
          (id, renderPngBytes(payload), if (payload == null) 0 else payload.length)
        }
      }
      .toDF(idCol, "png", "payload_len")
  }

  /** Wrap any payload column as a media row: opaque bytes + typed
    * metadata. At ingest only the byte length is known — width/height/
    * sample_rate are NULL until a decode stage ([[decodeImage]]) reads
    * the real container header.
    */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String, kind: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      lit(kind).as("kind"),
      col(payloadCol).cast("binary").as("bytes")
    ).withColumn(
      "meta",
      struct(
        length(col("bytes")).cast("int").as("n_bytes"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("int").as("sample_rate")
      )
    )

  /** Columns [[decodeImage]] appends. decode_ok=false rows carry the
    * byte-hash FALLBACK features (documented stub path) and -1 dims.
    */
  private val decodedFields: Seq[StructField] = Seq(
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("px00_r", IntegerType, nullable = false),
    StructField("px00_g", IntegerType, nullable = false),
    StructField("px00_b", IntegerType, nullable = false),
    StructField("lum_sum", LongType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)
  )

  /** REAL image decode + feature extraction (round 6): per partition,
    * hand each row's `bytes` to `ImageIO.read` and compute from the
    * ACTUAL pixels —
    *   - `width`/`height` from the decoded header,
    *   - `px00_*` the channel values of pixel (0,0),
    *   - `lum_sum` the integer-exact Σ(r+g+b) over every pixel,
    *   - `features` a `dim`-length float vector of grid-cell mean
    *     luminance CENTERED on the image mean, in (−1, 1) — centering
    *     decorrelates unrelated images (raw cell means of text-derived
    *     rasters all sit near the corpus byte mean, which would push
    *     every random pair's cosine toward 1) while keeping
    *     byte-identical payloads at exactly identical vectors.
    * Unparseable payloads take the documented byte-hash FALLBACK
    * (decode_ok=false, dims −1, stub features) instead of failing the
    * stage. Also fills meta.width/height for decoded rows. Map-side
    * only; one decode per row amortized over the partition iterator.
    */
  def decodeImage(media: DataFrame, dim: Int = 64): DataFrame = {
    val inSchema = media.schema
    val bytesIdx = inSchema.fieldIndex("bytes")
    val outSchema = StructType(inSchema.fields ++ decodedFields)
    val decoded = media.mapPartitions { rows =>
      rows.map { row =>
        val d = decodeImageBytes(row.getAs[Array[Byte]](bytesIdx), dim)
        Row.fromSeq(
          row.toSeq ++ Seq(d.ok, d.width, d.height, d.px00r, d.px00g, d.px00b, d.lumSum, d.features)
        )
      }
    }(Encoders.row(outSchema))
    decoded.withColumn(
      "meta",
      when(
        col("decode_ok"),
        col("meta")
          .withField("width", col("width"))
          .withField("height", col("height"))
      ).otherwise(col("meta"))
    )
  }

  // ------------------------------------------------------------------
  // Perceptual dHash (difference hash) over the decoded pixel grid —
  // the image analogue of the text near-dup family: 9×8 grid-cell
  // luminance means (cx = x·9/w, cy = y·8/h integer division; gray =
  // r+g+b, integer), one bit per horizontally-adjacent cell pair,
  // compared by INTEGER CROSS-MULTIPLICATION sum(cx+1)·cnt(cx) >
  // sum(cx)·cnt(cx+1) so no division ever happens — the whole hash is
  // exact integer arithmetic, replayable from the raster law by any
  // engine. Cells can be empty at w=8 (x·9/8 never hits 8); an empty
  // cell compares 0>0 = false on both sides by the same law. The 64
  // bits ship as two 32-bit halves in BIGINTs (lo = bits 0..31,
  // hi = bits 32..63) to keep every value positive and shift-free in
  // SQL; hamming = bit_count(lo⊕lo') + bit_count(hi⊕hi').
  // ------------------------------------------------------------------

  /** dHash of decoded PNG bytes via the REAL `ImageIO` codec (the q32
    * discipline: the JDK roundtrip is what certifies the closed-form
    * replay). Returns (ok, lo, hi); undecodable bytes → (false, -1, -1).
    */
  def dhashBytes(bytes: Array[Byte]): (Boolean, Long, Long) = {
    val img =
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) (false, -1L, -1L)
    else {
      val w = img.getWidth
      val h = img.getHeight
      val sums = Array.ofDim[Long](8, 9)
      val cnts = Array.ofDim[Long](8, 9)
      var y = 0
      while (y < h) {
        val cy = y * 8 / h
        var x = 0
        while (x < w) {
          val cx = x * 9 / w
          val rgb = img.getRGB(x, y)
          val gray = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          sums(cy)(cx) += gray
          cnts(cy)(cx) += 1
          x += 1
        }
        y += 1
      }
      var lo = 0L
      var hi = 0L
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          val bit = sums(cy)(cx + 1) * cnts(cy)(cx) > sums(cy)(cx) * cnts(cy)(cx + 1)
          if (bit) {
            val pos = cy * 8 + cx
            if (pos < 32) lo |= 1L << pos
            else hi |= 1L << (pos - 32)
          }
          cx += 1
        }
        cy += 1
      }
      (true, lo, hi)
    }
  }

  /** Appends `dhash_ok`, `dhash_lo`, `dhash_hi` to a media frame
    * (real codec decode per row, map-side, partition-amortized).
    */
  def withDhash(media: DataFrame): DataFrame = {
    val inSchema = media.schema
    val bytesIdx = inSchema.fieldIndex("bytes")
    val outSchema = StructType(
      inSchema.fields ++ Seq(
        StructField("dhash_ok", BooleanType, nullable = false),
        StructField("dhash_lo", LongType, nullable = false),
        StructField("dhash_hi", LongType, nullable = false)
      )
    )
    media.mapPartitions { rows =>
      rows.map { row =>
        val (ok, lo, hi) = dhashBytes(row.getAs[Array[Byte]](bytesIdx))
        Row.fromSeq(row.toSeq ++ Seq(ok, lo, hi))
      }
    }(Encoders.row(outSchema))
  }

  // ------------------------------------------------------------------
  // Audio: the same closed-form-law + real-JDK-codec design as images,
  // via javax.sound.sampled (java.desktop module, headless-probed).
  //   sample_rate = 8000 + (len % 8) * 1000     (8000..15000 Hz)
  //   n_samples   = len * 4
  //   sample(i), 16-bit signed little-endian PCM:
  //     hi = payload[(i*17 + 3) % len], lo = payload[i % len]
  //     s  = toSigned16((hi << 8) | lo)
  // ------------------------------------------------------------------
  def audioRate(len: Int): Int = 8000 + (len % 8) * 1000
  def audioSamples(len: Int): Int = len * 4

  /** Pure-JVM audio encode kernel (property-tested like
    * [[renderPngBytes]]): PCM under the closed-form law, WAV via
    * AudioSystem.
    */
  def renderWavBytes(payload0: Array[Byte]): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // total law: null/empty payload == the single zero byte (see
    // renderPngBytes)
    val payload = if (payload0 == null || payload0.isEmpty) Array[Byte](0) else payload0
    val len = payload.length
    val n = audioSamples(len)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val hi = payload((i * 17 + 3) % len) & 0xff
      val lo = payload(i % len) & 0xff
      // little-endian 16-bit: the (hi<<8|lo) value IS the sample
      pcm(2 * i) = lo.toByte
      pcm(2 * i + 1) = hi.toByte
      i += 1
    }
    val fmt = new AudioFormat(audioRate(len).toFloat, 16, 1, true, false)
    val bos = new ByteArrayOutputStream(pcm.length + 64)
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE,
      bos
    )
    bos.toByteArray
  }

  /** Pure-JVM audio decode kernel result ([[decodeAudioBytes]]). */
  final case class DecodedAudio(
      ok: Boolean,
      sampleRate: Int,
      nSamples: Long,
      firstSample: Int,
      ampSum: Long,
      envelope: Array[Float]
  )

  /** Pure-JVM audio decode kernel: WAV parse + real-sample stats (see
    * [[decodeAudio]] for the column contract); byte-hash fallback with
    * ok=false for unparseable payloads.
    */
  def decodeAudioBytes(bytes: Array[Byte], dim: Int): DecodedAudio = {
    import javax.sound.sampled.AudioSystem
    val pcmOrNull =
      try {
        val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
        val f = in.getFormat
        if (f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian)
          (f.getSampleRate.toInt, in.readAllBytes())
        else null
      } catch { case _: Exception => null }
    if (pcmOrNull == null) {
      val env = Array.tabulate(dim) { d =>
        val hx = scala.util.hashing.MurmurHash3.bytesHash(bytes, d)
        ((((hx % 2000L) + 2000L) % 2000L).toDouble / 1000.0 - 1.0).toFloat
      }
      DecodedAudio(ok = false, -1, -1L, -1, -1L, env)
    } else {
      val (rate, pcm) = pcmOrNull
      val n = pcm.length / 2
      val sums = new Array[Long](dim)
      val counts = new Array[Long](dim)
      var ampSum = 0L
      var first = 0
      var i = 0
      while (i < n) {
        // little-endian signed 16-bit
        val s = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
        if (i == 0) first = s
        val a = math.abs(s).toLong
        ampSum += a
        val bin = (i.toLong * dim / n).toInt
        sums(bin) += a
        counts(bin) += 1
        i += 1
      }
      // bin value ∈ [−1, 1): −1.0 exactly IS legal (an all-silent bin);
      // an empty bin (n < dim, i.e. a sub-dim-sample payload) maps to 0f
      // like the image features' empty-cell convention
      val env = Array.tabulate(dim) { b =>
        if (counts(b) > 0)
          ((sums(b).toDouble / counts(b)) / 32768.0 * 2.0 - 1.0).toFloat
        else 0f
      }
      DecodedAudio(ok = true, rate, n.toLong, first, ampSum, env)
    }
  }

  /** Synthesize each row's payload into REAL mono 16-bit PCM WAV bytes
    * (RIFF container via AudioSystem.write) under the closed-form audio
    * law — deterministic, byte-identical payloads yield byte-identical
    * WAVs. Map-side mapPartitions.
    */
  def renderWav(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          (id, renderWavBytes(payload), if (payload == null) 0 else payload.length)
        }
      }
      .toDF(idCol, "wav", "payload_len")
  }

  /** Columns [[decodeAudio]] appends (fallback rows: -1 scalars, stub
    * envelope, decode_ok=false).
    */
  private val audioFields: Seq[StructField] = Seq(
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("first_sample", IntegerType, nullable = false),
    StructField("amp_sum", LongType, nullable = false),
    StructField("envelope", ArrayType(FloatType, containsNull = false), nullable = false)
  )

  /** REAL audio decode: per partition, parse the WAV container with
    * `AudioSystem.getAudioInputStream`, read the PCM frames back and
    * compute from the ACTUAL samples — header sample rate, frame count,
    * the first decoded sample, the integer-exact Σ|sample|, and a
    * `dim`-bin envelope (mean |sample| per contiguous bin, scaled to
    * (−1, 1)). Unparseable payloads take the byte-hash FALLBACK
    * (decode_ok=false). Fills meta.sample_rate for decoded rows.
    * Map-side only.
    */
  def decodeAudio(media: DataFrame, dim: Int = 8): DataFrame = {
    val inSchema = media.schema
    val bytesIdx = inSchema.fieldIndex("bytes")
    val outSchema = StructType(inSchema.fields ++ audioFields)
    val decoded = media.mapPartitions { rows =>
      rows.map { row =>
        val d = decodeAudioBytes(row.getAs[Array[Byte]](bytesIdx), dim)
        Row.fromSeq(
          row.toSeq ++ Seq(d.ok, d.sampleRate, d.nSamples, d.firstSample, d.ampSum, d.envelope)
        )
      }
    }(Encoders.row(outSchema))
    decoded.withColumn(
      "meta",
      when(col("decode_ok"), col("meta").withField("sample_rate", col("sample_rate")))
        .otherwise(col("meta"))
    )
  }

  /** Frame sampling: split the payload into fixed-size frames with a
    * stride and explode one row per frame — the generator shape of video
    * pipelines (each frame row carries its index + its own bytes).
    */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = greatest(
      floor((length(col("bytes")) - frameBytes).cast("double") / stride).cast("int") + 1,
      lit(1)
    )
    media.select(
      col("*"),
      posexplode(
        transform(
          sequence(lit(0), nFrames - 1),
          i => substring(col("bytes"), (i * stride + 1).cast("int"), lit(frameBytes))
        )
      ).as(Seq("frame_idx", "frame_bytes"))
    )
  }
}
