package graft.streaming

import graft.SparkSpec
import graft.ops.Multimodal
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class MediaDoc(doc_id: Long, text: String)

/** Streaming multimodal ingest: because every real-codec stage
  * (renderPng/decodeImage, renderWav/decodeAudio) is a stateless
  * map-side mapPartitions, the SAME operators compose unchanged with
  * Structured Streaming — media arriving across micro-batches decode to
  * exactly the batch features (the stream-ingest half of a production
  * media pipeline: decode at ingest, similarity downstream).
  */
class StreamingMediaSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    MediaDoc(1L, "streaming media one"),
    MediaDoc(2L, "streaming media two, longer payload for a different raster"),
    MediaDoc(3L, "third arrival")
  )

  test("streamed renderPng→decodeImage equals batch, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MediaDoc]
    val streamed = Multimodal.decodeImage(
      Multimodal.asMedia(
        Multimodal.renderPng(input.toDF(), "doc_id", "text"),
        "doc_id", "png", "image"
      ),
      dim = 16
    ).select(col("media_id"), col("decode_ok"), col("width"), col("height"), col("lum_sum"), col("features"))
    val q = streamed.writeStream
      .format("memory")
      .queryName("media_stream")
      .outputMode("append")
      .option("checkpointLocation", tempDir("media_ckpt"))
      .start()
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("media_stream")
      .select("media_id", "decode_ok", "width", "height", "lum_sum", "features")
      .as[(Long, Boolean, Int, Int, Long, Seq[Float])]
      .collect()
      .sortBy(_._1)
    val want = Multimodal.decodeImage(
      Multimodal.asMedia(
        Multimodal.renderPng(docs.toDF(), "doc_id", "text"),
        "doc_id", "png", "image"
      ),
      dim = 16
    ).select(col("media_id"), col("decode_ok"), col("width"), col("height"), col("lum_sum"), col("features"))
      .as[(Long, Boolean, Int, Int, Long, Seq[Float])]
      .collect()
      .sortBy(_._1)
    assert(got.length == 3 && got.forall(_._2))
    assert(got.toSeq == want.toSeq, s"stream/batch divergence:\n$got\nvs\n$want")
  }

  test("streamed renderWav→decodeAudio equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MediaDoc]
    val streamed = Multimodal.decodeAudio(
      Multimodal.asMedia(
        Multimodal.renderWav(input.toDF(), "doc_id", "text"),
        "doc_id", "wav", "audio"
      ),
      dim = 8
    ).select(col("media_id"), col("decode_ok"), col("sample_rate"), col("n_samples"), col("amp_sum"))
    val q = streamed.writeStream
      .format("memory")
      .queryName("audio_stream")
      .outputMode("append")
      .option("checkpointLocation", tempDir("audio_ckpt"))
      .start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("audio_stream")
      .as[(Long, Boolean, Int, Long, Long)]
      .collect()
      .sortBy(_._1)
    val want = Multimodal.decodeAudio(
      Multimodal.asMedia(
        Multimodal.renderWav(docs.toDF(), "doc_id", "text"),
        "doc_id", "wav", "audio"
      ),
      dim = 8
    ).select(col("media_id"), col("decode_ok"), col("sample_rate"), col("n_samples"), col("amp_sum"))
      .as[(Long, Boolean, Int, Long, Long)]
      .collect()
      .sortBy(_._1)
    assert(got.length == 3 && got.forall(_._2))
    assert(got.toSeq == want.toSeq)
  }
}
