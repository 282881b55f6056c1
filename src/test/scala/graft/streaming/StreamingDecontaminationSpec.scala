package graft.streaming

import graft.SparkSpec
import graft.ops.{BloomJoin, TextDedup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** STREAMING decontamination — the q61/q64 semantics applied at ingest
  * time, the shape for screening a live document feed against a
  * benchmark suite before anything lands in the training store.
  *
  * The whole gate is STATELESS: the benchmark shingle set compresses to
  * a constant Bloom filter planted as a literal in a map-side
  * `exists()` (no stream state, no watermark, nothing to expire), and
  * the exact confirmation is a stream-STATIC inner join (stateless by
  * construction, unlike stream-stream). So the pipeline survives any
  * uptime — the failure mode of stateful dedup (state growth) cannot
  * exist here.
  */
case class DeconDoc(doc_id: Long, text: String)

class StreamingDecontaminationSpec extends SparkSpec {
  import spark.implicits._

  test("bloom gate + stream-static exact join flags exactly the contaminated docs") {
    implicit val sqlCtx = spark.sqlContext

    // benchmark suite (static): two eval "questions"
    val bench = Seq(
      "alpha beta gamma delta epsilon zeta",
      "one two three four five six seven"
    ).toDF("text")
      .select(explode(TextDedup.shingles(col("text"), 5)).as("bng"))
      .distinct()
      .cache()
    val bf = bench
      .agg(BloomJoin.bloomAgg(col("bng"), log2bits = 14).as("bf"))
      .collect()(0)
      .getAs[Array[Byte]](0)

    val input = MemoryStream[DeconDoc]
    // map-side Bloom gate: definitely-clean docs drop before ANY join;
    // survivors explode and confirm against the static set exactly
    val gated = input
      .toDF()
      .filter(
        exists(
          TextDedup.shingles(col("text"), 5),
          ng => coalesce(BloomJoin.mightContain(lit(bf), ng), lit(false))
        )
      )
      .select(col("doc_id"), explode(TextDedup.shingles(col("text"), 5)).as("ng"))
      .join(bench, col("ng") === col("bng")) // stream-static: stateless
      .select(col("doc_id"), col("ng"))
    val q = gated.writeStream
      .format("memory")
      .queryName("decon_out")
      .outputMode("append")
      .option("checkpointLocation", tempDir("decon_ckpt"))
      .start()
    try {
      input.addData(
        // contains a full benchmark run of 5 tokens → contaminated
        DeconDoc(1L, "intro words alpha beta gamma delta epsilon closing words"),
        // clean: no 5-gram overlaps the suite
        DeconDoc(2L, "totally unrelated text with no overlap at all here"),
        // shares tokens but never 5 consecutive → clean
        DeconDoc(3L, "alpha beta gamma mixed four five six padding tokens")
      )
      q.processAllAvailable()
      input.addData(
        DeconDoc(4L, "one two three four five six seven verbatim copy")
      )
      q.processAllAvailable()
      val hits = spark
        .table("decon_out")
        .select("doc_id")
        .as[Long]
        .collect()
        .toSet
      assert(hits == Set(1L, 4L), s"contaminated set: $hits")

      // cross-check: the batch q61-shaped computation on the same data
      // must agree doc-for-doc
      val batchDocs = Seq(
        DeconDoc(1L, "intro words alpha beta gamma delta epsilon closing words"),
        DeconDoc(2L, "totally unrelated text with no overlap at all here"),
        DeconDoc(3L, "alpha beta gamma mixed four five six padding tokens"),
        DeconDoc(4L, "one two three four five six seven verbatim copy")
      ).toDF()
      val batchHits = batchDocs
        .select(col("doc_id"), explode(TextDedup.shingles(col("text"), 5)).as("ng"))
        .join(bench, col("ng") === col("bng"))
        .select("doc_id")
        .as[Long]
        .collect()
        .toSet
      assert(batchHits == hits, s"stream $hits vs batch $batchHits")
    } finally q.stop()
  }
}
