package graft.expr

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** t-digest sketch: accuracy vs exact percentiles (including the p99
  * tail), merge across partitions, and the in-registry q59 audit bound.
  */
class TDigestSpec extends SparkSpec {
  import spark.implicits._

  test("tdigest_quantile within 1% of exact across p50/p90/p99 (merged across 8 partitions)") {
    // skewed continuous data: exponential-ish via -log(uniform), the
    // shape where equi-width histograms fail and tails matter
    val rnd = new scala.util.Random(7)
    Seq.fill(50000)(-math.log(rnd.nextDouble()) * 100.0)
      .toDF("x")
      .repartition(8)
      .createOrReplaceTempView("td")
    Seq(0.5, 0.9, 0.99).foreach { q =>
      val (a, e) = spark
        .sql(s"SELECT tdigest_quantile(x, $q), percentile(x, $q) FROM td")
        .as[(Double, Double)]
        .head()
      val err = math.abs(a - e) / e
      assert(err < 0.01, s"q=$q approx=$a exact=$e err=$err")
    }
  }

  test("q59 in-registry audit: sketch_within_1pct TRUE for every group at sf0.01") {
    // same law the round-8 oracle pins as a literal: any sketch drift
    // flips the boolean and turns both this spec and the driver row red
    val rows = graft.Queries
      .q59TdigestPercentiles(spark, "/root/testdata/sf0.01")
      .select(col("l_returnflag"), col("sketch_within_1pct"))
      .as[(String, Boolean)]
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { case (flag, ok) =>
      assert(ok, s"group $flag: sketch_within_1pct=false")
    }
  }

  test("empty and single-value groups are handled (null / the value itself)") {
    Seq((1, 5.0)).toDF("g", "x").createOrReplaceTempView("td_one")
    val one = spark.sql("SELECT tdigest_quantile(x, 0.5) FROM td_one").as[Double].head()
    assert(one == 5.0)
    val nul = spark
      .sql("SELECT tdigest_quantile(x, 0.5) FROM td_one WHERE x > 100")
      .collect()
      .head
    assert(nul.isNullAt(0))
  }

  test("streaming: tdigest_quantile merges incrementally across micro-batches") {
    // the buffer must serialize into state and absorb each batch like
    // any built-in — the "streaming-friendly complement to exact
    // percentile" claim, executed
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Double]
    val agg = input.toDF().agg(expr("tdigest_quantile(value, 0.5)").as("p50"))
    val q = agg.writeStream
      .format("memory")
      .queryName("td_stream")
      .outputMode("complete")
      .option("checkpointLocation", tempDir("td_ckpt"))
      .start()
    try {
      input.addData((1 to 5000).map(_.toDouble): _*)
      q.processAllAvailable()
      input.addData((5001 to 10000).map(_.toDouble): _*)
      q.processAllAvailable()
      val p50 = spark.table("td_stream").select("p50").as[Double].collect().head
      // true median of 1..10000 is 5000.5; t-digest rank error < 1%
      assert(math.abs(p50 - 5000.5) / 5000.5 < 0.01, s"streamed p50 = $p50")
    } finally q.stop()
  }

  test("misuse fails at analysis, not at runtime: column q, out-of-range q, string input") {
    Seq((1.0, 0.5, "a"), (2.0, 0.9, "b")).toDF("x", "p", "s").createOrReplaceTempView("td_bad")
    Seq(
      "SELECT tdigest_quantile(x, p) FROM td_bad", // non-foldable probability
      "SELECT tdigest_quantile(x, 1.5) FROM td_bad", // out of [0, 1]
      "SELECT tdigest_quantile(s, 0.5) FROM td_bad" // non-numeric value column
    ).foreach { sql =>
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(
        e.getMessage.contains("tdigest_quantile") || e.getMessage.contains("DATATYPE_MISMATCH"),
        s"$sql: unexpected error ${e.getMessage.take(200)}")
    }
  }

  test("buffer state stays bounded: <= ~2*compression centroids on 100k points") {
    val d = new TDigestBuffer(100.0)
    val rnd = new scala.util.Random(11)
    (1 to 100000).foreach(_ => d.add(rnd.nextGaussian(), 1.0))
    d.compress()
    assert(d.means.length <= 250, s"centroids=${d.means.length}")
    // serialized size is the shuffle cost per (group, partition)
    assert(d.serialized.length <= 12 + 16 * 250)
  }
}
