package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Misra–Gries heavy hitters: exact regime (k ≥ distinct), lossy-regime
  * guarantees (error bound, heavy-hitter retention) on a skewed stream
  * merged across partitions, and the SQL registration.
  */
class FreqSketchSpec extends SparkSpec {
  import spark.implicits._

  // Zipf-ish skew: item i appears ~N/(i+1) times, 200 distinct items.
  private def zipf: Seq[String] =
    (0 until 200).flatMap(i => Seq.fill(2000 / (i + 1))(s"item$i"))

  test("k >= distinct items: every count is exact") {
    zipf.toDF("tok").repartition(8).createOrReplaceTempView("mg_exact")
    val got = spark
      .sql("SELECT explode(heavy_hitters(tok, 256)) FROM mg_exact")
      .as[(String, Long)]
      .collect()
      .toMap
    val exact = zipf.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == exact)
  }

  test("lossy regime keeps the n/(k+1) underestimate bound and every true heavy hitter") {
    val n = zipf.size.toLong
    val k = 16
    zipf.toDF("tok").repartition(8).createOrReplaceTempView("mg_lossy")
    val got = spark
      .sql(s"SELECT explode(heavy_hitters(tok, $k)) FROM mg_lossy")
      .as[(String, Long)]
      .collect()
      .toMap
    assert(got.size <= k)
    val exact = zipf.groupBy(identity).map { case (key, v) => key -> v.size.toLong }
    val bound = n / (k + 1)
    got.foreach { case (item, est) =>
      val truth = exact(item)
      assert(est <= truth, s"$item: est $est must underestimate truth $truth")
      assert(truth - est <= bound, s"$item: error ${truth - est} exceeds n/(k+1)=$bound")
    }
    // every item with true frequency > n/(k+1) must be retained
    exact.filter(_._2 > bound).keys.foreach { hh =>
      assert(got.contains(hh), s"true heavy hitter $hh missing from summary")
    }
  }

  test("grouped heavy_hitters produces an independent summary per group") {
    val df = (0 until 1000)
      .map(i => (if (i % 2 == 0) "g1" else "g2", if (i % 2 == 0) s"a${i % 3}" else s"b${i % 5}"))
      .toDF("g", "tok")
      .repartition(4)
    df.createOrReplaceTempView("mg_grouped")
    val rows = spark
      .sql("""SELECT g, explode(hh) AS (tok, est) FROM (
             |  SELECT g, heavy_hitters(tok, 8) AS hh FROM mg_grouped GROUP BY g
             |)""".stripMargin)
      .as[(String, String, Long)]
      .collect()
    val g1 = rows.filter(_._1 == "g1")
    val g2 = rows.filter(_._1 == "g2")
    // k=8 exceeds each group's vocabulary (3 and 5) → exact per group
    assert(g1.map(_._3).sum == 500 && g1.length == 3)
    assert(g2.map(_._3).sum == 500 && g2.length == 5)
    assert(g1.forall(_._2.startsWith("a")) && g2.forall(_._2.startsWith("b")))
  }

  test("serialize/deserialize round-trips and absorb matches sequential feed") {
    val b1 = new MGBuffer(4)
    Seq("x", "y", "x", "z", "x", "w", "v").foreach(b1.add)
    val round = MGBuffer.deserialize(b1.serialized)
    assert(round.k == b1.k && round.counts == b1.counts)

    // items beyond writeUTF's 65535-byte ceiling must survive the
    // shuffle serialization (regression: raw document text as the item)
    val big = new MGBuffer(4)
    val huge = "x" * 70000 + "€" // multi-byte tail: length != byte count
    Seq(huge, huge, "small").foreach(big.add)
    val bigRound = MGBuffer.deserialize(big.serialized)
    assert(bigRound.counts == big.counts)
    assert(bigRound.counts.get(huge) == 2L)

    // absorb must preserve the error bound: feed a stream split in two
    val items = (0 until 500).map(i => s"i${i % 23}") ++ Seq.fill(300)("hot")
    val (s1, s2) = items.splitAt(items.size / 2)
    val a = new MGBuffer(8)
    val b = new MGBuffer(8)
    s1.foreach(a.add)
    s2.foreach(b.add)
    a.absorb(b)
    assert(a.counts.size <= 8)
    val est = Option(a.counts.get("hot")).map(_.longValue()).getOrElse(0L)
    val truth = 300L
    val bound = items.size.toLong / 9
    assert(est <= truth && truth - est <= bound, s"est=$est truth=$truth bound=$bound")
  }

  test("heavy_hitters merges incrementally across streaming micro-batches") {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val agg = input.toDF
      .toDF("tok")
      .groupBy()
      .agg(expr("heavy_hitters(tok, 16)").as("hh"))
    val q = agg.writeStream
      .format("memory")
      .queryName("mg_stream")
      .outputMode("complete")
      .option("checkpointLocation", tempDir("mg_ckpt"))
      .start()
    try {
      input.addData(Seq.fill(30)("hot") ++ (0 until 10).map(i => s"a$i"): _*)
      q.processAllAvailable()
      input.addData(Seq.fill(20)("hot") ++ (0 until 10).map(i => s"b$i"): _*)
      q.processAllAvailable()
      val hh = spark
        .table("mg_stream")
        .selectExpr("explode(hh)")
        .as[(String, Long)]
        .collect()
        .toMap
      // 70 items total, k=16 → error ≤ 70/17 = 4; "hot" is 50
      assert(hh.contains("hot"))
      assert(hh("hot") >= 50L - 4L && hh("hot") <= 50L)
    } finally q.stop()
  }

  test("null items are skipped, not counted") {
    Seq(Some("a"), None, Some("a"), None, Some("b"))
      .toDF("tok")
      .createOrReplaceTempView("mg_nulls")
    val got = spark
      .sql("SELECT explode(heavy_hitters(tok, 8)) FROM mg_nulls")
      .as[(String, Long)]
      .collect()
      .toMap
    assert(got == Map("a" -> 2L, "b" -> 1L))
  }

  test("analysis-time rejection of non-constant or out-of-range k") {
    Seq("a").toDF("tok").createOrReplaceTempView("mg_bad")
    val e1 = intercept[Exception] {
      spark.sql("SELECT heavy_hitters(tok, 0) FROM mg_bad").collect()
    }
    assert(e1.getMessage.contains("k must be"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT heavy_hitters(tok, length(tok)) FROM mg_bad").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("constant"))
  }
}
