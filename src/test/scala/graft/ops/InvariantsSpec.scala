package graft.ops

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Seeded randomized invariants: algebraic properties and
  * cross-implementation agreement on generated data (SURVEY §5.3).
  */
class InvariantsSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)

  private def randCursors(n: Int) =
    (1 to n).map { _ =>
      (s"k${rnd.nextInt(20)}", new Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L))
    }.toDF("k", "last")
      .groupBy("k").agg(max("last").as("last"))

  test("greatestMerge: commutative, idempotent, monotone (5 seeded rounds)") {
    for (_ <- 1 to 5) {
      val a = randCursors(30)
      val b = randCursors(30)
      val ab = Upsert.greatestMerge(a, b, Seq("k"), "last").collect().map(r => (r.getString(0), r.getTimestamp(1))).toMap
      val ba = Upsert.greatestMerge(b, a, Seq("k"), "last").collect().map(r => (r.getString(0), r.getTimestamp(1))).toMap
      assert(ab == ba) // commutative
      val abDF = ab.toSeq.toDF("k", "last")
      val abab = Upsert.greatestMerge(abDF, abDF, Seq("k"), "last").collect().map(r => (r.getString(0), r.getTimestamp(1))).toMap
      assert(abab == ab) // idempotent
      // monotone: merged >= each side wherever the key exists
      val aMap = a.collect().map(r => (r.getString(0), r.getTimestamp(1))).toMap
      aMap.foreach { case (k, t) => assert(!ab(k).before(t)) }
    }
  }

  test("watermark filter: output subset of input; rerun after advance is empty (3 rounds)") {
    for (_ <- 1 to 3) {
      val incoming = (1 to 200).map { i =>
        (s"k${rnd.nextInt(10)}", new Timestamp(1700000000000L + rnd.nextInt(500000) * 1000L), i.toDouble)
      }.toDF("k", "ts", "v")
      val cursors = randCursors(15).withColumnRenamed("last", "last_observed_at")
      val passed = WatermarkDedup.filterNew(incoming, cursors, Seq("k"), "ts")
      assert(passed.count() <= incoming.count())
      val advanced = Upsert.greatestMerge(
        cursors.withColumnRenamed("last_observed_at", "last"),
        Rollup.maxTsPerKey(passed, Seq("k"), "ts").withColumnRenamed("last_observed_at", "last"),
        Seq("k"), "last"
      ).withColumnRenamed("last", "last_observed_at")
      assert(WatermarkDedup.filterNew(incoming, advanced, Seq("k"), "ts").count() == 0)
    }
  }

  test("as-of join agrees with an independent SQL formulation on random data") {
    val right = (1 to 100).map { i =>
      (s"k${rnd.nextInt(8)}", new Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L), i.toLong)
    }.toDF("k", "rts", "rid")
      // unique (k, rts) so ties can't make the two formulations diverge
      .groupBy("k", "rts").agg(max("rid").as("rid"))
    val left = (1 to 300).map { i =>
      (i.toLong, s"k${rnd.nextInt(10)}", new Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L))
    }.toDF("lid", "k", "lts")
    val got = AsOf
      .joinAsOf(left, right, "k", "lts", "rts", Seq("rid"))
      .select("lid", "rid")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    left.createOrReplaceTempView("l")
    right.createOrReplaceTempView("r")
    val expected = spark
      .sql("""SELECT lid, max_by(rid, rts) AS rid FROM (
             |  SELECT l.lid, r.rid, r.rts
             |  FROM l LEFT JOIN r ON l.k = r.k AND r.rts <= l.lts
             |) GROUP BY lid""".stripMargin)
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got == expected)
  }

  test("Rollup.MaxTs and its merge ≡ greatestMerge(base, maxTsPerKey(batch)) (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    val keys = Seq("k", "p")
    // few keys and few distinct times: repeated keys, tied and null maxima
    val row = Gen.zip(Gen.oneOf("k0", "k1", "k2", "k3"), Gen.oneOf("a", "b"),
      Gen.option(Gen.chooseNum(0L, 5L).map(s => 1700000000000000L + s * 1000000L)))
    def frame(rows: List[(String, String, Option[Long])]) =
      rows.map { case (k, p, us) => (k, p, us.map(u => new Timestamp(u / 1000))) }.toDF("k", "p", "ts")
    def held(cursors: org.apache.spark.sql.DataFrame): Rollup.Maxima =
      cursors.select(col("k"), col("p"), unix_micros(col("last_observed_at"))).collect()
        .map(r => List(r.getString(0), r.getString(1)) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    // no shrinking: each shrink step would run Spark jobs
    val prop = Prop.forAllNoShrink(Gen.listOf(row), Gen.listOf(row)) { (baseRows, batchRows) =>
      val base = Rollup.maxTsPerKey(frame(baseRows), keys, "ts")
      val batch = frame(batchRows)
      val observed = Rollup.MaxTs.of(batch.select(Rollup.MaxTs.column(keys, "ts")).head().get(0))
      Rollup.MaxTs.merge(held(base), observed) ==
        held(Upsert.greatestMerge(base, Rollup.maxTsPerKey(batch, keys, "ts"), keys, "last_observed_at"))
    }
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("firstWins ∘ union = firstWins over concatenation (associativity of dedup)") {
    def batch(n: Int) = (1 to n).map { i =>
      (s"k${rnd.nextInt(12)}", rnd.nextInt(1000).toLong, i.toDouble)
    }.toDF("k", "prio", "v")
    val a = batch(80); val b = batch(80)
    val together = Dedup.firstWins(a.unionByName(b), Seq("k"), Seq("prio", "v"))
    val staged = Dedup.firstWins(
      Dedup.firstWins(a, Seq("k"), Seq("prio", "v")).unionByName(Dedup.firstWins(b, Seq("k"), Seq("prio", "v"))),
      Seq("k"), Seq("prio", "v")
    )
    val t = together.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val s = staged.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(t == s)
  }
}
