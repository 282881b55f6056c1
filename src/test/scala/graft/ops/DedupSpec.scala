package graft.ops

import graft.SparkSpec

/** A3 dedup semantics incl. the first-wins ordering the reference gets
  * from union order (app/main.py:1194-1203), plus randomized invariants
  * (SURVEY.md §5.3) with a fixed seed.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("firstWins keeps the row with the lowest priority per key") {
    val df = Seq(
      ("k1", 2, "nl"),
      ("k1", 1, "de"), // lower priority value = earlier source → wins
      ("k2", 5, "pl")
    ).toDF("key", "prio", "src")
    val out = Dedup
      .firstWins(df, Seq("key"), Seq("prio"))
      .orderBy("key")
      .collect()
      .map(r => (r.getString(0), r.getString(2)))
    assert(out.toSeq == Seq(("k1", "de"), ("k2", "pl")))
  }

  test("invariant: dedup output keys unique, output ⊆ input (seeded random)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val rows = List.fill(200)((rnd.nextInt(10), rnd.nextInt(100), rnd.nextDouble()))
      val df = rows.toDF("key", "prio", "v")
      val out = Dedup.firstWins(df, Seq("key"), Seq("prio", "v"))
      val keys = out.select("key").as[Int].collect()
      assert(keys.length == keys.distinct.length)
      assert(keys.toSet.subsetOf(rows.map(_._1).toSet))
      // winner per key is the minimum (prio, v) pair
      val expect = rows.groupBy(_._1).view.mapValues(_.minBy(r => (r._2, r._3))).toMap
      val got = out.collect().map(r => r.getInt(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      assert(got == expect.map { case (k, (_, p, v)) => k -> ((p, v)) })
    }
  }
}
