package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Count-Min units (the q131 oracle replays the full matrix; these pin
  * the sketch laws directly).
  */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  /** The first 15 hex chars of md5("i:item") — the string the oracles
    * parse — spelled out independently of [[CMBuffer.bucket]]. */
  private def hex15(i: Int, item: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest((i.toString + ":" + item).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString.take(15)
  }

  private def sketch(df: org.apache.spark.sql.DataFrame, d: Int, w: Int): Seq[Seq[Long]] = {
    import org.apache.spark.sql.graftshim.GraftShim
    df.agg(
      GraftShim
        .column(
          CountMinSketch(
            GraftShim.expression(col("t")),
            GraftShim.expression(lit(d)),
            GraftShim.expression(lit(w))).toAggregateExpression())
        .as("cm"))
      .head()
      .getSeq[scala.collection.Seq[Long]](0)
      .map(_.toSeq)
  }

  private def estimate(m: Seq[Seq[Long]], item: String, w: Int): Long =
    m.indices.map(i => m(i)(CMBuffer.bucket(i, item, w))).min

  test("matrix equals a hand-built one; estimates never undercount") {
    val items = Seq("a", "b", "a", "c", "a", "b")
    val m = sketch(items.toDF("t"), 3, 8)
    // hand-build
    val hand = Array.fill(3, 8)(0L)
    for (it <- items; i <- 0 until 3) hand(i)(CMBuffer.bucket(i, it, 8)) += 1
    assert(m.map(_.toSeq) == hand.map(_.toSeq).toSeq)
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for ((it, n) <- exact) assert(estimate(m, it, 8) >= n, s"undercounted $it")
    // row sums are each the total item count (every item hits every row)
    assert(m.forall(_.sum == items.size))
  }

  test("matrix is bit-identical under repartitioning (exact mergeability)") {
    val df = (0 until 500).map(i => s"tok${i % 37}").toDF("t")
    val m1 = sketch(df.repartition(1), 4, 32)
    val m2 = sketch(df.repartition(13), 4, 32)
    assert(m1 == m2)
  }

  test("collisions overcount but min-over-rows tightens the estimate") {
    // width 2 forces heavy collisions; depth 4 keeps some row honest
    val df = (0 until 100).map(i => s"item$i").toDF("t")
    val m = sketch(df, 4, 2)
    // every estimate is >= 1 (true count) and <= 100 (total mass)
    val ests = (0 until 100).map(i => estimate(m, s"item$i", 2))
    assert(ests.forall(e => e >= 1 && e <= 100))
    // with width 2 the min-estimate cannot be exact for all: collisions exist
    assert(ests.exists(_ > 1), "no collision at width 2 — hash suspicious")
  }

  test("serialization roundtrip preserves the buffer") {
    val b = new CMBuffer(2, 4)
    Seq("x", "y", "x").foreach(b.add)
    val r = CMBuffer.deserialize(b.serialized)
    assert(r.depth == 2 && r.width == 4 && r.cells.toSeq == b.cells.toSeq)
  }

  test("bucket parity: hex15 parse matches the DuckDB '0x'||substr formula shape") {
    // CMBuffer.bucket must equal parsing the first 15 hex chars of the
    // md5 string — the exact value the oracles compute
    for (i <- 0 until 3; item <- Seq("a", "tok7", "the quick fox")) {
      val viaHex = java.lang.Long.parseLong(hex15(i, item), 16) % 64
      assert(CMBuffer.bucket(i, item, 64) == viaHex.toInt)
    }
  }
}
