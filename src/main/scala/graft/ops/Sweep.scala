package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DISTRIBUTED ordered prefix sum — `SUM(w) OVER (PARTITION BY G ORDER
  * BY v, tie ROWS UNBOUNDED PRECEDING)` without collapsing a partition
  * group into one task.
  *
  * Same two-pass shape as [[Rank.rankWithin]] (range bins on the order
  * value, local window per (group, bin), bounded per-bin totals scanned
  * exclusively and broadcast back) generalized from `row_number` to an
  * arbitrary additive weight. This is the primitive behind sweep-line
  * algorithms (interval-overlap counting, peak concurrency, reservoir
  * levels): the running sum of +1/−1 deltas ordered by time IS the
  * number of open intervals at that instant.
  *
  * Output is EXACTLY the single-window definition — `SweepSpec` asserts
  * equality on random data, on the all-equal-order-value skew rung, and
  * on null group keys (null-safe joins, so null groups accumulate
  * instead of vanishing; the same null corners Rank handles). Null
  * order values land in a dedicated lowest bin, matching the asc
  * window's nulls-first default.
  *
  * Scale: the only full-data shuffle is the per-(group, bin) window;
  * every other relation is |G|·bins rows. At 1000 executors pick `bins`
  * so a group's largest bin fits one task. All-equal order values (the
  * sweep's worst case: every delta at one timestamp) degrade to the
  * ties sharing one bin — exactly where the plain window puts them.
  */
object Sweep {

  /** Appends `cumCol`: inclusive running sum of `weightCol` within each
    * `groupCols` group under (`orderCol` asc, `tieCol` asc) order.
    *
    * For a fully deterministic per-row result, (orderCol, tieCol) must
    * be a total order within each group (aggregate duplicate keys
    * first); group-level reductions of the result (max, argmax) are
    * deterministic regardless, because a permutation within a tie block
    * of equal weights yields the same multiset of running values.
    */
  def orderedPrefixSum(
      df: DataFrame,
      groupCols: Seq[String],
      orderCol: Column,
      tieCol: Column,
      weightCol: Column,
      cumCol: String,
      bins: Int = 64
  ): DataFrame = {
    // empty groupCols = one global sweep: inject a constant group key so
    // the binning math is uniform, drop it on the way out
    val (work, g0) =
      if (groupCols.nonEmpty) (df, groupCols)
      else (df.withColumn("__sweep_g", lit(0)), Seq("__sweep_g"))
    val g = g0.map(col)
    val v = orderCol.cast("double")
    val spans = work
      .groupBy(g: _*)
      .agg(min(v).as("__lo"), max(v).as("__hi"))
      .withColumnsRenamed(g0.map(c => c -> s"__s_$c").toMap)
    val spanCond = g0.map(c => col(c) <=> col(s"__s_$c")).reduce(_ && _)
    val binned = work
      .join(broadcast(spans), spanCond)
      .drop(g0.map(c => s"__s_$c"): _*)
      .withColumn(
        "__bin",
        when(v.isNull, lit(-1L))
          .otherwise(
            least(
              lit(bins - 1),
              floor((v - col("__lo")) / ((col("__hi") - col("__lo")) + lit(1e-12)) * bins)
            ).cast("long")
          )
      )
    val localW = Window
      .partitionBy((g :+ col("__bin")): _*)
      .orderBy(orderCol.asc, tieCol.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = binned.withColumn("__lcum", sum(weightCol).over(localW))
    val offsets = binned
      .groupBy((g :+ col("__bin")): _*)
      .agg(sum(weightCol).as("__btot"))
      .withColumn(
        "__off",
        coalesce(
          sum(col("__btot")).over(
            Window
              .partitionBy(g: _*)
              .orderBy(col("__bin"))
              .rowsBetween(Window.unboundedPreceding, -1)
          ),
          lit(0L)
        )
      )
      .select((g :+ col("__bin") :+ col("__off")): _*)
      .withColumnsRenamed((g0 :+ "__bin").map(c => c -> s"__o_$c").toMap)
    val offCond = (g0 :+ "__bin").map(c => col(c) <=> col(s"__o_$c")).reduce(_ && _)
    local
      .join(broadcast(offsets), offCond)
      .withColumn(cumCol, col("__off") + col("__lcum"))
      .drop((g0 :+ "__bin").map(c => s"__o_$c"): _*)
      .drop("__lo", "__hi", "__bin", "__lcum", "__off")
      .drop((if (groupCols.isEmpty) Seq("__sweep_g") else Seq.empty[String]): _*)
  }

  /** CLAMPED (floor-at-zero) running sum — inventory/balance semantics
    * where the level can never go negative: level_i = max(0, level_{i−1}
    * + w_i). The recurrence looks inherently sequential, but it has a
    * closed two-window form:
    *
    *   level_i = cum_i − min(0, min_{j ≤ i} cum_j)
    *
    * (each time the raw prefix sum dips to a new low, the clamp has
    * absorbed exactly that dip). `ClampedLawSpec` proves the identity
    * against the sequential fold on random data — including
    * all-negative and oscillating streams. Partitioned per key here
    * (fine-grained keys); a single global sequence at 100 TB would
    * compose two [[orderedPrefixSum]]-style two-pass scans (sum, then
    * running min) with the same algebra.
    */
  def clampedRunningSum(
      df: DataFrame,
      partCols: Seq[String],
      orderCol: Column,
      tieCol: Column,
      weightCol: Column,
      outCol: String
  ): DataFrame = {
    val w = Window
      .partitionBy(partCols.map(col): _*)
      .orderBy(orderCol.asc, tieCol.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(weightCol).over(w))
      .withColumn("__rm", min(col("__cum")).over(w))
      .withColumn(outCol, col("__cum") - least(lit(0L), col("__rm")))
      .drop("__cum", "__rm")
  }
}
