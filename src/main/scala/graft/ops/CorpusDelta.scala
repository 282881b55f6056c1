package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** INCREMENTAL corpus digest maintenance — the law that lets a 100 TB
  * corpus keep its per-source integrity digests ([[ExportPlan
  * .DigestModulus]] sum-mod, the q118 contract) up to date from a
  * change feed WITHOUT rescanning: for every group,
  *
  *   digest_sum(after) ≡ digest_sum(before) + Σ events (mod 2^61-1)
  *
  * where the events are derived purely from the id-keyed diff of the
  * two snapshots — +digest for an added doc, −digest for a removed
  * doc, (d_after − d_before) for a changed doc, and a group move
  * splits into remove(old group) + add(new group). [[deltaDigest]]
  * computes both sides of that congruence independently (events from
  * the full-outer diff; before/after sums from the snapshots) and
  * emits the verdict per group, so the output certifies the
  * incremental-maintenance algebra itself — the q44-style law made a
  * checkable row.
  *
  * Scale shape: digests are computed BEFORE the diff join, so the
  * full-outer join ships 16 bytes per doc (id + digest + group), never
  * text; events are a projection of the join; every aggregate is an
  * associative sum with per-row mod. One id-hash shuffle for the diff,
  * one group shuffle for the sums — both the minimum for the semantics.
  */
object CorpusDelta {

  private val M = ExportPlan.DigestModulus

  private def nonneg(c: Column): Column = ((c % lit(M)) + lit(M)) % lit(M)

  /** Per-group digest sum (mod M) of a snapshot — the q118 sum half. */
  def groupSum(snap: DataFrame, groupCol: String, digestCol: String): DataFrame =
    snap
      .groupBy(col(groupCol).as("g"))
      .agg(
        (sum(col(digestCol).cast("decimal(38,0)")) % lit(M)).cast("long").as("s"),
        count(lit(1)).as("n")
      )

  /** Diff `before`→`after` (both: idCol, groupCol, digestCol) and
    * certify the incremental digest law per group.
    *
    * Output: g, n_before, n_after, n_added, n_removed, n_changed,
    * delta_sum (event sum, mod M, nonneg), digest_sum_before,
    * digest_sum_after, law_holds. A group that fully appeared or
    * vanished still gets a row (sums coalesce to 0).
    */
  def deltaDigest(
      before: DataFrame,
      after: DataFrame,
      idCol: String,
      groupCol: String,
      digestCol: String
  ): DataFrame = {
    val b = before.select(col(idCol).as("id"), col(groupCol).as("gb"), col(digestCol).as("db"))
    val a = after.select(col(idCol).as("id"), col(groupCol).as("ga"), col(digestCol).as("da"))
    val j = b
      .join(a, Seq("id"), "full_outer")
      .transform(Place.materialized) // eager: events + three count aggregates share the diff

    val moved = col("db").isNotNull && col("da").isNotNull && col("ga") =!= col("gb")
    val changed = col("db").isNotNull && col("da").isNotNull &&
      col("ga") === col("gb") && col("da") =!= col("db")
    // ≤ 2 events per diff row, null group filtered after the explode
    val events = j
      .select(
        explode(
          array(
            struct(
              when(col("da").isNull || moved, col("gb")).as("g"),
              (-col("db")).cast("decimal(19,0)").as("d")
            ),
            struct(
              when(col("db").isNull || moved, col("ga")).as("g"),
              col("da").cast("decimal(19,0)").as("d")
            ),
            struct(
              when(changed, col("ga")).as("g"),
              (col("da") - col("db")).cast("decimal(19,0)").as("d")
            )
          )
        ).as("ev")
      )
      .filter(col("ev.g").isNotNull)
      .select(col("ev.g").as("g"), col("ev.d").as("d"))
    val delta = events
      .groupBy(col("g"))
      .agg(nonneg(sum(col("d"))).cast("long").as("delta_sum"))

    val sb = groupSum(b.filter(col("db").isNotNull), "gb", "db")
      .select(col("g"), col("s").as("sum_before"), col("n").as("n_before"))
    val sa = groupSum(a.filter(col("da").isNotNull), "ga", "da")
      .select(col("g"), col("s").as("sum_after"), col("n").as("n_after"))
    // counts mirror the event attribution exactly: a moved doc is an
    // add in its new group AND a remove in its old one
    val counts = j
      .select(
        explode(
          array(
            struct(when(col("db").isNull || moved, col("ga")).as("g"), lit("add").as("k")),
            struct(when(col("da").isNull || moved, col("gb")).as("g"), lit("rm").as("k")),
            struct(when(changed, col("ga")).as("g"), lit("chg").as("k"))
          )
        ).as("e")
      )
      .filter(col("e.g").isNotNull)
      .groupBy(col("e.g").as("g"))
      .agg(
        sum(when(col("e.k") === "add", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("e.k") === "rm", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("e.k") === "chg", 1L).otherwise(0L)).as("n_changed")
      )

    sb.join(sa, Seq("g"), "full_outer")
      .join(delta, Seq("g"), "full_outer")
      .join(counts, Seq("g"), "full_outer")
      .select(
        col("g"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_changed"), lit(0L)).as("n_changed"),
        coalesce(col("delta_sum"), lit(0L)).as("delta_sum"),
        coalesce(col("sum_before"), lit(0L)).as("digest_sum_before"),
        coalesce(col("sum_after"), lit(0L)).as("digest_sum_after"),
        (nonneg(
          coalesce(col("sum_before"), lit(0L)).cast("decimal(38,0)") +
            coalesce(col("delta_sum"), lit(0L)).cast("decimal(38,0)")
        ).cast("long") === coalesce(col("sum_after"), lit(0L))).as("law_holds")
      )
  }
}
