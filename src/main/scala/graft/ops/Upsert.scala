package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge/upsert semantics (SURVEY.md §2.4 A4/A5).
  *
  * The reference upserts into Postgres with `ON CONFLICT ... DO UPDATE`:
  *  - catalog rows merge column-wise with COALESCE(new, old) — a new
  *    non-null value wins, otherwise the old value is kept
  *    (app/main.py:636-645);
  *  - cursor rows merge with GREATEST(old_ts, new_ts) — the watermark
  *    only ever advances (app/main.py:257-270).
  *
  * Spark-first form: a key-partitioned full-outer join + column-wise
  * coalesce/greatest. On a cluster this is one shuffle of each side on the
  * merge key (or zero shuffles if both sides are bucketed by the key); the
  * result can overwrite the snapshot (plain Spark) or feed a Delta
  * `MERGE INTO` (production note — not a harness dependency).
  */
object Upsert {

  /** A5: COALESCE-merge `updates` into `base` on `key`. Every non-key
    * column resolves to coalesce(update, base): new non-null wins.
    */
  def coalesceMerge(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    require(base.columns.sameElements(updates.columns), "schemas must match")
    val valueCols = base.columns.filterNot(_ == key)
    val b = base.as("b")
    val u = updates.as("u")
    val merged = u.join(b, col(s"u.$key") === col(s"b.$key"), "full_outer")
    val keyCol = coalesce(col(s"u.$key"), col(s"b.$key")).as(key)
    val mergedCols = valueCols.map(c => coalesce(col(s"u.$c"), col(s"b.$c")).as(c))
    merged.select(keyCol +: mergedCols.toIndexedSeq: _*)
  }

  /** CDC APPLY: fold a change batch carrying an op column ('I'nsert /
    * 'U'pdate / 'D'elete) into a snapshot — the generic change-data-
    * capture application behind every snapshot-maintaining pipeline
    * (Delta/Iceberg MERGE INTO express exactly this). Upsert semantics:
    * U on an absent key inserts; I on a present key replaces; D removes.
    * Last-writer-wins INSIDE the batch is the caller's job (pre-dedup
    * per key) — this operator assumes ≤ 1 change row per key.
    *
    * Scale shape: one anti join (snapshot keeps rows with no change) +
    * one union with the surviving changes — each side shuffles once on
    * the key, or never if snapshot and changes are already partitioned
    * by it. No full-outer wide row, no window.
    */
  def applyCdc(snapshot: DataFrame, changes: DataFrame, key: String, opCol: String): DataFrame = {
    val untouched = snapshot.join(changes.select(col(key)), Seq(key), "left_anti")
    val upserts = changes.filter(col(opCol).isin("I", "U")).drop(opCol)
    untouched.unionByName(upserts)
  }

  /** A4: GREATEST-merge of per-key watermarks — the cursor only advances.
    * Missing on either side ⇒ the present value wins (coalesce), both
    * present ⇒ greatest.
    */
  def greatestMerge(base: DataFrame, updates: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val b = base.select((keys.map(col) :+ col(tsCol).as("__b_ts")): _*)
    val u = updates.select((keys.map(col) :+ col(tsCol).as("__u_ts")): _*)
    u.join(b, keys, "full_outer")
      .select(
        (keys.map(col) :+
          coalesce(greatest(col("__u_ts"), col("__b_ts")), col("__u_ts"), col("__b_ts")).as(tsCol)): _*
      )
  }
}
