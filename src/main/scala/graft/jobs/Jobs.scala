package graft.jobs

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ops.{Dedup, Normalize, Upsert}

/** The reference's job surface (SURVEY.md §3) as thin compositions of the
  * operator library over parquet snapshot tables:
  *
  *  - CatalogRefresh  ↔ app/{de,nl,pl}_stations.py: normalize a raw
  *    catalog scan, COALESCE-merge into the stations snapshot.
  *  - OneShotIngest   ↔ app/{de,nl,pl}_measurements.py: one producer
  *    cycle over a batch input (graft.streaming.ProducerLoop.processBatch
  *    is the same cycle behind a streaming trigger).
  *  - Housekeeping    ↔ app/housekeeping.py: retention delete on the
  *    curated table (filter-and-overwrite; on Delta this is DELETE FROM).
  *
  * Snapshot persistence is read-merge-publish on parquet, keeping the
  * harness dependency-free. This object is the only reader and writer of
  * a snapshot: [[readSnapshot]] recovers, then reads, and [[replace]]
  * writes `<dir>__tmp` once and publishes it. The producer's cursor
  * snapshot (the reference's `ingestion_cursors` table) goes through the
  * same two calls from ProducerLoop.readCursors/processBatch, which reads
  * it again only when its [[generation]] moved.
  *
  * CRASH-CONSISTENCY CONTRACT (vs the reference's transactional
  * `ON CONFLICT` upserts, app/main.py:633-648): snapshot maintenance
  * writes the merged table to `<dir>__tmp`, then PUBLISHES it by rename
  * — `<dir>` → `<dir>__old`, `<dir>__tmp` → `<dir>`, delete `__old` —
  * so a COMPLETE snapshot exists on disk under one of the three names
  * at every instant, and a crash at any point is recoverable by
  * re-running the job: jobs (and `publish` itself) first run
  * [[recover]], which renames a stranded `__old` back when the target
  * name is absent — `__old` is never swept while it is the only copy —
  * and only then is a leftover `__old`/`__tmp` from a crashed publish
  * swept. What this does NOT give, and
  * the reference's Postgres transaction does: reader isolation during
  * the swap — between the two renames the target name is briefly
  * absent, so a concurrent reader can see ENOENT (single-writer,
  * no-concurrent-reader is the harness posture; the reference's poller
  * is equally single-writer). A production deployment with concurrent
  * readers swaps this seam for a transactional table format
  * (Delta/Iceberg MERGE INTO / DELETE FROM), which is the documented
  * SURVEY §7.3 note — the operator semantics above it are unchanged.
  */
object Jobs {

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  /** Crash recovery for the rename-publish contract: a crash BETWEEN the
    * two renames leaves the target name absent with the prior snapshot
    * intact only under `__old` — in that state `__old` is the ONLY copy,
    * so it must be renamed back before anything reads (or sweeps).
    * [[readSnapshot]] calls this before reading; `publish` calls it again
    * as a belt — `__old` is never deleted while the target name is absent.
    */
  private def recover(targetDir: String): Unit = {
    val target = new java.io.File(targetDir)
    val old = new java.io.File(targetDir + "__old")
    if (!target.exists() && old.exists() && !old.renameTo(target))
      throw new java.io.IOException(
        s"recover: could not restore $targetDir from ${old.getPath}")
  }

  /** Rename-publish `tmp` as `target` (the crash-consistency contract
    * in the object scaladoc). Both paths must live on one filesystem —
    * true by construction here (`__tmp` is a sibling).
    */
  private def publish(tmpDir: String, targetDir: String): Unit = {
    recover(targetDir) // never sweep __old while the target name is absent
    val tmp = new java.io.File(tmpDir)
    val target = new java.io.File(targetDir)
    val old = new java.io.File(targetDir + "__old")
    // after recover, a surviving __old implies the target exists too
    // (crash after the second rename, before the sweep) — safe to sweep
    if (old.exists()) rm(old)
    if (target.exists() && !target.renameTo(old))
      throw new java.io.IOException(s"publish: could not stage $targetDir aside")
    if (!tmp.renameTo(target))
      throw new java.io.IOException(s"publish: could not rename $tmpDir to $targetDir")
    rm(old)
  }

  /** The snapshot at `dir` after [[recover]], or None when there is none.
    * A caller that knows the schema passes it, so no inference job runs. */
  private[graft] def readSnapshot(
      spark: SparkSession,
      dir: String,
      schema: Option[StructType] = None
  ): Option[DataFrame] = {
    recover(dir) // a crashed publish left the snapshot only under __old
    val d = new java.io.File(dir)
    if (d.exists() && d.list().nonEmpty) Some(schema.fold(spark.read)(spark.read.schema).parquet(dir))
    else None
  }

  /** The snapshot generation at `dir` after [[recover]]: its file names
    * and sizes, sorted, and empty when there is no snapshot. Every Spark
    * write names its part files with a fresh job UUID, so a publish by any
    * writer changes the generation, and an unchanged generation means
    * unchanged contents. A caller may hold what it last read or published
    * under the generation it saw then, and read again only when it moved. */
  private[graft] def generation(dir: String): Seq[(String, Long)] = {
    recover(dir)
    listing(dir)
  }

  private def listing(dir: String): Seq[(String, Long)] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(f => f.getName -> f.length).sorted

  /** What [[replace]] published: the rows written, and the [[generation]]
    * of its own files. */
  private[graft] final case class Published(rows: Long, generation: Seq[(String, Long)])

  /** Replace the snapshot at `dir` with `df`: write it once to `<dir>__tmp`,
    * then [[publish]] by rename (never a second write). The rows are
    * counted by an observation on the write, not a read-back. The
    * generation is the listing of `<dir>__tmp` before the rename, which
    * moves the directory whole: a listing of `dir` after the publish could
    * already show another writer's snapshot. */
  private[graft] def replace(df: DataFrame, dir: String): Published = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.mode(SaveMode.Overwrite).parquet(dir + "__tmp")
    val written = listing(dir + "__tmp")
    publish(dir + "__tmp", dir)
    Published(obs.get("n").asInstanceOf[Long], written)
  }

  /** Retention: keep only rows with `tsCol` >= cutoff (the reference
    * deletes `observed_at < now() - interval Nd`, app/housekeeping.py:15-17).
    */
  def retention(df: DataFrame, tsCol: String, cutoff: java.sql.Timestamp): DataFrame =
    df.filter(col(tsCol) >= lit(cutoff))

  /** Run retention in place over a parquet snapshot dir. */
  def housekeeping(spark: SparkSession, tableDir: String, tsCol: String, cutoff: java.sql.Timestamp): Long = {
    val table = readSnapshot(spark, tableDir)
      .getOrElse(throw new java.io.FileNotFoundException(s"housekeeping: no table at $tableDir"))
    replace(retention(table, tsCol, cutoff), tableDir).rows
  }

  /** Catalog refresh: normalized station rows COALESCE-merged into the
    * stations snapshot (new non-null wins; reference app/main.py:633-648).
    */
  def catalogRefresh(spark: SparkSession, rawStations: DataFrame, catalogDir: String): Long = {
    val normalized = Normalize.dropNullIsland(rawStations)
    // readSnapshot recovers first: otherwise a crash between publish's two
    // renames would read as a fresh catalog, rebuilt from the new batch
    // alone, and the publish would then sweep __old — silent data loss
    val merged = readSnapshot(spark, catalogDir).fold(normalized) { existing =>
      Upsert.coalesceMerge(existing, normalized.select(existing.columns.map(col).toIndexedSeq: _*), "station_id")
    }
    // deterministic within-batch dedup: priority over ALL columns so two
    // pages carrying the same station with different payloads resolve
    // the same way every run (priority = the key alone would tie)
    replace(Dedup.firstWins(merged, Seq("station_id"), merged.columns.toSeq), catalogDir).rows
  }
}
