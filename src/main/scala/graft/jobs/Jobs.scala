package graft.jobs

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
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
  * harness dependency-free. The same contract covers the producer's
  * cursor snapshot (the reference's `ingestion_cursors` table):
  * ProducerLoop.processBatch writes the merged cursors to
  * `<cursorDir>__tmp` and publishes them through [[publish]], and its
  * `readCursors` runs [[recover]] first.
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
    * so it must be renamed back before anything reads (or sweeps). Jobs
    * call this before reading the snapshot; `publish` calls it again as
    * a belt — `__old` is never deleted while the target name is absent.
    */
  def recover(targetDir: String): Unit = {
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
  private[graft] def publish(tmpDir: String, targetDir: String): Unit = {
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

  /** Overwrite `dir` with `df` and return the rows written, counted by an
    * observation on the write itself rather than a read-back. */
  private def writeCounted(df: DataFrame, dir: String): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.mode(SaveMode.Overwrite).parquet(dir)
    obs.get("n").asInstanceOf[Long]
  }

  /** Retention: keep only rows with `tsCol` >= cutoff (the reference
    * deletes `observed_at < now() - interval Nd`, app/housekeeping.py:15-17).
    */
  def retention(df: DataFrame, tsCol: String, cutoff: java.sql.Timestamp): DataFrame =
    df.filter(col(tsCol) >= lit(cutoff))

  /** Run retention in place over a parquet snapshot dir. */
  def housekeeping(spark: SparkSession, tableDir: String, tsCol: String, cutoff: java.sql.Timestamp): Long = {
    recover(tableDir) // a crashed publish left the table only under __old
    val kept = retention(spark.read.parquet(tableDir), tsCol, cutoff)
    val tmp = tableDir + "__tmp"
    val n = writeCounted(kept, tmp)
    publish(tmp, tableDir) // rename, not a second write — see contract above
    n
  }

  /** Curated-output writer with a BOUNDED file count per partition — the
    * small-files control every 100 TB pipeline needs: a naive
    * `write.partitionBy(day)` emits one file per (task × day) — 1000
    * executors × 365 days is ~365k files of a few KB each, and the next
    * reader drowns in open() calls. Repartitioning on (partition column,
    * bounded content-hash salt) caps output at `filesPerPartition` files
    * per partition value while still writing in parallel.
    */
  def writePartitioned(
      df: DataFrame,
      outDir: String,
      partitionCol: String,
      filesPerPartition: Int = 4
  ): Unit = {
    val salt = pmod(
      xxhash64(df.columns.map(col).toIndexedSeq: _*),
      lit(filesPerPartition)
    )
    df.repartition(col(partitionCol), salt)
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(outDir)
  }

  /** Catalog refresh: normalized station rows COALESCE-merged into the
    * stations snapshot (new non-null wins; reference app/main.py:633-648).
    */
  def catalogRefresh(spark: SparkSession, rawStations: DataFrame, catalogDir: String): Long = {
    // without this, a crash between publish's two renames would make the
    // next refresh treat the catalog as fresh (exists() false), rebuild
    // from the new batch alone, then sweep __old — silent data loss
    recover(catalogDir)
    val normalized = Normalize.dropNullIsland(rawStations)
    val merged =
      if (new java.io.File(catalogDir).exists() && new java.io.File(catalogDir).list().nonEmpty) {
        val existing = spark.read.parquet(catalogDir)
        Upsert.coalesceMerge(existing, normalized.select(existing.columns.map(col).toIndexedSeq: _*), "station_id")
      } else normalized
    // deterministic within-batch dedup: priority over ALL columns so two
    // pages carrying the same station with different payloads resolve
    // the same way every run (priority = the key alone would tie)
    val deduped = Dedup.firstWins(merged, Seq("station_id"), merged.columns.toSeq)
    val tmp = catalogDir + "__tmp"
    val n = writeCounted(deduped, tmp)
    publish(tmp, catalogDir) // rename, not a second write — see contract above
    n
  }
}
