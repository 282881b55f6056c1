package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}

/** Lineage-truncation backend for the iterative operators (Components,
  * Scc, Bfs, KCore, Boruvka, PageRank, LabelProp, Walks, Temporal,
  * Matching, Bpe). Every per-round frame in an iterative job MUST cut
  * its lineage — otherwise round N's plan nests rounds 1..N-1 and the
  * optimizer re-analyzes an exponentially growing tree — but HOW it
  * cuts is a deployment decision:
  *
  * - `localCheckpoint(true)` stores the materialized blocks on
  *   executors with NO replication. Fast (no FS round-trip) and
  *   correct on local[32], but at cluster scale a single executor
  *   loss makes the blocks unrecoverable: the lineage was truncated,
  *   so Spark cannot recompute them, and the whole iterative job dies.
  * - `df.checkpoint()` (reliable) writes the RDD to the configured
  *   checkpoint directory (HDFS/object store on a real cluster).
  *   Executor loss is then survivable — tasks refetch from the store.
  *   That is the 100 TB posture: a 1000-executor PageRank losing one
  *   node should lose one task's worth of work, not twenty rounds.
  *
  * `cut` picks reliable when the `spark.graft.checkpoint.dir` conf is
  * set, else local — so the harness stays fast by default and a
  * cluster deployment flips one setting without touching any operator.
  * Both paths are EAGER and both preserve the child's output
  * partitioning (Spark's `Dataset.checkpoint` builds the LogicalRDD via
  * `LogicalRDD.fromDataset`, which captures partitioning metadata —
  * the property LabelProp/PageRank rely on to pay their edge shuffle
  * once).
  * `CheckpointsSpec` fails on a checkpoint or its release spelled
  * anywhere but here.
  *
  * The round loop of the probe-converged operators (Components' two
  * closures, Scc, KCore) is [[fixpoint]]: it owns the per-round cut,
  * the probe comparison, the round bound and the non-convergence throw.
  */
object Checkpoints {

  /** Reliable-checkpoint dir, if one is configured for this session. */
  def reliableDir(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.checkpoint.dir").filter(_.trim.nonEmpty)

  /** Eagerly materialize `df` and truncate its lineage, via the
    * configured backend (see object scaladoc). Always safe to call in
    * place of `localCheckpoint(true)`.
    */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    reliableDir(spark) match {
      case Some(dir) =>
        // setCheckpointDir appends a fresh UUID subdir each call — set
        // once per context (changing the conf mid-session therefore
        // needs a new session, which is how Spark itself behaves).
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None =>
        df.localCheckpoint(true)
    }
  }

  /** The one cut-and-probe rule: [[cut]] `df` and return `aggs` over its
    * rows, observed on the checkpoint's own job — a round's convergence
    * scalar costs no action of its own. The observation is the plan's
    * root, so it runs in the result stage, where Spark merges each
    * partition's update once. Empty frame: count 0, sum null. */
  def cutObserved(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val named = aggs.zipWithIndex.map { case (a, i) => a.as(s"_$i") }
    val out = cut(df.observe(obs, named.head, named.tail: _*))
    val values = obs.get
    (out, Row.fromSeq(aggs.indices.map(i => values(s"_$i"))))
  }

  /** A cut frame with the probe row observed on its job. */
  type Probed = (DataFrame, Row)

  /** `settled` for a min- or count-monotone probe: unchanged = fixpoint. */
  val sameProbe: (Probed, Probed) => Boolean = (prev, next) => prev._2 == next._2

  /** The one fixpoint loop: cut `start`, then cut `step` of the last cut
    * until `settled(prev, next)` holds, and return that last cut. Every
    * cut observes `probe` on its own job ([[cutObserved]]). A loop that
    * has not settled after `maxRounds` steps throws rather than return a
    * partial result: the caller's bound is the depth it will pay for.
    */
  def fixpoint(op: String, maxRounds: Int, start: DataFrame, probe: Column*)(
      settled: (Probed, Probed) => Boolean)(step: DataFrame => DataFrame): DataFrame = {
    @annotation.tailrec
    def loop(prev: Probed, round: Int): DataFrame =
      if (round >= maxRounds)
        throw new IllegalStateException(
          s"$op did not converge in $maxRounds rounds: its fixpoint lies past the bound; raise it")
      else {
        val next = cutObserved(step(prev._1), probe: _*)
        if (settled(prev, next)) next._1 else loop(next, round + 1)
      }
    loop(cutObserved(start, probe: _*), 0)
  }

  /** Release the storage behind a frame produced by `cut` once a newer
    * round supersedes it. For the local backend this unpersists the
    * executor blocks (the only way to free them — see
    * GraftShim.unpersistCheckpoint); for the reliable backend the
    * blocks live in the checkpoint dir and unpersist(false) of the
    * in-memory copy is a harmless no-op on durability.
    */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftshim.GraftShim.unpersistCheckpoint(df)
}
