package graft.ops

import java.util.concurrent.{CompletableFuture, CompletionException, Executors}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.storage.StorageLevel

/** Placement and materialization policy: the one place that decides how
  * an intermediate frame is cached, when a cache is filled, how wide a
  * frame is spread, and how two independent driver loops overlap. Every
  * query and operator calls in here instead of spelling the rule out;
  * `PlaceSpec` fails if a copy reappears elsewhere in `src/main/scala`.
  *
  * '''Cache level.''' Always `MEMORY_AND_DISK`, which is also Spark's
  * default for a bare `persist()` when the session leaves
  * `spark.sql.defaultCacheStorageLevel` unset. Intermediates here are
  * narrow rows; spilling to disk is safe at any scale, recomputing is not.
  *
  * '''Eager barrier.''' A lazy persist read by two or more subtrees of
  * one job is filled by whichever reader gets there first: AQE runs the
  * subtrees' stages concurrently, and the readers race for the cache,
  * serialize on block locks and recompute the input on each path
  * (measured 2.5× on q283/q292, 3–14 s swings on q27).
  * [[materialized]] fills the cache with one `count()` job before any
  * reader exists. A frame with a single reader stays [[persisted]] (lazy)
  * and folds its fill into that reader's job.
  *
  * '''Spread.''' [[spread]] hash-repartitions to the session's
  * `spark.sql.shuffle.partitions`, read at call time. It pays where
  *  - a scan arrives as one partition (a single parquet row group) and
  *    feeds a heavy per-row map or a nested-loop join, which would
  *    otherwise run as one task;
  *  - AQE would undo a bare keyed repartition: size-based coalescing sees
  *    a sub-MB frame and folds it back to one partition, blind to the
  *    compute downstream of it, so the width must be explicit;
  *  - the width comes from conf (core count locally, deployment-set at
  *    cluster scale), never a constant.
  * A spread of a raw scan sits at the call site, not inside the
  * operator: at real scale the scan arrives wide and the shuffle would
  * be pure cost. Each call site keeps a one-line note of its own
  * measured win. Where the frame feeds many small jobs instead, a
  * full-width frame makes each job pay full-width task scheduling, and
  * the spread loses (r15, measured and not applied):
  *
  * {{{
  *   site   tried                          settled wall, before -> after
  *   q35    input spread                   2.1 -> 4.0 s
  *   q78    input spread                   2.5 -> 4.3 s
  *   q94    input spread                   2.1 -> 3.3 s
  *   q109   input spread                   3.1 -> 5.3 s
  *   q117   input spread                   1.8 -> 2.8 s
  *   q117   materialized(withLang)         1.73 -> 2.04 s (same-window A/B)
  *   q120   input spread                   1.9 -> 3.6 s
  *   q153   input spread                   2.1 -> 3.8 s
  * }}}
  * q117's barrier lost because the racing recomputes of its LM chain run
  * concurrently on idle cores, while the barrier serializes them.
  *
  * '''Overlap.''' [[overlap]] runs two independent sequential eager
  * loops (iterative operators that cut every round, observing their
  * convergence scalar on the cut: [[Checkpoints.cutObserved]]) on two
  * driver threads, so one loop's small stages back-fill the cores the
  * other leaves idle and their per-round driver latencies overlap.
  *
  * Deliberately not here:
  *  - a scoped `materialized(df)(body)` that unpersists on exit. Queries
  *    return lazy frames that the caller's action runs after the builder
  *    returns, so releasing at scope end would make the timed action
  *    recompute. The harness's `clearCache()` is the release point;
  *    the few in-query releases (q79, q107, q130, q301) stay explicit.
  *  - a Catalyst rule that places spreads from plan shape. It changes
  *    plans, so it needs its own measurement.
  */
object Place {

  /** `df` cached at `MEMORY_AND_DISK`, filled lazily by its first reader. */
  def persisted(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** `df` cached and filled now by one `count()` job; returns the frame. */
  def materialized(df: DataFrame): DataFrame = {
    val cached = persisted(df)
    cached.count()
    cached
  }

  /** `df` hash-repartitioned on `cols` to the session's shuffle width. */
  def spread(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, cols: _*)

  /** Driver threads for [[overlap]]; daemon, so they never hold a JVM open. */
  private lazy val overlapPool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-place-overlap")
    t.setDaemon(true)
    t
  }

  /** Run `a` and `b` on two driver threads; await `a`, then `b`. A
    * failure in either is rethrown here. Both thunks run with the
    * caller's active session and Spark local properties (job group, job
    * tags, scheduler pool), so their jobs are attributed and cancelled
    * with the caller's. */
  def overlap[A, B](a: => A, b: => B): (A, B) = {
    val spark = SparkSession.active.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val fa = SQLExecution.withThreadLocalCaptured(spark, overlapPool)(a)
    val fb = SQLExecution.withThreadLocalCaptured(spark, overlapPool)(b)
    def await[T](f: CompletableFuture[T]): T =
      try f.join() catch { case e: CompletionException if e.getCause != null => throw e.getCause }
    (await(fa), await(fb))
  }
}
