package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify/Bench/tests agree.
  *
  * - UTC session TZ reproduces the reference's invariant that every
  *   timestamp is normalized to UTC before use (reference
  *   app/main.py:129-134, 184-206).
  * - ANSI off reproduces the reference's null-on-error coercions
  *   (`float(str(x))` → null on failure, app/main.py:395-399): with ANSI
  *   off an invalid cast yields null instead of raising, which is the
  *   semantic every P3-style projection in SURVEY.md §2.2 relies on.
  * - Shuffle partitions sized to local cores, not the 200 default: at
  *   cluster scale this knob is AQE-managed (coalescing enabled), locally
  *   it avoids 200 tiny tasks per exchange.
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new graft.expr.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // events.parquet has shipped as TIMESTAMP(NANOS) (early testdata
      // generations) and timestamp[us] (current). NANOS is readable only
      // as raw int64 via this legacy conf; Tables.events adapts on the
      // scanned type and derives `ts_ns` (long) + `ts` (µs timestamp)
      // either way. Harmless for µs parquet.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf; keeps saveAsTable output out of the repo checkout
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // Generated-class cache (static conf, default 100 SOURCES). The
      // iterative ANN/graph family mints ~70-140 distinct codegen
      // sources per execution — slightly past 100, which under LRU is
      // FULL thrash: every rep of an identical query re-janinos its
      // whole working set and then HotSpot re-ramps it (r15, q109
      // adjudication: ~72 janino compiles/rep steady at cache=100, wall
      // 3.7-5.9 s; at 2000 zero compiles from rep 2 and wall settles
      // 2.6-2.8 s — probed equal at 5000, so 2000 is not a cliff
      // edge). Bounded memory: entries are LRU-capped compiled
      // classes; 2000 is ~20x any observed per-query working set yet
      // small against the pinned 24 GiB heap. At cluster scale the
      // same cache exists per executor JVM, where repeated stages of
      // an iterative job hit it identically.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")

  /** Local session for tests. */
  def local(cores: Int = 4): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
