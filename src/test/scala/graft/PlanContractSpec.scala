package graft

/** Plan contracts: the physical-plan shapes the 100 TB design depends on,
  * asserted so a future refactor can't silently regress them.
  */
class PlanContractSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString

  test("dimension joins broadcast (never sort-merge): q3, q16") {
    Seq("q3_enrich", "q16_join_parts").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast join")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to sort-merge:\n${p.take(500)}")
    }
  }

  test("top-k plans TakeOrderedAndProject (no global sort): q9") {
    assert(plan("q9_topk").contains("TakeOrderedAndProject"))
  }

  test("latest-per-key and first-wins have no Window operator: q5, q6") {
    Seq("q5_dedup", "q6_latest").foreach { q =>
      assert(!plan(q).contains("Window"), s"$q reintroduced a ranking window")
    }
  }

  test("brute/ann top-k shuffle only partial top-k rows (WindowGroupLimit): q25, q30") {
    // InferWindowGroupLimit must keep planting a Partial WindowGroupLimit
    // below the exchange: each map partition forwards <= k rows per query
    // instead of shuffling the full n x q scored set.
    Seq("q25_knn_brute", "q30_ann_lsh", "q52_stratified_sample", "q66_tfidf").foreach { q =>
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q lost its WindowGroupLimit top-k pruning")
      assert(p.contains("Partial"), s"$q lost the map-side partial top-k:\n${p.take(600)}")
    }
  }

  test("salted join stays in the shuffle-join regime it exists for: q65") {
    val p = plan("q65_salted_join")
    assert(p.contains("SortMergeJoin"), "q65 lost its SHUFFLE_MERGE hint — a broadcast join has no hotspot to salt")
    assert(p.contains("__salt"), "q65 lost the salt column in the join key")
  }

  test("bloom prefilter is a plain map-side Filter on the probe scan: q50") {
    // the filter bytes are planted as a literal, so the probe side is
    // Filter(might_contain) directly over the scan — no cross join, no
    // per-row filter copy
    val p = plan("q50_bloom_join")
    assert(p.contains("might_contain"), "probe side lost the bloom prefilter")
    assert(!p.contains("BroadcastNestedLoopJoin"), "bloom filter regressed to a cross join")
  }

  test("window-free AUC plans no Window operator: q81") {
    // the Mann-Whitney AUC is a distribution×distribution join by design —
    // a global rank window here would single-partition the corpus
    assert(!plan("q81_quality_auc").contains("Window"), "q81 reintroduced a global rank window")
  }

  test("dup-span census plans no nested loop or cartesian join: q80") {
    val p = plan("q80_dup_spans")
    assert(!p.contains("BroadcastNestedLoopJoin"), "q80 degenerated to a nested loop")
    assert(!p.contains("CartesianProduct"), "q80 planned a cartesian join")
  }

  test("gram analytics shuffle hashed keys, never join the instance stream: q80, q101") {
    // round-4 shape: one aggregate on the 8-byte xxhash64 gram key plus a
    // per-doc join — the old form joined gram counts back onto the full
    // exploded instance stream (a big-big join on ~70-byte string keys)
    Seq("q80_dup_spans", "q101_novelty").foreach { q =>
      val p = plan(q)
      assert(p.contains("xxhash64"), s"$q lost the 8-byte hashed gram key")
      val joinsOnGram = p.linesIterator.filter(_.contains("Join")).exists(_.contains("gram"))
      assert(!joinsOnGram, s"$q reintroduced the gram-keyed instance join-back")
    }
  }

  test("semantic dedup self-join carries the hot-cell salt key: q78") {
    // the (cluster_id, __salt) key is always present (salt = 0 for cold
    // cells); losing it silently restores the one-reducer mega-cell risk
    assert(plan("q78_semantic_dedup").contains("__salt"),
      "q78 lost the hot-cell salt key in the shared-cell self-join")
  }

  test("range join is an equi join (no nested loop): q43") {
    val p = plan("q43_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "q43 degenerated to a nested loop")
    assert(p.contains("__bucket"), "q43 lost its bucket key")
  }

  test("no whole-stage codegen fallback across the full registry") {
    // BENCH_r01 showed a Janino InternalCompilerError (the 256-expression
    // minhash band projection) that Spark silently absorbed by falling
    // back to interpreted execution — 2-3× slower with rc=0. Run every
    // registry query with the fallback DISABLED so any codegen compile
    // failure is a hard test failure instead of a silent perf cliff.
    val conf = spark.conf
    val prevFallback = conf.get("spark.sql.codegen.fallback", "true")
    val prevFactory = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
        try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
        catch {
          case e: Throwable =>
            fail(s"$q failed under CODEGEN_ONLY (codegen fallback would have hidden this): ${e.getMessage.take(400)}")
        }
      }
    } finally {
      conf.set("spark.sql.codegen.fallback", prevFallback)
      conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("filters and pruning reach the lineitem scan: q1") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // pruned read schema: no l_orderkey/l_partkey columns for this query
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"), read)
  }

  test("distributed rank never windows a whole language in one partition: q117") {
    // every window spec in the plan must carry the range-bin key — the
    // rank windows partition on (lang, __bin), and the offsets window
    // (bounded |G|·bins rows) orders on __bin. A windowspec mentioning
    // lang but not __bin would be the single-partition collapse
    // Rank.rankWithin exists to avoid.
    val p = plan("q117_ccnet_buckets")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, "q117 lost its rank windows entirely")
    specs.foreach(s => assert(s.contains("__bin"), s"window without the bin key: $s"))
  }

  test("column profiler is one pass: single pruned scan feeding Expand: q119") {
    val p = plan("q119_column_profile")
    assert(p.linesIterator.count(_.contains("FileScan")) === 1, "profiler re-scans the table")
    assert(p.contains("Expand"), "unpivot lost its map-side Expand")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_returnflag") && !read.contains("l_shipdate"), read)
  }

  test("digest aggregates map-side combine (partial before the shuffle): q116, q118") {
    Seq("q116_export_digest", "q118_source_digest").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_"), s"$q lost its partial aggregation")
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian join")
    }
  }

  test("shingle census/removal: map-side combine, shingle-keyed exchanges, no cartesian: q141, q145") {
    // the inverted-index shape: every exchange keys on the shingle (or a
    // doc-id compound) and aggregates combine map-side; join strategy is
    // left to stats (broadcast at fixture SF, shuffle at scale) but a
    // nested-loop/cartesian would mean the keyed join was lost
    Seq("q141_ngram_span_dup", "q145_span_removal").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_"), s"$q lost map-side partial aggregation")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q lost its keyed shingle join")
      assert(p.contains("hashpartitioning") && p.contains("shingle"),
        s"$q no longer shuffles on the shingle key")
    }
  }

  test("temperature sampling ranks through the bin-keyed two-pass: q142") {
    // same law as q117: every rank windowspec must carry the range-bin
    // key — a spec partitioned on source alone would be the
    // single-task-per-source collapse Rank.rankWithin exists to avoid
    val p = plan("q142_temperature_mix")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, "q142 lost its rank windows entirely")
    specs.foreach(s => assert(s.contains("__bin"), s"window without the bin key: $s"))
  }

  test("calibration reuses the persisted feature frame across training scans: q143") {
    val p = plan("q143_calibration")
    assert(p.contains("InMemoryTableScan"), "q143 re-derives features instead of reading the cache")
    assert(!p.contains("CartesianProduct"), "q143 grew a cartesian join")
  }

  test("recursive CTE emits no LogicalRDD attribute-mismatch warnings: q258") {
    // BENCH_r09's driver log drowned in `WARN LogicalRDD: The output
    // columns are expected to the same … (c_custkey, c_custkey, 0)` —
    // hundreds of firings per full pass. A per-query marker pass attributed every one
    // to q258's WITH RECURSIVE anchor, whose unaliased duplicate
    // projection let the optimizer collapse two attributes to one
    // exprId on every UnionLoop materialization. The anchor now aliases
    // its columns; this rung captures the LogicalRDD logger during an
    // execution and pins the silence so a future anchor edit can't
    // regress the spam.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
      "graft-logicalrdd-capture", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("LogicalRDD") && e.getLevel.isMoreSpecificThan(Level.WARN))
          captured.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try SparkEntry.queries("q258_recursive_cte")(spark, "/root/testdata/sf0.001").count()
    finally {
      cfg.getRootLogger.removeAppender("graft-logicalrdd-capture")
      ctx.updateLoggers()
      appender.stop()
    }
    assert(captured.isEmpty,
      s"LogicalRDD warned during the recursive CTE: ${captured.peek()}")
  }
}
