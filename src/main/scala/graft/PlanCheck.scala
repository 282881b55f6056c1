package graft

import org.apache.spark.sql.functions._

/** Plan-quality audit: prints the physical plan facts that matter at
  * scale (pushed filters, read schemas, join strategies, codegen spans)
  * for the core queries. Not part of the driver contract.
  */
object PlanCheck {
  /** The core queries whose plan facts `main` prints. */
  private[graft] val audited: Seq[String] = Seq(
    "q1_agg", "q2_filter", "q3_enrich", "q4_watermark", "q9_topk",
    "q16_join_parts", "q5_dedup", "q6_latest", "q43_range_join",
    // round-2 additions with scale-relevant plan shapes
    "q25_knn_brute", "q27_minhash_dedup", "q50_bloom_join",
    "q52_stratified_sample", "q55_scd2",
    // round-3: multiprobe ANN (bucket join stays broadcast on the
    // probed query side), the t-digest ObjectHashAggregate, the
    // broadcast/Bloom decontamination pair, and the chunker generator
    "q30_ann_lsh", "q59_tdigest", "q61_decontaminate",
    "q64_decontaminate_bloom", "q63_chunking",
    // round-3 batch 2: salted SMJ, tf-idf window limit, Bloom-bypass
    // anti join, deflate map-side signal
    "q65_salted_join", "q66_tfidf", "q72_incremental_dedup",
    "q73_compress_quality",
    // round-3 batch 3: z-order file assignment must stay pure map-side
    // (no exchange before the per-file agg's own shuffle), compaction
    // planning is one window over file metadata
    "q89_zorder_layout", "q90_compaction_plan",
    // round-3 batch 4: PQ encode/ADC must stay in one codegen'd
    // projection (codebook literals, no join), PageRank's per-round
    // join+agg pair, transition matrix's single lead window
    "q94_pq_adc", "q96_pagerank", "q98_transitions",
    // round-4: join-free gram aggregate (hashed keys), directed
    // PageRank with the dangling fold, LSH-candidate mining
    "q101_novelty", "q106_pagerank_directed", "q107_hard_negatives_ann",
    // round-6: the real-codec mapPartitions seams — the object
    // serialize/deserialize boundary should wrap ONLY the decode
    // stage, with the rollups/joins staying codegen'd around it
    "q32_multimodal", "q54_media_dedup", "q108_audio_decode",
    // round-8: BM25's broadcast-pruned postings + two-pass top-k
    // (no per-query single-task window), and the order digest's
    // Rank-based position pass
    "q122_bm25", "q123_order_digest",
    // round-8: the incremental-digest diff — digests computed BEFORE
    // the full-outer id join, so the join ships 16 B/doc, never text
    "q124_delta_digest",
    // round-8: stratified round-robin sharding — Rank two-pass, no
    // per-source single-task window
    "q125_stratified_shards"
  )

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("fingerprints")) { fingerprints(args.drop(1)); return }
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(4)
    audited.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      // drive THIS queryExecution's physical plan (count()/foreach both
      // wrap df in a NEW execution and leave this one's AQE
      // un-finalized): the final plan — with its WholeStageCodegen
      // spans — only exists after the adaptive plan actually runs
      df.queryExecution.executedPlan.execute().count()
      val plan = df.queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toList
      val schemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
      val joins = plan.linesIterator.filter(l => l.contains("Join")).map(_.trim.take(90)).toList
      // codegen ids (*(n)) only print in explain's simple mode
      val simple = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      val wsc = "\\*\\(\\d+\\)".r.findAllIn(simple).map(_.toString).toSet.size
      println(s"=== $name")
      pushed.foreach(p => println(s"  $p"))
      schemas.foreach(s => println(s"  ${s.take(120)}"))
      joins.foreach(j => println(s"  JOIN: $j"))
      println(s"  wholestage_codegen_nodes=$wsc")
      println(s"  topk=" + plan.linesIterator.find(_.contains("TakeOrdered")).map(_.trim.take(90)).getOrElse("-"))
      // map-side per-group top-k pruning (rank filters, stratified sample)
      plan.linesIterator.find(_.contains("WindowGroupLimit")).foreach(l => println(s"  wgl=${l.trim.take(90)}"))
      // bloom prefilter placement (q50)
      plan.linesIterator.find(_.contains("might_contain")).foreach(l => println(s"  bloom=${l.trim.take(90)}"))
    }
    spark.stop()
  }

  /** Per-query PHYSICAL-PLAN FINGERPRINTS: `runMain graft.PlanCheck
    * fingerprints [sfDir] [outFile]` hashes every registry query's
    * STATIC physical plan (AQE disabled for the fingerprint session;
    * exprIds, plan ids, RDD ids, object addresses and JIT lambda ids
    * normalized away) into docs/PLAN_FINGERPRINTS.json. Committed once
    * per round, the file turns "q35 crept +21% with no code change"
    * from a judgment call into a diff: fingerprint unchanged ⇒ the
    * authored plan didn't move, the creep is environmental; changed ⇒
    * here is the query whose plan to inspect. (Round-4 VERDICT asked
    * for exactly this artifact.)
    *
    * ROUND-6 CAVEAT, measured: hashes are deterministic within a
    * container (back-to-back runs agree 107/107 after the
    * truncated-tail fix) but NOT across containers — the r5-committed
    * hashes differed from a same-code regeneration in the r6 container
    * on 105/107 queries. Cross-ROUND adjudication therefore regenerates
    * both sides in ONE container and diffs their normalized dumps
    * (docs/plan_dumps/, written on every run, not committed) — never
    * the hash file across containers. AQE is off HERE only because its
    * runtime re-plans (e.g. a borderline broadcast decision flipping
    * join sides run to run) are exactly the environmental noise the
    * fingerprint must exclude — Verify/Bench keep AQE on.
    */
  private def fingerprints(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // absolute default (the Bench.scala record-path lesson): run under a
    // harness whose working directory is its own, a relative path lands
    // the file outside the repo checkout or throws NoSuchFileException
    val out = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_FP_OUT", "/root/repo/docs/PLAN_FINGERPRINTS.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions
      .builder(s"local[$cpus]", cpus)
      .config("spark.sql.adaptive.enabled", "false")
      // scan metadata (DataFilters, PushedFilters, ...) is otherwise cut
      // at a RAW-string budget before the normalization below runs, so
      // the cut lands mid-token and moves with the length of what it
      // swallowed: a session-global lambda counter (q67) or an @addr
      // (q103). Untruncated, every token is whole when normalized.
      .config("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val fp =
        try {
          val df = fn(spark, dir)
          val norm = df.queryExecution.executedPlan.toString
            .replaceAll("#\\d+L?", "#")      // exprIds
            // lambda variable names carry a SESSION-GLOBAL counter
            // (x_12, y_13, …): which queries ran earlier in the session
            // shifts every later name — normalize the counter away
            .replaceAll("_\\d+#", "_#")
            .replaceAll("plan_id=\\d+", "plan_id=")
            .replaceAll("\\bid=\\d+", "id=") // exchange/subquery ids
            .replaceAll("@[0-9a-f]+", "@")   // object addresses
            .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda") // JIT lambda ids
            .replaceAll("(?i)cached ?rdd ?\\d+", "cachedrdd")
            .replaceAll("ExistingRDD\\[[^\\]]*\\]", "ExistingRDD[]")
            .replaceAll("LogicalRDD \\[[^\\]]*\\]", "LogicalRDD []")
            // broadcast/run uuids — word-anchored so an identifier that
            // merely CONTAINS r+8 hex-range chars (e.g. a codegen name
            // with a 'deadbeef' substring) isn't collapsed, which would
            // make two genuinely different plans hash identical
            .replaceAll("\\br[0-9a-f]{8,}\\b", "r")
          // ALWAYS dump the normalized text alongside the hash: round 6
          // proved the hashes are stable within a container but NOT
          // across containers (105/107 differed between the r5-committed
          // baseline and a regeneration from the SAME code in the r6
          // container — token unidentifiable from hashes alone). The
          // dumps make a cross-round comparison a TEXT diff that names
          // the leaking token instead of a hash verdict.
          val dumpDir = sys.env.getOrElse("SPARK_GRAFT_FP_DUMP", "/root/repo/docs/plan_dumps")
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dumpDir))
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dumpDir/$name.txt"), norm)
          java.security.MessageDigest
            .getInstance("SHA-256")
            .digest(norm.getBytes("UTF-8"))
            .take(8)
            .map("%02x".format(_))
            .mkString
        } catch { case e: Throwable => s"error:${e.getClass.getSimpleName}" }
      spark.catalog.clearCache()
      name -> fp
    }
    val json = entries
      .map { case (k, v) => s"""  "$k": "$v"""" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"[fingerprints] wrote ${entries.size} entries to $out")
    spark.stop()
  }
}
