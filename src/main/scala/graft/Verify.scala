package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.BenchRules.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev loop only;
    // the driver always passes two args and gets the full dump)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    // a typo'd filter name must fail loudly, not skip silently to a
    // false-green dev loop
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // name → exception message for every query that threw. Written even
    // when empty: a query missing from the correctness artifact must be
    // impossible without a trace (round-6 postmortem — 25 analysis-time
    // failures went to stderr only and silently vanished from
    // CORRECTNESS_r06).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // PERSIST HYGIENE (r12): registry queries persist intermediates
      // (84 sites) whose usefulness ends when this query's write
      // completes; without an explicit drop they accumulate across the
      // 320-query session and only LRU eviction reclaims them — churn
      // that lands on exactly the long queries. Bench already clears
      // per timed rep (timed() → clearCache); Verify now matches, so
      // cached blocks never outlive their query in either harness.
      spark.catalog.clearCache()
    }
    // static oracles + the verify-corpus-generated ones (q30/q31/q49/
    // q94/q33/q107, and since round 6 q27/q48/q54 — replaying geometry/
    // codebooks/signatures derived from THIS corpus).
    // Fault isolation (T6 discipline): a failure while GENERATING the
    // dynamic entries must cost only those queries' oracles, never the
    // whole round's oracle_sql.json.
    val dynamic =
      try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch {
        case e: Throwable =>
          System.err.println(s"[verify] dynamic oracle generation failed: ${e.getMessage}")
          Map.empty[String, String]
      }
    // escaped: a tab or CR in an oracle's SQL text would otherwise make
    // the file unparseable, and the oracle compare would check nothing
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failures
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    spark.stop()
    // dev loop (explicit filter): a failed requested query must fail the
    // run — ORACLE_CHECK_PARTIAL would otherwise skip its missing dir
    // and certify nothing. The driver's two-arg full dump keeps the
    // per-query fault isolation contract (T6) and exit 0.
    if (only.isDefined && failures.nonEmpty) sys.exit(1)
  }
}
