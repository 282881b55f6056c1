package graft.jobs

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** PARTITION PRUNING — the first-line 100 TB mechanism, asserted on the
  * PHYSICAL plan rather than assumed: a day-partitioned write (rows
  * shuffled by day first, so each day is one file) must give readers
  * (1) static pruning — a `day = X` filter lands in the scan's
  * partitionFilters and the scan touches exactly that partition's
  * files, and (2) DYNAMIC partition
  * pruning — a join against a filtered dim builds a runtime subquery
  * filter on the fact scan, so the fact side never reads the
  * non-qualifying days even though the days aren't literals in the
  * query. PlanContractSpec pins data-filter pushdown (PushedFilters);
  * this is its partition-dimension sibling.
  */
class PartitionPruneSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val out = tempDir("prune") + "/events_by_day"
    val ev = Tables
      .events(spark, "/root/testdata/sf0.001")
      .withColumn("day", to_date(col("ts")))
      .select("event_id", "user_id", "event_type", "value", "day")
    ev.repartition(col("day")).write.partitionBy("day").parquet(out)
    out
  }

  private def factScan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }.head

  test("static pruning: a literal day predicate becomes partitionFilters and reads one partition") {
    val nDays = spark.read.parquet(dir).select("day").distinct().count()
    assert(nDays > 5, s"need a multi-day corpus, got $nDays")
    val one = spark.read.parquet(dir).where(col("day") === lit("2024-01-03").cast("date"))
    val scan = factScan(one)
    assert(scan.partitionFilters.nonEmpty, "day predicate did not reach partitionFilters")
    val selected = scan.relation.location.listFiles(scan.partitionFilters, Nil)
    assert(selected.size == 1, s"expected 1 pruned partition, scan selected ${selected.size}")
    // and the answer is still right
    assert(one.count() == spark.read.parquet(dir).where(expr("day = DATE'2024-01-03'")).count())
  }

  test("dynamic partition pruning: a filtered dim join plants a runtime subquery on the fact scan") {
    val fact = spark.read.parquet(dir)
    val dim = (1 to 30)
      .map(d => (java.sql.Date.valueOf(f"2024-01-$d%02d"), if (d <= 2) "keep" else "drop"))
      .toDF("d_day", "flag")
    // write the dim so DPP sees a non-streamed relation worth reusing
    val dimDir = tempDir("prune_dim") + "/dim"
    dim.write.parquet(dimDir)
    val dimT = spark.read.parquet(dimDir)
    val joined = fact
      .join(dimT, fact("day") === dimT("d_day"))
      .where(col("flag") === "keep")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"))
    val planStr = joined.queryExecution.executedPlan.toString
    assert(
      planStr.contains("dynamicpruning") || planStr.contains("DynamicPruning"),
      s"no dynamic pruning expression in plan:\n${planStr.take(2000)}")
    val got = joined.orderBy(col("day")).as[(java.sql.Date, Long)].collect().toSeq
    assert(got.map(_._1.toString) == Seq("2024-01-01", "2024-01-02"), s"got $got")
  }

  test("bounded file count per partition (the small-files contract)") {
    val perDay = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("day"))
      .groupBy("day")
      .agg(countDistinct(col("f")).as("nf"))
      .as[(java.sql.Date, Long)]
      .collect()
    assert(perDay.nonEmpty)
    perDay.foreach { case (d, nf) =>
      assert(nf <= 2, s"day $d wrote $nf files, cap is 2")
    }
  }
}
