package graft.jobs

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.SparkSpec

class JobsSpec extends SparkSpec {
  import spark.implicits._

  test("housekeeping drops rows older than the cutoff, keeps the rest") {
    val dir = Files.createTempDirectory("hk").toString + "/curated"
    Seq(
      ("a", Timestamp.valueOf("2024-01-01 00:00:00")),
      ("b", Timestamp.valueOf("2024-01-08 00:00:00")),
      ("c", Timestamp.valueOf("2024-01-09 00:00:00"))
    ).toDF("k", "observed_at").write.parquet(dir)
    val kept = Jobs.housekeeping(spark, dir, "observed_at", Timestamp.valueOf("2024-01-08 00:00:00"))
    assert(kept == 2)
    val out = spark.read.parquet(dir).select("k").as[String].collect().sorted.toSeq
    assert(out == Seq("b", "c"))
    // a cutoff past every row keeps none, and the count says so
    assert(Jobs.housekeeping(spark, dir, "observed_at", Timestamp.valueOf("2024-02-01 00:00:00")) == 0)
    assert(spark.read.parquet(dir).count() == 0)
  }

  test("catalogRefresh: bootstrap then coalesce-merge update") {
    val dir = Files.createTempDirectory("cat").toString + "/stations"
    val first = Seq(
      ("s1", Some("cityA"), Some(1.0), Some(2.0)),
      ("s2", None: Option[String], Some(3.0), Some(4.0)),
      ("s3", Some("x"), None: Option[Double], Some(1.0)) // null lat → dropped (P4)
    ).toDF("station_id", "city", "lat", "lon")
    assert(Jobs.catalogRefresh(spark, first, dir) == 2)

    val update = Seq(
      ("s1", None: Option[String], Some(9.0), Some(9.0)), // null city keeps cityA
      ("s9", Some("new"), Some(5.0), Some(6.0))
    ).toDF("station_id", "city", "lat", "lon")
    assert(Jobs.catalogRefresh(spark, update, dir) == 3)
    val rows = spark.read.parquet(dir).orderBy("station_id").collect()
    val s1 = rows.find(_.getString(0) == "s1").get
    assert(s1.getString(1) == "cityA" && s1.getDouble(2) == 9.0)
  }

  test("rename-publish: no second write artifacts; crashed-publish leftovers swept") {
    val base = Files.createTempDirectory("pub").toString
    val dir = base + "/stations"
    val first = Seq(("s1", Some("cityA"), Some(1.0), Some(2.0)))
      .toDF("station_id", "city", "lat", "lon")
    assert(Jobs.catalogRefresh(spark, first, dir) == 1)
    // the publish contract: after a successful refresh only the target
    // name exists — __tmp was renamed (not rewritten), __old was swept
    assert(new java.io.File(dir).isDirectory)
    assert(!new java.io.File(dir + "__tmp").exists())
    assert(!new java.io.File(dir + "__old").exists())

    // simulate a crash that died after staging the target aside:
    // a stale __old must be swept by the next publish, not collide
    val staleOld = new java.io.File(dir + "__old")
    assert(staleOld.mkdir())
    Files.writeString(java.nio.file.Path.of(staleOld.getPath, "junk"), "crashed run")
    val update = Seq(("s2", Some("cityB"), Some(3.0), Some(4.0)))
      .toDF("station_id", "city", "lat", "lon")
    assert(Jobs.catalogRefresh(spark, update, dir) == 2)
    assert(!new java.io.File(dir + "__old").exists())
    assert(!new java.io.File(dir + "__tmp").exists())
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("crash between publish's two renames: re-running the job restores from __old, no data loss") {
    // build a healthy 2-station catalog
    val dir = Files.createTempDirectory("crash").toString + "/stations"
    val first = Seq(
      ("s1", Some("cityA"), Some(1.0), Some(2.0)),
      ("s2", Some("cityB"), Some(3.0), Some(4.0))
    ).toDF("station_id", "city", "lat", "lon")
    assert(Jobs.catalogRefresh(spark, first, dir) == 2)

    // simulate the crash window: target was renamed to __old, the second
    // rename (tmp → target) never happened — the ONLY copy is __old
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + "__old")))
    assert(!new java.io.File(dir).exists())

    // re-running catalogRefresh must FIRST restore from __old, then
    // merge — before the recover fix it treated the catalog as fresh,
    // built from the new batch alone, and swept the only prior copy
    val update = Seq(("s3", Some("cityC"), Some(5.0), Some(6.0)))
      .toDF("station_id", "city", "lat", "lon")
    assert(Jobs.catalogRefresh(spark, update, dir) == 3)
    val ids = spark.read.parquet(dir).select("station_id").as[String].collect().sorted.toSeq
    assert(ids == Seq("s1", "s2", "s3")) // s1/s2 survived the crash
    assert(!new java.io.File(dir + "__old").exists())

    // same crash state, housekeeping path: must restore then run, not
    // fail on the missing target dir
    val hkDir = Files.createTempDirectory("crash2").toString + "/curated"
    Seq(("a", Timestamp.valueOf("2024-01-09 00:00:00")))
      .toDF("k", "observed_at").write.parquet(hkDir)
    assert(new java.io.File(hkDir).renameTo(new java.io.File(hkDir + "__old")))
    val kept = Jobs.housekeeping(spark, hkDir, "observed_at", Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(kept == 1)
    assert(spark.read.parquet(hkDir).count() == 1)
  }

  test("writePartitioned bounds files per partition dir and round-trips rows") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("wp").toString
    val ev = graft.Tables
      .events(spark, "/root/testdata/sf0.001")
      .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
      .repartition(16) // simulate a many-task upstream: naive partitionBy would fan out per task
      .drop("ts") // ts is int64-nanos-derived; day carries the partition
    val n = ev.count()
    Jobs.writePartitioned(ev, out, "day", filesPerPartition = 3)
    val dayDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("day="))
    assert(dayDirs.nonEmpty)
    dayDirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= 3, s"${d.getName}: $files files, want <= 3")
    }
    assert(spark.read.parquet(out).count() == n)
  }

  test("replace: the generation it returns is its own files', and another writer's publish moves the snapshot's") {
    val dir = Files.createTempDirectory("gen").toString + "/snap"
    assert(Jobs.generation(dir).isEmpty)
    val mine = Jobs.replace(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), dir)
    assert(mine.rows == 2)
    assert(mine.generation.exists(_._1.endsWith(".parquet")))
    assert(Jobs.generation(dir) == mine.generation)
    // same rows, another write: fresh part-file names, so a new generation
    val theirs = Jobs.replace(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), dir)
    assert(theirs.generation != mine.generation)
    assert(Jobs.generation(dir) == theirs.generation)
  }

  test("snapshot reads and publishes live only in jobs/Jobs.scala") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"scanned ${files.size} files under ${root.toAbsolutePath}")
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    assert(files.exists(rel(_) == "graft/jobs/Jobs.scala"))
    // a hand-built `<dir>__tmp` name or a direct publish call is a second
    // copy of the replace sequence, which lives only in Jobs.replace
    val tokens = Seq("\"__tmp\"", "publish(")
    val found = for {
      f <- files if rel(f) != "graft/jobs/Jobs.scala"
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- tokens if line.contains(token)
    } yield s"${rel(f)}:${n + 1}: $token"
    assert(found.isEmpty, found.mkString("use Jobs.readSnapshot / Jobs.replace instead:\n", "\n", ""))
  }
}
