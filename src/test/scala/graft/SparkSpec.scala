package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites — one session per JVM (Test/fork). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(4)

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A new directory under the system temp dir, deleted with everything
    * in it when the suite ends. */
  protected def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach { dir =>
      if (Files.exists(dir)) {
        val paths = Files.walk(dir)
        try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally paths.close()
      }
    } finally super.afterAll()

  /** Spark jobs started while `body` runs. Listener events arrive in
    * order, so once a marker job run afterwards is seen, every start from
    * `body` has been delivered too. */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "graft.test.marker"
    val starts = new java.util.concurrent.LinkedBlockingQueue[java.lang.Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).exists(_.getProperty(marker) != null))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      Iterator
        .continually(Option(starts.poll(30, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail("marker job start not seen")))
        .takeWhile(m => !m)
        .size
    } finally sc.removeSparkListener(listener)
  }
}
