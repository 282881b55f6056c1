package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites — one session per JVM (Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

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
