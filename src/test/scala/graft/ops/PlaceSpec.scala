package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import graft.{SourceScan, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel

class PlaceSpec extends SparkSpec {

  /** A one-partition frame whose every evaluation bumps `evals` once per
    * row, so a test can tell a cache read from a recompute. */
  private def counted(name: String): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val evals = spark.sparkContext.longAccumulator(name)
    val bump = udf { (v: Long) => evals.add(1); v }.asNondeterministic()
    (spark.range(0, 10, 1, 1).select(bump(col("id")).as("x")), evals)
  }

  test("materialized fills the cache with one count() barrier, at MEMORY_AND_DISK") {
    // the jobs of one count() over a fresh cache (AQE may run one action
    // as more than one job), measured on the hand-written form
    val (ref, _) = counted("place_reference")
    val oneCount = jobsDuring { ref.persist(StorageLevel.MEMORY_AND_DISK).count() }
    ref.unpersist(true)
    assert(oneCount >= 1)
    val (df, evals) = counted("place_materialized")
    var m: DataFrame = null
    assert(jobsDuring { m = Place.materialized(df) } == oneCount)
    try {
      assert(m.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(evals.value == 10L)
      assert(m.collect().length == 10)
      assert(evals.value == 10L, "a read after the barrier recomputed the frame")
    } finally m.unpersist(true)
  }

  test("persisted caches at MEMORY_AND_DISK and starts no job") {
    val (df, evals) = counted("place_persisted")
    var p: DataFrame = null
    assert(jobsDuring { p = Place.persisted(df) } == 0)
    try {
      assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(evals.value == 0L)
    } finally p.unpersist(true)
  }

  test("spread plans a HashPartitioning on its columns at the width set when it is called") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def shuffle(df: DataFrame): HashPartitioning =
      df.queryExecution.sparkPlan.collect { case e: ShuffleExchangeExec => e.outputPartitioning } match {
        case Seq(h: HashPartitioning) => h
        case other => fail(s"expected one hash exchange, got $other")
      }
    try {
      val base = spark.range(0, 100).select(col("id").as("k"), (col("id") % 7).as("g"))
      spark.conf.set(key, "3")
      val three = Place.spread(base, col("k"), col("g"))
      spark.conf.set(key, "5")
      val five = Place.spread(base, col("g"))
      val h3 = shuffle(three)
      assert(h3.numPartitions == 3)
      assert(h3.expressions.collect { case a: AttributeReference => a.name } == Seq("k", "g"))
      val h5 = shuffle(five)
      assert(h5.numPartitions == 5)
      assert(h5.expressions.collect { case a: AttributeReference => a.name } == Seq("g"))
      assert(three.rdd.getNumPartitions == 3)
    } finally spark.conf.set(key, before)
  }

  test("overlap runs both thunks concurrently and returns both results") {
    // each side waits for the other to start: run one after the other,
    // the first await would time out
    val (aIn, bIn) = (new CountDownLatch(1), new CountDownLatch(1))
    val (a, b) = Place.overlap(
      { aIn.countDown(); bIn.await(30, TimeUnit.SECONDS) },
      { bIn.countDown(); aIn.await(30, TimeUnit.SECONDS); "b" })
    assert(a && b == "b")
  }

  test("overlap runs both thunks with the caller's job group") {
    val sc = spark.sparkContext
    def job(n: Int) = sc.parallelize(Seq(n), 1).count()
    // start the pool's threads outside any group first: a thread created
    // during the grouped call would inherit the group at its creation
    Place.overlap(job(1), job(2))
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("place-overlap", "jobs of both overlapped thunks")
    try assert(jobsDuring(Place.overlap(job(1), job(2))) == 2)
    finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // the two thunks' jobs, then jobsDuring's own marker job from this thread
    assert(groups.asScala.toSeq == Seq.fill(3)("place-overlap"))
  }

  test("overlap rethrows when either thunk throws") {
    val e1 = intercept[IllegalStateException](Place.overlap(throw new IllegalStateException("a"), 2))
    assert(e1.getMessage == "a")
    val e2 = intercept[IllegalArgumentException](Place.overlap(1, throw new IllegalArgumentException("b")))
    assert(e2.getMessage == "b")
  }

  /** Tokens that spell a placement rule out by hand. Each may appear in
    * `src/main/scala` only in ops/Place.scala, or in a file listed with
    * the reason it needs the token. */
  private val policyTokens: Map[String, Map[String, String]] = Map(
    "StorageLevel" -> Map.empty,
    ".persist(" -> Map.empty,
    ".cache()" -> Map.empty,
    "scala.concurrent" -> Map.empty,
    "\"spark.sql.shuffle.partitions\"" -> Map(
      "graft/Sessions.scala" -> "sets the width each session starts with; Place.spread reads it")
  )

  test("the placement policy lives only in ops/Place.scala") {
    val found = for {
      (file, n, line) <- SourceScan.linesOutside("graft/ops/Place.scala")
      (token, allowed) <- policyTokens if line.contains(token) && !allowed.contains(file)
    } yield s"$file:$n: $token"
    assert(found.isEmpty, found.mkString("use graft.ops.Place instead:\n", "\n", ""))
  }
}
