package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ResultHashSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = graft.Sessions.local(2)
  private var n = 0
  private def observe(df: org.apache.spark.sql.DataFrame) = {
    n += 1
    ResultHash.observe(df, s"spec_$n")
  }

  override def afterAll(): Unit = spark.stop()

  private def frame = {
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, s"row$i", i * 0.5)).toDF("id", "name", "x")
  }

  test("the same under row permutation and partitioning") {
    val a = observe(frame)
    val b = observe(frame.orderBy(col("x").desc).repartition(7))
    assert(a == b)
    assert(a._1 == 200L)
  }

  test("different when one value changes") {
    val changed = frame.withColumn("name", when(col("id") === 37, lit("row37x")).otherwise(col("name")))
    assert(observe(frame)._2 != observe(changed)._2)
  }

  test("a duplicated row changes the count and the hash") {
    val dup = frame.union(frame.filter(col("id") === 5))
    val (rows, hash) = observe(dup)
    assert(rows == 201L)
    assert(hash != observe(frame)._2)
  }

  test("an empty result observes zero rows") {
    assert(observe(frame.filter(lit(false))) == ((0L, "0")))
  }

  test("the ingest row hash matches the Python definition") {
    // bench/stats.py hash64("a"): first 8 SHA-256 bytes, big-endian
    assert(RowHash.hash("a") == java.lang.Long.parseUnsignedLong("ca978112ca1bbdca", 16))
    assert(RowHash.combine(Seq("a", "b")) == RowHash.combine(Seq("b", "a")))
  }
}
