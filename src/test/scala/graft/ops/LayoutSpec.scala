package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton interleave on plain Scala longs. */
  private def zRef(vals: Seq[(Long, Long, Long)], bits: Int): Long = {
    val ndims = vals.size
    val ranks = vals.map { case (v, lo, hi) =>
      math.floor((v - lo).toDouble * (1L << bits) / (hi - lo + 1)).toLong
    }
    (0 until bits).foldLeft(0L) { (acc, i) =>
      ranks.zipWithIndex.foldLeft(acc) { case (a, (r, d)) =>
        a | (((r >> i) & 1L) << (i * ndims + d))
      }
    }
  }

  test("zValue matches the scalar reference on a value grid") {
    val rows = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val df = rows.toDF("x", "y")
    val got = df
      .withColumn("z", Layout.zValue(Seq((col("x"), 0L, 31L), (col("y"), 0L, 31L)), 5))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    rows.foreach { case (x, y) =>
      assert(got((x, y)) === zRef(Seq((x, 0L, 31L), (y, 0L, 31L)), 5),
        s"mismatch at ($x,$y)")
    }
  }

  test("zValue is a bijection on a full grid (no bucket ever collides)") {
    val rows = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    val n = rows.toDF("x", "y")
      .select(Layout.zValue(Seq((col("x"), 0L, 63L), (col("y"), 0L, 63L)), 6).as("z"))
      .distinct()
      .count()
    assert(n === 64L * 64L)
  }

  test("z-order layout beats single-column order on the off dimension") {
    // x uniformly random, y uniformly random, uncorrelated: a layout
    // sorted by x alone has ~full-range y extents per file; the z
    // layout keeps both extents sub-linear. This is the property the
    // q89 audit quantifies.
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(4096)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val df = rows.toDF("x", "y")
      .withColumn("z", Layout.zValue(Seq((col("x"), 0L, 255L), (col("y"), 0L, 255L)), 8))
      .withColumn("zfile", floor(col("z") / lit(4096L)))   // 16 z-range files
      .withColumn("xfile", floor(col("x") / lit(16L)))     // 16 x-range files
    def meanExtent(fileCol: String, dim: String): Double = {
      val Row(m: Double) = df
        .groupBy(col(fileCol))
        .agg(((max(col(dim)) - min(col(dim)) + 1.0) / 256.0).as("e"))
        .agg(avg(col("e")))
        .head()
      m
    }
    val zY = meanExtent("zfile", "y")
    val xY = meanExtent("xfile", "y")
    val zX = meanExtent("zfile", "x")
    assert(xY > 0.9, s"x-sorted layout should not constrain y (got $xY)")
    assert(zY < 0.5, s"z layout should bound y extents (got $zY)")
    assert(zX < 0.5, s"z layout should bound x extents (got $zX)")
  }

  test("compactionPlan: greedy prefix bins respect order and fill targets") {
    val files = Seq(
      ("p1", "f1", 300L), ("p1", "f2", 300L), ("p1", "f3", 300L),
      ("p1", "f4", 300L), ("p2", "f1", 1200L), ("p2", "f2", 50L)
    ).toDF("part", "name", "sz")
    val got = Layout
      .compactionPlan(files, Seq("part"), "name", "sz", 500L)
      .select($"part", $"name", $"bin".cast("long"))
      .as[(String, String, Long)]
      .collect()
      .toSet
    // p1: prefix sums 0,300,600,900 -> bins 0,0,1,1; p2: 0,1200 -> 0,2
    assert(got === Set(
      ("p1", "f1", 0L), ("p1", "f2", 0L), ("p1", "f3", 1L),
      ("p1", "f4", 1L), ("p2", "f1", 0L), ("p2", "f2", 2L)
    ))
  }

  /** Reference Hilbert xy2d on plain Scala longs (classic rotate/flip). */
  private def hilbertRef(x0: Long, y0: Long, bits: Int): Long = {
    val n = 1L << bits
    var (x, y, d) = (x0, y0, 0L)
    var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("hilbertValue matches the scalar reference on a 32x32 grid") {
    val rows = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val got = Layout
      .hilbertValue(rows.toDF("x", "y"), "x", "y", 5, "h")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    rows.foreach { case (x, y) =>
      assert(got((x, y)) === hilbertRef(x, y, 5), s"mismatch at ($x,$y)")
    }
  }

  test("hilbert curve is a bijection AND consecutive positions are grid neighbors") {
    val bits = 5
    val side = 1 << bits
    val rows = for (x <- 0L until side; y <- 0L until side) yield (x, y)
    val byD = rows.map { case (x, y) => hilbertRef(x, y, bits) -> ((x, y)) }.toMap
    assert(byD.size === side * side) // bijection
    // THE Hilbert property z-order lacks: |step| == 1 in exactly one dim
    (0L until (side.toLong * side - 1)).foreach { d =>
      val (x1, y1) = byD(d)
      val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1, s"jump at d=$d")
    }
  }
}
