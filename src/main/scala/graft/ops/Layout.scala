package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-layout operators for 100 TB tables: Z-order clustering and
  * small-file compaction planning.
  *
  * Both attack the same scale problem from opposite ends. Z-ORDER decides
  * where rows go so multi-dimensional point/range filters can skip most
  * files on parquet min/max footer stats (a linear sort gives perfect
  * skipping on ONE column and none on the others; bit-interleaving the
  * column ranks gives ~sqrt-quality extents on ALL of them — the Delta
  * `OPTIMIZE ZORDER BY` / Hudi clustering idea, from public Morton-curve
  * literature). COMPACTION decides where FILES go after the fact: a
  * 100 TB table ingested in small increments accretes millions of
  * KB-scale files whose open/footer overhead dominates scans; the planner
  * bin-packs them into target-size outputs partition-locally.
  *
  * Scale shape: `zValue` is pure map-side integer bit arithmetic (no
  * shuffle, codegen'd built-ins only); a writer clusters on it with ONE
  * range-exchange (`repartitionByRange` on the z-value) — the same single
  * shuffle any global sort pays — then a local sort per output file.
  * `compactionPlan` is one window over (partition, file-order): the
  * cumulative-size bin assignment never moves row data at all, only file
  * metadata (one row per FILE, not per record).
  */
object Layout {

  /** Morton z-value: range-scale each column to an integer rank in
    * [0, 2^bits) using closed [min, max] corpus bounds, then interleave
    * the rank bits (dimension d contributes bit i to output position
    * i * ndims + d). Integer arithmetic throughout — exact, portable,
    * and identical in any engine (the oracle replays it in SQL).
    *
    * Bounds arrive as literals (collected scalar constants — the same
    * class as IVF centroids / LSH planes, bytes not data); at 100 TB they
    * come from a footer-stats pass, not a data scan.
    */
  def zValue(cols: Seq[(Column, Long, Long)], bits: Int): Column = {
    require(cols.nonEmpty && bits >= 1 && cols.size * bits <= 62,
      s"ndims*bits must fit a signed long, got ${cols.size}*$bits")
    val ndims = cols.size
    val ranks = cols.map { case (c, lo, hi) =>
      // (hi-lo)*2^bits must stay far below 2^53: the quotient goes
      // through IEEE double division, exact only in that regime (floor
      // can't flip — a nonzero remainder shifts the quotient by
      // >= 1/(hi-lo+1), orders of magnitude above the representation
      // error at these magnitudes)
      require(hi >= lo && (hi - lo + 1) <= (1L << 40) / (1L << bits),
        s"range [$lo,$hi] too wide for exact double division at $bits bits")
      // floor((v - lo) * 2^bits / (hi - lo + 1)): monotone, hits every
      // bucket, never overflows [0, 2^bits) for v in [lo, hi]
      floor((c.cast("long") - lit(lo)) * lit(1L << bits) / lit(hi - lo + 1))
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      ranks.zipWithIndex.foldLeft(acc) { case (a, (r, d)) =>
        a.bitwiseOR(shiftleft(shiftright(r, i).bitwiseAND(lit(1L)), i * ndims + d))
      }
    }
  }

  /** The matching DuckDB/ANSI SQL expression for `zValue` — generated
    * from the same (column, lo, hi, bits) spec so query and oracle can
    * never drift. `colsSql` are SQL expressions for the dimension columns.
    */
  def zValueSql(cols: Seq[(String, Long, Long)], bits: Int): String =
    zValueSqlDynamic(
      cols.map { case (c, lo, hi) => (c, lo.toString, hi.toString) }, bits)

  /** As `zValueSql`, but lo/hi are themselves SQL expressions (e.g.
    * references to a bounds CTE), for oracles whose bounds are
    * data-derived rather than compile-time constants.
    */
  def zValueSqlDynamic(cols: Seq[(String, String, String)], bits: Int): String = {
    val ndims = cols.size
    val terms = for {
      i <- 0 until bits
      ((c, lo, hi), d) <- cols.zipWithIndex
    } yield {
      val rank = s"CAST(floor((CAST($c AS BIGINT) - $lo) * ${1L << bits} / ($hi - $lo + 1)) AS BIGINT)"
      s"((($rank >> $i) & 1) << ${i * ndims + d})"
    }
    terms.mkString("(", " | ", ")")
  }

  /** HILBERT curve value for a 2-D key in [0, 2^bits)² — the
    * locality-preserving alternative to [[zValue]]: the Hilbert curve
    * never takes the long diagonal jumps Morton order does, so range
    * rectangles map to FEWER, LONGER runs of curve positions → fewer
    * files touched per query (q269 measures the gap against z-order on
    * the same rectangles). Classic bitwise xy2d (Hilbert 1891; the
    * rotate-and-flip formulation is standard public-domain code): per
    * scale s = 2^(bits−1)…1, read quadrant bits (rx, ry), add
    * s²·gray(rx, ry) to the position, then rotate/flip the frame. The
    * gray map and the flip (n−1−v) are spelled as CASE arithmetic —
    * no XOR — so the SQL replay is token-identical in any engine.
    *
    * Implementation shape: `bits` chained projections of pure integer
    * CASE/div/mod arithmetic on two working columns — map-side,
    * codegen'd, no shuffle (the round state is materialized per round
    * rather than inlined: a single folded expression would grow 4^bits
    * nodes). [[hilbertSqlCtes]] generates the same rounds as chained
    * MATERIALIZED CTEs (the q184 inlining lesson).
    */
  def hilbertValue(df: DataFrame, x: String, y: String, bits: Int, out: String): DataFrame = {
    require(bits >= 1 && 2 * bits <= 62, s"2*bits must fit a signed long, got $bits")
    val n = 1L << bits
    var cur = df
      .withColumn(out, lit(0L))
      .withColumn("__hx", col(x).cast("long"))
      .withColumn("__hy", col(y).cast("long"))
    var s = n / 2
    while (s > 0) {
      cur = cur
        .withColumn("__rx", expr(s"(__hx div $s) % 2"))
        .withColumn("__ry", expr(s"(__hy div $s) % 2"))
        .withColumn(
          out,
          col(out) + lit(s * s) * expr(
            "CASE WHEN __rx = 0 AND __ry = 0 THEN 0 " +
              "WHEN __rx = 0 THEN 1 WHEN __ry = 0 THEN 3 ELSE 2 END"))
        .withColumn(
          "__nx",
          expr(s"CASE WHEN __ry = 0 THEN (CASE WHEN __rx = 1 THEN ${n - 1} - __hy ELSE __hy END) ELSE __hx END"))
        .withColumn(
          "__ny",
          expr(s"CASE WHEN __ry = 0 THEN (CASE WHEN __rx = 1 THEN ${n - 1} - __hx ELSE __hx END) ELSE __hy END"))
        .withColumn("__hx", col("__nx"))
        .withColumn("__hy", col("__ny"))
      s /= 2
    }
    cur.drop("__hx", "__hy", "__nx", "__ny", "__rx", "__ry")
  }

  /** DuckDB replay of [[hilbertValue]]: the same rounds as a chain of
    * MATERIALIZED CTEs. `src` is the input CTE (must expose `carry`
    * columns plus integer `x`/`y` named columns); returns (cteChain,
    * finalName) where the final CTE exposes `carry` + `hkey`.
    */
  def hilbertSqlCtes(
      src: String,
      carry: Seq[String],
      x: String,
      y: String,
      bits: Int): (String, String) = {
    val n = 1L << bits
    val carrySql = carry.mkString(", ")
    val rounds = (0 until bits).map { i =>
      val s = n >> (i + 1)
      val prev = if (i == 0) src else s"__h$i"
      val (px, py, pd) =
        if (i == 0) (x, y, "CAST(0 AS BIGINT)") else ("hx", "hy", "hd")
      s"""__h${i + 1} AS MATERIALIZED (
         |  SELECT $carrySql,
         |    $pd + ${s * s} * (CASE WHEN ($px // $s) % 2 = 0 AND ($py // $s) % 2 = 0 THEN 0
         |                          WHEN ($px // $s) % 2 = 0 THEN 1
         |                          WHEN ($py // $s) % 2 = 0 THEN 3 ELSE 2 END) AS hd,
         |    CASE WHEN ($py // $s) % 2 = 0
         |         THEN (CASE WHEN ($px // $s) % 2 = 1 THEN ${n - 1} - $py ELSE $py END)
         |         ELSE $px END AS hx,
         |    CASE WHEN ($py // $s) % 2 = 0
         |         THEN (CASE WHEN ($px // $s) % 2 = 1 THEN ${n - 1} - $px ELSE $px END)
         |         ELSE $py END AS hy
         |  FROM $prev)""".stripMargin
    }
    val fin = s"""__hfin AS (SELECT $carrySql, hd AS hkey FROM __h$bits)"""
    ((rounds :+ fin).mkString(",\n"), "__hfin")
  }

  /** Compaction plan: bin-pack ordered files into targets of
    * ~`targetSize`, independently inside each table partition. Input is
    * file METADATA (one row per file with `sizeCol`); output adds `bin`
    * — the target file each input lands in. Greedy first-fit in file
    * order == floor(exclusive-prefix-sum / target): a file starts a new
    * bin exactly when the bytes before it fill the previous targets.
    * One window, no data movement; the rewrite itself then reads only
    * the small files each bin names.
    */
  def compactionPlan(files: DataFrame, partitionCols: Seq[String], orderCol: String, sizeCol: String, targetSize: Long): DataFrame = {
    val w = Window
      .partitionBy(partitionCols.map(col).toIndexedSeq: _*)
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    files.withColumn(
      "bin",
      floor(coalesce(sum(col(sizeCol)).over(w), lit(0L)) / lit(targetSize))
    )
  }
}
