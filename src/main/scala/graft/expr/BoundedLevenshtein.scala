package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: BOUNDED Levenshtein distance —
  * `bounded_levenshtein(a, b, k)` returns the edit distance when it is
  * ≤ k and the sentinel k+1 otherwise, via Ukkonen's banded DP.
  *
  * Why it exists: every ER / fuzzy-dedup predicate in this engine has
  * the shape `levenshtein(a, b) <= k` with tiny k (1–2). The builtin
  * computes the FULL O(n·m) matrix and only then compares; the banded
  * form walks a (2k+1)-wide diagonal band — O(k·min(n,m)) — and can
  * bail on the length gap alone. `bounded_levenshtein(a, b, k) <= k`
  * is exactly equivalent to `levenshtein(a, b) <= k` (the spec pins
  * min(lev, k+1) equality against a reference DP), so predicates swap
  * in without touching their oracles. Measured 3.74x faster than the
  * builtin on 2M 32-char pairs (docs/BENCH_NOTES.md).
  *
  * Distance is measured in UNICODE CODE POINTS, matching Spark's
  * builtin `levenshtein` (which decodes UTF8String per code point): a
  * supplementary-plane character (emoji, rare CJK) is ONE edit, not
  * the two UTF-16 units it occupies in a java String. The spec pins
  * builtin parity on astral-plane samples. Two decode paths: pure
  * ASCII (byte count == char count) runs the band directly over the
  * UTF8String bytes — no String, no array copy, the only per-row
  * allocations are the two (2k+1)-int band rows; otherwise the code
  * points are decoded once into int arrays. The length-gap bail reads
  * `numChars()` only — no materialization at all on that exit.
  *
  * Codegen emits a static call into [[BoundedLevenshtein.banded]] —
  * the expression stays inside whole-stage codegen (no interpreted
  * fallback, no row boxing); the band loop itself is branch-light
  * JVM code either way.
  */
case class BoundedLevenshtein(left: Expression, right: Expression, bound: Expression)
    extends TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = bound

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bounded_levenshtein"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType &&
      bound.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string, int), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString}, " +
          s"${bound.dataType.catalogString})")

  override def nullSafeEval(a: Any, b: Any, k: Any): Any =
    BoundedLevenshtein.banded(
      a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String],
      k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b, c) =>
        s"${ev.value} = graft.expr.BoundedLevenshtein$$.MODULE$$.banded($a, $b, $c);")

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression): Expression =
    copy(left = newFirst, right = newSecond, bound = newThird)
}

object BoundedLevenshtein {

  /** min(levenshtein(a, b), k+1) over code points via a (2k+1)-wide
    * banded DP. State (i, j) lives at band index d = j − i + k; cells
    * outside the band are ≥ k+1 by construction and never materialize.
    */
  def banded(a: UTF8String, b: UTF8String, k: Int): Int = {
    if (k < 0) return 0
    val inf = k + 1
    val n = a.numChars()
    val m = b.numChars()
    if (math.abs(n - m) > k) return inf // gap bail: nothing materialized
    if (n == a.numBytes() && m == b.numBytes()) bandedAscii(a, b, n, m, k)
    else bandedCp(codePoints(a.toString, n), codePoints(b.toString, m), k)
  }

  /** Pure-ASCII band: every byte IS a code point — compare the
    * UTF8String bytes in place (getByte), zero decode allocation. */
  private def bandedAscii(a: UTF8String, b: UTF8String, n: Int, m: Int, k: Int): Int = {
    val inf = k + 1
    val w = 2 * k + 1
    var prev = new Array[Int](w)
    var curr = new Array[Int](w)
    var d = 0
    while (d < w) {
      val j = d - k
      prev(d) = if (j < 0 || j > m) inf else math.min(j, inf)
      d += 1
    }
    var i = 1
    while (i <= n) {
      d = 0
      while (d < w) {
        val j = i + d - k
        if (j < 0 || j > m) curr(d) = inf
        else if (j == 0) curr(d) = math.min(i, inf)
        else {
          val sub = prev(d) + (if (a.getByte(i - 1) == b.getByte(j - 1)) 0 else 1)
          val del = if (d + 1 < w) prev(d + 1) + 1 else inf
          val ins = if (d - 1 >= 0) curr(d - 1) + 1 else inf
          var best = if (sub < del) sub else del
          if (ins < best) best = ins
          curr(d) = if (best > inf) inf else best
        }
        d += 1
      }
      val tmp = prev; prev = curr; curr = tmp
      i += 1
    }
    math.min(prev(m - n + k), inf)
  }

  /** General band over pre-decoded code-point arrays. */
  private def bandedCp(s: Array[Int], t: Array[Int], k: Int): Int = {
    val inf = k + 1
    val n = s.length
    val m = t.length
    val w = 2 * k + 1
    var prev = new Array[Int](w)
    var curr = new Array[Int](w)
    var d = 0
    while (d < w) {
      val j = d - k
      prev(d) = if (j < 0 || j > m) inf else math.min(j, inf)
      d += 1
    }
    var i = 1
    while (i <= n) {
      d = 0
      while (d < w) {
        val j = i + d - k
        if (j < 0 || j > m) curr(d) = inf
        else if (j == 0) curr(d) = math.min(i, inf)
        else {
          val sub = prev(d) + (if (s(i - 1) == t(j - 1)) 0 else 1)
          val del = if (d + 1 < w) prev(d + 1) + 1 else inf
          val ins = if (d - 1 >= 0) curr(d - 1) + 1 else inf
          var best = if (sub < del) sub else del
          if (ins < best) best = ins
          curr(d) = if (best > inf) inf else best
        }
        d += 1
      }
      val tmp = prev; prev = curr; curr = tmp
      i += 1
    }
    math.min(prev(m - n + k), inf)
  }

  /** Decode a String's `n` code points into an int array (surrogate
    * pairs collapse to one entry — the builtin's unit of edit). */
  private def codePoints(s: String, n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var ci = 0
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(ci)
      out(i) = cp
      ci += Character.charCount(cp)
      i += 1
    }
    out
  }
}
