package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: ALL LSH tables' sign-sketch buckets of a
  * float vector in one pass — buckets(t) = Σ_j (1<<j iff
  * dot(plane_tj, v) > 0).
  *
  * The composed form (graft.ops.Similarity.lshBucket: a fold of
  * `when(dot > 0, …)` over per-plane HOF dots) runs INTERPRETED and
  * re-evaluates a lambda chain per (row, table, bit) — tables×nbits×dim
  * boxed multiplies per vector, the dominant map-side cost of every
  * LSH query (q30/q31/q103/q107). This is the tight-loop
  * `doGenCode` form; the plane tensor travels as ONE reference object
  * instead of tables×nbits literal arrays.
  *
  * Bit-exactness contract (the LshSql oracles replay the dot as a
  * left-associated chain and compare SIGNS): the inner loop accumulates
  * v[d]·w[d] left-to-right from 0.0 — exactly the composed
  * zip_with+aggregate fold — and the sign test is `d > 0` with NaN
  * falling to the unset branch, exactly the `when` semantics.
  */
case class LshBuckets(child: Expression, planes: Array[Array[Array[Double]]])
    extends UnaryExpression {

  private val tables = planes.length
  private val nbits = planes.head.length
  private val dim = planes.head.head.length
  require(
    planes.forall(t => t.length == nbits && t.forall(_.length == dim)),
    "ragged plane tensor")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "lsh_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) return null
    val buckets = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < nbits) {
        val w = planes(t)(j)
        var d = 0.0
        var i = 0
        while (i < dim) {
          d += v.getFloat(i).toDouble * w(i)
          i += 1
        }
        if (d > 0.0) bucket |= (1L << j)
        j += 1
      }
      buckets(t) = bucket
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(buckets)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("lshPlanes", planes, "double[][][]")
    nullSafeCodeGen(
      ctx,
      ev,
      v => {
        val buckets = ctx.freshName("buckets")
        val t = ctx.freshName("t")
        val j = ctx.freshName("j")
        val i = ctx.freshName("i")
        val w = ctx.freshName("w")
        val d = ctx.freshName("d")
        val bucket = ctx.freshName("bucket")
        s"""
        |if ($v.numElements() != $dim) {
        |  ${ev.isNull} = true;
        |} else {
        |  long[] $buckets = new long[$tables];
        |  for (int $t = 0; $t < $tables; $t++) {
        |    long $bucket = 0L;
        |    for (int $j = 0; $j < $nbits; $j++) {
        |      double[] $w = $pRef[$t][$j];
        |      double $d = 0.0;
        |      for (int $i = 0; $i < $dim; $i++) {
        |        $d += ((double) $v.getFloat($i)) * $w[$i];
        |      }
        |      if ($d > 0.0) $bucket |= (1L << $j);
        |    }
        |    $buckets[$t] = $bucket;
        |  }
        |  ${ev.value} =
        |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($buckets);
        |}
        |""".stripMargin
      }
    )
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
