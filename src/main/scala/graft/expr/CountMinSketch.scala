package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch state (Cormode–Muthukrishnan 2005): a depth×width
  * matrix of counters. Update adds 1 to one cell per row; point
  * estimate is the MIN over rows of the item's cell — never an
  * underestimate, over by at most the colliding mass in the item's
  * luckiest row.
  *
  * Two properties drive the design here:
  *  - merge is ELEMENTWISE SUM — exactly mergeable, fully
  *    order/partitioning-independent (unlike Misra–Gries, whose
  *    retained-set content can vary with merge order). The final
  *    matrix is a pure function of the multiset of items.
  *  - the row hash is md5-derived (`first 15 hex of md5("i:item")`,
  *    the [[graft.ops.TextStats.contentDigest60]] parse trick), so an
  *    ANSI-SQL engine can REPLAY the entire counter matrix with one
  *    GROUP BY and verify every estimate exactly — the sketch law is
  *    oracle-checkable with zero literals.
  */
final class CMBuffer(val depth: Int, val width: Int) extends Serializable {
  val cells = new Array[Long](depth * width)

  def add(item: String): Unit = {
    var i = 0
    while (i < depth) {
      cells(i * width + CMBuffer.bucket(i, item, width)) += 1L
      i += 1
    }
  }

  def absorb(other: CMBuffer): Unit = {
    var i = 0
    while (i < cells.length) { cells(i) += other.cells(i); i += 1 }
  }

  def serialized: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(depth)
    out.writeInt(width)
    var i = 0
    while (i < cells.length) { out.writeLong(cells(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }
}

object CMBuffer {

  /** Row-i bucket of `item`: first 15 hex chars of md5("i:item") parsed
    * base-16 (< 2^60, nonnegative), mod width. Engine mirror:
    * `('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || item), 1, 15))
    * ::BIGINT % width` (DuckDB), `conv(substring(md5(concat('i:', x)),
    * 1, 15), 16, 10) % width` (Spark SQL).
    */
  def bucket(i: Int, item: String, width: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest((i.toString + ":" + item).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex chars = 60 bits: 7 full bytes + the high nibble of the 8th
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    v = (v << 4) | ((d(7) >> 4) & 0xfL)
    (v % width).toInt
  }

  def deserialize(bytes: Array[Byte]): CMBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new CMBuffer(in.readInt(), in.readInt())
    var i = 0
    while (i < buf.cells.length) { buf.cells(i) = in.readLong(); i += 1 }
    buf
  }
}

/** `count_min(item, depth, width)` — Count-Min sketch aggregate over a
  * string column; returns array<array<bigint>> of depth rows × width
  * counters. State is depth·width longs per group no matter how many
  * rows stream through — constant shuffle bytes per group (the
  * mergeable-summary property that makes corpus-wide frequency
  * tracking affordable at 100 TB), and, being a sum, reproducible to
  * the bit under any partitioning. depth/width must be foldable
  * positive ints (analysis-time check, the [[MisraGries]] pattern).
  * Registered for SQL by [[GraftExtensions]].
  */
case class CountMinSketch(
    child: Expression,
    depthExpr: Expression,
    widthExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[CMBuffer] {

  private def foldableInt(e: Expression): Boolean =
    e.foldable && Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(e.dataType)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != StringType) {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string item column, got ${child.dataType.catalogString}")
    } else if (!foldableInt(depthExpr) || !foldableInt(widthExpr)) {
      TypeCheckResult.TypeCheckFailure(s"$prettyName depth and width must be constant integers")
    } else {
      (depthExpr.eval(InternalRow.empty), widthExpr.eval(InternalRow.empty)) match {
        case (d: Number, w: Number)
            if d.longValue() >= 1 && d.longValue() <= 16 &&
              w.longValue() >= 1 && w.longValue() <= (1 << 20) =>
          TypeCheckResult.TypeCheckSuccess
        case (d, w) =>
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName depth must be in [1,16] and width in [1,2^20], got ($d, $w)")
      }
    }
  }

  private lazy val depth: Int = depthExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()
  private lazy val width: Int = widthExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  override def createAggregationBuffer(): CMBuffer = new CMBuffer(depth, width)

  override def update(buffer: CMBuffer, input: InternalRow): CMBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[UTF8String].toString)
    buffer
  }

  override def merge(a: CMBuffer, b: CMBuffer): CMBuffer = {
    a.absorb(b)
    a
  }

  override def eval(buffer: CMBuffer): Any = {
    val rows = new Array[Any](depth)
    var i = 0
    while (i < depth) {
      val row = new Array[Any](width)
      var j = 0
      while (j < width) { row(j) = buffer.cells(i * width + j); j += 1 }
      rows(i) = new GenericArrayData(row)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: CMBuffer): Array[Byte] = buffer.serialized
  override def deserialize(bytes: Array[Byte]): CMBuffer = CMBuffer.deserialize(bytes)

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, depthExpr, widthExpr)
  override def prettyName: String = "count_min"

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), depthExpr = newChildren(1), widthExpr = newChildren(2))
}
