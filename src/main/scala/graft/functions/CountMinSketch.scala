package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min frequency sketch (Cormode & Muthukrishnan, J. Algorithms
  * 2005): `depth` hash rows × `width` counters; an item increments one
  * counter per row, its frequency estimate is the MIN of its counters —
  * always ≥ the true count, within εN (ε ≈ e/width) with probability
  * 1 − e^(−depth). The point-frequency sibling of the KMV/HLL distinct
  * lane and the Misra–Gries heavy-hitter pass: unlike MG it answers
  * arbitrary point queries after one pass, and its counter arrays merge
  * by element-wise ADDITION — the mergeable-partial shape that rolls up
  * per-day partials without rescanning history.
  *
  * Hash contract: row r's bucket is the [[HashFunctions.md5Hash60]]-style
  * portable hash of `"cms_<r>_<item>"` mod width, so the whole counter
  * matrix — and therefore every estimate — is reproducible verbatim by a
  * SQL engine (`CAST('0x' || SUBSTR(MD5('cms_' || r || '_' || item), 1,
  * 15) AS BIGINT) % width`), which is what lets the declared q182 row
  * hash-match its DuckDB oracle where classic CMS implementations (seeded
  * murmur) cannot. A deployment free of the cross-engine constraint can
  * swap in xxhash64 rows for cheaper updates; the structure is unchanged.
  *
  * Scale shape: `TypedImperativeAggregate` like the KMV lane and
  * Spark's builtin KLL/Theta aggregates — the live `long[depth × width]`
  * array is the buffer (16 KiB at 4×512), serialized only at shuffle
  * boundaries, map-side combinable. */
object CmsAlgo {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5("cms_<r>_<item>") as an unsigned 60-bit
    * value (= the big-endian first 8 digest bytes >>> 4), mod width. */
  def bucket(r: Int, item: String, width: Int): Int = {
    val d = md5.get()
    d.reset()
    val bytes = d.digest(s"cms_${r}_$item".getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (bytes(i) & 0xffL); i += 1 }
    ((h >>> 4) % width).toInt
  }

  def estimate(sketch: Array[Byte], item: UTF8String): Long = {
    val bb = ByteBuffer.wrap(sketch)
    val depth = bb.getInt
    val width = bb.getInt
    val s = item.toString
    var min = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = bb.getLong(8 + 8 * (r * width + bucket(r, s, width)))
      if (c < min) min = c
      r += 1
    }
    min
  }
}

/** `cms_sketch(item, depth, width)` → binary: one serialized Count-Min
  * counter matrix over the group's items (NULLs skipped). */
final case class CmsSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(depth >= 1 && depth <= 16 && width >= 16 && width <= (1 << 20),
    s"cms_sketch dimensions out of range: $depth x $width")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch requires a string item column, got ${other.sql}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      var r = 0
      while (r < depth) {
        buf(r * width + CmsAlgo.bucket(r, s, width)) += 1
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * buf.length)
    bb.putInt(depth); bb.putInt(width)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val d = bb.getInt; val w = bb.getInt
    require(d == depth && w == width,
      s"cms_sketch: buffer is ${d}x$w, aggregate is ${depth}x$width")
    val buf = new Array[Long](d * w)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CmsSketchAgg =
    copy(child = newChild)
}

/** `cms_estimate(sketch, item)` → bigint: the min-of-counters point
  * frequency estimate (≥ the true count, never under). Runs on
  * post-aggregate rows (a broadcast 1-row sketch × probe items). */
final case class CmsEstimate(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_estimate requires (binary, string), got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override def nullSafeEval(sk: Any, item: Any): Any =
    CmsAlgo.estimate(sk.asInstanceOf[Array[Byte]],
      item.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.CmsAlgo.estimate($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

/** Column-API entry points. */
object CountMin {
  def cmsSketch(item: Column, depth: Int = 4, width: Int = 512): Column =
    Bridge.column(
      CmsSketchAgg(Bridge.expression(item), depth, width)
        .toAggregateExpression())

  def cmsEstimate(sketch: Column, item: Column): Column =
    Bridge.column(
      CmsEstimate(Bridge.expression(sketch), Bridge.expression(item)))
}
