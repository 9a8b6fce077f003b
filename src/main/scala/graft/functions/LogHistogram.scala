package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Deterministic mergeable quantile sketch: a log-bucketed counting
  * histogram in the DDSketch family (Masson, Rim & Lee, VLDB 2019 —
  * "DDSketch: a fast and fully-mergeable quantile sketch with
  * relative-error guarantees"). Bucket `i = ⌈log_γ(v)⌉` with
  * `γ = (1+α)/(1−α)` covers `(γ^(i−1), γ^i]`; reporting the bucket
  * midpoint `2γ^i/(γ+1)` bounds RELATIVE error by α for every
  * quantile. Negative values mirror into odd-encoded buckets, zero has
  * a dedicated bucket, non-finite inputs are ignored like NULLs.
  *
  * Why this exists next to Spark's builtin KLL lane
  * (`kll_sketch_agg_double` / `kll_merge_agg_double` /
  * `kll_sketch_get_quantile_double`): the KLL sketch's compaction is
  * RANDOMIZED (and DataSketches draws from a thread-shared Random), so
  * two runs produce different — though both rank-correct — estimates,
  * which the repo's bit-identity contract (BASELINE.md) cannot accept
  * for a declared query. This histogram's merge is pure bucket-count
  * ADDITION: a commutative monoid, so the result is independent of
  * partitioning, merge order, and thread interleaving —
  * bit-deterministic by construction, not by test. The trade is bucket
  * count growing with the value-domain's log-width
  * (≈461·decades at α = 0.5%; ~2.8 KB per 50-decade sketch) instead of
  * KLL's fixed k — the right trade for ETL metric columns, which span
  * few decades. Serialization is canonical (buckets sorted by id), so
  * equal states are equal bytes.
  *
  * Reference evidence: exasol/etl-utils `query_wrapper.sql:40` forwards
  * percentile SQL to the host engine; this is the deterministic
  * scale-path analog for incremental percentile maintenance. */
final class LogHist(val alpha: Double) {
  require(alpha >= 1e-4 && alpha < 1.0,
    s"alpha must be in [1e-4, 1), got $alpha") // keeps bucket ids in Int
  val counts = new java.util.HashMap[Integer, java.lang.Long]()

  private val plus: java.util.function.BiFunction[
    java.lang.Long, java.lang.Long, java.lang.Long] =
    (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue())

  def add(v: Double, n: Long): Unit =
    if (!v.isNaN && !v.isInfinite)
      counts.merge(Integer.valueOf(LogHistAlgo.bucket(v, alpha)),
        java.lang.Long.valueOf(n), plus)

  def mergeIn(other: LogHist): Unit = {
    require(other.alpha == alpha,
      s"cannot merge log-hist sketches with alpha $alpha vs ${other.alpha}")
    other.counts.forEach((k, v) => counts.merge(k, v, plus))
  }

  /** Canonical bytes: alpha, entry count, then (id, count) pairs in
    * ascending id order — equal states serialize to equal bytes. */
  def toBytes: Array[Byte] = {
    val ids = new Array[Int](counts.size)
    var i = 0
    val it = counts.keySet().iterator()
    while (it.hasNext) { ids(i) = it.next(); i += 1 }
    java.util.Arrays.sort(ids)
    val bb = ByteBuffer.allocate(8 + 4 + 12 * ids.length)
    bb.putDouble(alpha).putInt(ids.length)
    ids.foreach(id => bb.putInt(id).putLong(counts.get(id)))
    bb.array()
  }
}

/** Static eval targets (bucket math + codegen entry points). */
object LogHistAlgo {
  /** Sentinel bucket for exact zero; even ids = positive buckets
    * (id = 2·⌈log_γ v⌉), odd ids = negative buckets. |⌈log_γ|v|⌉| ≤
    * ~7.5e6 for any finite double at α ≥ 1e-4, so the ×2 encoding
    * never reaches the sentinel. */
  val ZeroId: Int = Int.MinValue

  def gamma(alpha: Double): Double = (1.0 + alpha) / (1.0 - alpha)

  def bucket(v: Double, alpha: Double): Int =
    if (v == 0.0) ZeroId
    else if (v > 0) math.ceil(math.log(v) / math.log(gamma(alpha))).toInt << 1
    else (math.ceil(math.log(-v) / math.log(gamma(alpha))).toInt << 1) | 1

  /** Midpoint of the bucket's value interval — relative error ≤ α. */
  def estimate(id: Int, alpha: Double): Double =
    if (id == ZeroId) 0.0
    else {
      val g = gamma(alpha)
      val mid = 2.0 * math.pow(g, id >> 1) / (g + 1.0)
      if ((id & 1) == 0) mid else -mid
    }

  def fromBytes(bytes: Array[Byte]): LogHist = {
    val bb = ByteBuffer.wrap(bytes)
    val h = new LogHist(bb.getDouble)
    var n = bb.getInt
    while (n > 0) { h.counts.put(bb.getInt, bb.getLong); n -= 1 }
    h
  }

  /** Rank-`rank` quantile of a serialized sketch: walk buckets in
    * VALUE order to cumulative count ⌈rank·total⌉ (clamped to ≥1).
    * Empty sketch → NaN (the house empty-aggregate rule, r9 ADVICE). */
  def quantile(bytes: Array[Byte], rank: Double): Double = {
    val h = fromBytes(bytes)
    if (h.counts.isEmpty) return Double.NaN
    val entries = new Array[(Double, Long)](h.counts.size)
    var i = 0
    val it = h.counts.entrySet().iterator()
    var total = 0L
    while (it.hasNext) {
      val e = it.next()
      entries(i) = (estimate(e.getKey, h.alpha), e.getValue.longValue())
      total += e.getValue
      i += 1
    }
    java.util.Arrays.sort(entries, Ordering.by((t: (Double, Long)) => t._1))
    val target = math.max(1L, math.ceil(rank * total).toLong)
    var cum = 0L
    var j = 0
    while (j < entries.length) {
      cum += entries(j)._2
      if (cum >= target) return entries(j)._1
      j += 1
    }
    entries.last._1
  }
}

/** `log_hist_agg(double)` → binary: build one deterministic log-bucket
  * histogram per group (TypedImperativeAggregate — live map buffer,
  * serialized only at shuffle boundaries, map-side combinable). */
final case class LogHistAgg(
    child: Expression,
    alpha: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LogHist]
  with UnaryLike[Expression] {

  // Same domain check as the LogHist constructor, but at PLAN
  // construction: a bad alpha through the Column API must fail on the
  // driver with a clear message, not inside (cluster-retried) executor
  // tasks at buffer creation (ADVICE r10). The SQL spelling already
  // validates at analysis via litDouble.
  require(alpha >= 1e-4 && alpha < 1.0,
    s"log_hist_agg: alpha must be in [1e-4, 1), got $alpha")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"log_hist_agg requires double, got ${other.sql}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "log_hist_agg"

  override def createAggregationBuffer(): LogHist = new LogHist(alpha)

  override def update(buf: LogHist, row: InternalRow): LogHist = {
    val v = child.eval(row)
    if (v != null) buf.add(v.asInstanceOf[Double], 1L)
    buf
  }

  override def merge(buf: LogHist, other: LogHist): LogHist = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: LogHist): Any = buf.toBytes

  override def serialize(buf: LogHist): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): LogHist =
    LogHistAlgo.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): LogHistAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): LogHistAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): LogHistAgg =
    copy(child = newChild)
}

/** Union-aggregate over ALREADY-SERIALIZED log-hist sketches (binary
  * column) — the rollup step over persisted partials. Bucket-count
  * addition, so any merge tree yields identical bytes. The buffer
  * ADOPTS the first non-empty input's alpha (every serialized sketch
  * carries it), so rolling up sketches built with a non-default alpha
  * needs no repeated parameter; genuinely mixed-alpha inputs still
  * fail [[LogHist.mergeIn]]'s check. */
final case class LogHistMergeAgg(
    child: Expression,
    alpha: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LogHist]
  with UnaryLike[Expression] {

  // Driver-side domain check, mirroring LogHistAgg (ADVICE r10).
  require(alpha >= 1e-4 && alpha < 1.0,
    s"log_hist_merge_agg: alpha must be in [1e-4, 1), got $alpha")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"log_hist_merge_agg requires binary, got ${other.sql}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "log_hist_merge_agg"

  override def createAggregationBuffer(): LogHist = new LogHist(alpha)

  /** An empty side carries no data — adopt the other wholesale (and
    * with it, its alpha) instead of requiring parameter agreement. */
  private def unite(buf: LogHist, other: LogHist): LogHist =
    if (other.counts.isEmpty) buf
    else if (buf.counts.isEmpty) other
    else { buf.mergeIn(other); buf }

  override def update(buf: LogHist, row: InternalRow): LogHist = {
    val v = child.eval(row)
    if (v == null) buf
    else unite(buf, LogHistAlgo.fromBytes(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(buf: LogHist, other: LogHist): LogHist =
    unite(buf, other)

  override def eval(buf: LogHist): Any = buf.toBytes

  override def serialize(buf: LogHist): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): LogHist =
    LogHistAlgo.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): LogHistMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): LogHistMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): LogHistMergeAgg =
    copy(child = newChild)
}

/** `log_hist_quantile(sketch, rank)` → double: the rank-`rank`
  * quantile estimate of a serialized log-hist sketch. Runs on
  * post-aggregate rows (one per segment), never the fact table. */
final case class LogHistQuantile(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"log_hist_quantile requires (binary, double), got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "log_hist_quantile"

  override def nullSafeEval(sk: Any, p: Any): Any =
    LogHistAlgo.quantile(
      sk.asInstanceOf[Array[Byte]], p.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.LogHistAlgo.quantile($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LogHistQuantile =
    copy(left = newLeft, right = newRight)
}

/** Column-API entry points for the log-hist sketch lane. */
object SketchFunctions {
  /** Default α=0.005: ≤0.5% relative error per quantile, deterministic
    * (merge = bucket addition — see [[graft.functions.LogHist]]). */
  def logHistAgg(c: Column, alpha: Double = 0.005): Column =
    Bridge.column(
      LogHistAgg(Bridge.expression(c), alpha).toAggregateExpression())

  def logHistMerge(c: Column, alpha: Double = 0.005): Column =
    Bridge.column(
      LogHistMergeAgg(Bridge.expression(c), alpha).toAggregateExpression())

  def logHistQuantile(sketch: Column, rank: Column): Column =
    Bridge.column(
      LogHistQuantile(Bridge.expression(sketch), Bridge.expression(rank)))
}
