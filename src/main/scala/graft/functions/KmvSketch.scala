package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Bottom-k ("K Minimum Values" / KMV) distinct-count sketch
  * (Bar-Yossef et al., RANDOM 2002 — the estimator at the core of the
  * Theta sketch): keep the k smallest DISTINCT hash values seen; with
  * fewer than k distinct hashes the count is exact, otherwise estimate
  * `(k−1)·2^60 / h_(k)` where `h_(k)` is the k-th smallest hash over
  * the [0, 2^60) hash domain — computed in exact integer arithmetic
  * (BigInt division), so the estimate is DETERMINISTIC and
  * cross-engine reproducible: a SQL engine reproduces it verbatim as
  * `ORDER BY h LIMIT k` + one integer division, which is what flips
  * the q17b/q73b approximate-distinct queries from tolerance specs to
  * hash-matched DuckDB oracle rows (unlike HLL++, whose register
  * layout no two engines share).
  *
  * Input contract: a LONG hash in [0, 2^60) — use [[HashFunctions
  * .md5Hash60]] for the portable md5-derived hash both engines can
  * compute; NULL inputs are skipped (distinct-of-non-null semantics,
  * like COUNT(DISTINCT)). Collisions under 60 bits are ~n²/2^61 —
  * immaterial against the ~1/√(k−2) sketch error, and in any case
  * identical on both engines.
  *
  * Scale shape: `TypedImperativeAggregate` like Spark's builtin
  * KLL/Theta aggregates — the live TreeSet is the buffer (≤ k longs,
  * ~8 KiB at k = 1024), serialized only at shuffle boundaries, map-side
  * combinable; history is never rescanned. Reference evidence:
  * exasol/etl-utils forwards all SQL to the host engine
  * (query_wrapper.sql:40); this is the 100 TB scale path for its
  * COUNT(DISTINCT) surface. */
final case class KmvDistinctAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 16 && k <= (1 << 20), s"kmv_distinct k out of range: $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_distinct requires a bigint hash column, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_distinct"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def insert(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last) {
      // add() returning false = v already present: the set is unchanged,
      // so nothing may be evicted.
      if (buf.add(v)) { buf.pollLast(); () }
    }
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      row: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(row)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) insert(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    KmvDistinctAgg.estimate(buf, k)

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong); i += 1 }
    set
  }

  override def withNewMutableAggBufferOffset(o: Int): KmvDistinctAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvDistinctAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): KmvDistinctAgg =
    copy(child = newChild)
}

/** [[KmvDistinctAgg]]'s buffer evaluated as the SAMPLE instead of the
  * estimate: the k smallest distinct hashes, ascending — the "theta
  * sketch sample" a downstream set operation consumes (q162's pairwise
  * corpus overlap: intersection/union counts below the common θ cutoff,
  * then the exact-integer `n·2^60 div θ` estimate as plain column
  * arithmetic). Evaluating to the sample keeps every SET OPERATION
  * SQL-expressible — the aggregate only maintains bottom-k state, so a
  * DuckDB oracle rebuilds the whole pipeline verbatim (`ORDER BY h
  * LIMIT k` lists + LIST_INTERSECT/LIST_FILTER), unlike Spark's
  * builtin DataSketches theta lane (`theta_sketch_agg` /
  * `theta_union_agg` / `theta_intersection` / `theta_sketch_estimate`
  * — engine-private murmur re-hash + randomized resize), the engine for
  * pre-serialized sketch stores. Same ≤k-long TreeSet buffer, same
  * map-side-combinable merge, same NULL-skipping input contract. */
final case class KmvSampleAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 16 && k <= (1 << 20), s"kmv_sample k out of range: $k")

  private val inner = KmvDistinctAgg(child, k)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_sample requires a bigint hash column, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sample"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    inner.createAggregationBuffer()
  override def update(buf: java.util.TreeSet[java.lang.Long],
      row: InternalRow): java.util.TreeSet[java.lang.Long] =
    inner.update(buf, row)
  override def merge(buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] =
    inner.merge(buf, other)

  /** Ascending sorted sample (TreeSet iteration order). */
  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] =
    inner.serialize(buf)
  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] =
    inner.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KmvSampleAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSampleAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): KmvSampleAgg =
    copy(child = newChild)
}

object KmvDistinctAgg {
  private val Domain = BigInt(HashFunctions.KmvDomain) // 2^60, one definition

  /** Exact-integer KMV estimate — the contract a SQL oracle reproduces:
    * fewer than k distinct hashes → their exact count; otherwise
    * `(k−1)·2^60 div h_(k)` (floor division over BigInt, no floating
    * point anywhere). */
  def estimate(buf: java.util.TreeSet[java.lang.Long], k: Int): Long =
    if (buf.size < k) buf.size.toLong
    else ((BigInt(k - 1) * Domain) / BigInt(buf.last.longValue max 1L)).toLong
}
