package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a lane shares with the harness: the session, the tracer, the
  * generated inputs, a scratch root and the seed's random source. Output
  * checks go through [[check]], which keeps them out of the operation's
  * timed region and out of every span. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val dataDir: String, val workDir: String, seed: Long) {
  val rng = new scala.util.Random(seed)
  private var excludedNs = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def check[A](body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.outside(body) finally excludedNs += System.nanoTime() - t0
  }

  def fail(msg: String): Unit = {
    if (failures.size < 50) failures += msg
    opFailed = true
  }

  /** Set by [[fail]]; the harness reads and resets it per operation. */
  var opFailed = false

  def takeExcludedNs(): Long = { val e = excludedNs; excludedNs = 0L; e }

  /** The first row of a query of BIGINT columns. */
  def longs(sql: String): IndexedSeq[Long] = check {
    val r = spark.sql(sql).head()
    (0 until r.length).map(r.getLong)
  }
}

/** One workload. `setUp` builds a fresh warehouse and log store under
  * `tag`; `warmUp` runs untimed operations; `op` runs one of the `ops`
  * timed operations and returns its name. */
trait Lane {
  def setUp(tag: String): Unit
  def warmUp(): Unit
  def ops: Long
  def op(i: Long): String
  /** Statement texts the lane sent, for the dispatch micro-measurement. */
  def texts: Seq[String] = Nil
  /** Lane-specific raw numbers for the per-layer report. */
  def extra: Map[String, Any] = Map.empty
}
