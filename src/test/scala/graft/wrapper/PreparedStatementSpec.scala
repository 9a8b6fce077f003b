package graft.wrapper

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Prepared statements (QW:285–335): rewrite wiring, per-row binding, null
  * coalescing, early abort; and the iterators that consume results
  * (QW:337–408). */
class PreparedStatementSpec extends AnyFunSuite with SparkTestBase {

  test("prepare rewrites ? to :PS_VAL_n and executes a batch insert") {
    val loc = Files.createTempDirectory("ps_ins").toString
    spark.sql(s"CREATE TABLE ps_t (a BIGINT, b STRING) USING parquet LOCATION '$loc/t'")
    try {
      val w = QueryWrapper(spark)
      val ps = w.prepare("INSERT INTO ps_t VALUES (?, ?)")
      assert(ps.paramCount == 2)
      assert(ps.sqlText == "INSERT INTO ps_t VALUES (:PS_VAL_1, :PS_VAL_2)")
      val (ok, results) = ps.execute(Seq(
        Seq(1L, "one"), Seq(2L, "two"), Seq(3L, null)))
      assert(ok)
      assert(results.length == 3)
      assert(results.forall(_.rowsAffected.contains(1L)))
      val rows = spark.table("ps_t").orderBy("a").collect()
      assert(rows.length == 3)
      assert(rows(2).isNullAt(1)) // null coalesced through binding (QW:291)
    } finally spark.sql("DROP TABLE IF EXISTS ps_t")
  }

  test("start/end indices are 1-based inclusive (QW:289)") {
    val w = QueryWrapper(spark)
    val ps = w.prepare("SELECT CAST(:PS_VAL_1 AS BIGINT) AS v")
    // no '?' in this text: paramCount 0, but execute still runs per row
    assert(ps.paramCount == 0)
    val ps2 = w.prepare("SELECT CAST(? AS BIGINT) AS v")
    val (ok, results) = ps2.execute(
      Seq(Seq(10L), Seq(20L), Seq(30L), Seq(40L)), startIndex = 2, endIndex = 3)
    assert(ok)
    assert(results.map(_.rows.head.getLong(0)) == Vector(20L, 30L))
  }

  test("early abort on first failure returns partial results (QW:296-298)") {
    val w = QueryWrapper(spark)
    w.onError = "continue"
    // Runtime (action-time) failure, independent of ANSI mode:
    val ps = w.prepare("SELECT IF(CAST(? AS INT) = 0, raise_error('div zero'), 1) AS v")
    val (ok, results) = ps.execute(Seq(Seq(1), Seq(0), Seq(2)))
    assert(!ok)
    assert(results.length == 2) // includes the failed one, not the third
    assert(results.last.error.isDefined)
  }

  test("missing cells bind as NULL") {
    val w = QueryWrapper(spark)
    val ps = w.prepare("SELECT CAST(? AS STRING) AS a, CAST(? AS STRING) AS b")
    val (ok, results) = ps.execute(Seq(Seq("only_a")))
    assert(ok)
    val r = results.head.rows.head
    assert(r.getString(0) == "only_a")
    assert(r.isNullAt(1))
  }

  test("executeBatch: 1000-row INSERT binds into ONE write job") {
    val loc = Files.createTempDirectory("ps_batch").toString
    spark.sql(s"CREATE TABLE psb_t (a BIGINT, b STRING, c DOUBLE) USING parquet LOCATION '$loc/t'")
    try {
      val w = QueryWrapper(spark)
      // Explicit column subset + placeholder reorder: c stays NULL, b binds
      // placeholder 1, a binds placeholder 2.
      val ps = w.prepare("INSERT INTO psb_t (b, a) VALUES (?, ?)")
      val batch = (1 to 1000).map(i => Seq(s"row_$i", i.toLong))

      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      org.apache.spark.sql.graftbridge.Bridge.waitForListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      val (ok, results) = try {
        val r = ps.executeBatch(batch)
        org.apache.spark.sql.graftbridge.Bridge.waitForListenerBus(spark)
        r
      } finally spark.sparkContext.removeSparkListener(listener)

      assert(ok)
      assert(results.length == 1)
      assert(results.head.rowsAffected.contains(1000L))
      assert(jobs.get == 1, s"expected ONE write job, saw ${jobs.get}")
      val rows = spark.table("psb_t").orderBy("a").collect()
      assert(rows.length == 1000)
      assert(rows.head.getLong(0) == 1L && rows.head.getString(1) == "row_1")
      assert(rows.forall(_.isNullAt(2))) // c not in the column list -> NULL
    } finally spark.sql("DROP TABLE IF EXISTS psb_t")
  }

  test("executeBatch falls back to per-row for non-INSERT shapes") {
    val w = QueryWrapper(spark)
    val ps = w.prepare("SELECT CAST(? AS BIGINT) * 2 AS v")
    val (ok, results) = ps.executeBatch(Seq(Seq(1L), Seq(2L)))
    assert(ok)
    assert(results.length == 2) // per-row path: one result per value row
    assert(results.map(_.rows.head.getLong(0)) == Vector(2L, 4L))
  }

  test("executeBatch failure reports the SQLSTATE, like query") {
    val loc = Files.createTempDirectory("ps_err").toString
    spark.sql(s"CREATE TABLE pse_t (a BIGINT, b STRING) USING parquet LOCATION '$loc/t'")
    try {
      val w = QueryWrapper(spark)
      w.onError = "continue"
      val ps = w.prepare("INSERT INTO pse_t VALUES (?, ?)")
      val before = w.messages.length
      // 'abc' cannot cast to BIGINT: CAST_INVALID_INPUT under ANSI mode
      val (ok, results) = ps.executeBatch(Seq(Seq(1L, "x"), Seq("abc", "y")))
      assert(!ok)
      assert(results.length == 1)
      assert(results.head.errorCode == "22018", results.head.errorMessage)
      assert(results.head.errorMessage.contains("CAST_INVALID_INPUT"))
      assert(w.messages.drop(before).map(_.msgType) == Seq("INFO", "ERROR"))
      assert(w.errors == 1)
      assert(spark.table("pse_t").count() == 0L) // the batch fails whole
    } finally spark.sql("DROP TABLE IF EXISTS pse_t")
  }

  test("executeBatch success logging follows verbosity, like query") {
    val loc = Files.createTempDirectory("ps_verb").toString
    spark.sql(s"CREATE TABLE psv_t (a BIGINT) USING parquet LOCATION '$loc/t'")
    try {
      val w = QueryWrapper(spark)
      val ps = w.prepare("INSERT INTO psv_t VALUES (?)")
      w.verbosity = 1
      val n1 = w.messages.length
      assert(ps.executeBatch(Seq(Seq(1L), Seq(2L)))._1)
      assert(w.messages.length == n1) // < 2: silent
      w.verbosity = 3
      assert(ps.executeBatch(Seq(Seq(3L)))._1)
      val last = w.messages.last
      assert(last.msgType == "DEBUG")
      assert(last.message == "batch insert: INSERT INTO psv_t VALUES (:PS_VAL_1)")
      assert(last.rowcount.contains(1L))
      assert(spark.table("psv_t").count() == 3L)
    } finally spark.sql("DROP TABLE IF EXISTS psv_t")
  }

  test("queryRows: field access by name and 1-based index (QW:356-361)") {
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .createOrReplaceTempView("nation_it")
    val w = QueryWrapper(spark)
    val it = w.queryRows("SELECT n_nationkey, n_name FROM nation_it ORDER BY n_nationkey")
    val first = it.next()
    assert(first("n_name") == first(2))
    assert(first(1) == 0L)
    assert(it.size == 24) // remaining rows stream through
  }

  test("queryValues destructures rows in order (QW:375-408, RM:41)") {
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .createOrReplaceTempView("region_it")
    val w = QueryWrapper(spark)
    val names = (for (Seq(k, name) <- w.queryValues(
      "SELECT r_regionkey, r_name FROM region_it ORDER BY r_regionkey"))
      yield s"$k:$name").toList
    assert(names.length == 5)
    assert(names.head == "0:AFRICA")
  }

  test("iterators accept an existing result (query_or_result, QW:341-350)") {
    val w = QueryWrapper(spark)
    val (_, res) = w.query("SELECT 1 AS a UNION ALL SELECT 2 ORDER BY a")
    assert(w.queryRows(res).map(_(1)).toList == List(1, 2))
    assert(w.queryValues(res).map(_.head).toList == List(1, 2))
  }
}
