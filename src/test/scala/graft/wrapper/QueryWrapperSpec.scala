package graft.wrapper

import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Core wrapper semantics: rowcount normalization (QW:51–59), the on_error
  * three-mode matrix (QW:44–49), log truncation constants (QW:73–79),
  * verbosity auto-logging (QW:61–65), params (QW:195–224). */
class QueryWrapperSpec extends AnyFunSuite with SparkTestBase {

  private val fixedClock: () => Instant =
    () => Instant.parse("2026-01-02T03:04:05Z")

  private def mem(): QueryWrapper =
    QueryWrapper(spark, None, "spec", fixedClock)

  private def withView[A](f: => A): A = {
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .createOrReplaceTempView("li")
    f
  }

  // ----------------------------------------------------------- rowcount (A4)

  test("SELECT rowcount = result row count") {
    withView {
      val w = mem()
      val (ok, res) = w.query("SELECT l_orderkey FROM li WHERE l_orderkey <= 2")
      assert(ok)
      assert(res.normalizedRowCount == res.resultCount)
      assert(res.rowsAffected.isEmpty)
    }
  }

  test("1x1 'count' sniff uses the cell value (case-sensitive, QW:55)") {
    withView {
      val w = mem()
      val (_, res) = w.query("SELECT count(*) FROM li")
      assert(res.resultCount == 1)
      assert(res.normalizedRowCount == 6000)
      // The sniff is a case-sensitive substring find, like Lua string.find:
      val (_, res2) = w.query("SELECT COUNT(*) FROM li")
      assert(res2.normalizedRowCount == 1)
    }
  }

  test("1x1 without 'count' in text stays 1") {
    withView {
      val w = mem()
      val (_, res) = w.query("SELECT max(l_orderkey) FROM li")
      assert(res.normalizedRowCount == 1)
    }
  }

  test("DML rows_affected from the write command metric") {
    val loc = Files.createTempDirectory("qw_dml").toString
    spark.sql(s"CREATE TABLE qw_dml_t (a BIGINT, b STRING) USING parquet LOCATION '$loc/t'")
    try {
      val w = mem()
      val (ok, res) = w.query("INSERT INTO qw_dml_t VALUES (1, 'x'), (2, 'y'), (3, 'z')")
      assert(ok)
      assert(res.rowsAffected.contains(3L))
      assert(res.normalizedRowCount == 3)
    } finally spark.sql("DROP TABLE IF EXISTS qw_dml_t")
  }

  // ----------------------------------------------------------- on_error (A3)

  test("on_error=continue returns (false, info) with INFO+ERROR logged") {
    val w = mem()
    w.onError = "continue"
    val before = w.messages.length
    val (ok, res) = w.query("SELECT * FROM table_that_does_not_exist_xyz")
    assert(!ok)
    assert(res.error.isDefined)
    assert(w.errors == 1)
    val logged = w.messages.drop(before)
    assert(logged.map(_.msgType) == Seq("INFO", "ERROR"))
    assert(logged.head.message.contains("table_that_does_not_exist_xyz"))
  }

  test("on_error=abort raises after finish, message carries statement text") {
    val w = mem()
    val e = intercept[QueryWrapperException] {
      w.query("SELECT * FROM nope_nope_nope")
    }
    assert(e.getMessage.contains("Statement was:"))
    assert(e.getMessage.contains("nope_nope_nope"))
    assert(w.errors == 1)
  }

  test("on_error=abort/rollback finishes (status rollup) before raising") {
    val dir = Files.createTempDirectory("qw_abort").toString
    val store = new LogStore(spark, dir, fixedClock)
    val w = QueryWrapper(spark, Some(store), "abort_job", fixedClock)
    intercept[QueryWrapperException] { w.query("SELECT * FROM missing_t") }
    val jl = store.jobLog.collect()
    assert(jl.length == 1)
    assert(jl(0).getString(2) == "FINISHED WITH ERROR")
    assert(jl(0).getTimestamp(4) != null) // end_time set
    val levels = store.jobDetails.orderBy("detail_id").collect().map(_.getString(3))
    assert(levels.contains("ERROR"))
  }

  test("a statement that parses but cannot be emulated reaches spark.sql") {
    val w = mem()
    w.onError = "continue"
    val update = "UPDATE no_such_table SET a = 1"
    val imprt = "IMPORT INTO no_such_table FROM LOCAL CSV FILE '/no/such/file.csv'"
    assert(SqlCompat.parseUpdate(update).isDefined)
    assert(SqlCompat.parseImport(imprt).isDefined)
    assert(SqlCompat.classify(spark, update).isEmpty)
    assert(SqlCompat.classify(spark, imprt).isEmpty)
    // Spark's own errors, not an emulation's
    val (ok1, res1) = w.query(update)
    assert(!ok1)
    assert(res1.errorCode == "42P01", res1.errorMessage)
    assert(res1.errorMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
    val (ok2, res2) = w.query(imprt)
    assert(!ok2)
    assert(res2.errorCode == "42601", res2.errorMessage)
    assert(res2.errorMessage.contains("PARSE_SYNTAX_ERROR"))
  }

  // ----------------------------------------------------------- logging (A5)

  test("log level >10 chars truncates to first 7 + '...'") {
    val w = mem()
    w.log("VERY_LONG_LEVEL", "m")
    assert(w.messages.last.msgType == "VERY_LO...")
  }

  test("message >20000 chars truncates to first 19995 + '...'") {
    val w = mem()
    w.log("INFO", "x" * 20001)
    assert(w.messages.last.message.length == 19998)
    assert(w.messages.last.message.endsWith("..."))
    // At the bound, untouched:
    w.log("INFO", "y" * 20000)
    assert(w.messages.last.message.length == 20000)
  }

  test("messages are trimmed; timestamp uses the injected clock") {
    val w = mem()
    w.log("INFO", "  padded  ")
    assert(w.messages.last.message == "padded")
    assert(w.messages.last.msgTime == "2026-01-02 03:04:05")
  }

  test("verbosity: 2→INFO, >=3→DEBUG, <2→silent; logging=false opts out") {
    withView {
      val w = mem()
      val n0 = w.messages.length
      w.query("SELECT 1 AS one FROM li LIMIT 1")
      assert(w.messages.last.msgType == "INFO")
      assert(w.messages.last.rowcount.contains(1L))
      w.verbosity = 3
      w.query("SELECT 1 AS one FROM li LIMIT 1")
      assert(w.messages.last.msgType == "DEBUG")
      w.verbosity = 1
      val n1 = w.messages.length
      w.query("SELECT 1 AS one FROM li LIMIT 1")
      assert(w.messages.length == n1)
      w.verbosity = 2
      w.query("SELECT 1 AS one FROM li LIMIT 1", QueryOptions(logging = false))
      assert(w.messages.length == n1)
      assert(w.messages.length >= n0)
    }
  }

  // ----------------------------------------------------------- params (A10–A13)

  test("set/get/load params and :name binding") {
    withView {
      val w = mem()
      w.setParam("K", 3L)
      assert(w.getParam("K").contains(3L))
      w.loadParams(Map("K2" -> "ab"))
      val (_, res) = w.query("SELECT count(*) FROM li WHERE l_orderkey <= :K")
      assert(res.resultCount == 1)
      // options.params overrides the shared map entirely (QW:40):
      val (ok2, _) = w.query("SELECT :P AS p", QueryOptions(params = Some(Map("P" -> 7))))
      assert(ok2)
    }
  }

  test("load_params_from_table binds first two columns and logs the set") {
    val w = mem()
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("value", StringType)))
    spark.createDataFrame(Seq(
      org.apache.spark.sql.Row("P1", "v1"),
      org.apache.spark.sql.Row("P2", "v2")).asJava, schema)
      .createOrReplaceTempView("param_tab")
    w.loadParamsFromTable("param_tab")
    assert(w.getParam("P1").contains("v1"))
    assert(w.getParam("P2").contains("v2"))
    val info = w.messages.last
    assert(info.msgType == "INFO")
    assert(info.message.startsWith("Loaded Parameters from Table param_tab: {"))
    assert(info.message.contains("\"P1\" = \"v1\""))
  }

  // ----------------------------------------------------------- run (A14)

  test("run: START/INFO on success, ERROR + raise on abort, undefined raises") {
    val w = mem()
    w.onError = "continue"
    val steps = Map[String, QueryWrapper => Any](
      "good" -> (_ => 42),
      "bad" -> (_ => throw new RuntimeException("boom")))
    val (ok, v) = w.run(steps, "good")
    assert(ok && v == 42)
    assert(w.messages.takeRight(2).map(_.msgType) == Seq("START", "INFO"))
    val (ok2, _) = w.run(steps, "bad")
    assert(!ok2)
    assert(w.messages.last.msgType == "ERROR")
    assert(w.messages.last.message.contains("bad returned with error"))
    w.onError = "abort"
    intercept[RuntimeException] { w.run(steps, "bad") }
    intercept[QueryWrapperException] { w.run(steps, "undefined_fn") }
    assert(w.messages.last.message == "Undefined function undefined_fn")
  }

  // ----------------------------------------------------------- schema (B8)

  test("OPEN SCHEMA switches current database; finish restores it") {
    spark.sql("CREATE DATABASE IF NOT EXISTS qw_sch")
    val w = mem()
    w.query("OPEN SCHEMA qw_sch", QueryOptions(logging = false))
    assert(spark.catalog.currentDatabase == "qw_sch")
    w.finish()
    assert(spark.catalog.currentDatabase == "default")
  }

  test("commit/rollback markers are no-ops logged with rowcount 0") {
    val w = mem()
    val (ok, res) = w.query("commit -- wrapper")
    assert(ok)
    assert(res.normalizedRowCount == 0)
    assert(w.messages.last.message == "commit -- wrapper")
    assert(w.messages.last.rowcount.contains(0L))
  }
}
