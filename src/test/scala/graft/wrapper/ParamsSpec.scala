package graft.wrapper

import org.scalatest.funsuite.AnyFunSuite

/** Identifier splice semantics (reference README.md:43–57; VERDICT r1 fix:
  * splice must not fire inside string literals or comments). */
class ParamsSpec extends AnyFunSuite {

  test("splices ::NAME in identifier position") {
    assert(Params.spliceIdentifiers("SELECT * FROM ::TAB", Map("TAB" -> "events"))
      == "SELECT * FROM events")
  }

  test("two-part ::SCH.::TAB splice (README.md:46 pattern)") {
    assert(Params.spliceIdentifiers(
      "SELECT COUNT(*) FROM ::SCH.::TAB",
      Map("SCH" -> "etl", "TAB" -> "job_log"))
      == "SELECT COUNT(*) FROM etl.job_log")
  }

  test("lookup is case-insensitive (Exasol identifier semantics)") {
    assert(Params.spliceIdentifiers("SELECT * FROM ::tab", Map("TAB" -> "t1"))
      == "SELECT * FROM t1")
  }

  test("::x inside a string literal passes through unchanged") {
    val sql = "SELECT '::note' FROM t"
    assert(Params.spliceIdentifiers(sql, Map.empty) == sql)
  }

  test("::x inside comments passes through unchanged") {
    val sql = "SELECT 1 -- ::x\nFROM t /* ::y */"
    assert(Params.spliceIdentifiers(sql, Map.empty) == sql)
  }

  test("unknown identifier param raises") {
    val e = intercept[IllegalArgumentException] {
      Params.spliceIdentifiers("SELECT * FROM ::NOPE", Map("TAB" -> "t"))
    }
    assert(e.getMessage.contains("::NOPE"))
  }

  test("unsafe identifiers are backtick-quoted with escape") {
    assert(Params.quote("plain_name") == "plain_name")
    assert(Params.quote("has space") == "`has space`")
    assert(Params.quote("has`tick") == "`has``tick`")
    assert(Params.spliceIdentifiers("SELECT * FROM ::T", Map("T" -> "my table"))
      == "SELECT * FROM `my table`")
  }

  test("valueParamNames finds :x outside literals only") {
    assert(Params.valueParamNames("SELECT :A, ':B', ::C FROM t WHERE x = :D")
      == Set("A", "D"))
  }

  test("native IDENTIFIER(:p) clause works through wrapper.query (SURVEY §1.4)") {
    // Spark 4's IDENTIFIER() clause is the engine-native alternative to the
    // pre-parse ::x splice — a value param becomes an identifier inside the
    // parser, surviving nested-quoting edge cases the text splice can't.
    val spark = graft.SparkTestBase.spark
    spark.range(3).toDF("n").createOrReplaceTempView("ident_t")
    val w = QueryWrapper(spark)
    val (ok, res) = w.query(
      "SELECT count(*) AS c FROM IDENTIFIER(:tab)",
      QueryOptions(params = Some(Map("tab" -> "ident_t"))))
    assert(ok, res.errorMessage)
    assert(res.dataFrame.get.collect().head.getLong(0) == 3L)
  }

  test("::TAB splice backtick-quotes a spaced name through wrapper.query") {
    val spark = graft.SparkTestBase.spark
    spark.sql(
      "CREATE OR REPLACE TEMP VIEW `native id t` AS SELECT id AS n FROM RANGE(4)")
    val w = QueryWrapper(spark)
    // a name needing quoting: the splice inlines it backtick-quoted
    val (ok, res) = w.query("SELECT count(*) AS c FROM ::T",
      QueryOptions(params = Some(Map("T" -> "native id t"))))
    assert(ok, res.errorMessage)
    assert(res.dataFrame.get.collect().head.getLong(0) == 4L)
  }
}
