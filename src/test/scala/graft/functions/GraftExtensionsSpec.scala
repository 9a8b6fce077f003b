package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The native sketch expressions must be reachable from pass-through SQL
  * (the reference's delegation model, QW:40), not just the Column API. */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {

  test("registered SQL functions agree with the Column API") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT simhash64(array(1L, 2L, 3L)) AS fp,
        |       minhash_signature(array(1L, 2L, 3L), 4) AS sig""".stripMargin)
      .head()

    import graft.SparkTestBase.spark.implicits._
    import org.apache.spark.sql.functions.col
    val viaColumn = Seq(Seq(1L, 2L, 3L)).toDF("hs")
      .select(HashFunctions.simhash64(col("hs")).as("fp"),
        HashFunctions.minhashSignature(col("hs"), 4).as("sig"))
      .head()

    assert(row.getLong(0) == viaColumn.getLong(0))
    assert(row.getSeq[Long](1) == viaColumn.getSeq[Long](1))
    assert(row.getSeq[Long](1).length == 4)
  }

  test("wrapper pass-through SQL reaches the extension functions") {
    GraftExtensions.register(spark)
    val w = graft.wrapper.QueryWrapper(spark)
    val (ok, res) = w.query(
      "SELECT simhash64(array(7L)) AS fp")
    assert(ok)
    assert(res.rows.head.getLong(0) == 7L) // single hash: fingerprint = its bits
  }

  test("non-literal k is rejected with a clear error") {
    GraftExtensions.register(spark)
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array(1L), 1 + 1)").collect()
    }
    val messages = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages.contains("integer literal"))
  }

  test("Exasol dialect aliases evaluate with Spark semantics") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT zeroifnull(CAST(NULL AS BIGINT)) AS z,
        |       nullifzero(0.0) AS nz,
        |       hash_md5('abc') AS h,
        |       edit_distance('kitten', 'sitting') AS ed,
        |       add_days(timestamp'2026-01-31 12:00:00', 1) AS d,
        |       add_years(timestamp'2024-02-29 00:00:00', 1) AS y,
        |       seconds_between(timestamp'2026-01-01 00:01:40',
        |                       timestamp'2026-01-01 00:00:00') AS sb,
        |       days_between(date'2026-01-11', date'2026-01-01') AS db""".stripMargin)
      .head()
    assert(r.getLong(0) == 0L)
    assert(r.isNullAt(1))
    assert(r.getString(2) == "900150983cd24fb0d6963f7d28e17f72")
    assert(r.getInt(3) == 3)
    assert(r.getTimestamp(4).toString.startsWith("2026-02-01 12:00:00"))
    assert(r.getTimestamp(5).toString.startsWith("2025-02-28 00:00:00"))
    assert(r.getLong(6) == 100L)
    assert(r.getLong(7) == 10L)
  }

  test("array_dot reachable from SQL and matches the Column API") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT array_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 0.5D, -1.0D)) AS d")
      .head().getDouble(0)
    assert(r == (4.0 + 1.0 - 3.0))
  }

  test("r7 dialect additions: *_between, week, mid; builtin months_between untouched") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT hours_between(timestamp'2026-01-02 03:30:00',
        |                     timestamp'2026-01-02 01:00:00') AS hb,
        |       minutes_between(timestamp'2026-01-01 01:00:00',
        |                       timestamp'2026-01-01 00:58:30') AS mb,
        |       years_between(timestamp'2026-03-01 00:00:00',
        |                     timestamp'2024-04-01 00:00:00') AS yb,
        |       week(date'2026-01-08') AS wk,
        |       mid('CORPORATE', 3, 4) AS m3,
        |       mid('CORPORATE', 7) AS m2,
        |       months_between(date'2026-02-15', date'2026-01-01') AS mob""".stripMargin)
      .head()
    assert(r.getLong(0) == 2L)   // complete hours
    assert(r.getLong(1) == 1L)   // complete minutes
    assert(r.getLong(2) == 1L)   // complete years (11 months short of 2)
    assert(r.getInt(3) == 2)     // ISO week of 2026-01-08
    assert(r.getString(4) == "RPOR")
    assert(r.getString(5) == "ATE")
    // builtin months_between keeps its fractional Oracle semantics
    assert(math.abs(r.getDouble(6) - 1.4516129) < 1e-6)
  }

  test("INSTR / TRUNC / TO_NUMBER stragglers run via wrapper pass-through") {
    GraftExtensions.register(spark)
    val w = graft.wrapper.QueryWrapper(spark)
    val (ok, res) = w.query(
      """SELECT INSTR('CORPORATE FLOOR', 'OR') AS i2,
        |       INSTR('CORPORATE FLOOR', 'OR', 4) AS i3,
        |       TRUNC(timestamp'2026-03-15 13:45:00') AS t1,
        |       TRUNC(date'2026-03-15', 'MM') AS t2,
        |       TO_NUMBER('123.45') AS n1,
        |       TO_NUMBER('00123', '99999') AS n2""".stripMargin)
    assert(ok, res.error)
    val r = res.rows.head
    assert(r.getInt(0) == 2)       // first 'OR'
    assert(r.getInt(1) == 5)       // search from position 4 -> absolute 5
    assert(r.getDate(2).toString == "2026-03-15")
    assert(r.getDate(3).toString == "2026-03-01")
    // 1-arg TO_NUMBER is an exact DECIMAL (r4 ADVICE: was DOUBLE) — the
    // parsed value compares exactly, no binary-float representation.
    assert(r.getDecimal(4).compareTo(new java.math.BigDecimal("123.45")) == 0)
    assert(r.getDecimal(5).longValue == 123L)
    // 2-arg instr keeps Spark's builtin semantics exactly:
    assert(spark.sql("SELECT instr('abc', 'zz')").head().getInt(0) == 0)
  }

  test("r9 dialect additions: convert_tz, posix_time, cologne_phonetic") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT convert_tz(timestamp_ntz'2026-06-01 12:00:00',
        |                  'UTC', 'Europe/Berlin') AS tz,
        |       posix_time(timestamp'1970-01-01 00:02:00') AS pt,
        |       from_posix_time(120) AS fpt,
        |       cologne_phonetic('Müller-Lüdenscheidt') AS c1,
        |       cologne_phonetic('Breschnew') AS c2,
        |       cologne_phonetic('Wikipedia') AS c3,
        |       cologne_phonetic('Meyer') AS c4,
        |       cologne_phonetic('Maier') AS c5""".stripMargin)
      .head()
    assert(r.get(0).toString.startsWith("2026-06-01T14:00"))
    assert(r.getLong(1) == 120L)
    assert(r.getTimestamp(2).toString.startsWith("1970-01-01 00:02:00"))
    // Postel 1969 worked examples — and the homophone pair collides,
    // which is the blocking-key property ER cares about.
    assert(r.getString(3) == "65752682")
    assert(r.getString(4) == "17863")
    assert(r.getString(5) == "3412")
    assert(r.getString(6) == r.getString(7))
  }

  test("r11 scalar sweep: REGEXP_SUBSTR / INITCAP / DECODE / LOCATE / CHR " +
      "pass through natively with Exasol semantics (no alias needed)") {
    GraftExtensions.register(spark)
    val w = graft.wrapper.QueryWrapper(spark)
    val (ok, res) = w.query(
      """SELECT regexp_substr('order-4711-x', '[0-9]+') AS rs,
        |       regexp_instr('ab123', '[0-9]') AS ri,
        |       initcap('hello spark world') AS ic,
        |       decode(2, 1, 'one', 2, 'two', 'other') AS dc,
        |       locate('b', 'abcabc', 3) AS lc,
        |       chr(65) AS ch""".stripMargin)
    assert(ok, res.errorMessage)
    val r = res.rows.head
    assert(r.getString(0) == "4711")
    assert(r.getInt(1) == 3)
    assert(r.getString(2) == "Hello Spark World")
    assert(r.getString(3) == "two") // Oracle/Exasol DECODE form, not
    // the charset decode — Spark's builtin handles both by arity
    assert(r.getInt(4) == 5)
    assert(r.getString(5) == "A")
  }

  test("cologne_phonetic survives codegen over a column (not just literals)") {
    GraftExtensions.register(spark)
    val sql = spark
    import sql.implicits._
    val df = Seq("Schmidt", "Schmitt", "Schmied", "", "Xavier", "ACHT")
      .toDF("name")
    df.createOrReplaceTempView("cp_names")
    val got = spark.sql(
      "SELECT name, cologne_phonetic(name) AS code FROM cp_names ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got("Schmidt") == got("Schmitt")) // homophones collide
    assert(got("") == "")
    // interpreted path agrees with codegen
    val interp = graft.functions.ColognePhoneticAlgo
      .encode(org.apache.spark.unsafe.types.UTF8String.fromString("Schmidt"))
      .toString
    assert(got("Schmidt") == interp)
  }

  test("extension class injects at session build (builder path)") {
    // Apply the extension class to a fresh SparkSessionExtensions and
    // materialize into an empty registry — the exact code path a
    // spark.sql.extensions-configured session build runs.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val names =
      org.apache.spark.sql.graftbridge.Bridge.injectedFunctionNames(ext)
    val expected = Set("minhash_signature", "simhash64", "array_dot",
      "hash_md5", "hash_sha1", "hash_sha256", "edit_distance",
      "add_days", "add_hours", "add_minutes", "add_seconds", "add_weeks",
      "add_years", "seconds_between", "days_between")
    assert(expected.subsetOf(names.toSet), s"missing: ${expected -- names.toSet}")
  }

  test("registration never shadows a Spark builtin outside the allow-list") {
    // instr / trunc / to_number add Exasol arities on top of the builtin
    // and keep its expression on the shared ones; every other extension
    // name must be new to the registry (check-before-inject).
    val allowed = Set("instr", "trunc", "to_number")
    val builtin =
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    val shadowed = GraftExtensions.functions.map(_._1)
      .filter(builtin.functionExists).map(_.funcName).toSet -- allowed
    assert(shadowed.isEmpty,
      s"extensions replace Spark builtins: ${shadowed.toSeq.sorted.mkString(", ")}")

    GraftExtensions.register(spark)
    val described = spark.sql("DESCRIBE FUNCTION theta_sketch_agg")
      .collect().map(_.getString(0)).mkString("\n")
    assert(described.contains(
      "Class: org.apache.spark.sql.catalyst.expressions.aggregate.ThetaSketchAgg"),
      described)
    assert(!described.contains(classOf[GraftExtensions].getName), described)
  }
}
