package graft.wrapper

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** ASOF JOIN dialect spelling (VERDICT r8 #6): the DuckDB/Snowflake-style
  * declarative as-of clause, translated through `wrapper.query` onto
  * [[graft.operators.AsOfJoin]]'s single-shuffle union+window composition —
  * SQL users get the scale path without library calls.
  */
class AsOfDialectSpec extends AnyFunSuite with SparkTestBase {

  private def setup(): Unit = {
    val loc = Files.createTempDirectory("asof").toString
    spark.sql(s"CREATE TABLE ao_trades (sym STRING, t BIGINT, qty BIGINT) USING parquet LOCATION '$loc/t'")
    spark.sql(s"CREATE TABLE ao_quotes (sym STRING, qt BIGINT, px DOUBLE) USING parquet LOCATION '$loc/q'")
    spark.sql("INSERT INTO ao_trades VALUES ('A', 10, 1), ('A', 20, 2), ('A', 5, 3), ('B', 15, 4)")
    spark.sql("INSERT INTO ao_quotes VALUES ('A', 8, 1.5), ('A', 18, 2.5), ('B', 30, 9.9)")
  }
  private def teardown(): Unit = {
    spark.sql("DROP TABLE IF EXISTS ao_trades")
    spark.sql("DROP TABLE IF EXISTS ao_quotes")
  }

  test("parseAsOf: grammar subset, direction, and rejection of non-asof SQL") {
    val q = SqlCompat.parseAsOf(
      "SELECT a.t, b.px FROM ao_trades a ASOF JOIN ao_quotes b " +
        "ON a.sym = b.sym AND a.t >= b.qt ORDER BY a.t").get
    assert(q.keys == Seq(("sym", "sym")) && q.leftTime == "t" &&
      q.rightTime == "qt" && !q.forward && !q.leftJoin)
    assert(q.tail.toLowerCase.startsWith("order by"))
    // reversed operand order flips orientation; <= is a forward match
    val f = SqlCompat.parseAsOf(
      "SELECT a.t FROM l a ASOF LEFT JOIN r b ON b.k = a.k AND b.qt >= a.t").get
    assert(f.forward && f.leftJoin && f.keys == Seq(("k", "k")))
    // two inequalities, or none, is not an as-of
    assert(SqlCompat.parseAsOf(
      "SELECT a.t FROM l a ASOF JOIN r b ON a.k = b.k AND a.t >= b.t AND a.u >= b.u").isEmpty)
    assert(SqlCompat.parseAsOf("SELECT x FROM t ORDER BY x").isEmpty)
    // literals can't trigger the grammar or mis-cut the tail
    assert(SqlCompat.parseAsOf(
      "SELECT 'from t asof join r on a.k = b.k and a.t >= b.t' AS s FROM x").isEmpty)
    val lit = SqlCompat.parseAsOf(
      "SELECT a.t FROM l a ASOF JOIN r b ON a.k = b.k AND a.t >= b.qt " +
        "WHERE a.note = 'order by limit' ORDER BY a.t").get
    assert(lit.tail.contains("'order by limit'") &&
      lit.tail.trim.toLowerCase.startsWith("where"))
  }

  test("ASOF JOIN through the wrapper: backward inner match") {
    setup()
    try {
      val w = QueryWrapper(spark)
      val (ok, res) = w.query(
        """SELECT a.sym, a.t, a.qty, b.qt, b.px
          |FROM ao_trades a ASOF JOIN ao_quotes b
          |ON a.sym = b.sym AND a.t >= b.qt
          |ORDER BY a.sym, a.t""".stripMargin)
      assert(ok, res.errorMessage)
      val rows = res.dataFrame.get.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      // A@5 has no quote <= 5 → dropped (inner); A@10 → quote@8; A@20 → quote@18;
      // B@15 has no quote <= 15 → dropped
      assert(rows.toSeq == Seq(("A", 10L, 1L, 8L, 1.5), ("A", 20L, 2L, 18L, 2.5)))
    } finally teardown()
  }

  test("ASOF LEFT JOIN keeps unmatched left rows with NULL right columns") {
    setup()
    try {
      val w = QueryWrapper(spark)
      val (ok, res) = w.query(
        """SELECT a.sym, a.t, b.px FROM ao_trades a ASOF LEFT JOIN ao_quotes b
          |ON a.sym = b.sym AND a.t >= b.qt
          |WHERE a.sym = 'A' ORDER BY a.t""".stripMargin)
      assert(ok, res.errorMessage)
      val rows = res.dataFrame.get.collect()
        .map(r => (r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2)))
      assert(rows.toSeq == Seq((5L, null), (10L, 1.5), (20L, 2.5)))
    } finally teardown()
  }

  test("the dialect plan is the union+window shape, not a nested loop") {
    setup()
    try {
      val df = SqlCompat.parseAsOf(
        "SELECT a.t, b.px FROM ao_trades a ASOF JOIN ao_quotes b " +
          "ON a.sym = b.sym AND a.t >= b.qt").get.run(spark).df.get
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("BroadcastNestedLoopJoin"))
      assert(!physical.contains("CartesianProduct"))
      assert(physical.contains("Window"))
    } finally teardown()
  }
}
