package graft.wrapper

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Oracle-compat `ROWNUM` filter (r11, VERDICT r10 #7): the dominant
  * `WHERE ROWNUM <= n` migrated-ETL form rewritten to LIMIT inside
  * `wrapper.query`'s translation chain, preserving the host's
  * numbers-before-sort semantics under ORDER BY. */
class RownumDialectSpec extends AnyFunSuite with SparkTestBase {

  test("translateRownum: rewrite shapes and conservative rejections") {
    // sole conjunct, no ORDER BY → WHERE dropped, LIMIT appended
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE ROWNUM <= 10").get ==
      "SELECT a FROM t LIMIT 10")
    // strict < is n-1; = 1 is 1; = n (n ≥ 2) can never hold → LIMIT 0
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE rownum < 10").get.endsWith("LIMIT 9"))
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE ROWNUM = 1").get.endsWith("LIMIT 1"))
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE ROWNUM = 3").get.endsWith("LIMIT 0"))
    // AND'd conjuncts survive on either side
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE x > 1 AND ROWNUM <= 5").get ==
      "SELECT a FROM t WHERE x > 1 LIMIT 5")
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE ROWNUM <= 5 AND x > 1 AND y = 2").get ==
      "SELECT a FROM t WHERE x > 1 AND y = 2 LIMIT 5")
    // the masked view blanks literals and comments to spaces, but the cut
    // consumes only what is whitespace in the original: a literal or
    // comment beside the AND connector stays
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE s = 'F' AND ROWNUM <= 25").get ==
      "SELECT a FROM t WHERE s = 'F' LIMIT 25")
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE ROWNUM <= 25 AND 'F' = s").get ==
      "SELECT a FROM t WHERE 'F' = s LIMIT 25")
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE s = 'F' /* open only */ AND ROWNUM <= 25").get ==
      "SELECT a FROM t WHERE s = 'F' /* open only */ LIMIT 25")
    // a kept line comment still ends at a newline, so nothing after it
    // is commented out
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE ROWNUM <= 25 AND -- open only\n'F' = s").get ==
      "SELECT a FROM t WHERE -- open only\n 'F' = s LIMIT 25")
    // ORDER BY present → the host numbers rows BEFORE the sort, so the
    // limit wraps an inner subquery and the sort moves outside
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE ROWNUM <= 5 ORDER BY a DESC").get ==
      "SELECT * FROM (SELECT a FROM t LIMIT 5) __graft_rn ORDER BY a DESC")
    // GROUP BY tail stays attached to the core statement
    assert(SqlCompat.translateRownum(
      "SELECT a, count(*) FROM t WHERE ROWNUM <= 5 GROUP BY a").get ==
      "SELECT a, count(*) FROM t GROUP BY a LIMIT 5")
    // conservative: OR'd ROWNUM, existing LIMIT, literals, no ROWNUM,
    // non-SELECT
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE ROWNUM <= 5 OR x = 1").isEmpty)
    assert(SqlCompat.translateRownum(
      "SELECT a FROM t WHERE ROWNUM <= 5 LIMIT 3").isEmpty)
    assert(SqlCompat.translateRownum(
      "SELECT 'where rownum <= 5' AS s FROM t").isEmpty)
    assert(SqlCompat.translateRownum("SELECT a FROM t WHERE x = 1").isEmpty)
    assert(SqlCompat.translateRownum(
      "UPDATE t SET a = 1 WHERE ROWNUM <= 5").isEmpty)
  }

  test("translateSelectRownum: numbering idiom rewrites and conservative " +
      "rejections (VERDICT r11 #6)") {
    // bare item + ORDER BY → ROW_NUMBER over the statement's own sort
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t ORDER BY a").get ==
      "SELECT ROW_NUMBER() OVER (ORDER BY a) AS ROWNUM, a FROM t ORDER BY a")
    // AS alias and bare alias forms; mid-list position; LIMIT tail kept
    assert(SqlCompat.translateSelectRownum(
      "SELECT a, ROWNUM AS rn, b FROM t ORDER BY b DESC, a LIMIT 5").get ==
      "SELECT a, ROW_NUMBER() OVER (ORDER BY b DESC, a) AS rn, b FROM t " +
        "ORDER BY b DESC, a LIMIT 5")
    assert(SqlCompat.translateSelectRownum(
      "SELECT rownum rn, a FROM t ORDER BY a").get ==
      "SELECT ROW_NUMBER() OVER (ORDER BY a) AS rn, a FROM t ORDER BY a")
    // conservative: no ORDER BY (scan-order numbering is nondeterministic
    // on any parallel engine), DISTINCT, GROUP BY, ROWNUM in WHERE too,
    // ORDER BY referencing the numbering, expression uses, subquery uses,
    // two items
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT DISTINCT ROWNUM, a FROM t ORDER BY a").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t GROUP BY a ORDER BY a").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t WHERE ROWNUM <= 5 ORDER BY a").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM AS rn, a FROM t ORDER BY rn").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM + 1, a FROM t ORDER BY a").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT a FROM (SELECT ROWNUM, a FROM t) s ORDER BY a").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, ROWNUM AS rn2, a FROM t ORDER BY a").isEmpty)
    // ordinal keys resolve positionally in a Sort but as the CONSTANT 1
    // inside OVER — silently nondeterministic, so rejected; OFFSET/FETCH
    // tails and set operators (branch-local windows) likewise
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t ORDER BY 1").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t ORDER BY a, 2 DESC").isEmpty)
    // wrapped/signed/quoted constants are the same all-ties window key
    // in disguise — paren-stripping must not let them through
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t ORDER BY (1)").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t ORDER BY +1 DESC").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t ORDER BY 'k'").isEmpty)
    // …while real expressions that merely CONTAIN digits still pass
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t ORDER BY a + 1").isDefined)
    // a backtick-quoted alias must survive the rewrite verbatim (the
    // masked view blanks quoted interiors — slicing the alias there
    // would rename the output column to the 'x' filler)
    val bt = SqlCompat.translateSelectRownum(
      "SELECT ROWNUM AS `rn`, a FROM t ORDER BY a")
    assert(bt.exists(_.contains("AS `rn`")), bt)
    // …and the ORDER-BY-references-the-numbering guard still sees it
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM AS `rn`, a FROM t ORDER BY `rn`").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t ORDER BY a OFFSET 5").isEmpty)
    assert(SqlCompat.translateSelectRownum(
      "SELECT ROWNUM, a FROM t UNION ALL SELECT 0, b FROM u ORDER BY a")
      .isEmpty)
  }

  test("select-list ROWNUM through the wrapper numbers rows in sort order") {
    val sqlc = spark
    import sqlc.implicits._
    Seq(30, 10, 20).toDF("v").createOrReplaceTempView("rn_s")
    val w = QueryWrapper(spark)
    val (ok, res) = w.query("SELECT ROWNUM AS rn, v FROM rn_s ORDER BY v")
    assert(ok, res.errorMessage)
    assert(res.dataFrame.get.collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSeq == Seq((1, 10), (2, 20), (3, 30)))
  }

  test("ROWNUM through the wrapper: limits rows; ORDER BY form sorts the " +
      "limited set") {
    val sqlc = spark
    import sqlc.implicits._
    Seq(1, 2, 3, 4, 5).toDF("v").createOrReplaceTempView("rn_t")
    val w = QueryWrapper(spark)
    val (ok, res) = w.query("SELECT v FROM rn_t WHERE ROWNUM <= 3")
    assert(ok, res.errorMessage)
    assert(res.dataFrame.get.count() == 3)
    // a literal before the connector survives the cut
    val (okLit, resLit) = w.query(
      "SELECT v FROM rn_t WHERE CAST(v AS STRING) > '2' AND ROWNUM <= 25")
    assert(okLit, resLit.errorMessage)
    assert(resLit.dataFrame.get.collect().map(_.getInt(0)).toSet ==
      Set(3, 4, 5))
    val (ok2, res2) = w.query(
      "SELECT v FROM rn_t WHERE v >= 2 AND ROWNUM <= 2 ORDER BY v DESC")
    assert(ok2, res2.errorMessage)
    val got = res2.dataFrame.get.collect().map(_.getInt(0)).toSeq
    assert(got.length == 2 && got == got.sorted.reverse)
    assert(got.forall(_ >= 2))
  }
}
