package graft.ext

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Hand-computed profiling cases (q73's DuckDB oracle proves the
  * cross-engine half on documents). */
class ProfileOpsSpec extends AnyFunSuite with SparkTestBase {

  test("per-column counts, nulls, distincts, byte-wise min/max") {
    val sql = spark
    import sql.implicits._
    val df = Seq(
      (1L, Some("b"), Some(10L)),
      (2L, None, Some(10L)),
      (3L, Some("a"), None),
      (4L, Some("a"), Some(30L)))
      .toDF("id", "s", "v")
    val out = ProfileOps.profile(df, Seq("id", "s", "v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toSeq
    assert(out == Seq(
      ("id", 4L, 0L, 4L, "1", "4"),
      ("s", 4L, 1L, 2L, "a", "b"),
      ("v", 4L, 1L, 2L, "10", "30")))
  }

  test("single scan: exactly one parquet-free aggregate pass (one wide agg)") {
    val sql = spark
    import sql.implicits._
    val df = (1L to 50L).map(i => (i, s"s$i")).toDF("a", "b")
    val plan = ProfileOps.profile(df, Seq("a", "b"))
      .queryExecution.optimizedPlan.toString
    // One Aggregate over the input; the stack-unpivot adds a Generate/Project
    // above it but no second Aggregate or Join of scans.
    assert("(?m)^\\s*[+:]?-?\\s*Aggregate".r.findAllIn(plan).length <= 2, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("approxDistinct swaps exact count_distinct for the KMV sketch") {
    val sql = spark
    import sql.implicits._
    val df = (1L to 100L).map(i => (i, i % 10)).toDF("a", "b")
    val exact = ProfileOps.profile(df, Seq("b"))
    val approx = ProfileOps.profile(df, Seq("b"), approxDistinct = true)
    assert(exact.collect().head.getLong(3) == 10L)
    // KMV is exact below k distinct values, and goes through the sketch.
    assert(approx.collect().head.getLong(3) == 10L)
    assert(approx.queryExecution.optimizedPlan.toString
      .contains("kmv_distinct"))
  }

  test("groupedMad: lower medians, even/odd groups, NULL group kept") {
    val sql = spark
    import sql.implicits._
    val df = Seq(
      ("g1", 1L, 1L), ("g1", 3L, 2L), ("g1", 7L, 3L), ("g1", 20L, 4L),
      ("g2", 5L, 5L), ("g2", 5L, 6L), ("g2", 9L, 7L),
      (null.asInstanceOf[String], 10L, 8L), (null, 2L, 9L)
    ).toDF("src", "v", "id")
    val out = ProfileOps.groupedMad(df, "src", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // g1 (n=4, rank 2): med 3; |v-3| = [2,0,4,17] → sorted rank 2 → 2.
    // g2 (n=3, rank 2): med 5; |v-5| = [0,0,4] → rank 2 → 0.
    // null group (n=2, rank 1): med 2; |v-2| = [8,0] → rank 1 → 0.
    assert(out.toSet == Set(("g1", 3L, 2L), ("g2", 5L, 0L), (null, 2L, 0L)))
  }

  test("weightedMedian: crossing row, w≡1 degenerates, zero-weight rows") {
    val sql = spark
    import sql.implicits._
    // g1: (v=1,w=1),(v=2,w=4),(v=9,w=2): tw=7, thr=4 → cum 1,5,7 → v=2.
    // g2: (v=3,w=0),(v=5,w=2): tw=2, thr=1 → the w=0 row can't cross → 5.
    val df = Seq(
      ("g1", 1L, 1, 1L), ("g1", 2L, 4, 2L), ("g1", 9L, 2, 3L),
      ("g2", 3L, 0, 4L), ("g2", 5L, 2, 5L)
    ).toDF("src", "v", "w", "id")
    val out = ProfileOps.weightedMedian(df, "src", "v", "w", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("g1", 2L), ("g2", 5L)))
    // w ≡ 1 equals the unweighted lower median (groupedMad's med):
    val uw = df.withColumn("one", lit(1))
    val viaW = ProfileOps.weightedMedian(uw, "src", "v", "one", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaMad = ProfileOps.groupedMad(df, "src", "v")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaW == viaMad)
  }

  test("robustOutliers: integer boundary, mad=0 flags any x ≠ med") {
    val sql = spark
    import sql.implicits._
    // g1: med 10, mad 2 (values 8,10,13 → adev 2,0,3 → rank 2 = 2).
    // cutoff 3.5: flag iff 67450·|x−10| > 350000·2 ⟺ |x−10| > 10.37…
    val df = Seq(
      ("g1", 8L, 1L), ("g1", 10L, 2L), ("g1", 13L, 3L), ("g1", 21L, 4L),
      ("g2", 7L, 5L), ("g2", 7L, 6L), ("g2", 99L, 7L)
    ).toDF("src", "v", "id")
    // g1: 21 → |11| > 10.37 flags; 13 does not. g2: med 7, mad 0 → 99 ≠ 7
    // flags (the mad=0 convention); the med rows never flag.
    val out = ProfileOps.robustOutliers(df, "src", "v", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("g1", 4L, 21L), ("g2", 7L, 99L)))
    // boundary is strict: at exactly z = 3.5 (|x−med|·67450 == 350000·mad,
    // e.g. mad 2·6745=13490 … use v = med + 10.37… impossible on ints) —
    // tighten cutoff so an exact integer boundary exists: zTenths=50,
    // mad=2 → flag iff |x−10|·67450 > 1000000 ⟺ |x−10| > 14.82…;
    // v=24 (|14|) must NOT flag, v=25 (|15|) must.
    val df2 = Seq(
      ("g1", 8L, 1L), ("g1", 10L, 2L), ("g1", 13L, 3L), ("g1", 24L, 4L),
      ("g3", 8L, 5L), ("g3", 10L, 6L), ("g3", 13L, 7L), ("g3", 25L, 8L)
    ).toDF("src", "v", "id")
    val out2 = ProfileOps.robustOutliers(df2, "src", "v", "id", zTenths = 50)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(out2 == Seq(("g3", 25L)))
  }

  test("groupedCorr: exact integer stats, 6dp floor, zero-variance NULL") {
    val sql = spark
    import sql.implicits._
    val p = Seq((1L, 10L), (2L, 20L), (3L, 30L)) // r = 1 (up to sqrt ulp)
    val m = Seq((1L, 5L), (2L, 3L), (3L, 4L))    // mixed
    val df = (p.map { case (x, y) => ("p", x, y) } ++
      m.map { case (x, y) => ("m", x, y) } ++
      Seq(("z", 4L, 1L), ("z", 4L, 2L))).toDF("src", "x", "y")
    def exp(xs: Seq[(Long, Long)]): Double = {
      val n = xs.size.toLong
      val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
      val sxy = xs.map(t => t._1 * t._2).sum
      val sxx = xs.map(t => t._1 * t._1).sum
      val syy = xs.map(t => t._2 * t._2).sum
      math.floor((n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) *
          math.sqrt((n * syy - sy * sy).toDouble)) * 1000000) / 1000000
    }
    val out = ProfileOps.groupedCorr(df, "src", "x", "y").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    assert(out == Seq(("m", 3L, exp(m)), ("p", 3L, exp(p)), ("z", 2L, null)))
    // hand value: num=−3, vx=vy=6; sqrt(6)·sqrt(6) = 6−ulp, so the ratio
    // lands JUST below −0.5 and the 6dp floor takes −0.500001 — on both
    // engines identically, which is exactly why the floor happens on the
    // shared expression, not on a per-engine "corr" builtin.
    assert(exp(m) == -0.500001)
  }

  test("groupedOls: exact fits, degenerate group yields NULLs, layout-independent") {
    val sql = spark
    import sql.implicits._
    val df = Seq(
      // y = 2x exactly → slope 2, intercept 0
      ("a", 1L, 2L), ("a", 2L, 4L), ("a", 3L, 6L),
      // y = 10 − x exactly → slope −1, intercept 10
      ("b", 1L, 9L), ("b", 3L, 7L), ("b", 5L, 5L),
      // zero x-variance → NULL fit
      ("z", 4L, 1L), ("z", 4L, 9L)).toDF("src", "x", "y")
    def fit(d: org.apache.spark.sql.DataFrame) =
      ProfileOps.groupedOls(d, "src", "x", "y").collect()
        .map(r => (r.getString(0),
          if (r.isNullAt(2)) null else r.getDouble(2),
          if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    val out = fit(df)
    assert(out == Seq(("a", 2.0, 0.0), ("b", -1.0, 10.0), ("z", null, null)),
      out.toString)
    assert(fit(df.repartition(5)) == out)
  }

  test("psiDrift: hand-computed PSI, dense over occupied buckets, layout-independent") {
    val sql = spark
    import sql.implicits._
    // width 10, 3 buckets: a → {0, 0, 1}; b → {2, 2} (missing 0 and 1:
    // the dense frame must still charge b smoothed mass there)
    val df = Seq(("a", 1L), ("a", 5L), ("a", 12L), ("b", 25L), ("b", 28L))
      .toDF("src", "v")
    // same IEEE sequence as the operator: per-bucket term floored to
    // micro-units, THEN summed
    def term(cg: Long, ng: Long, ca: Long, na: Long): Long = {
      val pg = (cg + 1).toDouble / (ng + 3).toDouble
      val pa = (ca + 1).toDouble / (na + 3).toDouble
      math.floor((pg - pa) * math.log(pg / pa) * 1000000).toLong
    }
    val expA = term(2, 3, 2, 5) + term(1, 3, 1, 5) + term(0, 3, 2, 5)
    val expB = term(0, 2, 2, 5) + term(0, 2, 1, 5) + term(2, 2, 2, 5)
    def run(d: org.apache.spark.sql.DataFrame) =
      ProfileOps.psiDrift(d, "src", "v", bucketWidth = 10L, nBuckets = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
    val out = run(df)
    assert(out == Seq(("a", 3L, expA), ("b", 2L, expB)), out.toString)
    assert(run(df.repartition(5)) == out)
    // a group that IS the whole corpus has pg == pa per bucket → PSI 0
    // exactly (with multiple groups Laplace smoothing scales by group
    // size, so even identical shapes sit slightly off zero — by design)
    val whole = Seq(("x", 1L), ("x", 11L), ("x", 25L)).toDF("src", "v")
    assert(run(whole).map(_._3) == Seq(0L))
  }
}
