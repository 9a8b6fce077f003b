package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** One declared query: a Spark-first implementation plus (when
  * SQL-expressible) an equivalent DuckDB oracle. Column names/types are
  * aligned between the two sides — the driver's compare sorts columns by
  * name and hash-compares values, so every computed column is aliased
  * identically in both. */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Pass-through query inventory (SURVEY.md §2D, q01–q28).
  *
  * The reference (exasol/etl-utils `query_wrapper.sql:40`) forwards arbitrary
  * SQL to the host Exasol engine; the capability surface it evidences is
  * re-expressed here Spark-first: declarative DataFrame plans that Catalyst
  * optimizes (pushdown, pruning, join selection, whole-stage codegen).
  *
  * Determinism rules (SURVEY §7.6): every query ends in a total ORDER BY with
  * a unique tie-breaker; double aggregates are rounded; session timezone is
  * UTC; DuckDB-side integer aggregates are cast to match Spark's types
  * (DuckDB SUM(int) is HUGEINT, len/length/year are BIGINT, ceil/floor stay
  * DOUBLE — Spark's are BIGINT/INT/LONG).
  */
object Queries {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** Scale-adaptive scan fan-out for CPU-dense per-row pipelines (regex
    * chains, hashing, tokenization): the fixtures are single-row-group
    * parquet files, so their scans are ONE task no matter the core count
    * and a compute-bound projection serializes on one core. When the scan
    * yields fewer partitions than the session's parallelism, one
    * round-robin repartition of the (small) input unlocks every core; at
    * production scale a table's scan already carries ≥ cores splits and
    * this is a NO-OP — no extra exchange ever reaches a large input. The
    * guard is derived from the data (guide §2: derive partitioning from
    * input size, don't hard-code either deployment). Only used where
    * downstream math is partitioning-independent (integer/count
    * aggregates, per-row projections with a total ORDER BY). */
  private def fanOut(df: DataFrame): DataFrame = graft.ext.Par.fanOut(df)

  /** Schema-adaptive events loader. Fixture generations have shipped `ts` as
    * either INT64 TIMESTAMP(NANOS) (read as long via the legacy conf, then
    * truncated to micros — DuckDB's ns→µs conversion) or native
    * TIMESTAMP(MICROS) (isAdjustedToUTC=false → read as TIMESTAMP_NTZ, cast
    * to TIMESTAMP — value-preserving under the UTC session timezone).
    * Branching on the observed dtype keeps
    * both generations loadable, mirroring the reference wrapper's own
    * engine-drift tolerance (query_wrapper.sql:24–30 null/nil quirk). */
  private[graft] def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // isAdjustedToUTC=false micros; value-preserving cast under the
        // UTC session timezone, keeping one ts type across generations.
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Per-row half-up rounding computed on the raw binary double — identical
    * IEEE ops on both engines, unlike `ROUND(double, 2)` whose tie-breaking
    * differs between Spark (shortest-decimal-repr half-up) and DuckDB
    * (binary-value rounding) at representational midpoints like x.745. */
  private def round2(c: Column): Column = floor(c * 100 + lit(0.5)) / 100

  /** 6dp variant of [[round2]] for sketch estimates whose α-error envelope
    * is far below cents: wide enough to absorb the ≤2-ulp `ln`/`pow`
    * divergence between JVM and DuckDB libm (the only non-IEEE-identical
    * ops in the log-hist lane), tight enough that the rounded value stays
    * inside the sketch's own accuracy contract. */
  private def round6(c: Column): Column =
    floor(c * 1000000 + lit(0.5)) / 1000000

  // ---------------------------------------------------------------- q01–q05

  /** COUNT(*) scan+agg — the README's per-table count pattern (README.md:46). */
  private def q01(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").agg(count(lit(1)).as("cnt"))

  private val q01Sql = "SELECT COUNT(*) AS cnt FROM lineitem"

  /** Multi-predicate equality+range conjunction (README.md:52–58 pattern).
    * Filters reach the parquet scan as PushedFilters. */
  private def q02(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .filter(col("event_type") === "purchase" && col("value") > 100 && col("user_id") < 50)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  private val q02Sql =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_type = 'purchase' AND value > 100 AND user_id < 50
      |ORDER BY event_id""".stripMargin

  /** Expression projection: revenue = extendedprice * (1 - discount). */
  private def q03(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round2(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val q03Sql =
    """SELECT l_orderkey, l_linenumber,
      |       FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS revenue
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** TPC-H-Q1-style hash aggregate: partial (map-side) + final agg for free. */
  private def q04(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q04Sql =
    """SELECT l_returnflag, l_linestatus,
      |       ROUND(SUM(l_quantity), 2) AS sum_qty,
      |       ROUND(SUM(l_extendedprice), 2) AS sum_base,
      |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
      |       ROUND(AVG(l_discount), 6) AS avg_disc,
      |       COUNT(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Exact DECIMAL aggregation (Exasol's native money type, reference
    * DECIMAL(18) rowcounts QW:18). A direct double→DECIMAL cast is rounding-
    * mode-ambiguous across engines (Spark HALF_UP vs DuckDB half-even on
    * binary-exact midpoints like x.125), and DECIMAL division diverges too
    * (DuckDB's `/` on DECIMAL goes through DOUBLE). So stay in exact integer
    * arithmetic end to end: FLOOR(x*100+0.5) → BIGINT cents, SUM the longs,
    * emit the cents — every step is bit-deterministic in both engines. */
  private def q52(s: SparkSession, d: String): DataFrame = {
    def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast("long")
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        sum(cents(col("l_quantity"))).as("sum_qty_cents"))
      .orderBy(col("l_returnflag"))
  }

  private val q52Sql =
    """SELECT l_returnflag,
      |       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      |       CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_cents
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** MIN/MAX agg — the run-id allocation pattern (query_wrapper.sql:268). */
  private def q05(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").agg(
      max(col("o_orderkey")).as("max_key"),
      min(col("o_orderkey")).as("min_key"))

  private val q05Sql =
    "SELECT MAX(o_orderkey) AS max_key, MIN(o_orderkey) AS min_key FROM orders"

  // ---------------------------------------------------------------- joins

  /** Inner equi-join + agg; Catalyst picks broadcast vs SMJ (AQE at runtime). */
  private def q06(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_mktsegment"))

  private val q06Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Left-outer join with null handling: customers with zero orders kept. */
  private def q06b(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("spend"))
      .orderBy(col("c_custkey"))

  private val q06bSql =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |       ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Fact ⋈ small dim with an explicit broadcast hint: no shuffle of the
    * fact side — the plan that survives a 100× scale-up. */
  private def q07(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"), "inner")
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"), count(lit(1)).as("n"))
      .orderBy(col("p_brand"))

  private val q07Sql =
    """SELECT p_brand, ROUND(SUM(l_extendedprice), 2) AS revenue, COUNT(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Left-semi join (EXISTS guard — the typical ETL existence check). */
  private def q08(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val q08Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS). */
  private def q09(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val q09Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Five-way star join: tiny dims broadcast, the single big shuffle is
    * orders⋈lineitem on the join key. Flagship `entry` query. */
  private def q10(s: SparkSession, d: String): DataFrame = {
    val region = broadcast(t(s, d, "region"))
    val nation = broadcast(t(s, d, "nation"))
    val customer = t(s, d, "customer")
    val orders = t(s, d, "orders")
    val lineitem = t(s, d, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val q10Sql =
    """SELECT r_name, n_name,
      |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- windows

  /** Ranking window: top-3 orders per customer by totalprice. */
  private def q11(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
    t(s, d, "orders")
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("total"),
        col("rnk"))
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  private val q11Sql =
    """SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total, rnk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INTEGER) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin

  /** Analytic window with an explicit ROWS frame: running sum per customer.
    * The window ORDER BY carries a unique tie-breaker (o_orderkey) so the
    * running sum is total-order deterministic. */
  private def q12(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q12Sql =
    """SELECT o_custkey, o_orderkey,
      |       ROUND(SUM(o_totalprice) OVER (
      |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** RANGE frame over event time: rolling 90-day spend per customer —
    * the value-based frame (vs q12's ROWS frame). */
  private def q45(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
      .rangeBetween(-90L * 24 * 3600, 0)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("spend_90d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q45Sql =
    """SELECT o_custkey, o_orderkey,
      |       ROUND(SUM(o_totalprice) OVER (
      |         PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS TIMESTAMP)
      |         RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW), 2) AS spend_90d
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Analytic window functions: first/last value, ntile, lead. */
  private def q46(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(wf).as("first_key"),
        last(col("o_orderkey")).over(wf).as("last_key"),
        ntile(4).over(w).as("quartile"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q46Sql =
    """SELECT o_custkey, o_orderkey,
      |       FIRST_VALUE(o_orderkey) OVER wf AS first_key,
      |       LAST_VALUE(o_orderkey) OVER wf AS last_key,
      |       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
      |       LEAD(o_orderkey, 1) OVER w AS next_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Exact interpolated percentiles per group (DuckDB `quantile_cont`
    * semantics) via [[graft.operators.ExactQuantile]] — a distributed
    * rank-select plan with bounded memory everywhere, unlike Spark's
    * `percentile` aggregate whose per-group buffer holds the whole column
    * (3 status groups at 100 TB = 3 OOM reducers). */
  private def q47(s: SparkSession, d: String): DataFrame =
    graft.operators.ExactQuantile.quantiles(
      t(s, d, "orders"), Seq("o_orderstatus"), "o_totalprice",
      Seq(0.5, 0.9), Seq("p50", "p90"))
      .select(col("o_orderstatus"),
        round2(col("p50")).as("p50"), round2(col("p90")).as("p90"))
      .orderBy(col("o_orderstatus"))

  private val q47Sql =
    """SELECT o_orderstatus,
      |       FLOOR(QUANTILE_CONT(o_totalprice, 0.5) * 100 + 0.5) / 100 AS p50,
      |       FLOOR(QUANTILE_CONT(o_totalprice, 0.9) * 100 + 0.5) / 100 AS p90
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Approximate percentiles (q47's scale path): a bounded-memory sketch
    * per group — exact `percentile` holds every distinct value in memory,
    * which a 100 TB hot group cannot. Since r11 this rides the house
    * log-hist sketch (`log_hist_agg`, functions/LogHistogram.scala —
    * α = 0.5% relative error, bucket-addition merge, bit-deterministic
    * under ANY partitioning by algebra), which also makes the row
    * DuckDB-oracle-checkable: the bucket map is a pure integer function
    * of the data, so the oracle rebuilds the sketch in SQL (q161's
    * rebuild on the orders table; VERDICT r10 #1). Spark's builtin
    * `approx_percentile` (GK summaries — deterministic but neither
    * SQL-expressible nor merge-order-independent in principle) remains
    * covered as a library lane by ApproxPercentileBuiltinSpec.
    * Cent-rounded like q47, whose spec pins the ≤0.5% accuracy vs the
    * exact two-phase rank-select. */
  private def q47b(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchFunctions._
    t(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(logHistAgg(col("o_totalprice")).as("sk"))
      .select(col("o_orderstatus"),
        round2(logHistQuantile(col("sk"), lit(0.5))).as("p50"),
        round2(logHistQuantile(col("sk"), lit(0.9))).as("p90"))
      .orderBy(col("o_orderstatus"))
  }

  /** q161's SQL sketch rebuild, on orders — see [[q161Sql]] for the
    * bucket/estimate/walk derivation and the IEEE-identical-ops rules. */
  private val q47bSql =
    """WITH gg AS (SELECT CAST(1.005 AS DOUBLE) / CAST(0.995 AS DOUBLE) AS g),
      |bk AS (
      |  SELECT o_orderstatus,
      |         CASE WHEN o_totalprice = 0 THEN 0
      |              WHEN o_totalprice > 0 THEN 1 ELSE -1 END AS sgn,
      |         CASE WHEN o_totalprice = 0 THEN CAST(0 AS BIGINT)
      |              ELSE CAST(CEIL(LN(ABS(o_totalprice)) / LN(g)) AS BIGINT)
      |              END AS k,
      |         CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders CROSS JOIN gg
      |  WHERE o_totalprice IS NOT NULL AND NOT ISNAN(o_totalprice)
      |    AND NOT ISINF(o_totalprice)
      |  GROUP BY 1, 2, 3),
      |est AS (
      |  SELECT o_orderstatus, c,
      |         CASE WHEN sgn = 0 THEN CAST(0 AS DOUBLE)
      |              ELSE sgn * (2 * POW(g, k) / (g + 1)) END AS e
      |  FROM bk CROSS JOIN gg),
      |cum AS (
      |  SELECT o_orderstatus, e, c,
      |         SUM(c) OVER (PARTITION BY o_orderstatus ORDER BY e) AS cum,
      |         SUM(c) OVER (PARTITION BY o_orderstatus) AS total
      |  FROM est)
      |SELECT o_orderstatus,
      |       FLOOR(MIN(e) FILTER (WHERE cum >= GREATEST(1,
      |           CEIL(CAST(0.5 AS DOUBLE) * CAST(total AS DOUBLE))))
      |         * 100 + 0.5) / 100 AS p50,
      |       FLOOR(MIN(e) FILTER (WHERE cum >= GREATEST(1,
      |           CEIL(CAST(0.9 AS DOUBLE) * CAST(total AS DOUBLE))))
      |         * 100 + 0.5) / 100 AS p90
      |FROM cum GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** Correlated scalar subquery — exercises Catalyst decorrelation (the
    * subquery rewrites to an outer join + aggregate). */
  private def q48(s: SparkSession, d: String): DataFrame = {
    t(s, d, "customer").createOrReplaceTempView("q48_customer")
    t(s, d, "orders").createOrReplaceTempView("q48_orders")
    s.sql(
      """SELECT c_custkey,
        |       (SELECT count(*) FROM q48_orders WHERE o_custkey = c_custkey) AS n_orders
        |FROM q48_customer ORDER BY c_custkey""".stripMargin)
  }

  private val q48Sql =
    """SELECT c_custkey,
      |       (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Pivot: order counts per market segment, one column per order status. */
  private def q49(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("c_mktsegment"))

  private val q49Sql =
    """SELECT c_mktsegment,
      |       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
      |       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
      |       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Recursive CTE (Spark 4 `WITH RECURSIVE`): 12 monthly compounding
    * steps seeded from an aggregate. */
  private def q50(s: SparkSession, d: String): DataFrame = {
    t(s, d, "region").createOrReplaceTempView("q50_region")
    s.sql(
      """WITH RECURSIVE series AS (
        |  SELECT 1 AS n, CAST((SELECT count(*) FROM q50_region) AS DOUBLE) AS v
        |  UNION ALL
        |  SELECT n + 1, v * 1.1 FROM series WHERE n < 12)
        |SELECT n, FLOOR(v * 100 + 0.5) / 100 AS v FROM series ORDER BY n""".stripMargin)
  }

  private val q50Sql =
    """WITH RECURSIVE series AS (
      |  SELECT 1 AS n, CAST((SELECT count(*) FROM region) AS DOUBLE) AS v
      |  UNION ALL
      |  SELECT n + 1, v * 1.1 FROM series WHERE n < 12)
      |SELECT n, FLOOR(v * 100 + 0.5) / 100 AS v FROM series ORDER BY n""".stripMargin

  /** LATERAL correlated subquery: top-2 orders per customer — the
    * per-row-subquery join form (planned as a lateral join). */
  private def q51(s: SparkSession, d: String): DataFrame = {
    t(s, d, "customer").createOrReplaceTempView("q51_customer")
    t(s, d, "orders").createOrReplaceTempView("q51_orders")
    s.sql(
      """SELECT c_custkey, o_orderkey, FLOOR(o_totalprice * 100 + 0.5) / 100 AS total
        |FROM q51_customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM q51_orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
        |ORDER BY c_custkey, total DESC, o_orderkey""".stripMargin)
  }

  private val q51Sql =
    """SELECT c_custkey, o_orderkey, FLOOR(o_totalprice * 100 + 0.5) / 100 AS total
      |FROM customer,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
      |ORDER BY c_custkey, total DESC, o_orderkey""".stripMargin

  /** Global top-k: Spark plans this as TakeOrderedAndProject (per-partition
    * top-k then a single merge — no full sort, no full shuffle). */
  private def q13(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total"))

  private val q13Sql =
    """SELECT o_orderkey, ROUND(o_totalprice, 2) AS total FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- set ops

  /** UNION ALL of two slices + dedup count per key. */
  private def q14(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      .union(c.filter(col("c_acctbal") > 5000).select(col("c_custkey")))
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("n_all"))
      .orderBy(col("c_custkey"))
  }

  private val q14Sql =
    """SELECT c_custkey, COUNT(*) AS n_all FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION ALL
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** INTERSECT (distinct semantics in both engines). */
  private def q15(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  private val q15Sql =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  /** EXCEPT (distinct semantics in both engines). */
  private def q16(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      .except(t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey")))
      .orderBy(col("c_custkey"))

  private val q16Sql =
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- aggs II

  /** Exact COUNT(DISTINCT) — expands to a two-phase distinct aggregate. */
  private def q17(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"))

  private val q17Sql =
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
      |       COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem""".stripMargin

  /** GROUP BY ROLLUP with explicit NULLS FIRST ordering (Spark's ASC default
    * is nulls-first, DuckDB's is nulls-last — pinned on both sides). */
  private def q18(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("acct"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)

  private val q18Sql =
    """SELECT r_name, n_name, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS acct
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** String aggregation (Exasol GROUP_CONCAT / ANSI LISTAGG): ordered,
    * separator-joined member list per group — Spark 4's native `listagg`
    * WITHIN GROUP, matched against DuckDB's STRING_AGG(… ORDER BY). */
  private def q54(s: SparkSession, d: String): DataFrame = {
    t(s, d, "region").createOrReplaceTempView("q54_region")
    t(s, d, "nation").createOrReplaceTempView("q54_nation")
    s.sql(
      """SELECT r_name,
        |       listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
        |       COUNT(*) AS n
        |FROM q54_region JOIN q54_nation ON r_regionkey = n_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
  }

  private val q54Sql =
    """SELECT r_name,
      |       STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
      |       COUNT(*) AS n
      |FROM region JOIN nation ON r_regionkey = n_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** ANSI FILTER-clause conditional aggregation — the idiomatic form of
    * sum(CASE WHEN …) pivoting, identical syntax in both engines. */
  private def q55(s: SparkSession, d: String): DataFrame = {
    t(s, d, "customer").createOrReplaceTempView("q55_customer")
    s.sql(
      """SELECT c_mktsegment,
        |       COUNT(*) AS n_all,
        |       COUNT(*) FILTER (WHERE c_acctbal > 0) AS n_pos,
        |       FLOOR(SUM(c_acctbal) FILTER (WHERE c_acctbal > 0) * 100 + 0.5) / 100 AS pos_bal,
        |       COUNT(*) FILTER (WHERE c_acctbal < 0) AS n_neg
        |FROM q55_customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  private val q55Sql =
    """SELECT c_mktsegment,
      |       COUNT(*) AS n_all,
      |       COUNT(*) FILTER (WHERE c_acctbal > 0) AS n_pos,
      |       FLOOR(SUM(c_acctbal) FILTER (WHERE c_acctbal > 0) * 100 + 0.5) / 100 AS pos_bal,
      |       COUNT(*) FILTER (WHERE c_acctbal < 0) AS n_neg
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Explicit GROUPING SETS with grouping() markers — the general form of
    * q18's rollup / q18b's cube. */
  private def q53(s: SparkSession, d: String): DataFrame = {
    t(s, d, "customer").createOrReplaceTempView("q53_customer")
    s.sql(
      """SELECT c_mktsegment, c_nationkey,
        |       CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
        |       CAST(GROUPING(c_nationkey) AS INTEGER) AS g_nat,
        |       COUNT(*) AS n
        |FROM q53_customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY g_seg, g_nat, c_mktsegment ASC NULLS FIRST,
        |         c_nationkey ASC NULLS FIRST""".stripMargin)
  }

  private val q53Sql =
    """SELECT c_mktsegment, c_nationkey,
      |       CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
      |       CAST(GROUPING(c_nationkey) AS INTEGER) AS g_nat,
      |       COUNT(*) AS n
      |FROM customer
      |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
      |ORDER BY g_seg, g_nat, c_mktsegment ASC NULLS FIRST,
      |         c_nationkey ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- scalars

  /** String functions, incl. the wrapper's log-level truncation rule
    * (>10 chars → first 7 + '...', query_wrapper.sql:73–75). */
  private def q19(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .select(
        col("c_custkey"),
        upper(substring(col("c_name"), 1, 5)).as("pfx"),
        length(col("c_name")).as("name_len"),
        concat(col("c_mktsegment"), lit("-"), col("c_name")).as("seg_name"),
        when(length(col("c_name")) > 10,
          concat(substring(col("c_name"), 1, 7), lit("...")))
          .otherwise(col("c_name")).as("trunc_name"))
      .orderBy(col("c_custkey"))

  private val q19Sql =
    """SELECT c_custkey,
      |       UPPER(SUBSTRING(c_name, 1, 5)) AS pfx,
      |       CAST(LENGTH(c_name) AS INTEGER) AS name_len,
      |       c_mktsegment || '-' || c_name AS seg_name,
      |       CASE WHEN LENGTH(c_name) > 10
      |            THEN SUBSTRING(c_name, 1, 7) || '...'
      |            ELSE c_name END AS trunc_name
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Extended string surface: reverse/repeat/pad/replace/translate/
    * levenshtein — the rest of the scalar string toolkit an ETL author
    * reaches for. */
  private def q19b(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation")
      .select(
        col("n_nationkey"),
        reverse(col("n_name")).as("rev"),
        repeat(substring(col("n_name"), 1, 2), 3).as("rep"),
        lpad(col("n_name"), 12, ".").as("lp"),
        rpad(col("n_name"), 12, "_").as("rp"),
        regexp_replace(col("n_name"), "[AEIOU]", "*").as("novowel"),
        translate(col("n_name"), "AEI", "xyz").as("tr"),
        levenshtein(col("n_name"), lit("UNITED STATES")).as("lev"))
      .orderBy(col("n_nationkey"))

  private val q19bSql =
    """SELECT n_nationkey,
      |       REVERSE(n_name) AS rev,
      |       REPEAT(SUBSTRING(n_name, 1, 2), 3) AS rep,
      |       LPAD(n_name, 12, '.') AS lp,
      |       RPAD(n_name, 12, '_') AS rp,
      |       REGEXP_REPLACE(n_name, '[AEIOU]', '*', 'g') AS novowel,
      |       TRANSLATE(n_name, 'AEI', 'xyz') AS tr,
      |       CAST(LEVENSHTEIN(n_name, 'UNITED STATES') AS INTEGER) AS lev
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** Date/time functions on shipdate (TO_TIMESTAMP / CURRENT_TIMESTAMP
    * family, query_wrapper.sql:98,170 — format dialect translated). */
  private def q20(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(
        year(col("l_shipdate")).as("yr"),
        month(col("l_shipdate")).as("mo"))
      .agg(
        count(lit(1)).as("n"),
        to_date(date_trunc("month", min(col("l_shipdate")))).as("first_day"))
      .orderBy(col("yr"), col("mo"))

  private val q20Sql =
    """SELECT CAST(YEAR(l_shipdate) AS INTEGER) AS yr,
      |       CAST(MONTH(l_shipdate) AS INTEGER) AS mo,
      |       COUNT(*) AS n,
      |       CAST(DATE_TRUNC('month', MIN(l_shipdate)) AS DATE) AS first_day
      |FROM lineitem GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  /** Extended datetime surface: quarter/dayofweek/last_day/date_add/
    * datediff (dialect-translated: Spark dayofweek is 1-based Sunday,
    * DuckDB dow is 0-based Sunday; Spark datediff(end, start) vs DuckDB
    * datediff('day', start, end)). */
  private def q20b(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        quarter(col("o_orderdate")).as("qtr"),
        dayofweek(col("o_orderdate")).as("dow1"),
        last_day(col("o_orderdate")).as("eom"),
        date_add(col("o_orderdate"), 30).as("due"),
        datediff(lit(java.sql.Date.valueOf("1998-12-31")), col("o_orderdate"))
          .as("age_days"))
      .orderBy(col("o_orderkey"))

  private val q20bSql =
    """SELECT o_orderkey,
      |       CAST(QUARTER(o_orderdate) AS INTEGER) AS qtr,
      |       CAST(DAYOFWEEK(o_orderdate) + 1 AS INTEGER) AS dow1,
      |       LAST_DAY(o_orderdate) AS eom,
      |       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due,
      |       CAST(DATEDIFF('day', o_orderdate, DATE '1998-12-31') AS INTEGER) AS age_days
      |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin

  /** Math functions (Spark ceil/floor return BIGINT; DuckDB's stay DOUBLE —
    * cast on the oracle side). */
  private def q21(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .select(
        col("p_partkey"),
        round(col("p_retailprice"), 1).as("r1"),
        ceil(col("p_retailprice")).as("ce"),
        floor(col("p_retailprice")).as("fl"),
        abs(col("p_size") - 25).as("ab"),
        (col("p_size") % 7).as("md"),
        round(sqrt(col("p_retailprice")), 4).as("sq"))
      .orderBy(col("p_partkey"))

  private val q21Sql =
    """SELECT p_partkey,
      |       ROUND(p_retailprice, 1) AS r1,
      |       CAST(CEIL(p_retailprice) AS BIGINT) AS ce,
      |       CAST(FLOOR(p_retailprice) AS BIGINT) AS fl,
      |       ABS(p_size - 25) AS ab,
      |       p_size % 7 AS md,
      |       ROUND(SQRT(p_retailprice), 4) AS sq
      |FROM part ORDER BY p_partkey""".stripMargin

  /** CASE WHEN / COALESCE / NULLIF / IS NULL (reference `is_null` semantics,
    * query_wrapper.sql:24–30 — a single SQL-null notion on the Spark side). */
  private def q22(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high").as("bal_class"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(none)")).as("seg2"),
        col("c_acctbal").isNull.as("bal_is_null"))
      .orderBy(col("c_custkey"))

  private val q22Sql =
    """SELECT c_custkey,
      |       CASE WHEN c_acctbal < 0 THEN 'neg'
      |            WHEN c_acctbal < 5000 THEN 'mid'
      |            ELSE 'high' END AS bal_class,
      |       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(none)') AS seg2,
      |       c_acctbal IS NULL AS bal_is_null
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- arrays+

  /** Array functions over the embedding column (size / element_at / aggregate
    * lambda for the L2 norm — all codegen-friendly higher-order functions). */
  private def q23(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(
        col("vec_id"),
        col("label"),
        size(col("embedding")).as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("first_val"),
        round(sqrt(expr(
          "aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")), 4)
          .as("l2_norm"))
      .orderBy(col("vec_id"))

  private val q23Sql =
    """SELECT vec_id, label,
      |       CAST(LEN(embedding) AS INTEGER) AS dim,
      |       ROUND(CAST(embedding[1] AS DOUBLE), 4) AS first_val,
      |       ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Gap-based sessionization (30-min inactivity) via lag + cumulative sum —
    * the batch analog of a streaming session window. */
  private def q24(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(cum))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  private val q24Sql =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR EPOCH_US(ts) - EPOCH_US(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id,
      |         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g)
      |SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Exact dedup: content-hash groupBy keeping the smallest doc_id.
    * At 100 TB this is the canonical one-shuffle dedup (hash-partition on the
    * digest, no sort). */
  private def q25(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("h"))

  private val q25Sql =
    """SELECT MD5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY h""".stripMargin

  /** Cosine top-5 per label centroid — see [[graft.ext.SimilarityOps]].
    * Centroid build is a single Summarizer.mean shuffle (one vector per
    * row); centroids broadcast; salted two-phase top-k. */
  private def q26(s: SparkSession, d: String): DataFrame =
    graft.ext.SimilarityOps.centroidTopK(t(s, d, "embeddings"), k = 5)

  private val q26Sql =
    """WITH pos AS (
      |  SELECT label, UNNEST(embedding) AS v,
      |         GENERATE_SUBSCRIPTS(embedding, 1) AS pos
      |  FROM embeddings),
      |cent AS (
      |  SELECT label AS c_label, LIST(cv ORDER BY pos) AS centroid FROM (
      |    SELECT label, pos, AVG(CAST(v AS DOUBLE)) AS cv
      |    FROM pos GROUP BY label, pos)
      |  GROUP BY label),
      |scored AS (
      |  SELECT c.c_label AS label, e.vec_id,
      |         LIST_COSINE_SIMILARITY(
      |           LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)),
      |           c.centroid) AS cos
      |  FROM embeddings e CROSS JOIN cent c),
      |ranked AS (
      |  SELECT label, vec_id, cos,
      |         ROW_NUMBER() OVER (PARTITION BY label
      |                            ORDER BY cos DESC, vec_id ASC) AS rk
      |  FROM scored)
      |SELECT label, CAST(rk AS INTEGER) AS rk, vec_id, ROUND(cos, 4) AS cosine
      |FROM ranked WHERE rk <= 5 ORDER BY label, rk""".stripMargin

  /** Token frequency: tokenize → explode → count → global top-20. */
  private def q27(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)

  private val q27Sql =
    """SELECT token, COUNT(*) AS n FROM (
      |  SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token FROM documents)
      |WHERE token <> '' GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin

  /** JSON field extraction from the events.props string column. */
  private def q27b(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))
      .orderBy(col("event_id"))

  private val q27bSql =
    """SELECT event_id, CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_val
      |FROM events ORDER BY event_id""".stripMargin

  /** JSON construction: to_json over a struct — the export half of the
    * JSON surface (compact key:value format identical across engines). */
  private def q43(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"))).as("j"))
      .orderBy(col("event_id"))

  private val q43Sql =
    """SELECT event_id,
      |       CAST(TO_JSON(STRUCT_PACK(event_id := event_id,
      |                                event_type := event_type)) AS VARCHAR) AS j
      |FROM events ORDER BY event_id""".stripMargin

  /** Schema'd JSON parsing: from_json with a declared struct schema (the
    * typed counterpart of q27b's path extraction). */
  private def q44(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))).getField("k").as("k_parsed"))
      .orderBy(col("event_id"))

  private val q44Sql =
    """SELECT event_id, CAST(JSON_EXTRACT(props, '$.k') AS INTEGER) AS k_parsed
      |FROM events ORDER BY event_id""".stripMargin

  /** Wrapper-style parameterized query: `::TAB` identifier splice +
    * `:UID` value binding (README.md:43–57 pattern), resolved pre-parse by
    * [[graft.wrapper.Params]] then run through `spark.sql(sql, args)`. */
  private def q28(s: SparkSession, d: String): DataFrame = {
    t(s, d, "events").createOrReplaceTempView("events")
    val sql =
      """SELECT event_type, COUNT(*) AS n FROM ::TAB
        |WHERE user_id < :UID GROUP BY event_type ORDER BY event_type""".stripMargin
    val spliced = graft.wrapper.Params.spliceIdentifiers(sql, Map("TAB" -> "events"))
    s.sql(spliced, Map[String, Any]("UID" -> 50L))
  }

  private val q28Sql =
    """SELECT event_type, COUNT(*) AS n FROM events
      |WHERE user_id < 50 GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Approximate COUNT(DISTINCT) via the bottom-k (KMV) sketch
    * ([[graft.functions.KmvDistinctAgg]]) — the sketch that replaces
    * q17's exact two-phase distinct at 100 TB (fixed ~8 KiB mergeable
    * partial state instead of a distinct shuffle). Unlike the r9 HLL++
    * spelling, the KMV estimate is deterministic exact-integer
    * arithmetic over portable md5-60-bit hashes, so this row is now a
    * hash-matched DuckDB oracle (`ORDER BY h LIMIT k` + one HUGEINT
    * division — r9 ask #5) on top of the QueriesSpec accuracy floor. */
  private def q17b(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HashFunctions.{kmvDistinct, md5Hash60}
    t(s, d, "lineitem").agg(
      kmvDistinct(md5Hash60(col("l_partkey")), 1024).as("n_parts_approx"),
      kmvDistinct(md5Hash60(col("l_suppkey")), 1024).as("n_supps_approx"))
  }

  /** The DuckDB spelling of [[graft.functions.KmvDistinctAgg.estimate]]
    * as a scalar subquery — ONE definition shared by every KMV oracle
    * (q17b, q73b), so the estimator can never silently diverge between
    * oracles (review r10 finding): distinct md5-60-bit hashes, bottom-k,
    * exact HUGEINT floor-division estimate. */
  private def kmvOracle(table: String, c: String, k: Int = 1024): String =
    s"""(WITH kh AS (SELECT DISTINCT CAST('0x' || SUBSTR(MD5(CAST($c AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |             FROM $table WHERE $c IS NOT NULL),
       |      ko AS (SELECT h FROM kh ORDER BY h LIMIT $k),
       |      ks AS (SELECT CAST(COUNT(*) AS BIGINT) AS c, MAX(h) AS hk FROM ko)
       | SELECT CASE WHEN c < $k THEN c
       |             ELSE CAST(${k - 1} * CAST(1152921504606846976 AS HUGEINT) // hk AS BIGINT) END
       | FROM ks)""".stripMargin

  private val q17bSql =
    s"SELECT ${kmvOracle("lineitem", "l_partkey")} AS n_parts_approx, " +
      s"${kmvOracle("lineitem", "l_suppkey")} AS n_supps_approx"

  /** GROUP BY CUBE — the full grouping-sets lattice (rollup's sibling). */
  private def q18b(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("acct"))
      .orderBy(col("r_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)

  private val q18bSql =
    """SELECT r_name, c_mktsegment, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS acct
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE(r_name, c_mktsegment)
      |ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------- wrapper + pipeline II

  /** Wrapper lifecycle exercised end-to-end as a declared query (§2D last
    * row): register → auto-logged counts incl. `::TAB`/`:MINKEY`
    * substitution → custom log level → finish; returns the deterministic
    * job_details projection (fixed injected clock). */
  private def q29(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("q29_log").toString
    val clock = () => java.time.Instant.parse("2026-01-02T03:04:05Z")
    val store = new graft.wrapper.LogStore(s, dir, clock)
    val w = graft.wrapper.QueryWrapper(s, Some(store), "q29_job", clock)
    t(s, d, "lineitem").createOrReplaceTempView("q29_lineitem")
    t(s, d, "orders").createOrReplaceTempView("q29_orders")
    w.query("SELECT count(*) FROM q29_lineitem")
    w.setParam("TAB", "q29_orders")
    w.setParam("MINKEY", 0L)
    w.query("SELECT count(*) FROM ::TAB WHERE o_orderkey > :MINKEY")
    w.log("MY_LOG", "lifecycle complete")
    w.finish()
    store.jobDetails
      .select(col("detail_id"), col("log_level"), col("log_message"), col("rowcount"))
      .orderBy(col("detail_id"))
  }

  /** MinHash+LSH near-dup candidates (bag-of-words shingles), verified by
    * exact Jaccard; top-20 most similar pairs under a total order. Same
    * plan shape as the library engine [[graft.ext.DedupOps.nearDupPairs]]
    * (signature → band buckets → in-bucket pairs with the maxBucket
    * guard → exact-Jaccard verification; planted-dup/pigeonhole specs in
    * DedupOpsSpec), but built PORTABLE so DuckDB rebuilds it and the row
    * hash-matches (VERDICT r10 #3, the q31 SimHash precedent): tokens
    * hash by md5-60 instead of xxhash64, the k = 64 permutations are the
    * XOR family (`min(h ⊕ c_j)`, c_j = md5_60("mhperm_j") — a bijection
    * per constant, SQL-expressible, native codegen'd
    * [[graft.functions.MinHashXorSignature]]), and band buckets key on
    * the raw 8-long signature slice rather than its xxhash64 (exact
    * slice equality — same collision semantics, no engine-specific
    * hash). Pair sets are order-normalized (least/greatest + distinct),
    * so bucket-array ordering differences between engines can't leak. */
  private def q30(s: SparkSession, d: String): DataFrame = {
    // the portable lane lives in DedupOps (extracted r11-late so q30 and
    // the q173 funnel share ONE spelling of the candidate pipeline)
    val hashed = graft.ext.DedupOps.portableHashedTokens(
      t(s, d, "documents"), "doc_id", "text")
    graft.ext.DedupOps.portableCandidatePairs(hashed)
      .join(hashed.select(col("id").as("id1"), col("hs").as("s1")), "id1")
      .join(hashed.select(col("id").as("id2"), col("hs").as("s2")), "id2")
      .select(col("id1"), col("id2"),
        (floor(graft.ext.DedupOps.jaccard(col("s1"), col("s2")) * 10000
          + lit(0.5)) / 10000).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id1"), col("id2"))
      .limit(20)
  }

  /** The portable MinHash candidate pipeline as standalone DuckDB CTE
    * text, parameterized by the source relation — ONE spelling shared
    * by the q30 and q173 oracles, mirroring
    * [[graft.ext.DedupOps.portableHashedTokens]] +
    * [[graft.ext.DedupOps.portableCandidatePairs]] (md5-60 token
    * hashes, XOR-family signatures, slice-keyed band buckets with the
    * 2..64 guard, in-bucket normalized pairs). Emits CTEs
    * tok/h/hs/perm/sig/band/bucket/pairs; `hs` (id → distinct hash
    * list) is what verification joins against. */
  private def portableMinhashCtes(source: String): String =
    s"""tok AS (
       |  SELECT DISTINCT doc_id AS id,
       |         UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
       |                            t -> LEN(t) > 0)) AS t
       |  FROM $source),
       |h AS (SELECT id, CAST('0x' || SUBSTR(MD5(t), 1, 15) AS BIGINT) AS h
       |      FROM tok),
       |hs AS (SELECT id, LIST(DISTINCT h) AS hs FROM h GROUP BY 1),
       |perm AS (SELECT j,
       |                CAST('0x' || SUBSTR(MD5('mhperm_' || j), 1, 15)
       |                     AS BIGINT) AS c
       |         FROM (SELECT UNNEST(RANGE(0, 64)) AS j)),
       |sig AS (SELECT h.id, perm.j, MIN(XOR(h.h, perm.c)) AS m
       |        FROM h CROSS JOIN perm GROUP BY 1, 2),
       |band AS (SELECT id, j // 8 AS band, LIST(m ORDER BY j) AS key
       |         FROM sig GROUP BY 1, 2),
       |bucket AS (SELECT band, key, LIST(id) AS ids
       |           FROM band GROUP BY 1, 2
       |           HAVING COUNT(*) BETWEEN 2 AND 64),
       |pairs AS (SELECT DISTINCT LEAST(a, b) AS id1, GREATEST(a, b) AS id2
       |          FROM bucket, UNNEST(ids) u1(a), UNNEST(ids) u2(b)
       |          WHERE a <> b)""".stripMargin

  /** DuckDB rebuild of the whole portable MinHash-LSH pipeline
    * ([[portableMinhashCtes]]) plus the exact hashed-set Jaccard with
    * the FLOOR half-up rounding. */
  private val q30Sql =
    s"WITH ${portableMinhashCtes("documents")}\n" +
    """SELECT p.id1, p.id2,
      |       FLOOR(CAST(LEN(LIST_INTERSECT(h1.hs, h2.hs)) AS DOUBLE)
      |             / LEN(LIST_DISTINCT(LIST_CONCAT(h1.hs, h2.hs)))
      |             * 10000 + 0.5) / 10000 AS jaccard
      |FROM pairs p
      |JOIN hs h1 ON h1.id = p.id1
      |JOIN hs h2 ON h2.id = p.id2
      |ORDER BY jaccard DESC, id1, id2 LIMIT 20""".stripMargin

  /** 64-bit SimHash fingerprint per document — per-token sign votes
    * packed by the native codegen'd [[graft.functions.SimHash64]]
    * expression, fed PORTABLE md5-60-bit token hashes
    * ([[graft.functions.HashFunctions.md5Hash60]]) so the fingerprint
    * is engine-reproducible: DuckDB rebuilds the identical votes in SQL
    * and the row hash-matches (r9 ask #5 — previously `no_oracle` under
    * xxhash64, which no other engine implements). Hash bits 60–63 are
    * always 0, so those fingerprint positions vote all-negative and
    * pack 0 on both engines; NULL text → NULL fingerprint, zero tokens
    * → fingerprint 0. The xxhash64 fast path remains the engine for
    * [[graft.ext.DedupOps.simhashPairs]]/q30 (planted-dup +
    * pigeonhole-property specs in DedupOpsSpec). */
  private def q31(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    docs.select(col("doc_id"),
        transform(graft.ext.DedupOps.wordTokens(col("text")),
          t => graft.functions.HashFunctions.md5Hash60(t)).as("hs"))
      .select(col("doc_id"), graft.ext.DedupOps.simhashExpr("hs").as("simhash"))
      .orderBy(col("doc_id"))
  }

  private val q31Sql =
    """WITH tok AS (
      |  SELECT doc_id,
      |         UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                            t -> LEN(t) > 0)) AS t
      |  FROM documents),
      |h AS (SELECT doc_id,
      |             CAST('0x' || SUBSTR(MD5(t), 1, 15) AS BIGINT) AS h
      |      FROM tok),
      |v AS (SELECT doc_id, j.j,
      |             SUM(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |      FROM h CROSS JOIN (SELECT UNNEST(RANGE(0, 60)) AS j) j
      |      GROUP BY 1, 2),
      |fp AS (SELECT doc_id,
      |              CAST(SUM(CASE WHEN s > 0
      |                            THEN (CAST(1 AS BIGINT) << j)
      |                            ELSE 0 END) AS BIGINT) AS fp
      |       FROM v GROUP BY 1)
      |SELECT d.doc_id,
      |       CASE WHEN d.text IS NULL THEN NULL
      |            ELSE COALESCE(fp.fp, 0) END AS simhash
      |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Character-set Jaccard for all pairs among doc_id < 25 — matches
    * DuckDB's JACCARD() semantics exactly, giving the near-dup family an
    * oracle-checked member. */
  private def q32(s: SparkSession, d: String): DataFrame = {
    val small = t(s, d, "documents").filter(col("doc_id") < 25)
      .select(col("doc_id"), array_distinct(split(col("text"), "")).as("cs"))
    small.as("a").join(broadcast(small.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        round(graft.ext.DedupOps.jaccard(col("a.cs"), col("b.cs")), 4).as("jac"))
      .orderBy(col("id1"), col("id2"))
  }

  private val q32Sql =
    """SELECT a.doc_id AS id1, b.doc_id AS id2, ROUND(JACCARD(a.text, b.text), 4) AS jac
      |FROM documents a JOIN documents b
      |  ON a.doc_id < b.doc_id AND a.doc_id < 25 AND b.doc_id < 25
      |ORDER BY id1, id2""".stripMargin

  /** Stopword-overlap language ID — [[graft.ext.TextOps.langScores]]. */
  private def q33(s: SparkSession, d: String): DataFrame =
    graft.ext.TextOps.langScores(t(s, d, "documents")).orderBy(col("doc_id"))

  private val q33Sql = {
    def hits(l: String) = {
      val list = graft.ext.TextOps.stopwords(l).map("'" + _ + "'").mkString("[", ", ", "]")
      s"CAST(LEN(LIST_INTERSECT(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0), $list)) AS INTEGER)"
    }
    s"""SELECT doc_id, ${hits("en")} AS en_hits, ${hits("de")} AS de_hits,
       |       ${hits("fr")} AS fr_hits, ${hits("es")} AS es_hits,
       |       CASE WHEN ${hits("en")} >= GREATEST(${hits("de")}, ${hits("fr")}, ${hits("es")}) THEN 'en'
       |            WHEN ${hits("de")} >= GREATEST(${hits("fr")}, ${hits("es")}) THEN 'de'
       |            WHEN ${hits("fr")} >= ${hits("es")} THEN 'fr'
       |            ELSE 'es' END AS guessed_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Cheap quality pre-filter features — [[graft.ext.TextOps.qualityFeatures]]. */
  private def q34(s: SparkSession, d: String): DataFrame =
    graft.ext.TextOps.qualityFeatures(t(s, d, "documents")).orderBy(col("doc_id"))

  private val q34Sql = {
    val stops = graft.ext.TextOps.stopwords("en").map("'" + _ + "'").mkString("[", ", ", "]")
    s"""WITH f AS (
       |  SELECT doc_id,
       |         CAST(LENGTH(text) AS INTEGER) AS n_chars,
       |         CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS INTEGER) AS n_tokens,
       |         CAST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?,;:]')) AS INTEGER) AS n_punct,
       |         CAST(LEN(LIST_FILTER(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0),
       |                              t -> LIST_CONTAINS($stops, t))) AS INTEGER) AS n_stop
       |  FROM documents)
       |SELECT doc_id, n_chars, n_tokens, n_punct, n_stop,
       |       FLOOR(CAST(n_stop AS DOUBLE) / GREATEST(n_tokens, 1) * 10000 + 0.5) / 10000 AS stop_ratio,
       |       FLOOR(LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) *
       |             (0.5 + CAST(n_stop AS DOUBLE) / GREATEST(n_tokens, 1) / 2.0) * 10000 + 0.5) / 10000 AS quality
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Whitespace vs BPE-ish token counting — [[graft.ext.TextOps.tokenCounts]]. */
  private def q35(s: SparkSession, d: String): DataFrame =
    graft.ext.TextOps.tokenCounts(t(s, d, "documents")).orderBy(col("doc_id"))

  private val q35Sql =
    """SELECT doc_id,
      |       CAST(LENGTH(text) AS INTEGER) AS n_chars,
      |       CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS INTEGER) AS ws_tokens,
      |       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Rolling-hash document fingerprint — engine-independent arithmetic
    * (base-31 polynomial mod 1e9+7), so it oracle-checks exactly. */
  private def q36(s: SparkSession, d: String): DataFrame =
    fanOut(t(s, d, "documents"))
      .select(col("doc_id"),
        graft.ext.TextOps.rollingFingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  private val q36Sql =
    """SELECT doc_id,
      |       LIST_REDUCE(LIST_TRANSFORM(STRING_SPLIT(text, ''), c -> CAST(ORD(c) AS BIGINT)),
      |                   (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Brute-force cosine top-10 for a broadcast query set — the exact ANN
    * baseline ([[graft.ext.SimilarityOps.bruteForceKnn]]). */
  private def q37(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    graft.ext.SimilarityOps.bruteForceKnn(emb, emb.filter(col("vec_id") <= 4), k = 10)
  }

  private val q37Sql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id <= 4),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |         LIST_COSINE_SIMILARITY(
      |           LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)),
      |           LIST_TRANSFORM(q.qe, x -> CAST(x AS DOUBLE))) AS cos
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
      |r AS (SELECT query_id, vec_id, cos,
      |             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
      |      FROM scored)
      |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id, ROUND(cos, 4) AS cosine
      |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** LSH-bucketed approximate KNN (the scale path; recall measured in
    * SimilarityOpsSpec against the brute-force baseline). Runs the
    * PORTABLE plane lane (md5-derived ±1 hyperplanes, integer-exact sign
    * bits — [[graft.ext.SimilarityOps.lshBucketPortable]]) so the DuckDB
    * oracle rebuilds bucketing, candidate join, and exact-cosine top-k
    * verbatim; the xxhash64 lane stays the throughput default and keeps
    * its recall spec. */
  private def q38(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    // tables=2: OR-combined independent plane sets (multi-table LSH) —
    // 2x bucketing cost for strictly higher recall.
    graft.ext.SimilarityOps.lshKnn(
      emb, emb.filter(col("vec_id") <= 4), k = 10, tables = 2,
      portable = true)
  }

  /** The q38 oracle re-derives the ±1 plane matrix from md5 exactly as
    * [[graft.ext.SimilarityOps.projectionSigns]] does (global plane index
    * g = tbl·8 + bit under seed `lshp`), quantizes each embedding
    * component to integer micro-units, and packs the exact-integer sign
    * bits — so bucket keys match bit-for-bit; candidates, cosines, and
    * ranks then follow the proven q37 spelling. */
  /** The md5 ±1 plane derivation + integer micro-quantized signed sums
    * shared by the q38/q42 oracles — one spelling of the
    * [[graft.ext.SimilarityOps.lshBucketPortable]] arithmetic; only the
    * bucket-packing CTE (`b`) differs (multi-table split vs single). */
  private def lshPlaneCtes(nPlanes: Int): String =
    s"""dims AS (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS i),
       |gs AS (SELECT UNNEST(GENERATE_SERIES(0, ${nPlanes - 1})) AS g),
       |s AS (SELECT g, i,
       |        CASE WHEN SUBSTR(MD5('lshp_' || g || '_' || i), 1, 1) < '8'
       |             THEN 1 ELSE -1 END AS sgn FROM gs, dims),
       |e AS (SELECT vec_id, i,
       |        CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
       |      FROM embeddings, dims),
       |d AS (SELECT vec_id, g, SUM(q * sgn) AS dp FROM e JOIN s USING (i) GROUP BY 1, 2)""".stripMargin

  private val q38Sql =
    s"""WITH ${lshPlaneCtes(16)},
      |b AS (SELECT vec_id, g // 8 AS tbl,
      |        SUM(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << (g % 8)) ELSE 0 END) AS bucket
      |      FROM d GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id
      |         FROM b cb JOIN b qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
      |         WHERE qb.vec_id <= 4 AND cb.vec_id <> qb.vec_id),
      |scored AS (
      |  SELECT cand.query_id, cand.vec_id,
      |         LIST_COSINE_SIMILARITY(
      |           LIST_TRANSFORM(e1.embedding, x -> CAST(x AS DOUBLE)),
      |           LIST_TRANSFORM(e2.embedding, x -> CAST(x AS DOUBLE))) AS cos
      |  FROM cand JOIN embeddings e1 ON e1.vec_id = cand.vec_id
      |            JOIN embeddings e2 ON e2.vec_id = cand.query_id),
      |r AS (SELECT query_id, vec_id, cos,
      |             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
      |      FROM scored)
      |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id, ROUND(cos, 4) AS cosine
      |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** Band (interval) join via [[graft.operators.RangeJoin.band]]: purchases
    * within ±1 hour of each click, per user — bucketized hash join (one
    * shuffle), never a nested loop. Times compared in integer microseconds
    * (< 2^53, exact in double) so the boundary agrees bit-for-bit with the
    * oracle's integer EPOCH_US arithmetic. */
  private def q56(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("lt"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("rt"), col("value"))
    graft.operators.RangeJoin.band(
      clicks, purchases, Seq("user_id"), "lt", "rt", delta = 3.6e9)
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        round2(sum(col("value"))).as("sum_value"))
      .orderBy(col("event_id"))
  }

  private val q56Sql =
    """SELECT c.event_id, c.user_id,
      |       COUNT(*) AS n_purchases,
      |       FLOOR(SUM(p.value) * 100 + 0.5) / 100 AS sum_value
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND p.event_type = 'purchase'
      | AND abs(EPOCH_US(c.ts) - EPOCH_US(p.ts)) <= 3600000000
      |WHERE c.event_type = 'click'
      |GROUP BY c.event_id, c.user_id
      |ORDER BY c.event_id""".stripMargin

  /** Token-bounded document chunking with overlap
    * ([[graft.ext.TextOps.chunk]]) — pre-tokenization windowing for a
    * pretraining pipeline; pure projection + posexplode, a scan at 100 TB. */
  private def q57(s: SparkSession, d: String): DataFrame =
    graft.ext.TextOps.chunk(t(s, d, "documents"), maxTokens = 50, overlap = 10)
      .orderBy(col("doc_id"), col("chunk_id"))

  private val q57Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, i AS chunk_id,
      |         list_slice(toks, i * 40 + 1, i * 40 + 50) AS chunk_toks
      |  FROM t, UNNEST(range(0, GREATEST(CAST(CEIL((len(toks) - 10) / 40.0) AS BIGINT), 1))) AS u(i))
      |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
      |       CAST(len(chunk_toks) AS INTEGER) AS n_chunk_tokens,
      |       array_to_string(chunk_toks, ' ') AS chunk
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Multimodal metadata over the binary payload: byte length, content
    * digest, first byte — the decode-free part, exactly oracle-checkable. */
  private def q39(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text").cast("binary")).as("digest"),
        ascii(substring(col("text"), 1, 1)).as("first_byte"))
      .orderBy(col("doc_id"))

  private val q39Sql =
    """SELECT doc_id,
      |       CAST(OCTET_LENGTH(ENCODE(text)) AS INTEGER) AS n_bytes,
      |       MD5(text) AS digest,
      |       CAST(ORD(LEFT(text, 1)) AS INTEGER) AS first_byte
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Backward as-of join ([[graft.operators.AsOfJoin]]): for each event,
    * the user's latest purchase value at-or-before its timestamp — oracled
    * against DuckDB's native ASOF LEFT JOIN. Uses the SALTED variant:
    * the running window partitions by (user_id, day-bucket) with a tiny
    * cross-bucket carry pass, so a hot user (one key holding most of the
    * table at 100 TB) never serializes a single reducer. */
  private def q40(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("pval"))
    graft.operators.AsOfJoin.backwardSalted(
      ev, purchases, Seq("user_id"), "ts", "ts", Seq("pval"),
      bucket = _.cast("date"))
      .select(col("event_id"), col("user_id"),
        (floor(col("pval") * 100 + lit(0.5)) / 100).as("last_purchase"))
      .orderBy(col("event_id"))
  }

  private val q40Sql =
    """WITH p AS (
      |  SELECT user_id, ts, MAX(value) AS pval FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id,
      |       FLOOR(p.pval * 100 + 0.5) / 100 AS last_purchase
      |FROM events e ASOF LEFT JOIN p
      |  ON e.user_id = p.user_id AND e.ts >= p.ts
      |ORDER BY e.event_id""".stripMargin

  /** IVF approximate KNN (inverted-file cells from deterministic
    * k-means-lite; queries probe their nearest cells only) — the second
    * ANN scale path beside q38's LSH. Uses the persisted [[graft.ext.IvfIndex]]
    * the way a deployment does: build ONCE per corpus (cached per dataset
    * dir), then every query reads only the probed cell partitions. */
  private def q41(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    graft.ext.IvfIndex.query(
      s, ivfIndexDir(s, d), emb.filter(col("vec_id") <= 4), k = 10, nProbe = 4)
  }

  /** The q41 oracle unrolls the ENTIRE pipeline — portable k-means
    * training (md5 seeds, 2 exact-integer Lloyd rounds on micro-unit
    * quantized vectors, re-quantized means — [[graft.ext.SimilarityOps
    * .kmeansCentroids]] r12), the build-time corpus assignment, probe
    * selection, and candidate scoring — as CTEs, the q117 fixed-iteration
    * precedent. Every decision point (seed pick, cell argmax) is either
    * exact-integer or 4dp-rounded with an explicit tie-break, so DuckDB
    * reproduces the index bit-for-bit; double cosines are sequential
    * list folds with IDENTICAL inputs on both engines, so ranks agree.
    * Spelling notes: training cosine is `qc/SQRT(qq*cc)` (one sqrt of
    * the product); the double stages are `dot/(SQRT(aa)*SQRT(bb))` —
    * each mirrors its Spark expression shape exactly. */
  /** Kmeans assignment round for the coarse oracle: integer-dot cosine
    * (`qc/SQRT(qq·cc)`, exact micro-unit longs), 4dp-rounded, lowest-cell
    * tie-break — [[graft.ext.SimilarityOps.kmeansCentroids]] spelling. */
  private def ivfAssignCte(cb: String, out: String): String =
    s"""$out AS (SELECT vec_id, qv, cell,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id
       |                ORDER BY cos4 DESC, cell) AS rn
       |       FROM (SELECT q.vec_id, q.qv, c.cell,
       |               FLOOR(CASE WHEN list_dot_product(q.qv, q.qv) = 0
       |                            OR list_dot_product(c.cq, c.cq) = 0 THEN 0
       |                     ELSE list_dot_product(q.qv, c.cq) /
       |                          SQRT(list_dot_product(q.qv, q.qv) *
       |                               list_dot_product(c.cq, c.cq)) END
       |                     * 10000 + 0.5) / 10000 AS cos4
       |             FROM q CROSS JOIN $cb c) s)""".stripMargin

  private def ivfMeansCte(a: String, m: String, out: String): String =
    s"""$m AS (SELECT a.cell, d.i,
       |              CAST(FLOOR(CAST(SUM(a.qv[d.i + 1]) AS DOUBLE) / COUNT(*) + 0.5)
       |                   AS BIGINT) AS cm
       |       FROM (SELECT cell, qv FROM $a WHERE rn = 1) a, dims d
       |       GROUP BY 1, 2),
       |$out AS (SELECT cell, LIST(cm ORDER BY i) AS cq FROM $m GROUP BY cell)""".stripMargin

  /** The coarse IVF training + final corpus assignment as CTEs, shared by
    * the q41/q103/q166b oracles: md5 seeds, 2 exact-integer Lloyd rounds,
    * centroid doubles `cd`, and the 4dp-argmax `cells` assignment.
    * VALIDITY BOUND: hard-codes the 16-seed build (`kseeds LIMIT 16`),
    * which matches `ivfIndexDir`'s build only while the corpus holds
    * ≤ 10k vectors — beyond that the Spark lane switches to
    * `recommendedCells (≈ √N)` and these oracles would hash-mismatch.
    * The driver's oracle gate runs at sf0.01/sf0.001 (≤ 2k vectors),
    * well inside the bound; a larger oracle fixture needs the seed
    * LIMIT parameterized to match. */
  private val ivfCoarseCtes =
    s"""dims AS (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS i),
       |q AS (SELECT vec_id,
       |        LIST_TRANSFORM(embedding,
       |          x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
       |      FROM embeddings),
       |kseeds AS (SELECT vec_id, qv FROM q
       |          ORDER BY CAST('0x' || SUBSTR(MD5('kmseed_' || vec_id), 1, 15) AS BIGINT),
       |                   vec_id
       |          LIMIT 16),
       |kc0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |              qv AS cq
       |       FROM kseeds),
       |${ivfAssignCte("kc0", "ka1")},
       |${ivfMeansCte("ka1", "km1", "kc1")},
       |${ivfAssignCte("kc1", "ka2")},
       |${ivfMeansCte("ka2", "km2", "kc2")},
       |cd AS (SELECT cell,
       |              LIST_TRANSFORM(cq, x -> CAST(x AS DOUBLE) / 1000000) AS cd
       |       FROM kc2),
       |e AS (SELECT vec_id,
       |        LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS vd
       |      FROM embeddings),
       |asg AS (SELECT vec_id, vd, cell,
       |               ROW_NUMBER() OVER (PARTITION BY vec_id
       |                 ORDER BY cos4 DESC, cell) AS rn
       |        FROM (SELECT e.vec_id, e.vd, c.cell,
       |                FLOOR(list_dot_product(e.vd, c.cd) /
       |                      (SQRT(list_dot_product(e.vd, e.vd)) *
       |                       SQRT(list_dot_product(c.cd, c.cd)))
       |                      * 10000 + 0.5) / 10000 AS cos4
       |              FROM e CROSS JOIN cd c) s),
       |cells AS (SELECT vec_id, vd, cell FROM asg WHERE rn = 1)""".stripMargin

  /** Probe-selection CTE shared by the q41/q166b oracles: per-query
    * unrounded-cosine rank over the coarse centroids (lowest-cell ties),
    * top `nProbe`; `pred` filters the query side ("" = every vector). */
  private def ivfProbesCte(pred: String, nProbe: Int): String =
    s"""probes AS (SELECT query_id, qvec, cell FROM (
       |             SELECT e.vec_id AS query_id, e.vd AS qvec, c.cell,
       |                    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |                      list_dot_product(e.vd, c.cd) /
       |                        (SQRT(list_dot_product(e.vd, e.vd)) *
       |                         SQRT(list_dot_product(c.cd, c.cd))) DESC,
       |                      c.cell) AS pr
       |             FROM e CROSS JOIN cd c$pred) p
       |           WHERE pr <= $nProbe)""".stripMargin

  /** Candidate-scoring CTE shared by the q41/q166b oracles: postings in
    * probed cells, self excluded, exact double cosine in the batchQuery
    * argument order. */
  private def ivfScoredCte(out: String): String =
    s"""$out AS (SELECT p.query_id, t.vec_id,
       |                  list_dot_product(t.vd, p.qvec) /
       |                    (SQRT(list_dot_product(t.vd, t.vd)) *
       |                     SQRT(list_dot_product(p.qvec, p.qvec))) AS cos
       |           FROM probes p JOIN cells t
       |             ON t.cell = p.cell AND t.vec_id <> p.query_id)""".stripMargin

  private val q41Sql =
    s"""WITH $ivfCoarseCtes,
      |${ivfProbesCte(" WHERE e.vec_id <= 4", 4)},
      |${ivfScoredCte("scored")},
      |r AS (SELECT query_id, vec_id, cos,
      |             ROW_NUMBER() OVER (PARTITION BY query_id
      |               ORDER BY cos DESC, vec_id) AS rk
      |      FROM scored)
      |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id, ROUND(cos, 4) AS cosine
      |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  // One index build per (dataset dir + content fingerprint, JVM); keyed
  // cache under java.io.tmpdir. The fingerprint (XOR of the source files'
  // length^mtime) invalidates the on-disk index when the dataset at the
  // same path is regenerated; the v-tag invalidates when build semantics
  // change.
  private val ivfCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Embeddings row count per (dataset dir + content fingerprint, JVM) —
    * the q166 scale-branch decision and the q41 cell-sizing both need it,
    * and re-counting a fixed corpus on every invocation (every bench
    * pass, determinism run, oracle drive) is a redundant scan. Same
    * fingerprint discipline as the index caches. */
  private val embCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Shared content fingerprint of the embeddings source (XOR-fold of the
    * files' length^mtime, seeded by the dir) — the ONE invalidation rule
    * for every per-dataset cache keyed on it (index dirs, row counts). */
  private def embFingerprint(s: SparkSession, d: String): Long = {
    val src = new org.apache.hadoop.fs.Path(s"$d/embeddings.parquet")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(src)
      .map(st => st.getLen ^ st.getModificationTime)
      .foldLeft(d.hashCode.toLong)(_ ^ _)
  }

  private def embeddingsCount(s: SparkSession, d: String): Long =
    embCountCache.computeIfAbsent(s"$d#${embFingerprint(s, d)}",
      _ => t(s, d, "embeddings").count())

  private def ivfIndexDir(s: SparkSession, d: String): String = {
    val fingerprint = embFingerprint(s, d)
    ivfCache.computeIfAbsent(s"$d#$fingerprint", _ => {
      val dir = System.getProperty("java.io.tmpdir") +
        s"/graft_ivf_v3_${java.lang.Long.toHexString(fingerprint)}"
      // The _SUCCESS check and the build target must resolve through the
      // SAME filesystem: IvfIndex.build writes this scheme-less path via
      // the default Hadoop FS, which on a cluster is not file:// — a
      // java.io.File check there never sees the written index and the
      // rebuild guard misfires (r3 ADVICE).
      val marker = new org.apache.hadoop.fs.Path(s"$dir/cells/_SUCCESS")
      val mfs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!mfs.exists(marker)) {
        // Cell-count scaling contract (r11): the fixture scales keep the
        // spec-pinned 16; beyond 10k vectors the index adopts
        // recommendedCells (≈ √N) so batchQuery's cell-keyed shuffle —
        // whose reducer parallelism is bounded by the cell count — and
        // the per-cell probe cost both scale with the corpus.
        val emb = t(s, d, "embeddings")
        val n = embeddingsCount(s, d)
        val cells =
          if (n <= 10000L) 16 else graft.ext.IvfIndex.recommendedCells(n)
        graft.ext.IvfIndex.build(s, emb, dir, nCells = cells, iters = 2)
      }
      dir
    })
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets + exact cosine
    * verification — the embedding flavor of the dedup family. Threshold 0
    * with top-20 keeps the output non-empty on corpora without true dups.
    * Portable md5 planes (q38's lane, single table of 12 bits) so the
    * bucket→pair→verify pipeline is DuckDB-reproducible end to end. */
  private def q42(s: SparkSession, d: String): DataFrame =
    graft.ext.DedupOps.embeddingNearDups(
      t(s, d, "embeddings"), minCosine = 0.0, portable = true).limit(20)

  /** Same plane derivation as q38Sql (single table, g = 0..11), then the
    * bucketed pair join with the ≤64 degenerate-bucket guard and the
    * round-before-threshold cosine — embeddingNearDups verbatim. */
  private val q42Sql =
    s"""WITH ${lshPlaneCtes(12)},
      |b AS (SELECT vec_id,
      |        SUM(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << g) ELSE 0 END) AS bucket
      |      FROM d GROUP BY 1),
      |sz AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY 1),
      |pairs AS (SELECT a.vec_id AS id1, c.vec_id AS id2
      |          FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      |          JOIN sz ON sz.bucket = a.bucket
      |          WHERE sz.n BETWEEN 2 AND 64),
      |scored AS (SELECT DISTINCT id1, id2,
      |        ROUND(LIST_COSINE_SIMILARITY(
      |          LIST_TRANSFORM(e1.embedding, x -> CAST(x AS DOUBLE)),
      |          LIST_TRANSFORM(e2.embedding, x -> CAST(x AS DOUBLE))), 4) AS cosine
      |  FROM pairs JOIN embeddings e1 ON e1.vec_id = pairs.id1
      |             JOIN embeddings e2 ON e2.vec_id = pairs.id2)
      |SELECT id1, id2, cosine FROM scored
      |WHERE cosine >= 0.0
      |ORDER BY cosine DESC, id1, id2 LIMIT 20""".stripMargin

  /** Stubbed decode through the real mapPartitions harness
    * ([[graft.ext.MultimodalOps.decodeFeatures]]): typed schema, per-row
    * deterministic fake features. */
  private def q39b(s: SparkSession, d: String): DataFrame = {
    val media = graft.ext.MultimodalOps.asMedia(t(s, d, "documents"))
    graft.ext.MultimodalOps.decodeFeatures(media).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        round(element_at(col("features"), 1).cast("double"), 4).as("f0"))
      .orderBy(col("doc_id"))
  }

  /** CONNECT BY hierarchical query (B10c) oracle-checked end-to-end: the
    * region→nation two-level hierarchy runs through the WRAPPER's Exasol
    * dialect (START WITH / CONNECT BY / LEVEL / CONNECT_BY_ROOT /
    * SYS_CONNECT_BY_PATH / CONNECT_BY_ISLEAF → recursive CTE), and DuckDB
    * answers the equivalent WITH RECURSIVE directly. */
  private def q58(s: SparkSession, d: String): DataFrame = {
    t(s, d, "region")
      .select(col("r_regionkey").as("id"),
        lit(null).cast("long").as("parent"), col("r_name").as("name"))
      .unionByName(t(s, d, "nation")
        .select((col("n_nationkey") + 100).as("id"),
          col("n_regionkey").as("parent"), col("n_name").as("name")))
      .createOrReplaceTempView("q58_hier")
    val w = graft.wrapper.QueryWrapper(s)
    val (ok, res) = w.query(
      """SELECT id, name, LEVEL AS lvl, SYS_CONNECT_BY_PATH(name, '/') AS pth,
        |       CONNECT_BY_ROOT name AS root_name, CONNECT_BY_ISLEAF AS isleaf
        |FROM q58_hier
        |START WITH parent IS NULL
        |CONNECT BY PRIOR id = parent""".stripMargin)
    require(ok, res.errorMessage)
    res.dataFrame.get.orderBy(col("id"))
  }

  private val q58Sql =
    """WITH RECURSIVE hier AS (
      |  SELECT r_regionkey AS id, CAST(NULL AS BIGINT) AS parent, r_name AS name FROM region
      |  UNION ALL
      |  SELECT n_nationkey + 100 AS id, n_regionkey AS parent, n_name AS name FROM nation
      |), h AS (
      |  SELECT id, name, 1 AS lvl, '/' || name AS pth, name AS root_name
      |  FROM hier WHERE parent IS NULL
      |  UNION ALL
      |  SELECT c.id, c.name, h.lvl + 1, h.pth || '/' || c.name, h.root_name
      |  FROM hier c JOIN h ON c.parent = h.id
      |)
      |SELECT h.id, h.name, h.lvl, h.pth, h.root_name,
      |       CASE WHEN k.parent IS NULL THEN 1 ELSE 0 END AS isleaf
      |FROM h LEFT JOIN (SELECT DISTINCT parent FROM hier WHERE parent IS NOT NULL) k
      |  ON k.parent = h.id
      |ORDER BY h.id""".stripMargin

  /** GROUP_CONCAT dialect spelling (B10e) oracle-checked end-to-end: the
    * wrapper rewrites it to native listagg; DuckDB aggregates the same
    * sorted-distinct concatenation from a list. */
  private def q59(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders").createOrReplaceTempView("q59_orders")
    t(s, d, "customer").createOrReplaceTempView("q59_customer")
    val w = graft.wrapper.QueryWrapper(s)
    val (ok, res) = w.query(
      """SELECT c_mktsegment,
        |       GROUP_CONCAT(DISTINCT o_orderstatus ORDER BY o_orderstatus SEPARATOR '|') AS statuses,
        |       COUNT(*) AS n
        |FROM q59_orders JOIN q59_customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    require(ok, res.errorMessage)
    res.dataFrame.get
  }

  private val q59Sql =
    """SELECT c_mktsegment,
      |       array_to_string(list_sort(list_distinct(list(o_orderstatus))), '|') AS statuses,
      |       COUNT(*) AS n
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Deterministic train/val/test split ([[graft.ext.SplitOps]]): the
    * assignment is a pure function of doc_id (Fibonacci hashing in plain
    * int64 arithmetic), so the EXACT same rows land in the same split on
    * any engine — which is precisely what the oracle verifies. */
  private def q60(s: SparkSession, d: String): DataFrame =
    graft.ext.SplitOps.assignSplit(t(s, d, "documents"), "doc_id")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        min(col("doc_id")).as("min_id"))
      .orderBy(col("split"))

  private val q60Sql =
    """WITH b AS (
      |  SELECT doc_id, text,
      |         ((doc_id * 2654435761) % 4294967296) % 100 AS bk
      |  FROM documents)
      |SELECT CASE WHEN bk < 90 THEN 'train'
      |            WHEN bk < 95 THEN 'val' ELSE 'test' END AS split,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
      |       MIN(doc_id) AS min_id
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** Gopher-style repetition signals ([[graft.ext.TextOps
    * .repetitionScores]]): top-token share + duplicate-bigram fraction,
    * all in-projection HOFs. */
  private def q61(s: SparkSession, d: String): DataFrame =
    graft.ext.TextOps.repetitionScores(fanOut(t(s, d, "documents")))
      .orderBy(col("doc_id"))

  private val q61Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LEN(x) > 0) AS toks
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, toks,
      |         CASE WHEN LEN(toks) >= 2
      |              THEN LIST_TRANSFORM(RANGE(1, LEN(toks)),
      |                                  i -> toks[i] || ' ' || toks[i + 1])
      |              ELSE [] END AS bg,
      |         LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(toks),
      |                  tk -> LEN(LIST_FILTER(toks, x -> x = tk)))) AS maxf
      |  FROM t)
      |SELECT doc_id, CAST(LEN(toks) AS INTEGER) AS n_tokens,
      |       FLOOR(CAST(COALESCE(maxf, 0) AS DOUBLE) / GREATEST(LEN(toks), 1)
      |             * 10000 + 0.5) / 10000 AS top_tok_ratio,
      |       FLOOR(CASE WHEN LEN(bg) > 0
      |                  THEN 1.0 - CAST(LEN(LIST_DISTINCT(bg)) AS DOUBLE) / LEN(bg)
      |                  ELSE 0.0 END * 10000 + 0.5) / 10000 AS dup_bigram_ratio
      |FROM f ORDER BY doc_id""".stripMargin

  /** Near-dup CLUSTERS, not just pairs ([[graft.operators
    * .ConnectedComponents]]): components of the q32 character-Jaccard
    * graph — transitive closure a pair list can't express, oracled via
    * DuckDB's recursive reachability. The threshold compares the 4dp-
    * rounded score (the value q32 proves engine-identical). */
  private def q62(s: SparkSession, d: String): DataFrame = {
    val small = t(s, d, "documents").filter(col("doc_id") < 25)
      .select(col("doc_id"), array_distinct(split(col("text"), "")).as("cs"))
    val edges = small.as("a").join(small.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        round(graft.ext.DedupOps.jaccard(col("a.cs"), col("b.cs")), 4).as("jac"))
      .filter(col("jac") >= 0.5)
    graft.operators.ConnectedComponents.labels(edges, "id1", "id2")
      .select(col("id").as("doc_id"), col("comp").as("component"))
      .orderBy(col("doc_id"))
  }

  private val q62Sql =
    """WITH RECURSIVE e AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM documents a JOIN documents b
      |    ON a.doc_id < b.doc_id AND a.doc_id < 25 AND b.doc_id < 25
      |  WHERE ROUND(JACCARD(a.text, b.text), 4) >= 0.5
      |), sym AS (
      |  SELECT id1 AS a, id2 AS b FROM e UNION ALL SELECT id2, id1 FROM e
      |), reach AS (
      |  SELECT a AS id, a AS r FROM sym
      |  UNION
      |  SELECT sym.a AS id, reach.r FROM sym JOIN reach ON reach.id = sym.b
      |)
      |SELECT id AS doc_id, MIN(r) AS component
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Int8 embedding quantization ([[graft.ext.SimilarityOps
    * .quantizeInt8]]) — the ANN storage/IO scale path (float32 → int8 is
    * 4× less scan). The digest (scale + code-array stats) oracle-checks
    * that BOTH engines derive bit-identical codes from the same exact-
    * double arithmetic. */
  private def q63(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"),
        graft.ext.SimilarityOps.quantizeInt8(col("embedding")).as("qz"))
      .select(col("vec_id"),
        col("qz.scale").as("scale"),
        size(col("qz.q")).as("n_dims"),
        aggregate(col("qz.q"), lit(0L), (acc, x) => acc + x).as("sum_q"),
        array_min(col("qz.q")).as("min_q"),
        array_max(col("qz.q")).as("max_q"))
      .orderBy(col("vec_id"))

  private val q63Sql =
    """WITH qz AS (
      |  SELECT vec_id,
      |         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |         LIST_MAX(LIST_TRANSFORM(embedding,
      |                  x -> ABS(CAST(x AS DOUBLE)))) / 127 AS scale
      |  FROM embeddings),
      |codes AS (
      |  SELECT vec_id, scale,
      |         CASE WHEN scale = 0 THEN LIST_TRANSFORM(v, x -> 0)
      |              ELSE LIST_TRANSFORM(v, x -> GREATEST(-127, LEAST(127,
      |                   CAST(FLOOR(x / scale + 0.5) AS INTEGER)))) END AS q
      |  FROM qz)
      |SELECT vec_id, scale,
      |       CAST(LEN(q) AS INTEGER) AS n_dims,
      |       CAST(LIST_SUM(q) AS BIGINT) AS sum_q,
      |       CAST(LIST_MIN(q) AS INTEGER) AS min_q,
      |       CAST(LIST_MAX(q) AS INTEGER) AS max_q
      |FROM codes ORDER BY vec_id""".stripMargin

  /** Global vocabulary top-k ([[graft.ext.CorpusOps.vocabTopK]]) — one
    * explode, one map-side-combined hash aggregate, then
    * `TakeOrderedAndProject` (per-partition heaps, k-row driver merge;
    * never a full sort). */
  private def q64(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.vocabTopK(t(s, d, "documents"), 20)

  private val q64Sql =
    """SELECT tok, COUNT(*) AS cnt
      |FROM (SELECT UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                                x -> LEN(x) > 0)) AS tok
      |      FROM documents)
      |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""".stripMargin

  /** Per-document TF-IDF top terms ([[graft.ext.CorpusOps.tfIdfTop]]).
    * N rides as a broadcast scalar aggregate; tf⋈df is a term-keyed
    * equi-join of two already-aggregated sides. */
  private def q65(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.tfIdfTop(t(s, d, "documents"), 3)

  private val q65Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |         UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                            x -> LEN(x) > 0)) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok,
      |         FLOOR(tf.tf * LN((n.n + 1.0) / (dfreq.df + 1.0)) * 10000
      |               + 0.5) / 10000 AS tfidf
      |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, tok, tfidf,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |                            ORDER BY tfidf DESC, tok) AS rk
      |  FROM scored)
      |SELECT doc_id, CAST(rk AS INTEGER) AS rk, tok, tfidf
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Train/test n-gram contamination ([[graft.ext.CorpusOps
    * .contamination]]): per TEST doc (q60's hash split), the fraction of
    * its distinct word trigrams that occur in ANY train doc — the exact
    * decontamination primitive. Gram⋈gram is the one big-big shuffle and
    * it is key-perfect (near-unique grams → no skew). */
  private def q66(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.contamination(t(s, d, "documents"), 3)

  private val q66Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |         CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90
      |              THEN 'train'
      |              WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 95
      |              THEN 'val' ELSE 'test' END AS split,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     x -> LEN(x) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, split,
      |         UNNEST(CASE WHEN LEN(toks) >= 3
      |                THEN LIST_DISTINCT(LIST_TRANSFORM(
      |                       RANGE(0, LEN(toks) - 2),
      |                       i -> ARRAY_TO_STRING(toks[i + 1 : i + 3], ' ')))
      |                ELSE [ARRAY_TO_STRING(toks, ' ')] END) AS gram
      |  FROM d),
      |train AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
      |test AS (SELECT doc_id, gram FROM g WHERE split = 'test')
      |SELECT test.doc_id,
      |       COUNT(*) AS n_grams,
      |       COUNT(train.gram) AS n_hits,
      |       FLOOR(CAST(COUNT(train.gram) AS DOUBLE)
      |             / GREATEST(COUNT(*), 1) * 10000 + 0.5) / 10000 AS hit_ratio
      |FROM test LEFT JOIN train USING (gram)
      |GROUP BY test.doc_id ORDER BY test.doc_id""".stripMargin

  /** PII redaction ([[graft.ext.TextOps.redactPii]]) over text with
    * deterministically PLANTED emails/phones/IPs (the synthetic corpus has
    * none — planting per doc_id makes the regex path real on both
    * engines). Codegen'd regexp chain; scan-speed, no UDF. */
  private def q67(s: SparkSession, d: String): DataFrame = {
    val planted = fanOut(t(s, d, "documents")).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" at 10.0.0."), pmod(col("doc_id"), lit(256)).cast("string")
      ).as("txt"))
    planted.select(col("doc_id"),
      regexp_count(col("txt"), lit(graft.ext.TextOps.emailRe)).as("n_emails"),
      regexp_count(col("txt"), lit(graft.ext.TextOps.phoneRe)).as("n_phones"),
      regexp_count(col("txt"), lit(graft.ext.TextOps.ipv4Re)).as("n_ips"),
      graft.ext.TextOps.redactPii(col("txt")).as("redacted"))
      .orderBy(col("doc_id"))
  }

  private val q67Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |         text || ' contact user' || CAST(doc_id AS VARCHAR)
      |              || '@mail.example or +1-555-'
      |              || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |              || ' at 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS txt
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(txt,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
      |    AS n_emails,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(txt,
      |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(txt,
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER)
      |    AS n_ips,
      |  REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(txt,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
      |    AS redacted
      |FROM p ORDER BY doc_id""".stripMargin

  /** Document-length histogram: arithmetic 64-char bins (DuckDB has no
    * WIDTH_BUCKET), capped at bin 8 — the corpus-shape profile every
    * pipeline report starts with. Pure groupBy on a computed key:
    * map-side combine, one tiny shuffle. */
  private def q68(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy(least(floor(col("n_chars") / 64.0d), lit(8.0d))
        .cast("int").as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("bucket"))

  private val q68Sql =
    """SELECT CAST(LEAST(FLOOR(n_chars / 64.0), 8.0) AS INTEGER) AS bucket,
      |       COUNT(*) AS cnt,
      |       MIN(n_chars) AS min_chars,
      |       MAX(n_chars) AS max_chars
      |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Deterministic stratified sampling ([[graft.ext.SamplingOps
    * .stratifiedSample]]): per-language keep rates as a pure projection
    * filter on the id hash — reproducible across runs/engines/partitions,
    * no shuffle, no rand(). Digest per stratum for the oracle. */
  private def q69(s: SparkSession, d: String): DataFrame =
    graft.ext.SamplingOps.stratifiedSample(
      t(s, d, "documents"), "doc_id", "lang",
      Map("en" -> 50, "de" -> 25, "fr" -> 10, "es" -> 5), defaultPct = 2)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy(col("lang"))

  private val q69Sql =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |         ((doc_id * 2654435761) % 4294967296) % 100 AS bk
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_sampled,
      |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_id
      |FROM s
      |WHERE bk < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 25
      |                     WHEN 'fr' THEN 10 WHEN 'es' THEN 5 ELSE 2 END
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Power-law source-mixing weights ([[graft.ext.SamplingOps
    * .sourceMixWeights]], alpha = 0.5 over `lang`): rebalance weights
    * relative to the largest stratum, engine-exact arithmetic (integer
    * counts → one IEEE division + sqrt; no cross-group float sum). */
  private def q70(s: SparkSession, d: String): DataFrame =
    graft.ext.SamplingOps.sourceMixWeights(t(s, d, "documents"), "lang")

  private val q70Sql =
    """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1)
      |SELECT lang, n_docs,
      |       FLOOR(SQRT(CAST(n_docs AS DOUBLE) /
      |                  CAST(MAX(n_docs) OVER () AS DOUBLE)) * 10000 + 0.5)
      |         / 10000 AS rel_weight
      |FROM c ORDER BY lang""".stripMargin

  /** SCD-2 validity intervals from the events change log
    * ([[graft.operators.Scd2.intervals]]): consecutive same-type
    * observations per user collapse into [valid_from, valid_to) rows.
    * All windows partition by the dimension key — distributes by key
    * cardinality, no unpartitioned window. */
  private def q71(s: SparkSession, d: String): DataFrame =
    graft.operators.Scd2.intervals(
      t(s, d, "events").select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), "ts", Seq("event_type"), "event_id")
      // Interval bounds as integer epoch-µs: Spark parquet writes ts[ns]
      // (INT96-read) where DuckDB yields ts[µs] — no green query emits a
      // raw timestamp column, so stay on the proven exact-integer surface.
      .select(col("user_id"), col("version"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        col("event_type"), col("is_current"))
      .orderBy(col("user_id"), col("version"))

  private val q71Sql =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN LAG(event_id) OVER w IS NULL
      |                OR event_type IS DISTINCT FROM LAG(event_type) OVER w
      |              THEN 1 ELSE 0 END AS chg
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |i AS (
      |  SELECT user_id, ts, event_type,
      |         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM e),
      |p AS (
      |  SELECT user_id, island, MIN(ts) AS valid_from, MIN(event_type) AS event_type
      |  FROM i GROUP BY user_id, island)
      |SELECT user_id, CAST(island AS INTEGER) AS version,
      |       EPOCH_US(valid_from) AS valid_from_us,
      |       EPOCH_US(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY island)) AS valid_to_us,
      |       event_type,
      |       (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY island) IS NULL) AS is_current
      |FROM p ORDER BY user_id, version""".stripMargin

  /** Size-balanced deterministic shard assignment
    * ([[graft.ext.ShardOps.assignShards]]): global rank by (n_chars DESC,
    * doc_id) via the bounded-memory range-partition construction, shard =
    * (rank−1) mod 16. Digest = per-shard count/size/id-range. */
  private def q72(s: SparkSession, d: String): DataFrame =
    graft.ext.ShardOps.assignShards(
      t(s, d, "documents").select("doc_id", "n_chars"),
      nShards = 16, sizeCol = "n_chars", tieBreaker = "doc_id")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("shard"))

  private val q72Sql =
    """WITH r AS (
      |  SELECT doc_id, n_chars,
      |         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT CAST((rn - 1) % 16 AS INTEGER) AS shard, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM r GROUP BY 1 ORDER BY shard""".stripMargin

  /** Pre-load data-quality profile ([[graft.ext.ProfileOps.profile]]):
    * per-column row/null/exact-distinct counts + byte-wise min/max in ONE
    * scan (all aggregates in a single agg; stack-unpivot of the 1-row
    * result). */
  private def q73(s: SparkSession, d: String): DataFrame =
    graft.ext.ProfileOps.profile(t(s, d, "documents"),
      Seq("doc_id", "lang", "source", "n_chars", "text"))

  private val q73Sql = {
    def one(c: String) =
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |       COUNT(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
         |       COUNT(DISTINCT $c) AS n_distinct,
         |       MIN(CAST($c AS VARCHAR)) AS min_s,
         |       MAX(CAST($c AS VARCHAR)) AS max_s
         |FROM documents""".stripMargin
    Seq("doc_id", "lang", "source", "n_chars", "text")
      .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** The 100 TB profile path: bottom-k KMV sketch distincts — no
    * expand, bounded memory regardless of column cardinality (exact q73
    * carries a 5-way expand whose shuffle scales with the text column;
    * the q47/q47b exact-vs-sketch pairing). The KMV estimate is
    * deterministic integer arithmetic over portable md5-60-bit hashes,
    * so since r10 this row ALSO hash-matches a DuckDB oracle (r9 ask
    * #5) on top of the QueriesSpec accuracy floor vs exact q73. */
  private def q73b(s: SparkSession, d: String): DataFrame =
    graft.ext.ProfileOps.profile(t(s, d, "documents"),
      Seq("doc_id", "lang", "source", "n_chars", "text"),
      approxDistinct = true)

  private val q73bSql = {
    def one(c: String) =
      s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       COUNT(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
         |       ${kmvOracle("documents", c)} AS n_distinct,
         |       MIN(CAST($c AS VARCHAR)) AS min_s,
         |       MAX(CAST($c AS VARCHAR)) AS max_s
         |FROM documents""".stripMargin
    Seq("doc_id", "lang", "source", "n_chars", "text")
      .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** Word-bigram Jaccard over the q32 pair subset — the n-gram-granularity
    * sibling of the character Jaccard (and the exact verify metric of the
    * q30 MinHash path): distinct 2-shingles ([[graft.ext.DedupOps
    * .shingles]]), pairwise |∩|/|∪|. */
  private def q74(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents").filter(col("doc_id") < 25)
      .select(col("doc_id"), graft.ext.DedupOps.wordTokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), graft.ext.DedupOps.shingles(col("w"), 2).as("bg"))
    val a = base.select(col("doc_id").as("id1"), col("bg").as("bg1"))
    val b = base.select(col("doc_id").as("id2"), col("bg").as("bg2"))
    a.join(broadcast(b), col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (floor(graft.ext.DedupOps.jaccard(col("bg1"), col("bg2")) * 10000
          + lit(0.5)) / 10000).as("jac"))
      .orderBy(col("id1"), col("id2"))
  }

  private val q74Sql =
    """WITH w AS (
      |  SELECT doc_id,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS w
      |  FROM documents WHERE doc_id < 25),
      |g AS (
      |  SELECT doc_id,
      |         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w)),
      |                                      i -> w[i] || ' ' || w[i + 1])) AS bg
      |  FROM w WHERE LEN(w) >= 2)
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |       FLOOR(CAST(LEN(LIST_INTERSECT(a.bg, b.bg)) AS DOUBLE)
      |             / LEN(LIST_DISTINCT(a.bg || b.bg)) * 10000 + 0.5) / 10000 AS jac
      |FROM g a JOIN g b ON a.doc_id < b.doc_id
      |ORDER BY id1, id2""".stripMargin

  /** One k-means assignment pass with explicit centroids (vec_id < 8) —
    * the oracle-checked anchor of the [[graft.ext.SimilarityOps
    * .kmeansCentroids]] IVF-training path (whose multi-round convergence is
    * spec-tested): broadcast centroids, per-row argmax, no corpus shuffle.
    * Per-row cosines are floor-rounded to 1e-4 BEFORE the sum so the
    * digest is an order-independent integer sum, not a float reduction. */
  private def q75(s: SparkSession, d: String): DataFrame = {
    val toD = (c: Column) => transform(c, (x: Column) => x.cast("double"))
    val emb = t(s, d, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), toD(col("embedding")).as("ce"))
    emb.select(col("vec_id"), toD(col("embedding")).as("ve"))
      .crossJoin(broadcast(cents))
      .withColumn("cos", graft.ext.SimilarityOps.cosine(col("ve"), col("ce")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("cos")),
        struct(col("cos"), -col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cell"), col("best.cos").as("cos"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        min(col("vec_id")).as("min_vec"),
        sum(floor(col("cos") * 10000 + lit(0.5)).cast("long")).as("sum_cos4"))
      .orderBy(col("cell"))
  }

  private val q75Sql =
    """WITH c AS (
      |  SELECT vec_id AS cid,
      |         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS ce
      |  FROM embeddings WHERE vec_id < 8),
      |s AS (
      |  SELECT e.vec_id, c.cid,
      |         LIST_COSINE_SIMILARITY(
      |           LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)), c.ce) AS cos
      |  FROM embeddings e, c),
      |a AS (
      |  SELECT vec_id, cid, cos,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
      |  FROM s)
      |SELECT cid AS cell, COUNT(*) AS n_members, MIN(vec_id) AS min_vec,
      |       CAST(SUM(CAST(FLOOR(cos * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cos4
      |FROM a WHERE rk = 1 GROUP BY cid ORDER BY cell""".stripMargin

  /** Corpus-rare-token quality features ([[graft.ext.CorpusOps
    * .tokenRarity]], df ≤ 2): integer aggregates end to end, one term-keyed
    * join of two aggregates. */
  private def q76(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.tokenRarity(t(s, d, "documents"), maxDf = 2L)

  private val q76Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |         UNNEST(LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                                          t -> LEN(t) > 0))) AS tok
      |  FROM documents),
      |dfreq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok)
      |SELECT doc_id, COUNT(*) AS n_distinct_toks,
      |       COUNT(CASE WHEN df <= 2 THEN 1 END) AS n_rare,
      |       CAST(SUM(df) AS BIGINT) AS sum_df,
      |       FLOOR(CAST(COUNT(CASE WHEN df <= 2 THEN 1 END) AS DOUBLE)
      |             / GREATEST(COUNT(*), 1) * 10000 + 0.5) / 10000 AS rare_ratio
      |FROM toks JOIN dfreq USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Bloom-filter contamination screen ([[graft.ext.CorpusOps
    * .contaminationBloom]]) — the 100 TB path to q66: the train side never
    * shuffles (tree-aggregated sketch build, broadcast bitmap probe), only
    * the test side's per-doc aggregation does. No oracle: hits are a
    * bounded superset of q66's exact hits (no false negatives, fp ≤ fpp);
    * CorpusOpsSpec pins both properties against the exact path. */
  private def q66b(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.contaminationBloom(t(s, d, "documents"), 3)

  /** Per-domain URL analytics ([[graft.ext.TextOps.urls]] /
    * [[graft.ext.TextOps.urlDomain]]) over deterministically PLANTED urls
    * (the synthetic corpus has none) — the source-attribution /
    * domain-blocklist primitive of web-scale curation. Pure Java∩RE2
    * regex projection + explode + one hash agg with map-side partials;
    * the mixed-case planting exercises the normalization. */
  private def q77(s: SparkSession, d: String): DataFrame = {
    val planted = t(s, d, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" see https://Sub"), pmod(col("doc_id"), lit(50)).cast("string"),
        lit(".Example.com/p/"), col("doc_id").cast("string"),
        lit(" and http://www.ref"), pmod(col("doc_id"), lit(20)).cast("string"),
        lit(".org/x?q=1")).as("txt"))
    planted.select(col("doc_id"),
        explode(graft.ext.TextOps.urls(col("txt"))).as("url"))
      .select(col("doc_id"),
        graft.ext.TextOps.urlDomain(col("url")).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_urls").desc, col("domain"))
  }

  private val q77Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |         text || ' see https://Sub' || CAST(doc_id % 50 AS VARCHAR)
      |              || '.Example.com/p/' || CAST(doc_id AS VARCHAR)
      |              || ' and http://www.ref' || CAST(doc_id % 20 AS VARCHAR)
      |              || '.org/x?q=1' AS txt
      |  FROM documents),
      |u AS (SELECT doc_id,
      |             UNNEST(REGEXP_EXTRACT_ALL(txt, 'https?://[^ ]+')) AS url
      |      FROM p),
      |h AS (SELECT doc_id,
      |             REGEXP_REPLACE(
      |               LOWER(REGEXP_EXTRACT(url, '^https?://([^/?#]+)', 1)),
      |               '^www\.', '') AS domain
      |      FROM u)
      |SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
      |FROM h GROUP BY domain ORDER BY n_urls DESC, domain""".stripMargin

  /** Character-unigram entropy ([[graft.ext.TextOps.charEntropy]]) — the
    * cheap gibberish / encoding-noise quality gate. Engine-exact 4dp
    * digest via a character-sorted sequential fold (see the op scaladoc
    * for why a plain SUM of doubles would not be). */
  private def q78(s: SparkSession, d: String): DataFrame =
    graft.ext.TextOps.charEntropy(t(s, d, "documents"))

  private val q78Sql =
    """WITH ch AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(text, '')) AS ch FROM documents),
      |cnt AS (
      |  SELECT doc_id, ch, COUNT(*) AS c
      |  FROM ch WHERE ch <> '' GROUP BY 1, 2),
      |ag AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
      |         COUNT(*) AS n_distinct_chars,
      |         LIST(CAST(c AS DOUBLE) ORDER BY ch) AS cs
      |  FROM cnt GROUP BY doc_id)
      |SELECT doc_id, n_chars, n_distinct_chars,
      |       FLOOR((LN(CAST(n_chars AS DOUBLE))
      |              - LIST_REDUCE(LIST_TRANSFORM(cs, c -> c * LN(c)),
      |                            (a, b) -> a + b)
      |                / CAST(n_chars AS DOUBLE)) * 10000 + 0.5) / 10000
      |         AS entropy_nats
      |FROM ag ORDER BY doc_id""".stripMargin

  /** Near-dup cluster CANONICAL selection — the decision layer over q62's
    * connected components: every doc (≤25, q62's graph) carries its
    * cluster id (singletons → their own id) and `keep`=1 iff it is the
    * cluster's representative (longest text, doc_id tie-break).
    * Downstream dedup is `filter(keep = 1)`. The window partitions by
    * cluster id — at 100 TB clusters are small (near-dup groups), so the
    * partition-local sort is bounded and skew-free. */
  private def q79(s: SparkSession, d: String): DataFrame = {
    val small = t(s, d, "documents").filter(col("doc_id") < 25)
      .select(col("doc_id"), length(col("text")).as("len"),
        array_distinct(split(col("text"), "")).as("cs"))
    val edges = small.as("a")
      .join(small.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        round(graft.ext.DedupOps.jaccard(col("a.cs"), col("b.cs")), 4).as("jac"))
      .filter(col("jac") >= 0.5)
    val labels = graft.operators.ConnectedComponents.labels(edges, "id1", "id2")
      .withColumnRenamed("id", "doc_id")
    val base = small.select(col("doc_id"), col("len"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("comp"), col("doc_id")))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("len").desc, col("doc_id").asc)
    base.withColumn("keep", when(row_number().over(w) === 1, 1).otherwise(0))
      .select(col("doc_id"), col("component"), col("len"), col("keep"))
      .orderBy(col("doc_id"))
  }

  private val q79Sql =
    """WITH RECURSIVE e AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM documents a JOIN documents b
      |    ON a.doc_id < b.doc_id AND a.doc_id < 25 AND b.doc_id < 25
      |  WHERE ROUND(JACCARD(a.text, b.text), 4) >= 0.5
      |), sym AS (
      |  SELECT id1 AS a, id2 AS b FROM e UNION ALL SELECT id2, id1 FROM e
      |), reach AS (
      |  SELECT a AS id, a AS r FROM sym
      |  UNION
      |  SELECT sym.a AS id, reach.r FROM sym JOIN reach ON reach.id = sym.b
      |), comp AS (
      |  SELECT id, MIN(r) AS component FROM reach GROUP BY id
      |), base AS (
      |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
      |         CAST(LEN(d.text) AS INTEGER) AS len
      |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
      |  WHERE d.doc_id < 25)
      |SELECT doc_id, component, len,
      |       CASE WHEN ROW_NUMBER() OVER (PARTITION BY component
      |                                    ORDER BY len DESC, doc_id) = 1
      |            THEN 1 ELSE 0 END AS keep
      |FROM base ORDER BY doc_id""".stripMargin

  /** Line-level boilerplate dedup ([[graft.ext.CorpusOps.lineDedup]]) —
    * a constant 6-token header is PLANTED on every doc (the corpus has no
    * newline convention), so the operator must detect it as boilerplate
    * (present in ≥3 distinct docs), drop it, and rebuild every doc from
    * its surviving 6-token lines in order. */
  private def q80(s: SparkSession, d: String): DataFrame = {
    val planted = t(s, d, "documents").select(col("doc_id"),
      concat(lit("begin shared header boiler plate line "), col("text"))
        .as("text"))
    graft.ext.CorpusOps.lineDedup(planted, lineTokens = 6, minDocs = 3L)
  }

  private val q80Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |         'begin shared header boiler plate line ' || text AS text
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     x -> LEN(x) > 0) AS tk
      |  FROM p),
      |lines AS (
      |  SELECT doc_id, i AS line_id,
      |         ARRAY_TO_STRING(tk[(i*6+1):(i*6+6)], ' ') AS line
      |  FROM (SELECT doc_id, tk,
      |               UNNEST(RANGE(0, GREATEST(CAST(CEIL(LEN(tk)/6.0) AS INT),
      |                                        1))) AS i
      |        FROM toks)),
      |boiler AS (
      |  SELECT line FROM lines GROUP BY line
      |  HAVING COUNT(DISTINCT doc_id) >= 3),
      |kept AS (
      |  SELECT l.doc_id, l.line_id, l.line
      |  FROM lines l LEFT JOIN boiler b USING (line)
      |  WHERE b.line IS NULL),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |         STRING_AGG(line, CHR(10) ORDER BY line_id) AS cleaned
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
      |       COALESCE(a.cleaned, '') AS cleaned
      |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** LOCF gap-fill (last observation carried forward) — the standard
    * time-series repair step before feature extraction: NULLs are PLANTED
    * on every third event, then each user's series is filled from its
    * last non-null value in (ts, event_id) order. One key-partitioned
    * window, no self-join — the running-frame `last(ignoreNulls)` is
    * O(1) per row. Leading NULLs (no predecessor) stay NULL. */
  private def q81(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").withColumn("v",
      when(pmod(col("event_id"), lit(3)) === 0, lit(null).cast("double"))
        .otherwise(col("value")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
        col("v").isNull.cast("int").as("was_null"),
        last(col("v"), ignoreNulls = true).over(w).as("value_filled"))
      .orderBy(col("event_id"))
  }

  private val q81Sql =
    """WITH ev AS (
      |  SELECT event_id, user_id, ts,
      |         CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
      |  FROM events)
      |SELECT event_id, user_id,
      |       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_null,
      |       LAST_VALUE(v IGNORE NULLS) OVER (
      |         PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS value_filled
      |FROM ev ORDER BY event_id""".stripMargin

  /** Whitespace/control normalization ([[graft.ext.TextOps.normalizeWs]])
    * over text with PLANTED tab/CR/double-space noise (the corpus is
    * clean ASCII) — the curation pipeline's first pass, as a pure
    * codegen'd regex projection. */
  private def q82(s: SparkSession, d: String): DataFrame = {
    val planted = t(s, d, "documents").select(col("doc_id"),
      concat(col("text"), expr("char(9)"), lit("  tabbed  value "),
        expr("char(13)")).as("txt"))
    planted.select(col("doc_id"),
        length(col("txt")).as("n_raw"),
        graft.ext.TextOps.normalizeWs(col("txt")).as("normed"))
      .withColumn("n_norm", length(col("normed")))
      .select(col("doc_id"), col("n_raw"), col("n_norm"), col("normed"))
      .orderBy(col("doc_id"))
  }

  private val q82Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |         text || CHR(9) || '  tabbed  value ' || CHR(13) AS txt
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, txt,
      |         TRIM(REGEXP_REPLACE(REGEXP_REPLACE(txt, '[\x00-\x1f]', ' ',
      |                                            'g'),
      |                             ' +', ' ', 'g')) AS normed
      |  FROM p)
      |SELECT doc_id, CAST(LEN(txt) AS INTEGER) AS n_raw,
      |       CAST(LEN(normed) AS INTEGER) AS n_norm, normed
      |FROM n ORDER BY doc_id""".stripMargin

  /** SemDeDup semantic dedup ([[graft.ext.SimilarityOps.semDedup]], Abbas
    * et al. 2023) over planted exact duplicates: embeddings unioned with
    * copies of vec_id < 20 (ids +1000), explicit centroids (vec_id < 8),
    * τ = 0.999 on 4dp-rounded cosine. Pairs are compared only within a
    * centroid cell (the cell-bounded quadratic that makes SemDeDup viable
    * at corpus scale); the planted copies land in their original's cell and
    * come back `keep = 0, dup_of = original`. */
  private def q83(s: SparkSession, d: String): DataFrame = {
    val toD = (c: Column) => transform(c, (x: Column) => x.cast("double"))
    val emb = t(s, d, "embeddings")
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(planted)
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), toD(col("embedding")).as("ce"))
    graft.ext.SimilarityOps.semDedup(corpus, cents, tau = 0.999)
  }

  private val q83Sql =
    """WITH e AS (
      |  SELECT vec_id,
      |         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id, v FROM e
      |  UNION ALL
      |  SELECT vec_id + 1000 AS vec_id, v FROM e WHERE vec_id < 20),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      |s AS (
      |  SELECT u.vec_id, u.v, c.cid,
      |         FLOOR(LIST_COSINE_SIMILARITY(u.v, c.cv) * 10000 + 0.5) / 10000
      |           AS cos
      |  FROM u, c),
      |a AS (
      |  SELECT vec_id, v, cid,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id
      |                            ORDER BY cos DESC, cid) AS rk
      |  FROM s),
      |m AS (SELECT vec_id, v, cid AS cell FROM a WHERE rk = 1),
      |p AS (
      |  SELECT b.vec_id AS id2, MIN(a.vec_id) AS dup_of
      |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE FLOOR(LIST_COSINE_SIMILARITY(a.v, b.v) * 10000 + 0.5) / 10000
      |        >= 0.999
      |  GROUP BY b.vec_id)
      |SELECT m.vec_id, m.cell,
      |       CAST(CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS INTEGER)
      |         AS keep,
      |       p.dup_of
      |FROM m LEFT JOIN p ON m.vec_id = p.id2
      |ORDER BY m.vec_id""".stripMargin

  /** HTML/markup boilerplate removal ([[graft.ext.TextOps.stripMarkup]])
    * over deterministically planted tags + entities — strip `<…>`, decode
    * `&lt; &gt; &nbsp; &amp;` (amp last), collapse the leftover
    * whitespace. Pure codegen'd regex chain. */
  private def q84(s: SparkSession, d: String): DataFrame = {
    val planted = t(s, d, "documents").select(col("doc_id"),
      concat(lit("<html><p class=\"d\">"), col("text"),
        lit("</p><br/>&amp; 1 &lt; 2 &nbsp;</html>")).as("txt"))
    planted.select(col("doc_id"),
        length(col("txt")).as("n_raw"),
        graft.ext.TextOps.stripMarkup(col("txt")).as("clean"))
      .withColumn("n_clean", length(col("clean")))
      .select(col("doc_id"), col("n_raw"), col("n_clean"), col("clean"))
      .orderBy(col("doc_id"))
  }

  private val q84Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |         '<html><p class="d">' || text
      |           || '</p><br/>&amp; 1 &lt; 2 &nbsp;</html>' AS txt
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, txt,
      |         TRIM(REGEXP_REPLACE(
      |           REPLACE(REPLACE(REPLACE(REPLACE(
      |             REGEXP_REPLACE(txt, '<[^>]*>', ' ', 'g'),
      |             '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&amp;', '&'),
      |           ' +', ' ', 'g')) AS clean
      |  FROM p)
      |SELECT doc_id, CAST(LEN(txt) AS INTEGER) AS n_raw,
      |       CAST(LEN(clean) AS INTEGER) AS n_clean, clean
      |FROM c ORDER BY doc_id""".stripMargin

  /** Hashing-trick linear quality scorer ([[graft.ext.TextOps
    * .hashClassifierScore]]) — the fastText architecture with
    * deterministic LCG weights: token → base-31 hash → 1024-way bucket →
    * recentered weight, summed per doc, sign = label. Integer end to end
    * → exact oracle; swapping in trained weights is a broadcast lookup
    * with the same plan shape. */
  private def q85(s: SparkSession, d: String): DataFrame =
    fanOut(t(s, d, "documents")).select(col("doc_id"),
        size(graft.ext.TextOps.tokens(col("text"))).as("n_tokens"),
        graft.ext.TextOps.hashClassifierScore(col("text")).as("score"))
      .withColumn("label", (col("score") > 0).cast("int"))
      .orderBy(col("doc_id"))

  private val q85Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     t -> LEN(t) > 0) AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, CAST(LEN(toks) AS INTEGER) AS n_tokens,
      |         CAST(LIST_REDUCE(
      |           LIST_PREPEND(CAST(0 AS BIGINT), LIST_TRANSFORM(toks, t ->
      |             (LIST_REDUCE(LIST_TRANSFORM(STRING_SPLIT(t, ''),
      |                                         c -> CAST(ORD(c) AS BIGINT)),
      |                          (a, b) -> (a * 31 + b) % 1000000007)
      |              % 1024) * 2654435761 % 2147483648 - 1073741824)),
      |           (a, b) -> a + b) AS BIGINT) AS score
      |  FROM t)
      |SELECT doc_id, n_tokens, score,
      |       CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INTEGER) AS label
      |FROM s ORDER BY doc_id""".stripMargin

  /** Winnowing shared-substring candidate pairs ([[graft.ext.DedupOps
    * .winnowPairs]], Schleimer et al. SIGMOD 2003): word 4-gram hashes,
    * window-of-4 minima, pairs sharing ≥2 df-capped fingerprints. The
    * guarantee: any shared run of ≥7 tokens leaves an identical
    * fingerprint in both docs — exact-substring sensitivity the MinHash
    * family can't give. Fires on the corpus's real boilerplate lines. */
  private def q86(s: SparkSession, d: String): DataFrame =
    graft.ext.DedupOps.winnowPairs(fanOut(t(s, d, "documents")))

  private val q86Sql =
    """WITH t AS (
      |  SELECT doc_id AS id,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     x -> LEN(x) > 0) AS toks
      |  FROM documents),
      |f AS (
      |  SELECT id,
      |         LIST_TRANSFORM(toks, t -> LIST_REDUCE(
      |           LIST_PREPEND(CAST(0 AS BIGINT),
      |             LIST_TRANSFORM(STRING_SPLIT(t, ''),
      |                            c -> CAST(ORD(c) AS BIGINT))),
      |           (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM t WHERE LEN(toks) >= 7),
      |g AS (
      |  SELECT id,
      |         LIST_TRANSFORM(RANGE(1, LEN(th) - 2), i -> LIST_REDUCE(
      |           LIST_PREPEND(CAST(0 AS BIGINT), th[i:i+3]),
      |           (a, b) -> (a * 31 + b) % 1000000007)) AS kh
      |  FROM f),
      |wd AS (
      |  SELECT id,
      |         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(kh) - 2),
      |                                      i -> LIST_MIN(kh[i:i+3]))) AS fps
      |  FROM g),
      |ex AS (SELECT id, UNNEST(fps) AS fp FROM wd),
      |b AS (SELECT fp, COUNT(*) AS df FROM ex GROUP BY fp),
      |kept AS (SELECT ex.id, ex.fp FROM ex JOIN b USING (fp)
      |         WHERE df BETWEEN 2 AND 50),
      |p AS (
      |  SELECT a.id AS id1, c.id AS id2, COUNT(*) AS n_shared
      |  FROM kept a JOIN kept c ON a.fp = c.fp AND a.id < c.id
      |  GROUP BY 1, 2)
      |SELECT id1, id2, CAST(n_shared AS BIGINT) AS n_shared
      |FROM p WHERE n_shared >= 2 ORDER BY id1, id2""".stripMargin

  /** Deterministic epoch upsampling ([[graft.ext.SamplingOps
    * .epochUpsample]], α = 1 full equalization, cap 4) over the skewed
    * `lang` strata — the materialization of a temperature rebalance:
    * broadcast per-stratum copy plan, projection-time
    * `explode(sequence(1, n_copies))`, no corpus shuffle. Sliced to
    * doc_id < 100 for the declared output. */
  private def q87(s: SparkSession, d: String): DataFrame =
    graft.ext.SamplingOps
      .epochUpsample(t(s, d, "documents"), "lang", alpha = 1.0, cap = 4)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("lang"), col("n_copies"), col("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))

  private val q87Sql =
    """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      |p AS (
      |  SELECT lang,
      |         LEAST(CAST(FLOOR(POW(CAST((SELECT MAX(n_docs) FROM c) AS DOUBLE)
      |                               / n_docs, 1.0) + 0.5) AS INTEGER),
      |               4) AS n_copies
      |  FROM c)
      |SELECT d.doc_id, d.lang, CAST(p.n_copies AS INTEGER) AS n_copies,
      |       CAST(UNNEST(GENERATE_SERIES(1, p.n_copies)) AS INTEGER) AS copy_idx
      |FROM documents d JOIN p USING (lang) WHERE d.doc_id < 100
      |ORDER BY doc_id, copy_idx""".stripMargin

  /** Incremental exact dedup ([[graft.ext.DedupOps.dedupIncrement]]) —
    * nightly-append shape: corpus = doc_id < 400 (never shuffled: Bloom
    * sketch + broadcast verify), batch = the remaining docs UNION planted
    * copies of 20 corpus texts (ids +10000). The planted rows are the
    * known dups and must vanish; the decision is the exact content-hash
    * anti-join, the Bloom is only the join-free fast path. */
  private def q88(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"),
          col("n_chars")))
    graft.ext.DedupOps.dedupIncrement(batch, corpus)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val q88Sql =
    """WITH corpus AS (SELECT * FROM documents WHERE doc_id < 400),
      |batch AS (
      |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 400
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text, n_chars
      |  FROM documents WHERE doc_id < 20)
      |SELECT b.doc_id, b.n_chars FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
      |ORDER BY doc_id""".stripMargin

  /** Skyline / Pareto frontier ([[graft.operators.Skyline.pareto]] — the
    * engine behind Exasol's PREFERRING clause, translated for wrapper SQL
    * by SqlCompat.translatePreferring): cheapest-for-their-size parts,
    * HIGH p_size PLUS LOW p_retailprice. Two-phase mapPartitions skyline —
    * local frontiers shuffle, the corpus doesn't; the oracle is the
    * NOT-EXISTS dominance spelling. */
  private def q89(s: SparkSession, d: String): DataFrame =
    graft.operators.Skyline.pareto(t(s, d, "part"),
        Seq(("p_size", true), ("p_retailprice", false)))
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .orderBy(col("p_partkey"))

  private val q89Sql =
    """SELECT p_partkey, p_size, p_retailprice FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
      |    AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))
      |ORDER BY p_partkey""".stripMargin

  /** Unigram-LM log-prob quality scores ([[graft.ext.CorpusOps
    * .unigramLogProb]]) — the CCNet-style perplexity proxy over the q60
    * hash split: Laplace-smoothed train-split model, per-token
    * micro-nat flooring BEFORE the sum (order-independent integer
    * digest). */
  private def q90(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.unigramLogProb(t(s, d, "documents"))

  private val q90Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |         CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90
      |              THEN 'train'
      |              WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 95
      |              THEN 'val' ELSE 'test' END AS split,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     x -> LEN(x) > 0) AS toks
      |  FROM documents),
      |t AS (SELECT doc_id, split, UNNEST(toks) AS tok FROM d),
      |counts AS (
      |  SELECT tok, COUNT(*) AS df FROM t WHERE split = 'train'
      |  GROUP BY tok),
      |tot AS (SELECT CAST(SUM(df) + COUNT(*) AS BIGINT) AS denom
      |        FROM counts),
      |test AS (SELECT doc_id, tok FROM t WHERE split = 'test')
      |SELECT test.doc_id, COUNT(*) AS n_toks,
      |       CAST(SUM(CAST(FLOOR(LN(
      |              CAST(COALESCE(counts.df, 0) + 1 AS DOUBLE)
      |              / (SELECT denom FROM tot)) * 1000000) AS BIGINT))
      |            AS BIGINT) AS sum_unats
      |FROM test LEFT JOIN counts USING (tok)
      |GROUP BY test.doc_id ORDER BY test.doc_id""".stripMargin

  /** The PREFERRING dialect end-to-end THROUGH the wrapper (the q58
    * pattern applied to B10f): the Exasol skyline clause ships as SQL
    * text, [[graft.wrapper.SqlCompat.translatePreferring]] rewrites it to
    * NOT-EXISTS dominance, and the result must hash-match the same
    * dominance spelling in DuckDB (and q89's operator output). */
  private def q89b(s: SparkSession, d: String): DataFrame = {
    t(s, d, "part").createOrReplaceTempView("q89b_part")
    val w = graft.wrapper.QueryWrapper(s)
    val (ok, res) = w.query(
      """SELECT p_partkey, p_size, p_retailprice FROM q89b_part
        |PREFERRING HIGH p_size PLUS LOW p_retailprice
        |ORDER BY p_partkey""".stripMargin)
    require(ok, res.errorMessage)
    res.dataFrame.get
  }

  /** Ordered funnel ([[graft.operators.Funnel.steps]]): how far each user
    * got through view → click → purchase, each step strictly after the
    * previous match. One user-keyed shuffle; per-user events stream
    * through a sorted iterator (no collect_list). Oracle = the recursive
    * MIN-after spelling, which greedy earliest-match provably equals. */
  private def q91(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.steps(t(s, d, "events"),
      Seq("view", "click", "purchase"))

  private val q91Sql =
    """WITH e AS (
      |  SELECT user_id, ts, event_type FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |       GROUP BY e.user_id),
      |u AS (SELECT DISTINCT user_id FROM e)
      |SELECT u.user_id,
      |       CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
      |                 WHEN s2.user_id IS NOT NULL THEN 2
      |                 WHEN s1.user_id IS NOT NULL THEN 1
      |                 ELSE 0 END AS INTEGER) AS steps
      |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |       LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Gap-bounded funnel ([[graft.operators.Funnel.stepsWithin]]): the q91
    * funnel with each step required within 24h of the previous step's
    * matched event — the standard product-analytics form. Gap compared in
    * integer MICROSECONDS on both engines (exactly-gap pairs decide
    * identically). */
  private def q91b(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.stepsWithin(t(s, d, "events"),
      Seq("view", "click", "purchase"), maxGapUs = 86400000000L)

  private val q91bSql =
    """WITH e AS (
      |  SELECT user_id, ts, event_type FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1
      |         AND EPOCH_US(e.ts) - EPOCH_US(s1.t1) <= 86400000000
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |         AND EPOCH_US(e.ts) - EPOCH_US(s2.t2) <= 86400000000
      |       GROUP BY e.user_id),
      |u AS (SELECT DISTINCT user_id FROM e)
      |SELECT u.user_id,
      |       CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
      |                 WHEN s2.user_id IS NOT NULL THEN 2
      |                 WHEN s1.user_id IS NOT NULL THEN 1
      |                 ELSE 0 END AS INTEGER) AS steps
      |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |       LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Weekly cohort retention — the classic growth-analytics matrix: users
    * cohorted by the week of their FIRST event, counted per
    * (cohort_week, weeks_since) of later activity. Two hash aggregates
    * (first-event per user, then the matrix) + one broadcast-join of the
    * per-user cohort back onto events; integer arithmetic end to end. */
  private def q92(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    ev.join(cohort, "user_id")
      .withColumn("weeks_since",
        floor(unix_micros(col("wk")).minus(unix_micros(col("cohort_wk")))
          / lit(604800000000L)).cast("int"))
      .groupBy(col("cohort_wk").cast("date").as("cohort_wk"),
        col("weeks_since"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_wk"), col("weeks_since"))
  }

  private val q92Sql =
    """WITH e AS (
      |  SELECT user_id, DATE_TRUNC('week', ts) AS wk FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id)
      |SELECT CAST(c.cohort_wk AS DATE) AS cohort_wk,
      |       CAST(FLOOR((EPOCH_US(e.wk) - EPOCH_US(c.cohort_wk))
      |                  / 604800000000) AS INTEGER) AS weeks_since,
      |       COUNT(DISTINCT e.user_id) AS n_users
      |FROM e JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Duplicated-span excision ([[graft.ext.DedupOps.exciseDuplicateSpans]],
    * the Lee et al. 2022 exact-substring-dedup output shape): an 8-token
    * passage planted onto every doc_id % 10 == 0 document — plus whatever
    * 5-gram runs the corpus naturally repeats — is cut out of every holder,
    * and documents come back with the remaining tokens stitched together.
    * One gram-keyed exchange + one doc-keyed aggregate; never quadratic. */
  private def q93(s: SparkSession, d: String): DataFrame = {
    val planted = fanOut(t(s, d, "documents")).select(col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" omnia gallia est divisa in partes tres quas")))
        .otherwise(col("text")).as("text"))
    graft.ext.DedupOps.exciseDuplicateSpans(planted, minLen = 5)
      .orderBy(col("doc_id"))
  }

  private val q93Sql =
    """WITH src AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 10 = 0
      |              THEN text || ' omnia gallia est divisa in partes tres quas'
      |              ELSE text END AS text
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), s -> LEN(s) > 0)
      |           AS toks
      |  FROM src),
      |g AS (
      |  SELECT doc_id, gs.i AS pos,
      |         ARRAY_TO_STRING(toks[gs.i:gs.i+4], ' ') AS gram
      |  FROM t, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(toks) - 4)) AS i) gs
      |  WHERE LEN(toks) >= 5),
      |d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
      |cov AS (
      |  SELECT DISTINCT g.doc_id, c.i AS pos
      |  FROM g JOIN d USING (gram),
      |       LATERAL (SELECT UNNEST(GENERATE_SERIES(g.pos, g.pos + 4)) AS i) c),
      |p AS (
      |  SELECT doc_id, gs.i AS pos, toks[gs.i] AS tok
      |  FROM t, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(toks))) AS i) gs),
      |k AS (
      |  SELECT p.doc_id, COUNT(*) AS n_kept,
      |         STRING_AGG(p.tok, ' ' ORDER BY p.pos) AS clean
      |  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.pos
      |  WHERE cov.pos IS NULL
      |  GROUP BY p.doc_id)
      |SELECT t.doc_id,
      |       CAST(LEN(t.toks) AS INTEGER) AS n_toks,
      |       CAST(LEN(t.toks) - COALESCE(k.n_kept, 0) AS INTEGER) AS n_removed,
      |       COALESCE(k.clean, '') AS clean
      |FROM t LEFT JOIN k USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Span-level decontamination ([[graft.ext.DedupOps
    * .exciseContaminatedSpans]]): every ≥5-token run appearing anywhere in
    * the benchmark slice (doc_id % 17 == 3) is cut from every corpus
    * document — the keep-the-document curation alternative to q66's
    * drop-the-document contamination screen. The benchmark side collapses
    * to distinct grams before the join; benchmark docs inside the corpus
    * excise themselves completely (a built-in full-coverage check). */
  private def q94(s: SparkSession, d: String): DataFrame = {
    val docs = fanOut(t(s, d, "documents"))
    graft.ext.DedupOps.exciseContaminatedSpans(
      docs, docs.filter(col("doc_id") % 17 === 3), minLen = 5)
      .orderBy(col("doc_id"))
  }

  private val q94Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), s -> LEN(s) > 0)
      |           AS toks
      |  FROM documents),
      |rg AS (
      |  SELECT DISTINCT ARRAY_TO_STRING(toks[gs.i:gs.i+4], ' ') AS gram
      |  FROM t, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(toks) - 4)) AS i) gs
      |  WHERE doc_id % 17 = 3 AND LEN(toks) >= 5),
      |g AS (
      |  SELECT doc_id, gs.i AS pos,
      |         ARRAY_TO_STRING(toks[gs.i:gs.i+4], ' ') AS gram
      |  FROM t, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(toks) - 4)) AS i) gs
      |  WHERE LEN(toks) >= 5),
      |cov AS (
      |  SELECT DISTINCT g.doc_id, c.i AS pos
      |  FROM g JOIN rg USING (gram),
      |       LATERAL (SELECT UNNEST(GENERATE_SERIES(g.pos, g.pos + 4)) AS i) c),
      |p AS (
      |  SELECT doc_id, gs.i AS pos, toks[gs.i] AS tok
      |  FROM t, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(toks))) AS i) gs),
      |k AS (
      |  SELECT p.doc_id, COUNT(*) AS n_kept,
      |         STRING_AGG(p.tok, ' ' ORDER BY p.pos) AS clean
      |  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.pos
      |  WHERE cov.pos IS NULL
      |  GROUP BY p.doc_id)
      |SELECT t.doc_id,
      |       CAST(LEN(t.toks) AS INTEGER) AS n_toks,
      |       CAST(LEN(t.toks) - COALESCE(k.n_kept, 0) AS INTEGER) AS n_removed,
      |       COALESCE(k.clean, '') AS clean
      |FROM t LEFT JOIN k USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Bigram-LM log-prob quality score ([[graft.ext.CorpusOps
    * .bigramLogProb]]): q90's unigram perplexity proxy one model order up
    * — Laplace-smoothed P(w|prev) fit on the train split scores test-doc
    * bigrams, per-bigram log-probs floored to integer micro-nats before
    * the order-independent sum. */
  private def q95(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.bigramLogProb(t(s, d, "documents"))

  private val q95Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |         CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90
      |              THEN 'train'
      |              WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 95
      |              THEN 'val' ELSE 'test' END AS split,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     x -> LEN(x) > 0) AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, split, toks[gs.i] AS prev, toks[gs.i + 1] AS tok
      |  FROM d, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS i) gs
      |  WHERE LEN(toks) >= 2),
      |bc AS (SELECT prev, tok, COUNT(*) AS cb FROM bg WHERE split = 'train'
      |       GROUP BY prev, tok),
      |uc AS (SELECT prev, COUNT(*) AS cu FROM bg WHERE split = 'train'
      |       GROUP BY prev),
      |v AS (SELECT COUNT(DISTINCT tok) AS vsize
      |      FROM (SELECT UNNEST(toks) AS tok FROM d WHERE split = 'train')),
      |test AS (SELECT doc_id, prev, tok FROM bg WHERE split = 'test')
      |SELECT test.doc_id, COUNT(*) AS n_bigrams,
      |       CAST(SUM(CAST(FLOOR(LN(
      |             CAST(COALESCE(bc.cb, 0) + 1 AS DOUBLE)
      |             / (COALESCE(uc.cu, 0) + (SELECT vsize FROM v)))
      |             * 1000000) AS BIGINT)) AS BIGINT) AS sum_unats
      |FROM test LEFT JOIN bc USING (prev, tok) LEFT JOIN uc USING (prev)
      |GROUP BY test.doc_id ORDER BY test.doc_id""".stripMargin

  /** Token-budget mixture sampling ([[graft.ext.SamplingOps
    * .sampleToTokenBudget]]): per source, keep the hash-ordered document
    * prefix whose cumulative tokens stay ≤ 800 — the "take N tokens per
    * source" primitive of training-mixture construction. The running sum
    * is the two-phase bounded-memory construction (range partitions +
    * broadcast carry-ins), never a one-reducer-per-source window. */
  private def q96(s: SparkSession, d: String): DataFrame =
    graft.ext.SamplingOps.sampleToTokenBudget(
      t(s, d, "documents"), budget = 800L)
      .select(col("doc_id"), col("source"), col("n_toks"), col("cum_toks"))
      .orderBy(col("doc_id"))

  private val q96Sql =
    """WITH t AS (
      |  SELECT doc_id, source,
      |         CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                              x -> LEN(x) > 0)) AS INTEGER) AS n_toks,
      |         ((doc_id * 2654435761) % 4294967296) AS ord
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_toks,
      |         SUM(n_toks) OVER (PARTITION BY source ORDER BY ord, doc_id
      |                           ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT doc_id, source, n_toks, CAST(cum AS BIGINT) AS cum_toks
      |FROM c WHERE cum <= 800 ORDER BY doc_id""".stripMargin

  /** Compression-ratio quality screen ([[graft.ext.TextOps
    * .compressionRatio]]): deflate-ratio per document — the classic cheap
    * junk detector (repetition compresses ≪ prose < noise). No DuckDB
    * oracle by design (zlib bytes are JDK-specific); the ordering contract
    * and determinism are pinned in TextOpsSpec. */
  private def q97(s: SparkSession, d: String): DataFrame =
    graft.ext.TextOps.compressionRatio(t(s, d, "documents"))
      .orderBy(col("doc_id"))

  /** Stratified top-k selection ([[graft.ext.ShardOps.withGroupRank]]):
    * the 5 largest documents per source by (n_chars DESC, doc_id) — exact
    * per-group ranks from the bounded-memory two-phase construction
    * (range partitions + group-resetting local counters + broadcast
    * carry-ins), never a one-reducer-per-group window. */
  private def q98(s: SparkSession, d: String): DataFrame =
    graft.ext.ShardOps.withGroupRank(
      t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      "source", Seq(col("n_chars").desc, col("doc_id").asc))
      .filter(col("__grn") <= 5)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("__grn").cast("int").as("rk"))
      .orderBy(col("doc_id"))

  private val q98Sql =
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, source, n_chars, CAST(rk AS INTEGER) AS rk
      |FROM r WHERE rk <= 5 ORDER BY doc_id""".stripMargin

  /** Deterministic epoch shuffle + batch assignment ([[graft.ext
    * .SamplingOps.epochShuffle]]): epoch 2's training order and 64-doc
    * batch schedule as a pure function of (doc_id, epoch) — `rand()`-free,
    * so a resumed run re-derives the exact schedule. Global positions via
    * the bounded-memory two-phase rank (one range shuffle), never a
    * single-reducer window. */
  private def q99(s: SparkSession, d: String): DataFrame =
    graft.ext.SamplingOps.epochShuffle(
      t(s, d, "documents").select(col("doc_id")),
      "doc_id", epoch = 2, batchSize = 64L)
      .select(col("doc_id"), col("ord_idx"), col("batch_id"),
        col("pos_in_batch"))
      .orderBy(col("doc_id"))

  private val q99Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |         ((doc_id + 2) * 2654435761) % 4294967296 AS ord
      |  FROM documents),
      |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ord, doc_id) AS rn
      |      FROM t)
      |SELECT doc_id, CAST(rn AS BIGINT) AS ord_idx,
      |       CAST((rn - 1) // 64 AS BIGINT) AS batch_id,
      |       CAST((rn - 1) % 64 AS BIGINT) AS pos_in_batch
      |FROM r ORDER BY doc_id""".stripMargin

  /** Johnson–Lindenstrauss random projection ([[graft.ext.SimilarityOps
    * .randomProject]]): 64-dim embeddings onto 8 md5-derived ±1
    * directions — the scan-IO reducer in front of ANN. The oracle derives
    * the SAME sign matrix from md5 in SQL, so the projection is checked
    * value-for-value, not just shape. */
  private def q100(s: SparkSession, d: String): DataFrame = {
    val p = graft.ext.SimilarityOps.randomProject(
      t(s, d, "embeddings"), outDim = 8, inDim = 64)
    p.select(col("vec_id") +:
        (0 until 8).map(j => element_at(col("proj"), j + 1).as(s"p$j")): _*)
      .orderBy(col("vec_id"))
  }

  private val q100Sql =
    """WITH dims AS (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS i),
      |ks AS (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS j),
      |s AS (SELECT j, i,
      |        CASE WHEN SUBSTR(MD5('rp_' || j || '_' || i), 1, 1) < '8'
      |             THEN 1.0 ELSE -1.0 END AS sgn FROM ks, dims),
      |e AS (SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
      |      FROM embeddings, dims),
      |p AS (SELECT vec_id, j, FLOOR(SUM(x * sgn) * 10000 + 0.5) / 10000 AS v
      |      FROM e JOIN s USING (i) GROUP BY vec_id, j)
      |SELECT vec_id,
      |  MAX(CASE WHEN j = 0 THEN v END) AS p0,
      |  MAX(CASE WHEN j = 1 THEN v END) AS p1,
      |  MAX(CASE WHEN j = 2 THEN v END) AS p2,
      |  MAX(CASE WHEN j = 3 THEN v END) AS p3,
      |  MAX(CASE WHEN j = 4 THEN v END) AS p4,
      |  MAX(CASE WHEN j = 5 THEN v END) AS p5,
      |  MAX(CASE WHEN j = 6 THEN v END) AS p6,
      |  MAX(CASE WHEN j = 7 THEN v END) AS p7
      |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Product-quantization ANN ([[graft.ext.PqOps]]): train per-subspace
    * codebooks, compress the corpus to 32 one-byte codes (32× less scan
    * IO than float32 — the PQ scale path), then ADC top-10 for 5 query
    * vectors. Since r12 the whole pipeline runs on the exact-integer
    * micro-unit grid (md5 seeds, integer distances/LUTs/ADC, re-quantized
    * Lloyd means), so the DuckDB oracle unrolls train→encode→search end
    * to end (the q41 precedent); recall@10 ≥ 0.5 vs the exact scan stays
    * pinned in PqOpsSpec. */
  private def q101(s: SparkSession, d: String): DataFrame = {
    val dir = pqIndexDir(s, d)
    graft.ext.PqOps.searchAdc(s.read.parquet(s"$dir/encoded"),
      s.read.parquet(s"$dir/codebooks"),
      t(s, d, "embeddings").filter(col("vec_id") <= 4), k = 10)
  }

  /** The q101 oracle: 3 unrolled Lloyd rounds over per-(sub, code, dim)
    * codebook rows (m=32, k=32, subDim=2), then encode + ADC — every
    * distance an exact HUGEINT sum of micro-unit squares, every argmin
    * tie-broken to the lowest code, empty codes kept dense via the
    * COALESCE against the previous round. Mirrors PqOps spelling for
    * spelling; the final projection converts micro² to real units
    * exactly like `adcToReal`. */
  /** PQ oracle building blocks shared by q101 (plain PQ over `q`) and
    * q103 (residual PQ over `rq`): one nearest-code assignment round and
    * one re-quantized-mean round over per-(sub, code, j) codebook rows. */
  private def pqAssignCte(vt: String, cb: String, out: String): String =
    s"""$out AS (SELECT vec_id, sub, code FROM (
       |  SELECT q.vec_id, c.sub, c.code,
       |         ROW_NUMBER() OVER (PARTITION BY q.vec_id, c.sub
       |           ORDER BY SUM((q.qv[c.sub * 2 + c.j + 1] - c.c)
       |                      * (q.qv[c.sub * 2 + c.j + 1] - c.c)), c.code) AS rn
       |  FROM $vt q CROSS JOIN $cb c
       |  GROUP BY q.vec_id, c.sub, c.code) s WHERE rn = 1)""".stripMargin

  private def pqMeansCte(vt: String, a: String, prev: String, m: String,
      out: String): String =
    s"""$m AS (SELECT a.sub, a.code, d2.j,
       |         CAST(FLOOR(CAST(SUM(q.qv[a.sub * 2 + d2.j + 1]) AS DOUBLE)
       |                    / COUNT(*) + 0.5) AS BIGINT) AS c
       |       FROM $a a JOIN $vt q USING (vec_id) CROSS JOIN d2
       |       GROUP BY 1, 2, 3),
       |$out AS (SELECT p.sub, p.code, p.j, COALESCE(m.c, p.c) AS c
       |         FROM $prev p LEFT JOIN $m m
       |           ON m.sub = p.sub AND m.code = p.code AND m.j = p.j)""".stripMargin

  /** PQ seed + initial per-(sub, code, j) codebook over vector table
    * `vt` (micro-unit `qv` lists). */
  private def pqSeedCtes(vt: String): String =
    s"""seeds AS (SELECT * FROM (
       |    SELECT vec_id, qv,
       |           CAST(ROW_NUMBER() OVER (ORDER BY
       |             CAST('0x' || SUBSTR(MD5('pqseed_' || vec_id), 1, 15) AS BIGINT),
       |             vec_id) - 1 AS INTEGER) AS code
       |    FROM $vt) s WHERE code < 32),
       |c0 AS (SELECT s.s AS sub, sd.code, d2.j,
       |              sd.qv[s.s * 2 + d2.j + 1] AS c
       |       FROM seeds sd CROSS JOIN subs s CROSS JOIN d2)""".stripMargin

  private val q101Sql =
    s"""WITH d2 AS (SELECT UNNEST(GENERATE_SERIES(0, 1)) AS j),
       |subs AS (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS s),
       |q AS (SELECT vec_id,
       |        LIST_TRANSFORM(embedding,
       |          x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
       |      FROM embeddings),
       |${pqSeedCtes("q")},
       |${pqAssignCte("q", "c0", "a1")},
       |${pqMeansCte("q", "a1", "c0", "m1", "c1")},
       |${pqAssignCte("q", "c1", "a2")},
       |${pqMeansCte("q", "a2", "c1", "m2", "c2")},
       |${pqAssignCte("q", "c2", "a3")},
       |${pqMeansCte("q", "a3", "c2", "m3", "c3")},
       |${pqAssignCte("q", "c3", "codes")},
       |luts AS (SELECT q.vec_id AS query_id, c.sub, c.code,
       |                SUM((q.qv[c.sub * 2 + c.j + 1] - c.c)
       |                  * (q.qv[c.sub * 2 + c.j + 1] - c.c)) AS d
       |         FROM q CROSS JOIN c3 c WHERE q.vec_id <= 4
       |         GROUP BY 1, 2, 3),
       |scored AS (SELECT l.query_id, k.vec_id, SUM(l.d) AS adist
       |           FROM codes k JOIN luts l
       |             ON l.sub = k.sub AND l.code = k.code
       |            AND k.vec_id <> l.query_id
       |           GROUP BY 1, 2),
       |r AS (SELECT query_id, vec_id, adist,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |               ORDER BY adist, vec_id) AS rk
       |      FROM scored)
       |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id,
       |       FLOOR(CAST(adist AS DOUBLE) / 100000000 + 0.5) / 10000 AS adist
       |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** q101's train-once cache (the q41/q103 discipline): codebooks + the
    * PQ-encoded corpus persist per dataset fingerprint; a query run is
    * then one pruned read of 32-byte codes + the broadcast LUT join —
    * training is paid once per corpus, as in deployment, not per query.
    * `encoded/_SUCCESS` is written LAST, so a half-built dir re-builds. */
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def pqIndexDir(s: SparkSession, d: String): String = {
    val src = new org.apache.hadoop.fs.Path(s"$d/embeddings.parquet")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val fingerprint = fs.listStatus(src)
      .map(st => st.getLen ^ st.getModificationTime)
      .foldLeft(d.hashCode.toLong)(_ ^ _)
    pqCache.computeIfAbsent(s"$d#$fingerprint", _ => {
      val dir = System.getProperty("java.io.tmpdir") +
        s"/graft_pq_v2_${java.lang.Long.toHexString(fingerprint)}"
      val marker = new org.apache.hadoop.fs.Path(s"$dir/encoded/_SUCCESS")
      val mfs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!mfs.exists(marker)) {
        val emb = t(s, d, "embeddings")
        val cb = graft.ext.PqOps
          .trainCodebooks(emb, m = 32, k = 32, iters = 3)
        cb.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
        graft.ext.PqOps.encode(emb, s.read.parquet(s"$dir/codebooks"))
          .write.mode("overwrite").parquet(s"$dir/encoded")
      }
      dir
    })
  }

  /** IVF-PQ ANN ([[graft.ext.IvfPq]]): the composed production layout —
    * coarse cells route the probe to `nProbe/nCells` of the corpus
    * (partition pruning), PQ residual codes cut the probed IO another
    * 16× and score via per-(query, cell) ADC LUTs. Index built once per
    * dataset (same cache discipline as q41). Since r12 the DuckDB oracle
    * composes the q41 coarse-training CTEs with the q101 residual-PQ
    * CTEs — the whole two-layer index, probe, and ADC pipeline rebuilt
    * in SQL; determinism, pruning, and recall floors stay pinned in
    * IvfPqSpec. */
  private def q103(s: SparkSession, d: String): DataFrame =
    graft.ext.IvfPq.query(s, ivfPqIndexDir(s, d),
      t(s, d, "embeddings").filter(col("vec_id") <= 4), k = 10, nProbe = 8)

  /** q103 oracle: coarse cells (shared [[ivfCoarseCtes]]) → residual
    * micro vectors `rq` → 2 unrolled PQ rounds → encode → 4dp-rounded
    * probe ranking (nProbe=8, [[graft.ext.IvfPq.query]]'s rule) →
    * per-(query, cell) residual LUTs → exact-integer ADC rank. */
  private val q103Sql =
    s"""WITH $ivfCoarseCtes,
       |d2 AS (SELECT UNNEST(GENERATE_SERIES(0, 1)) AS j),
       |subs AS (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS s),
       |rq AS (SELECT t.vec_id,
       |              LIST_TRANSFORM(GENERATE_SERIES(1, 64),
       |                ii -> CAST(FLOOR((t.vd[ii] - c.cd[ii]) * 1000000 + 0.5)
       |                           AS BIGINT)) AS qv
       |       FROM cells t JOIN cd c USING (cell)),
       |${pqSeedCtes("rq")},
       |${pqAssignCte("rq", "c0", "a1")},
       |${pqMeansCte("rq", "a1", "c0", "m1", "c1")},
       |${pqAssignCte("rq", "c1", "a2")},
       |${pqMeansCte("rq", "a2", "c1", "m2", "c2")},
       |${pqAssignCte("rq", "c2", "codes")},
       |probes AS (SELECT query_id, qvec, cell FROM (
       |             SELECT e.vec_id AS query_id, e.vd AS qvec, c.cell,
       |                    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |                      FLOOR(list_dot_product(e.vd, c.cd) /
       |                        (SQRT(list_dot_product(e.vd, e.vd)) *
       |                         SQRT(list_dot_product(c.cd, c.cd)))
       |                        * 10000 + 0.5) / 10000 DESC,
       |                      c.cell) AS pr
       |             FROM e CROSS JOIN cd c WHERE e.vec_id <= 4) p
       |           WHERE pr <= 8),
       |qrq AS (SELECT p.query_id, p.cell,
       |               LIST_TRANSFORM(GENERATE_SERIES(1, 64),
       |                 ii -> CAST(FLOOR((p.qvec[ii] - c.cd[ii]) * 1000000 + 0.5)
       |                            AS BIGINT)) AS qv
       |        FROM probes p JOIN cd c USING (cell)),
       |luts AS (SELECT r.query_id, r.cell, c.sub, c.code,
       |                SUM((r.qv[c.sub * 2 + c.j + 1] - c.c)
       |                  * (r.qv[c.sub * 2 + c.j + 1] - c.c)) AS d
       |         FROM qrq r CROSS JOIN c2 c
       |         GROUP BY 1, 2, 3, 4),
       |scored AS (SELECT l.query_id, k.vec_id, SUM(l.d) AS adist
       |           FROM codes k JOIN cells t USING (vec_id)
       |           JOIN luts l
       |             ON l.cell = t.cell AND l.sub = k.sub AND l.code = k.code
       |            AND k.vec_id <> l.query_id
       |           GROUP BY 1, 2),
       |r AS (SELECT query_id, vec_id, adist,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |               ORDER BY adist, vec_id) AS rk
       |      FROM scored)
       |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id,
       |       FLOOR(CAST(adist AS DOUBLE) / 100000000 + 0.5) / 10000 AS adist
       |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  private val ivfPqCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfPqIndexDir(s: SparkSession, d: String): String = {
    val src = new org.apache.hadoop.fs.Path(s"$d/embeddings.parquet")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val fingerprint = fs.listStatus(src)
      .map(st => st.getLen ^ st.getModificationTime)
      .foldLeft(d.hashCode.toLong)(_ ^ _)
    ivfPqCache.computeIfAbsent(s"$d#$fingerprint", _ => {
      val dir = System.getProperty("java.io.tmpdir") +
        s"/graft_ivfpq_v2_${java.lang.Long.toHexString(fingerprint)}"
      // Same-filesystem marker check as q41 (r3 ADVICE).
      val marker = new org.apache.hadoop.fs.Path(s"$dir/cells/_SUCCESS")
      val mfs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!mfs.exists(marker))
        graft.ext.IvfPq.build(s, t(s, d, "embeddings"), dir,
          nCells = 16, m = 32, k = 32, iters = 2)
      dir
    })
  }

  /** Per-source quantile floor filter ([[graft.ext.SamplingOps
    * .dropBottomPct]]): drop each source's bottom 20% by
    * (n_chars, doc_id) — the "cut the worst fraction per domain"
    * curation primitive, with an integer threshold so the kept set is
    * engine-exact. */
  private def q102(s: SparkSession, d: String): DataFrame =
    graft.ext.SamplingOps.dropBottomPct(
      t(s, d, "documents").select(col("doc_id"), col("source"),
        col("n_chars")),
      "source", 20, Seq(col("n_chars").asc, col("doc_id").asc))
      .orderBy(col("doc_id"))

  private val q102Sql =
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY n_chars, doc_id) AS rk,
      |         COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM documents)
      |SELECT doc_id, source, n_chars FROM r
      |WHERE rk > (cnt * 20) // 100 ORDER BY doc_id""".stripMargin

  /** BM25 lexical retrieval ([[graft.ext.CorpusOps.bm25TopK]]): top-5 docs
    * per literal query — the inverted-index shape without an index (the
    * query-term filter prunes the token stream before the tf shuffle, so
    * scoring is candidate-sized). Per-term contributions floored to
    * micro-nats before the sum; both engines run the identically
    * associated IEEE expression (the oracle casts every decimal literal
    * to DOUBLE — DuckDB would otherwise run DECIMAL arithmetic). */
  private val q104Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("hash", "join"),
    2L -> Seq("window", "merge", "stream"),
    3L -> Seq("vector", "scan", "slow"))

  private def q104(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.bm25TopK(t(s, d, "documents"), q104Queries)

  private val q104Sql =
    """WITH q AS (
      |  SELECT CAST(query_id AS BIGINT) AS query_id, tok FROM (VALUES
      |    (1, 'hash'), (1, 'join'),
      |    (2, 'window'), (2, 'merge'), (2, 'stream'),
      |    (3, 'vector'), (3, 'scan'), (3, 'slow')) AS v(query_id, tok)),
      |tk AS (
      |  SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                                    x -> LEN(x) > 0)) AS tok
      |  FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
      |st AS (SELECT (SELECT COUNT(*) FROM documents) AS nd,
      |              (SELECT COUNT(*) FROM tk) AS sumdl),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk
      |       WHERE tok IN ('hash', 'join', 'window', 'merge', 'stream',
      |                     'vector', 'scan', 'slow')
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |sc AS (
      |  SELECT q.query_id, tf.doc_id,
      |         CAST(SUM(CAST(FLOOR(
      |             LN(1 + (st.nd - dfq.df + 0.5::DOUBLE)
      |                    / (dfq.df + 0.5::DOUBLE))
      |             * (tf.tf * (1.2::DOUBLE + 1))
      |             / (tf.tf + 1.2::DOUBLE
      |                * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl.dl
      |                   / (CAST(st.sumdl AS DOUBLE) / st.nd)))
      |             * 1000000) AS BIGINT)) AS BIGINT) AS score_un
      |  FROM tf JOIN q USING (tok) JOIN dfq USING (tok)
      |       JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY q.query_id, tf.doc_id)
      |SELECT query_id,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                               ORDER BY score_un DESC, doc_id)
      |            AS INTEGER) AS rk,
      |       doc_id, score_un
      |FROM sc QUALIFY rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Edit-distance-1 fuzzy self-join ([[graft.ext.FuzzyOps.selfJoinEd1]]):
    * FastSS deletion-neighborhood candidates + native levenshtein verify —
    * entity resolution over names that share a constant prefix (where
    * positional chunk signatures would go cartesian). The oracle is the
    * full quadratic join, so the no-false-negative property of the
    * deletion neighborhood is oracle-checked, not asserted. */
  private def q105(s: SparkSession, d: String): DataFrame =
    graft.ext.FuzzyOps.selfJoinEd1(t(s, d, "customer"),
      "c_custkey", "c_name")

  private val q105Sql =
    """SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
      |       CAST(LEVENSHTEIN(a.c_name, b.c_name) AS INTEGER) AS dist
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE LEVENSHTEIN(a.c_name, b.c_name) <= 1
      |ORDER BY a_key, b_key""".stripMargin

  /** Per-source robust profile ([[graft.ext.ProfileOps.groupedMad]]):
    * lower median + median absolute deviation of n_chars — both defined
    * at integer rank `(n+1) div 2` so the stats are engine-exact (DuckDB
    * MEDIAN interpolates; the oracle spells ROW_NUMBER like the Spark
    * side). Ranks from the bounded-memory two-phase group rank. */
  private def q106(s: SparkSession, d: String): DataFrame =
    graft.ext.ProfileOps.groupedMad(t(s, d, "documents"), "source", "n_chars")

  private val q106Sql =
    """WITH r AS (
      |  SELECT source, n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY n_chars, doc_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM documents),
      |med AS (SELECT source, n_chars AS med FROM r WHERE rn = (cnt + 1) // 2),
      |a AS (SELECT d.source, med.med, ABS(d.n_chars - med.med) AS adev,
      |             d.doc_id
      |      FROM documents d JOIN med USING (source)),
      |r2 AS (
      |  SELECT source, med, adev,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY adev, doc_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM a)
      |SELECT source, med, adev AS mad FROM r2
      |WHERE rn = (cnt + 1) // 2 ORDER BY source""".stripMargin

  /** Token-weighted per-source median document length
    * ([[graft.ext.ProfileOps.weightedMedian]]): the value where the
    * running token mass first reaches `(Σw + 1) div 2` — a long doc
    * moves the center by its token count, not once. One range shuffle,
    * then a pure crossing-row filter; integer end-to-end. */
  private def q107(s: SparkSession, d: String): DataFrame =
    graft.ext.ProfileOps.weightedMedian(
      t(s, d, "documents").select(col("doc_id"), col("source"),
        col("n_chars"),
        coalesce(size(graft.ext.TextOps.tokens(col("text"))), lit(0))
          .as("w")),
      "source", "n_chars", "w", "doc_id")

  private val q107Sql =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |         COALESCE(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                                  x -> LEN(x) > 0)), 0) AS w
      |  FROM documents),
      |c AS (SELECT source, SUM(w) AS tw FROM d GROUP BY source),
      |r AS (SELECT source, n_chars, w,
      |             SUM(w) OVER (PARTITION BY source ORDER BY n_chars, doc_id
      |                          ROWS UNBOUNDED PRECEDING) AS cw
      |      FROM d)
      |SELECT r.source, r.n_chars AS wmed FROM r JOIN c USING (source)
      |WHERE cw >= (tw + 1) // 2 AND cw - w < (tw + 1) // 2
      |ORDER BY r.source""".stripMargin

  /** Modified-z-score outlier flags ([[graft.ext.ProfileOps
    * .robustOutliers]]) at cutoff 2.0 over per-source (med, mad) —
    * the cross-multiplied integer boundary, no float threshold. */
  private def q108(s: SparkSession, d: String): DataFrame =
    graft.ext.ProfileOps.robustOutliers(
      t(s, d, "documents"), "source", "n_chars", "doc_id", zTenths = 20)

  private val q108Sql =
    """WITH r AS (
      |  SELECT source, n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY n_chars, doc_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM documents),
      |med AS (SELECT source, n_chars AS med FROM r WHERE rn = (cnt + 1) // 2),
      |a AS (SELECT d.source, med.med, ABS(d.n_chars - med.med) AS adev,
      |             d.doc_id
      |      FROM documents d JOIN med USING (source)),
      |r2 AS (
      |  SELECT source, med, adev,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY adev, doc_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM a),
      |s AS (SELECT source, med, adev AS mad FROM r2 WHERE rn = (cnt + 1) // 2)
      |SELECT d.source, d.doc_id, d.n_chars, s.med, s.mad
      |FROM documents d JOIN s USING (source)
      |WHERE 67450 * ABS(d.n_chars - s.med) > 200000 * s.mad
      |ORDER BY d.source, d.doc_id""".stripMargin

  /** Per-source Pearson correlation of doc length vs token count
    * ([[graft.ext.ProfileOps.groupedCorr]]): BIGINT sufficient statistics
    * (exact, order-independent) + one identically-associated final double
    * expression, floored 6dp — unlike native `corr`, reproducible across
    * partitionings AND engines. */
  private def q109(s: SparkSession, d: String): DataFrame =
    graft.ext.ProfileOps.groupedCorr(
      t(s, d, "documents").select(col("source"), col("n_chars").as("x"),
        coalesce(size(graft.ext.TextOps.tokens(col("text"))), lit(0))
          .as("y")),
      "source", "x", "y")

  private val q109Sql =
    """WITH d AS (
      |  SELECT source, n_chars AS x,
      |         CAST(COALESCE(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                                       t -> LEN(t) > 0)), 0)
      |              AS BIGINT) AS y
      |  FROM documents),
      |a AS (SELECT source, COUNT(*) AS n,
      |             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |             CAST(SUM(x * y) AS BIGINT) AS sxy,
      |             CAST(SUM(x * x) AS BIGINT) AS sxx,
      |             CAST(SUM(y * y) AS BIGINT) AS syy
      |      FROM d GROUP BY source)
      |SELECT source, n,
      |       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
      |            THEN NULL
      |            ELSE FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
      |                       / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
      |                          * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
      |                       * 1000000) / 1000000 END AS corr_r
      |FROM a ORDER BY source""".stripMargin

  /** Interval overlap self-join ([[graft.operators.IntervalJoin]]): each
    * event spans `[ts, ts + value minutes]`; pairs of overlapping spans
    * per user via the bucketized equi-join (6 h buckets — ≥ the longest
    * ~8 h interval keeps the explode ≤ 3 rows/interval). All boundaries
    * in integer MICROS (the repo's time-comparison rule). */
  private def q110(s: SparkSession, d: String): DataFrame = {
    val iv = t(s, d, "events").select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts"))
        + floor(col("value") * 60).cast("long") * lit(1000000L)).as("e"))
    graft.operators.IntervalJoin.overlapSelfJoin(
      iv, "user_id", "event_id", "s", "e", bucketMicros = 21600000000L)
  }

  private val q110Sql =
    """WITH iv AS (
      |  SELECT user_id, event_id, EPOCH_US(ts) AS s,
      |         EPOCH_US(ts) + CAST(FLOOR(value * 60) AS BIGINT) * 1000000
      |           AS e
      |  FROM events)
      |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      |       LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap_us
      |FROM iv a JOIN iv b ON a.user_id = b.user_id
      |  AND a.event_id < b.event_id AND a.s <= b.e AND b.s <= a.e
      |ORDER BY a.user_id, a_id, b_id""".stripMargin

  /** Sorted-neighborhood blocking + match predicate ([[graft.ext.FuzzyOps
    * .sortedNeighborhoodPairs]]): rank customers by name, compare only
    * pairs within a 5-rank window, keep levenshtein ≤ 1 — the classic ER
    * blocking scheme; the oracle encodes the SAME windowed semantics, so
    * blocking recall is part of the checked contract, not hidden. */
  private def q111(s: SparkSession, d: String): DataFrame =
    graft.ext.FuzzyOps.sortedNeighborhoodPairs(
        t(s, d, "customer").select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", w = 5)
      .withColumn("dist", levenshtein(col("a_val"), col("b_val")))
      .filter(col("dist") <= 1)
      .select(col("a_id").as("a_key"), col("b_id").as("b_key"),
        col("gap"), col("dist"))
      .orderBy(col("a_key"), col("b_key"))

  private val q111Sql =
    """WITH r AS (
      |  SELECT c_custkey, c_name,
      |         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rn
      |  FROM customer)
      |SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
      |       b.rn - a.rn AS gap,
      |       CAST(LEVENSHTEIN(a.c_name, b.c_name) AS INTEGER) AS dist
      |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 5
      |  AND LEVENSHTEIN(a.c_name, b.c_name) <= 1
      |ORDER BY a_key, b_key""".stripMargin

  /** Model-score quality filter ([[graft.ext.InferenceOps]]): the batched
    * per-partition-init inference harness scoring every doc, keeping
    * those under the threshold. The bundled scorer is the deterministic
    * no-model stand-in — but its md5-nibble score is reproduced verbatim
    * in DuckDB, so the whole path (batching, zip-back, filter) is
    * hash-compared cross-engine, not just spec-asserted. */
  private def q112(s: SparkSession, d: String): DataFrame =
    graft.ext.InferenceOps.modelFilter(t(s, d, "documents"),
      new graft.ext.InferenceOps.Md5Scorer, tau = 524288L)

  private val q112Sql =
    """WITH h AS (
      |  SELECT doc_id, MD5('m_' || doc_id || ':' || text) AS hx
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CAST((STRPOS('0123456789abcdef', SUBSTR(hx, 1, 1)) - 1) * 65536
      |       + (STRPOS('0123456789abcdef', SUBSTR(hx, 2, 1)) - 1) * 4096
      |       + (STRPOS('0123456789abcdef', SUBSTR(hx, 3, 1)) - 1) * 256
      |       + (STRPOS('0123456789abcdef', SUBSTR(hx, 4, 1)) - 1) * 16
      |       + (STRPOS('0123456789abcdef', SUBSTR(hx, 5, 1)) - 1)
      |      AS BIGINT) AS score_u
      |  FROM h)
      |SELECT doc_id, score_u FROM s WHERE score_u < 524288
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------- q113 gopher rule bundle

  private def q113(s: SparkSession, d: String): DataFrame =
    graft.ext.TextOps.gopherFlags(t(s, d, "documents")).orderBy(col("doc_id"))

  private val q113Sql = {
    val stops = graft.ext.TextOps.stopwords("en").map("'" + _ + "'")
      .mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         LIST_FILTER(STRING_SPLIT(LOWER(COALESCE(text, '')), ' '), x -> LEN(x) > 0) AS toks,
       |         LEN(REPLACE(LOWER(COALESCE(text, '')), ' ', '')) AS sum_len,
       |         LEN(REGEXP_EXTRACT_ALL(COALESCE(text, ''), '#'))
       |           + LEN(REGEXP_EXTRACT_ALL(COALESCE(text, ''), '\\.\\.\\.')) AS n_sym
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |         CAST(LEN(toks) AS INTEGER) AS n_tokens,
       |         CAST(sum_len AS INTEGER) AS sum_len,
       |         CAST(n_sym AS INTEGER) AS n_sym,
       |         CAST(LEN(LIST_FILTER(toks, x -> REGEXP_MATCHES(x, '[a-z]'))) AS INTEGER) AS n_alpha,
       |         CAST(LEN(LIST_INTERSECT(toks, $stops)) AS INTEGER) AS n_stop
       |  FROM t)
       |SELECT doc_id, n_tokens, sum_len, n_sym, n_alpha, n_stop,
       |       CAST(CASE WHEN n_tokens BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS INTEGER) AS r_wc,
       |       CAST(CASE WHEN sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10 THEN 1 ELSE 0 END AS INTEGER) AS r_mwl,
       |       CAST(CASE WHEN n_sym * 10 < n_tokens THEN 1 ELSE 0 END AS INTEGER) AS r_sym,
       |       CAST(CASE WHEN n_alpha * 5 >= n_tokens * 4 THEN 1 ELSE 0 END AS INTEGER) AS r_alpha,
       |       CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS INTEGER) AS r_stop,
       |       CAST(CASE WHEN n_tokens BETWEEN 20 AND 100000
       |                  AND sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10
       |                  AND n_sym * 10 < n_tokens
       |                  AND n_alpha * 5 >= n_tokens * 4
       |                  AND n_stop >= 2 THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ q114 heavy hitters

  private def q114(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.heavyHitters(t(s, d, "documents"), k = 32)

  private val q114Sql =
    """WITH toks AS (
      |  SELECT UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(COALESCE(text, '')), ' '), x -> LEN(x) > 0)) AS tok
      |  FROM documents),
      |tot AS (SELECT COUNT(*) AS n FROM toks)
      |SELECT tok, COUNT(*) AS cnt
      |FROM toks, tot
      |GROUP BY tok, tot.n
      |HAVING COUNT(*) * 32 > tot.n
      |ORDER BY tok""".stripMargin

  // --------------------------------------------- q115 perplexity buckets

  private def q115(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.perplexityBuckets(t(s, d, "documents"), nBuckets = 3)

  private val q115Sql =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |         CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90
      |              THEN 'train'
      |              WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 95
      |              THEN 'val' ELSE 'test' END AS split,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     x -> LEN(x) > 0) AS toks
      |  FROM documents),
      |t AS (SELECT doc_id, lang, split, UNNEST(toks) AS tok FROM d),
      |counts AS (
      |  SELECT tok, COUNT(*) AS df FROM t WHERE split = 'train'
      |  GROUP BY tok),
      |tot AS (SELECT CAST(SUM(df) + COUNT(*) AS BIGINT) AS denom
      |        FROM counts),
      |scored AS (
      |  SELECT t.doc_id, t.lang, COUNT(*) AS n_toks,
      |         CAST(SUM(CAST(FLOOR(LN(
      |                CAST(COALESCE(counts.df, 0) + 1 AS DOUBLE)
      |                / (SELECT denom FROM tot)) * 1000000) AS BIGINT))
      |              AS BIGINT) AS sum_unats
      |  FROM t LEFT JOIN counts USING (tok)
      |  GROUP BY t.doc_id, t.lang),
      |m AS (
      |  SELECT *, CAST(FLOOR(CAST(sum_unats AS DOUBLE) / n_toks) AS BIGINT)
      |              AS mean_unats
      |  FROM scored),
      |r AS (
      |  SELECT *,
      |         ROW_NUMBER() OVER (PARTITION BY lang
      |                            ORDER BY mean_unats DESC, doc_id ASC) AS rk,
      |         COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM m)
      |SELECT doc_id, lang, n_toks, sum_unats, mean_unats,
      |       CAST((rk - 1) * 3 // n AS INTEGER) AS bucket
      |FROM r ORDER BY doc_id""".stripMargin

  // --------------------------------------------- q116 DSIR weights

  private def q116(s: SparkSession, d: String): DataFrame =
    graft.ext.CorpusOps.dsirWeights(t(s, d, "documents"),
      col("source") === "src0", nBuckets = 4096)

  private val q116Sql =
    """WITH d AS (
      |  SELECT doc_id, source = 'src0' AS is_t,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     x -> LEN(x) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, is_t,
      |         UNNEST(LIST_TRANSFORM(RANGE(0, LEN(toks) - 1),
      |                i -> ARRAY_TO_STRING(toks[i + 1 : i + 2], ' '))) AS g
      |  FROM d WHERE LEN(toks) >= 2),
      |h AS (
      |  SELECT doc_id, is_t,
      |         CAST(((STRPOS('0123456789abcdef', SUBSTR(MD5(g), 1, 1)) - 1) * 4096
      |             + (STRPOS('0123456789abcdef', SUBSTR(MD5(g), 2, 1)) - 1) * 256
      |             + (STRPOS('0123456789abcdef', SUBSTR(MD5(g), 3, 1)) - 1) * 16
      |             + (STRPOS('0123456789abcdef', SUBSTR(MD5(g), 4, 1)) - 1))
      |              % 4096 AS INTEGER) AS bucket
      |  FROM g),
      |counts AS (
      |  SELECT bucket, COUNT(*) AS cr,
      |         COUNT(CASE WHEN is_t THEN 1 END) AS ct
      |  FROM h GROUP BY bucket),
      |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr,
      |               CAST(SUM(ct) AS BIGINT) AS nt FROM counts),
      |ratio AS (
      |  SELECT CAST(b.bucket AS INTEGER) AS bucket,
      |         CAST(FLOOR((LN(CAST(COALESCE(counts.ct, 0) + 1 AS DOUBLE)
      |                        / ((SELECT nt FROM tot) + 4096))
      |                   - LN(CAST(COALESCE(counts.cr, 0) + 1 AS DOUBLE)
      |                        / ((SELECT nr FROM tot) + 4096)))
      |                   * 1000000) AS BIGINT) AS unats
      |  FROM (SELECT UNNEST(RANGE(0, 4096)) AS bucket) b
      |  LEFT JOIN counts ON counts.bucket = b.bucket)
      |SELECT h.doc_id, COUNT(*) AS n_feats,
      |       CAST(SUM(ratio.unats) AS BIGINT) AS weight_unats
      |FROM h JOIN ratio USING (bucket)
      |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin

  // --------------------------------------------- q117 pagerank

  private def q117(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    // bipartite customer↔supplier trade graph, both directions so every
    // node has outdeg >= 1 (the PageRank precondition)
    val pairs = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    graft.operators.PageRank.ranks(edges, iters = 5).orderBy(col("node"))
  }

  private val q117Sql = {
    val prs = (1 to 5).map { i =>
      s"""pr$i AS (
         |  SELECT e.dst AS node,
         |         CAST(150000 + FLOOR(0.85 * SUM(p.rank // d.outdeg))
         |              AS BIGINT) AS rank
         |  FROM pr${i - 1} p
         |  JOIN edges e ON e.src = p.node
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT a AS src, b AS dst FROM pairs
       |          UNION ALL SELECT b AS src, a AS dst FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |$prs
       |SELECT node, rank FROM pr5 ORDER BY node""".stripMargin
  }

  // --------------------------------------------- q118 grouped OLS

  private def q118(s: SparkSession, d: String): DataFrame =
    graft.ext.ProfileOps.groupedOls(
      t(s, d, "documents").select(col("source"),
        coalesce(size(graft.ext.TextOps.tokens(col("text"))), lit(0))
          .as("x"),
        col("n_chars").as("y")),
      "source", "x", "y")

  private val q118Sql =
    """WITH d AS (
      |  SELECT source,
      |         CAST(COALESCE(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                                       t -> LEN(t) > 0)), 0)
      |              AS BIGINT) AS x,
      |         n_chars AS y
      |  FROM documents),
      |a AS (SELECT source, COUNT(*) AS n,
      |             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |             CAST(SUM(x * y) AS BIGINT) AS sxy,
      |             CAST(SUM(x * x) AS BIGINT) AS sxx
      |      FROM d GROUP BY source)
      |SELECT source, n,
      |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |            ELSE FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
      |                       / CAST(n * sxx - sx * sx AS DOUBLE)
      |                       * 1000000) / 1000000 END AS slope,
      |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |            ELSE FLOOR((CAST(sy AS DOUBLE)
      |                        - CAST(n * sxy - sx * sy AS DOUBLE)
      |                          / CAST(n * sxx - sx * sx AS DOUBLE)
      |                          * CAST(sx AS DOUBLE))
      |                       / n * 1000000) / 1000000 END AS intercept
      |FROM a ORDER BY source""".stripMargin

  // --------------------------------------------- q119 triangle counts

  private def q119(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    // co-activity graph: users sharing >= 3 (event_type, hour) cells;
    // pair generation is cell-blocked (a cell holds at most the distinct
    // user count), the LSH-bucket discipline applied to co-occurrence
    val edges = coActivityEdges(ev, minShared = 3)
    graft.operators.Triangles.perNode(edges)
  }

  /** Shared q119/q123/q132 co-activity edge builder: users sharing ≥
    * `minShared` (event_type, hour) cells. Pair generation collapses each
    * cell to a SORTED user list and explodes ordered pairs in place — the
    * FuzzyOps bucket discipline — instead of self-joining two copies of
    * the cell frame: the cell frame is shuffled ONCE (not twice), and the
    * u<v pair stream is produced directly from the sorted list, so the
    * pair SET (and the integer shared-counts) is exactly the join
    * spelling's. The quadratic stays cell-bounded either way.
    *
    * Pair expansion is a TWO-LEVEL explode (r13, ADVICE r12): the old
    * `flatten(transform(...))` evaluated the ENTIRE O(n²/2) pair-struct
    * array of a cell as ONE value before Generate could stream it — a hot
    * production cell (many users active in one hour) would allocate the
    * whole quadratic in a single task row. posexplode streams one
    * (position, user) row per member, then each row explodes only its
    * own O(n) partner slice — identical pair multiset, per-row memory
    * bounded by the cell's member list instead of its pair count. */
  private def coActivityEdges(ev: DataFrame, minShared: Int): DataFrame =
    ev.select(col("user_id"),
        col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .distinct()
      .groupBy(col("event_type"), col("h"))
      .agg(sort_array(collect_list(col("user_id"))).as("us"))
      .filter(size(col("us")) >= 2)
      .select(col("us"), posexplode(col("us")).as(Seq("i", "u")))
      .select(col("u"), explode(expr("slice(us, i + 2, size(us))")).as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("u"), col("v"))

  private val q119Sql =
    """WITH cells AS (
      |  SELECT DISTINCT user_id, event_type,
      |         epoch_us(ts) // 3600000000 AS h
      |  FROM events),
      |e AS (
      |  SELECT a.user_id AS u, b.user_id AS v
      |  FROM cells a
      |  JOIN cells b ON a.event_type = b.event_type AND a.h = b.h
      |              AND a.user_id < b.user_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1
      |  JOIN e e2 ON e2.u = e1.v
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |nodes AS (
      |  SELECT a AS node FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |SELECT node, COUNT(*) AS n_tri
      |FROM nodes GROUP BY node ORDER BY node""".stripMargin

  // --------------------------------------------- q120 OHLC time bars

  private def q120(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    // open/close tie-break on (ts, event_id): deterministic by
    // construction, not by data luck — min_by/max_by over an orderable
    // struct, ONE hash aggregate, no window
    val key = struct(col("ts"), col("event_id"))
    ev.select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_id"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), key).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), key).as("close"))
      .orderBy(col("event_type"), col("hour_id"))
  }

  private val q120Sql =
    """WITH b AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_id, value,
      |         ROW_NUMBER() OVER (PARTITION BY event_type,
      |                                         epoch_us(ts) // 3600000000
      |                            ORDER BY ts, event_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type,
      |                                     epoch_us(ts) // 3600000000) AS cnt
      |  FROM events)
      |SELECT event_type, hour_id, COUNT(*) AS n,
      |       MAX(CASE WHEN rn = 1 THEN value END) AS open,
      |       MAX(value) AS high, MIN(value) AS low,
      |       MAX(CASE WHEN rn = cnt THEN value END) AS close
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------- q121 snapshot diff

  /** Snapshot diff ([[graft.ext.DiffOps]]): classify rows across two
    * deterministic snapshots of `orders` — B drops every 89th key
    * (deletes), gains the 97th-key rows A lacks (inserts), and bumps
    * every 31st price (updates). Floats are pre-normalized to integer
    * cents before the payload digest per the DiffOps exactness contract. */
  private def q121(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    def cents(p: Column) = floor(p * 100 + lit(0.5)).cast("long")
    val a = o.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), cents(col("o_totalprice")).as("cents"))
    val bPrice = when(col("o_orderkey") % 31 === 0,
      col("o_totalprice") + lit(1.0)).otherwise(col("o_totalprice"))
    val b = o.filter(col("o_orderkey") % 89 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), cents(bPrice).as("cents"))
    graft.ext.DiffOps.snapshotDiff(a, b, Seq("o_orderkey"),
      Seq("o_orderstatus", "o_orderpriority", "cents"))
  }

  private val q121Sql =
    """WITH a AS (
      |  SELECT o_orderkey,
      |         MD5(CONCAT_WS(CHR(1), o_orderstatus, o_orderpriority,
      |           CAST(CAST(FLOOR(o_totalprice*100 + 0.5::DOUBLE) AS BIGINT)
      |                AS VARCHAR))) AS dig
      |  FROM orders WHERE o_orderkey % 97 <> 0),
      |b AS (
      |  SELECT o_orderkey,
      |         MD5(CONCAT_WS(CHR(1), o_orderstatus, o_orderpriority,
      |           CAST(CAST(FLOOR(p*100 + 0.5::DOUBLE) AS BIGINT)
      |                AS VARCHAR))) AS dig
      |  FROM (SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |          CASE WHEN o_orderkey % 31 = 0
      |               THEN o_totalprice + 1.0::DOUBLE
      |               ELSE o_totalprice END AS p
      |        FROM orders)
      |  WHERE o_orderkey % 89 <> 0)
      |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |       CASE WHEN a.o_orderkey IS NULL THEN 'insert'
      |            WHEN b.o_orderkey IS NULL THEN 'delete'
      |            WHEN a.dig <> b.dig THEN 'update' END AS change
      |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
      |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL OR a.dig <> b.dig
      |ORDER BY 1""".stripMargin

  // --------------------------------------------- q122 PSI drift

  /** Per-source distribution drift ([[graft.ext.ProfileOps.psiDrift]]):
    * Population Stability Index of each source's `n_chars` distribution
    * against the whole corpus — the "did an upstream source shift?"
    * monitor run before a training-data refresh ships. */
  private def q122(s: SparkSession, d: String): DataFrame =
    graft.ext.ProfileOps.psiDrift(
      t(s, d, "documents"), "source", "n_chars",
      bucketWidth = 200L, nBuckets = 10)

  private val q122Sql =
    """WITH c AS (
      |  SELECT source, LEAST(n_chars // 200, 9) AS b, COUNT(*) AS cg
      |  FROM documents GROUP BY 1, 2),
      |g AS (SELECT source, CAST(SUM(cg) AS BIGINT) AS ng FROM c GROUP BY 1),
      |bk AS (SELECT b, CAST(SUM(cg) AS BIGINT) AS ca FROM c GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cg) AS BIGINT) AS na FROM c),
      |dense AS (
      |  SELECT g.source, bk.b, COALESCE(c.cg, 0) AS cg, g.ng, bk.ca, tot.na
      |  FROM g CROSS JOIN bk
      |  LEFT JOIN c ON c.source = g.source AND c.b = bk.b
      |  CROSS JOIN tot),
      |term AS (
      |  SELECT source, ng,
      |         CAST(FLOOR((CAST(cg+1 AS DOUBLE)/CAST(ng+10 AS DOUBLE)
      |                     - CAST(ca+1 AS DOUBLE)/CAST(na+10 AS DOUBLE))
      |           * LN((CAST(cg+1 AS DOUBLE)/CAST(ng+10 AS DOUBLE))
      |                / (CAST(ca+1 AS DOUBLE)/CAST(na+10 AS DOUBLE)))
      |           * 1000000::DOUBLE) AS BIGINT) AS term
      |  FROM dense)
      |SELECT source, MAX(ng) AS n, CAST(SUM(term) AS BIGINT) AS psi_micro
      |FROM term GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------- q123 k-core

  /** k-core of the q119 co-activity graph ([[graft.operators.KCore]]):
    * 3 peel rounds at k=4 over users sharing ≥4 (event_type, hour)
    * cells — the dense-community screen (hubs survive, chains and
    * tendrils fall off round by round). */
  private def q123(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    // shared bucket-explode edge builder — see [[coActivityEdges]] (q119)
    val edges = coActivityEdges(ev, minShared = 4)
    graft.operators.KCore.peel(edges, k = 4, rounds = 3)
  }

  private val q123Sql =
    """WITH cells AS (
      |  SELECT DISTINCT user_id, event_type,
      |         epoch_us(ts) // 3600000000 AS h
      |  FROM events),
      |e0 AS (
      |  SELECT a.user_id AS a, b.user_id AS b
      |  FROM cells a
      |  JOIN cells b ON a.event_type = b.event_type AND a.h = b.h
      |              AND a.user_id < b.user_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 4),
      |d1 AS (SELECT n, COUNT(*) AS d FROM
      |  (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
      |e1 AS (SELECT a, b FROM e0
      |  WHERE a IN (SELECT n FROM d1 WHERE d >= 4)
      |    AND b IN (SELECT n FROM d1 WHERE d >= 4)),
      |d2 AS (SELECT n, COUNT(*) AS d FROM
      |  (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
      |e2 AS (SELECT a, b FROM e1
      |  WHERE a IN (SELECT n FROM d2 WHERE d >= 4)
      |    AND b IN (SELECT n FROM d2 WHERE d >= 4)),
      |d3 AS (SELECT n, COUNT(*) AS d FROM
      |  (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
      |e3 AS (SELECT a, b FROM e2
      |  WHERE a IN (SELECT n FROM d3 WHERE d >= 4)
      |    AND b IN (SELECT n FROM d3 WHERE d >= 4))
      |SELECT node, COUNT(*) AS deg
      |FROM (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------- q124 last-click attribution

  /** Last-click attribution: each purchase credits the user's most recent
    * click within 7 days — the standard marketing-attribution form,
    * composed from the SALTED backward as-of join (q40's skew-safe
    * machinery) with a tolerance bound; clicks pre-aggregated per
    * (user, ts) with a max-event_id tie-break so the match is
    * deterministic by construction. Boundary compared in integer
    * MICROSECONDS on both engines (the time-boundary discipline). */
  private def q124(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("ts").as("cts"), col("click_id"),
        col("ts").as("click_ts"))
    graft.operators.AsOfJoin.backwardSalted(
      purchases, clicks, Seq("user_id"), "ts", "cts",
      Seq("click_id", "click_ts"),
      bucket = _.cast("date"),
      tolerance = Some((l, r) =>
        unix_micros(l) - unix_micros(r) <= lit(604800000000L)))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  private val q124Sql =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, ts AS cts, MAX(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |m AS (
      |  SELECT p.purchase_id, c.click_id,
      |         epoch_us(p.ts) - epoch_us(c.cts) AS gap_us,
      |         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
      |                            ORDER BY c.cts DESC) AS rn
      |  FROM p JOIN c ON c.user_id = p.user_id AND c.cts <= p.ts
      |               AND epoch_us(p.ts) - epoch_us(c.cts) <= 604800000000)
      |SELECT p.purchase_id, p.user_id, m.click_id, m.gap_us
      |FROM p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (purchase_id)
      |ORDER BY purchase_id""".stripMargin

  // --------------------------------------------- q125 ER golden record

  /** End-to-end entity resolution to a golden-record table: q111's
    * sorted-neighborhood blocking + edit-distance-1 verify produce match
    * pairs, [[graft.operators.ConnectedComponents]] closes them
    * transitively (chains of near-identical names merge — visible here:
    * consecutive serial names form 10-member entities), and survivorship
    * picks the min-key member's name as canonical (`min_by` — keys are
    * unique so the pick is deterministic). Singletons stay their own
    * golden record via the left join. The MERGE-into-master workflow an
    * Exasol ETL shop hand-writes, as one declarative pipeline. */
  private def q125(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer").select(col("c_custkey"), col("c_name"))
    val pairs = graft.ext.FuzzyOps.sortedNeighborhoodPairs(
        cust, "c_custkey", "c_name", w = 5)
      .filter(levenshtein(col("a_val"), col("b_val")) <= 1)
      .select(col("a_id"), col("b_id"))
    val labels = graft.operators.ConnectedComponents
      .labels(pairs, "a_id", "b_id")
      .withColumnRenamed("id", "c_custkey")
    cust.join(labels, Seq("c_custkey"), "left")
      .withColumn("entity_id", coalesce(col("comp"), col("c_custkey")))
      .groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_members"),
        min_by(col("c_name"), col("c_custkey")).as("canonical"))
      .orderBy(col("entity_id"))
  }

  private val q125Sql =
    """WITH r AS (
      |  SELECT c_custkey, c_name,
      |         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rn
      |  FROM customer),
      |p AS (
      |  SELECT a.c_custkey AS a_key, b.c_custkey AS b_key
      |  FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 5
      |    AND LEVENSHTEIN(a.c_name, b.c_name) <= 1),
      |sym AS (SELECT a_key AS s, b_key AS t FROM p
      |        UNION ALL SELECT b_key, a_key FROM p),
      |reach AS (
      |  WITH RECURSIVE rc(s, t) AS (
      |    SELECT s, t FROM sym
      |    UNION
      |    SELECT rc.s, sym.t FROM rc JOIN sym ON sym.s = rc.t
      |    WHERE sym.t <> rc.s)
      |  SELECT s, t FROM rc),
      |comp AS (
      |  SELECT s AS id, LEAST(s, MIN(t)) AS comp FROM reach GROUP BY s),
      |g AS (
      |  SELECT COALESCE(comp.comp, c.c_custkey) AS entity_id,
      |         c.c_custkey, c.c_name
      |  FROM customer c LEFT JOIN comp ON comp.id = c.c_custkey)
      |SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members,
      |       ARG_MIN(c_name, c_custkey) AS canonical
      |FROM g GROUP BY entity_id ORDER BY entity_id""".stripMargin

  // --------------------------------------------- q126 Benford screen

  /** Benford first-digit screen over order prices: observed leading-digit
    * counts vs the Benford expectation `n·log10(1+1/d)`, with the
    * per-digit chi-square term — the classic fabricated-numbers /
    * corrupted-feed detector a load-audit job runs. The digit histogram
    * is ONE hash aggregate (9 keys); the expectation and chi-square are
    * pure arithmetic on the tiny result, densified over the literal
    * digit table so absent digits still report. Doubles are floored to
    * integer micro-units on the SHARED expression (q90 discipline). */
  private def q126(s: SparkSession, d: String): DataFrame = {
    val src = t(s, d, "orders")
      .filter(col("o_totalprice") >= 1.0)
      .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
        .cast("long").as("d"))
    val obs = src.groupBy(col("d")).agg(count(lit(1)).as("obs"))
    val n = src.agg(count(lit(1)).as("n"))
    val e = col("n") * log10(lit(1.0) + lit(1.0) / col("d"))
    s.range(1, 10).select(col("id").as("d"))
      .join(obs, Seq("d"), "left")
      .na.fill(0L, Seq("obs"))
      .crossJoin(broadcast(n))
      .withColumn("e", e)
      .select(col("d"), col("obs"),
        floor(col("e") * lit(1000000.0)).cast("long").as("exp_micro"),
        floor((col("obs") - col("e")) * (col("obs") - col("e")) / col("e")
          * lit(1000000.0)).cast("long").as("chi2_micro"))
      .orderBy(col("d"))
  }

  private val q126Sql =
    """WITH src AS (
      |  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
      |                          AS VARCHAR), 1, 1) AS BIGINT) AS d
      |  FROM orders WHERE o_totalprice >= 1.0::DOUBLE),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
      |obs AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS obs FROM src GROUP BY d),
      |digits AS (SELECT CAST(range AS BIGINT) AS d FROM range(1, 10)),
      |f AS (
      |  SELECT digits.d, COALESCE(obs.obs, 0) AS obs, n.n,
      |         n.n * LOG10(1.0::DOUBLE + 1.0::DOUBLE / digits.d) AS e
      |  FROM digits LEFT JOIN obs ON obs.d = digits.d CROSS JOIN n)
      |SELECT d, obs,
      |       CAST(FLOOR(e * 1000000::DOUBLE) AS BIGINT) AS exp_micro,
      |       CAST(FLOOR((obs - e) * (obs - e) / e * 1000000::DOUBLE)
      |            AS BIGINT) AS chi2_micro
      |FROM f ORDER BY d""".stripMargin

  // --------------------------------------------- q127 hourly anomalies

  /** Seasonal-baseline anomaly detection on the event stream: daily
    * counts per (event_type, hour-of-day) cell, then each cell's count
    * judged against the SAME hour-of-day's robust baseline (lower
    * median + MAD across days, [[graft.ext.ProfileOps.robustOutliers]]
    * at cutoff 2.0) — hour 03:00 is compared to other 03:00s, so the
    * daily traffic shape never false-alarms. Cross-multiplied integer
    * boundary, no float threshold; only OBSERVED cells are judged
    * (a silent zero-count hour needs gap-fill first — q81's job).
    * Shape: one hash aggregate to daily cells (bounded by
    * types × days × 24), then the q106/q108 bounded-rank machinery on
    * that tiny frame. */
  private def q127(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val daily = ev.select(
        concat_ws("#", col("event_type"),
          (expr("unix_micros(ts) div 3600000000") % 24).cast("string"))
          .as("grp"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("grp"), col("day")).agg(count(lit(1)).as("cnt"))
      // robustOutliers consumes its input twice (the med/mad passes and
      // the flag join) — uncheckpointed, each consumer re-scanned and
      // re-aggregated the full event stream. The daily frame is
      // (event_type × 24 × days) rows — tiny at any scale — so pin it
      // and scan events ONCE (r13; the semDedup/q137 discipline).
      .localCheckpoint()
    graft.ext.ProfileOps.robustOutliers(daily, "grp", "cnt", "day",
      zTenths = 20)
  }

  private val q127Sql =
    """WITH daily AS (
      |  SELECT event_type || '#' ||
      |           CAST((epoch_us(ts) // 3600000000) % 24 AS VARCHAR) AS grp,
      |         epoch_us(ts) // 86400000000 AS day,
      |         CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT grp, cnt,
      |         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cnt, day) AS rn,
      |         COUNT(*) OVER (PARTITION BY grp) AS c2
      |  FROM daily),
      |med AS (SELECT grp, cnt AS med FROM r WHERE rn = (c2 + 1) // 2),
      |a AS (SELECT d.grp, med.med, ABS(d.cnt - med.med) AS adev, d.day
      |      FROM daily d JOIN med USING (grp)),
      |r2 AS (
      |  SELECT grp, med, adev,
      |         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY adev, day) AS rn,
      |         COUNT(*) OVER (PARTITION BY grp) AS c2
      |  FROM a),
      |s AS (SELECT grp, med, adev AS mad FROM r2 WHERE rn = (c2 + 1) // 2)
      |SELECT d.grp, d.day, d.cnt, s.med, s.mad
      |FROM daily d JOIN s USING (grp)
      |WHERE 67450 * ABS(d.cnt - s.med) > 200000 * s.mad
      |ORDER BY d.grp, d.day""".stripMargin

  // --------------------------------------------- q128 join-key skew report

  /** Key-skew diagnostics ([[graft.ext.SkewOps.keySkewReport]]) on the
    * event stream's user_id — the audit run before committing a big
    * shuffle join on a key: exact cardinalities, heaviest key,
    * nearest-rank multiplicity percentiles, and the hottest-reducer
    * skew ratio, all from one counts shuffle. */
  private def q128(s: SparkSession, d: String): DataFrame =
    graft.ext.SkewOps.keySkewReport(t(s, d, "events"), "user_id")

  private val q128Sql =
    """WITH counts AS (
      |  SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |r AS (SELECT k, cnt, ROW_NUMBER() OVER (ORDER BY cnt, k) AS rn
      |      FROM counts),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
      |             CAST(COUNT(*) AS BIGINT) AS n_keys,
      |             MAX(cnt) AS max_cnt FROM counts)
      |SELECT t.n, t.n_keys, t.max_cnt,
      |       (SELECT k FROM r, t WHERE rn = t.n_keys) AS top_key,
      |       (SELECT cnt FROM r, t
      |        WHERE rn = (t.n_keys - 1) * 50 // 100 + 1) AS p50_cnt,
      |       (SELECT cnt FROM r, t
      |        WHERE rn = (t.n_keys - 1) * 99 // 100 + 1) AS p99_cnt,
      |       CAST(FLOOR(CAST(t.max_cnt AS DOUBLE) * t.n_keys / t.n
      |                  * 1000000::DOUBLE) AS BIGINT) AS skew_micro
      |FROM t""".stripMargin

  // ------------------------------------------ q152 interval coverage

  /** Interval-union coverage per user — merge-overlapping-intervals as
    * a window computation (uptime/session-coverage primitive): each
    * event spans [ts, ts + floor(value·60) s] (the q110 interval
    * construction), and per user the covered time is Σ max(0, end −
    * max(start, running-max-of-previous-ends)) — the classic sweep,
    * exact in integer MICROSECONDS (time-boundary discipline: integer
    * micros, never seconds-as-double). The only window partitions on
    * user_id (millions of tiny partitions at scale); utilization is an
    * integer division with a NULLIF(span, 0) guard. Top-20 by covered
    * time. */
  private def q152(s: SparkSession, d: String): DataFrame = {
    val iv = t(s, d, "events").select(col("user_id"), col("event_id"),
      expr("unix_micros(ts)").as("st"),
      (expr("unix_micros(ts)")
        + expr("CAST(FLOOR(value * 60) AS BIGINT) * 1000000")).as("en"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("st"), col("en"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    iv.withColumn("pm", max(col("en")).over(w))
      .withColumn("contrib",
        when(col("pm").isNull || col("st") > col("pm"),
          col("en") - col("st"))
          .otherwise(greatest(col("en") - col("pm"), lit(0L))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_iv"),
        sum(col("contrib")).as("covered_micros"),
        (max(col("en")) - min(col("st"))).as("span_micros"))
      // covered·1e6 crosses 2^63 once a user's span passes ~107 days
      // (9.2e12 µs) — any year-scale history; DECIMAL(38,0) product
      .withColumn("util_micro",
        expr("cast(covered_micros as decimal(38,0)) * 1000000" +
          " div nullif(span_micros, 0)"))
      .select(col("user_id"), col("n_iv"), col("covered_micros"),
        col("span_micros"), col("util_micro"))
      .orderBy(col("covered_micros").desc, col("user_id"))
      .limit(20)
  }

  private val q152Sql =
    """WITH iv AS (
      |  SELECT user_id, event_id, EPOCH_US(ts) AS st,
      |         EPOCH_US(ts) + CAST(FLOOR(value * 60) AS BIGINT) * 1000000
      |           AS en
      |  FROM events),
      |r AS (
      |  SELECT user_id, st, en,
      |         MAX(en) OVER (PARTITION BY user_id
      |                       ORDER BY st, en, event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING
      |                                AND 1 PRECEDING) AS pm
      |  FROM iv),
      |c AS (
      |  SELECT user_id, st, en,
      |         CASE WHEN pm IS NULL OR st > pm THEN en - st
      |              ELSE GREATEST(en - pm, 0) END AS contrib
      |  FROM r),
      |g AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_iv,
      |         CAST(SUM(contrib) AS BIGINT) AS covered_micros,
      |         MAX(en) - MIN(st) AS span_micros
      |  FROM c GROUP BY user_id)
      |SELECT user_id, n_iv, covered_micros, span_micros,
      |       CAST(CAST(covered_micros AS HUGEINT) * 1000000
      |            // NULLIF(span_micros, 0) AS BIGINT) AS util_micro
      |FROM g ORDER BY covered_micros DESC, user_id LIMIT 20""".stripMargin

  // ------------------------------------------ q153 session conversion

  /** Session-level conversion report — gap-based sessionization (new
    * session after a 30-minute silence, the q24 rule) rolled up to
    * daily session counts and purchase-conversion rates: two per-user
    * windows (lag for the gap flag, running sum for the session
    * number), a per-session aggregate, then a per-day aggregate with
    * the rate in exact integer micros. Every window partitions on
    * user_id; nothing after the session aggregate scales with events.
    */
  private def q153(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("gap_us",
        expr("unix_micros(ts)")
          - expr("unix_micros(lag(ts, 1) OVER (PARTITION BY user_id" +
            " ORDER BY ts, event_id))"))
      .withColumn("new_sess",
        when(col("gap_us").isNull || col("gap_us") > lit(1800000000L), 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_no"))
      .agg(min(col("ts").cast("date")).as("day"),
        count(lit(1)).as("n_events"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
    sess.groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).as("n_converted"),
        sum(col("n_events")).as("n_events"))
      .withColumn("conv_micro",
        expr("n_converted * 1000000 div n_sessions"))
      .orderBy(col("day"))
  }

  private val q153Sql =
    """WITH l AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         EPOCH_US(ts) - EPOCH_US(LAG(ts, 1) OVER w) AS gap_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |f AS (
      |  SELECT user_id, ts, event_type,
      |         CASE WHEN gap_us IS NULL OR gap_us > 1800000000
      |              THEN 1 ELSE 0 END AS new_sess,
      |         event_id
      |  FROM l),
      |sn AS (
      |  SELECT user_id, ts, event_type,
      |         CAST(SUM(new_sess) OVER (PARTITION BY user_id
      |              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) AS sess_no
      |  FROM f),
      |sess AS (
      |  SELECT user_id, sess_no, MIN(CAST(ts AS DATE)) AS day,
      |         CAST(COUNT(*) AS BIGINT) AS n_events,
      |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |           AS converted
      |  FROM sn GROUP BY 1, 2),
      |d AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |         CAST(SUM(converted) AS BIGINT) AS n_converted,
      |         CAST(SUM(n_events) AS BIGINT) AS n_events
      |  FROM sess GROUP BY day)
      |SELECT day, n_sessions, n_converted, n_events,
      |       n_converted * 1000000 // n_sessions AS conv_micro
      |FROM d ORDER BY day""".stripMargin

  // ------------------------------------------ q151 phonetic blocking

  /** Phonetic blocking-key report via Kölner Phonetik
    * ([[graft.functions.ColognePhonetic]], Exasol `COLOGNE_PHONETIC`):
    * the vocabulary of part-name words plus nation names grouped by
    * phonetic code — the block-size audit run before a phonetic ER
    * join. The ORACLE re-implements the full Postel 1969 algorithm in
    * pure DuckDB list/CASE SQL (RE2-safe — no backreferences or
    * lookaround), so this is a genuine cross-engine differential test
    * of the algorithm, not the expression compared against itself.
    * Pure projection + one word-keyed distinct + one code aggregate —
    * a scan at 100 TB. */
  private def q151(s: SparkSession, d: String): DataFrame = {
    val words = t(s, d, "part")
      .select(explode(graft.ext.DedupOps.wordTokens(col("p_name"))).as("w"))
      .unionAll(t(s, d, "nation").select(lower(col("n_name")).as("w")))
      .distinct()
    words
      .withColumn("code",
        graft.functions.HashFunctions.colognePhonetic(col("w")))
      .groupBy(col("code"))
      .agg(count(lit(1)).as("n_words"), min(col("w")).as("first_word"),
        max(col("w")).as("last_word"))
      .orderBy(col("code"))
  }

  private val q151Sql = {
    val enc =
      """ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(1, LEN(cs) + 1), i ->
        |  CASE
        |    WHEN cs[i] IN ('A','E','I','J','O','U','Y') THEN '0'
        |    WHEN cs[i] = 'H' THEN ''
        |    WHEN cs[i] = 'B' THEN '1'
        |    WHEN cs[i] = 'P' THEN
        |      CASE WHEN i < LEN(cs) AND cs[i+1] = 'H' THEN '3' ELSE '1' END
        |    WHEN cs[i] IN ('D','T') THEN
        |      CASE WHEN i < LEN(cs) AND cs[i+1] IN ('C','S','Z') THEN '8'
        |           ELSE '2' END
        |    WHEN cs[i] IN ('F','V','W') THEN '3'
        |    WHEN cs[i] IN ('G','K','Q') THEN '4'
        |    WHEN cs[i] = 'C' THEN
        |      CASE WHEN i = 1 THEN
        |             CASE WHEN i < LEN(cs)
        |                    AND cs[i+1] IN ('A','H','K','L','O','Q','R','U','X')
        |                  THEN '4' ELSE '8' END
        |           WHEN cs[i-1] IN ('S','Z') THEN '8'
        |           WHEN i < LEN(cs) AND cs[i+1] IN ('A','H','K','O','Q','U','X')
        |                THEN '4'
        |           ELSE '8' END
        |    WHEN cs[i] = 'X' THEN
        |      CASE WHEN i > 1 AND cs[i-1] IN ('C','K','Q') THEN '8'
        |           ELSE '48' END
        |    WHEN cs[i] = 'L' THEN '5'
        |    WHEN cs[i] IN ('M','N') THEN '6'
        |    WHEN cs[i] = 'R' THEN '7'
        |    WHEN cs[i] IN ('S','Z') THEN '8'
        |    ELSE '' END), '')""".stripMargin
    s"""WITH words AS (
       |  SELECT DISTINCT w FROM (
       |    SELECT UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(p_name), ' '),
       |                  t -> LEN(t) > 0)) AS w FROM part
       |    UNION ALL
       |    SELECT LOWER(n_name) AS w FROM nation)),
       |chars AS (
       |  SELECT w, LIST_FILTER(REGEXP_EXTRACT_ALL(
       |              REPLACE(REPLACE(REPLACE(UPPER(w), 'Ä', 'A'),
       |                      'Ö', 'O'), 'Ü', 'U'), '.'),
       |            c -> c >= 'A' AND c <= 'Z') AS cs
       |  FROM words),
       |e AS (SELECT w, $enc AS raw FROM chars),
       |dd AS (SELECT w, REGEXP_EXTRACT_ALL(raw, '.') AS rc FROM e),
       |f AS (SELECT w,
       |        ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(1, LEN(rc) + 1), i ->
       |          CASE WHEN i > 1 AND rc[i] = rc[i-1] THEN '' ELSE rc[i] END),
       |          '') AS cd
       |      FROM dd),
       |g AS (SELECT w,
       |        CASE WHEN cd = '' THEN ''
       |             ELSE SUBSTR(cd, 1, 1) || REPLACE(SUBSTR(cd, 2), '0', '')
       |        END AS code
       |      FROM f)
       |SELECT code, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       MIN(w) AS first_word, MAX(w) AS last_word
       |FROM g GROUP BY code ORDER BY code""".stripMargin
  }

  // ------------------------------------------ q149 FK integrity audit

  /** Referential-integrity audit across the whole star schema — the
    * pre-load constraint check an ETL job runs before committing a
    * batch: for each FK relationship, the count of child rows whose
    * parent is missing and the count of distinct orphan keys. Each
    * relationship is ONE left-anti join on its key (sort-merge at
    * scale, broadcast for the dimension parents) collapsing straight
    * into a 1-row aggregate — the union of six 1-row aggregates is
    * driver-trivial. A healthy load emits all zeros; the report shape
    * is the contract. */
  private def q149(s: SparkSession, d: String): DataFrame = {
    def orphans(rel: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame =
      child.select(col(key)).filter(col(key).isNotNull)
        .join(parent.select(col(pkey).as(key)), Seq(key), "left_anti")
        .agg(count(lit(1)).as("orphan_rows"),
          countDistinct(col(key)).as("orphan_keys"))
        .select(lit(rel).as("relationship"), col("orphan_rows"),
          col("orphan_keys"))
    val li = t(s, d, "lineitem"); val ord = t(s, d, "orders")
    val cust = t(s, d, "customer"); val nat = t(s, d, "nation")
    Seq(
      orphans("customer.c_nationkey->nation", cust, "c_nationkey",
        nat, "n_nationkey"),
      orphans("lineitem.l_orderkey->orders", li, "l_orderkey",
        ord, "o_orderkey"),
      orphans("lineitem.l_partkey->part", li, "l_partkey",
        t(s, d, "part"), "p_partkey"),
      orphans("lineitem.l_suppkey->supplier", li, "l_suppkey",
        t(s, d, "supplier"), "s_suppkey"),
      orphans("nation.n_regionkey->region", nat, "n_regionkey",
        t(s, d, "region"), "r_regionkey"),
      orphans("orders.o_custkey->customer", ord, "o_custkey",
        cust, "c_custkey"))
      .reduce(_.unionAll(_))
      .orderBy(col("relationship"))
  }

  private val q149Sql = {
    def branch(rel: String, child: String, key: String, parent: String,
        pkey: String) =
      s"""SELECT '$rel' AS relationship,
         |       CAST(COUNT(*) AS BIGINT) AS orphan_rows,
         |       CAST(COUNT(DISTINCT $key) AS BIGINT) AS orphan_keys
         |FROM $child c WHERE $key IS NOT NULL
         |  AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pkey = c.$key)"""
        .stripMargin
    Seq(
      branch("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      branch("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      branch("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      branch("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      branch("nation.n_regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"),
      branch("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
  }

  // ------------------------------------------ q150 financial recon

  /** Order-header vs line-item financial reconciliation — the "does the
    * rollup still foot" audit: per order, the recomputed charge
    * (Σ line `extendedprice·(1−discount)·(1+tax)`, each line floored
    * half-up to cents on the RAW IEEE product — identical on both
    * engines — then integer-summed) against the header total in cents;
    * the report is one summary row (orders, matched-within-1-cent,
    * mismatched, max and total absolute drift). Headers without lines
    * count their full total as drift. ONE order-keyed aggregate, one
    * left join, one 1-row rollup — nothing driver-side. */
  private def q150(s: SparkSession, d: String): DataFrame = {
    val lineCents = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * (lit(1) + col("l_tax")) * 100 + lit(0.5)).cast("long")
    val per = t(s, d, "lineitem")
      .select(col("l_orderkey"), lineCents.as("lc"))
      .groupBy(col("l_orderkey")).agg(sum(col("lc")).as("line_cents"))
    t(s, d, "orders")
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("hdr_cents"))
      .join(per.withColumnRenamed("l_orderkey", "o_orderkey"),
        Seq("o_orderkey"), "left")
      .withColumn("delta",
        abs(col("hdr_cents") - coalesce(col("line_cents"), lit(0L))))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("delta") <= 1, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("delta") > 1, 1L).otherwise(0L)).as("n_mismatched"),
        max(col("delta")).as("max_abs_delta_cents"),
        sum(col("delta")).as("sum_abs_delta_cents"))
  }

  private val q150Sql =
    """WITH per AS (
      |  SELECT l_orderkey,
      |         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
      |                  * (1 + l_tax) * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS line_cents
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT ABS(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |             - COALESCE(per.line_cents, 0)) AS delta
      |  FROM orders LEFT JOIN per ON per.l_orderkey = o_orderkey)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CASE WHEN delta <= 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_matched,
      |       CAST(SUM(CASE WHEN delta > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_mismatched,
      |       MAX(delta) AS max_abs_delta_cents,
      |       CAST(SUM(delta) AS BIGINT) AS sum_abs_delta_cents
      |FROM j""".stripMargin

  // ------------------------------------------ q146 ABC / Pareto classes

  /** ABC (Pareto) revenue classification of parts — the inventory
    * 80/95 cumulative-share cut: per-part revenue in exact cents, a
    * GLOBAL running prefix over (revenue DESC, partkey) from
    * [[graft.ext.ShardOps.withGlobalPrefixSum]] — the bounded-memory
    * two-phase construction, ONE range shuffle, never a
    * single-reducer `SUM OVER (ORDER BY …)` — then integer
    * cross-multiplied class cuts (rsum·100 ≤ tot·80 → A, ≤ tot·95 →
    * B, else C) and a 3-row class rollup with micro shares. */
  private def q146(s: SparkSession, d: String): DataFrame = {
    val cents = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
    val rev = t(s, d, "lineitem").groupBy(col("l_partkey"))
      .agg(sum(cents).as("rev_cents"))
      .localCheckpoint() // consumed by the total AND the prefix pass
    val total = rev.agg(sum(col("rev_cents")).as("tot"))
    graft.ext.ShardOps.withGlobalPrefixSum(rev,
        Seq(col("rev_cents").desc, col("l_partkey").asc), "rev_cents")
      .crossJoin(broadcast(total))
      .withColumn("cls",
        when(col("__rsum").cast("decimal(38,0)") * 100
            <= col("tot").cast("decimal(38,0)") * 80, "A")
          .when(col("__rsum").cast("decimal(38,0)") * 100
            <= col("tot").cast("decimal(38,0)") * 95, "B")
          .otherwise("C"))
      .groupBy(col("cls"), col("tot"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev_cents")).as("class_cents"))
      // class_cents·1e6 crosses 2^63 once corpus revenue passes ~9.2e12
      // cents (hit at the sf1-derived point) — DECIMAL(38,0) product
      // through IntegralDivide, the r11 widening contract
      .withColumn("share_micro",
        expr("cast(class_cents as decimal(38,0)) * 1000000 div tot"))
      .select(col("cls"), col("n_parts"), col("class_cents"),
        col("share_micro"))
      .orderBy(col("cls"))
  }

  private val q146Sql =
    """WITH rev AS (
      |  SELECT l_partkey,
      |         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS rev_cents
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot FROM rev),
      |run AS (
      |  SELECT rev_cents,
      |         CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
      |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rsum
      |  FROM rev),
      |cls AS (
      |  SELECT CASE WHEN CAST(rsum AS HUGEINT) * 100
      |                    <= CAST((SELECT tot FROM tot) AS HUGEINT) * 80
      |              THEN 'A'
      |              WHEN CAST(rsum AS HUGEINT) * 100
      |                    <= CAST((SELECT tot FROM tot) AS HUGEINT) * 95
      |              THEN 'B'
      |              ELSE 'C' END AS cls, rev_cents
      |  FROM run)
      |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |       CAST(SUM(rev_cents) AS BIGINT) AS class_cents,
      |       CAST(CAST(SUM(rev_cents) AS HUGEINT) * 1000000
      |         // (SELECT tot FROM tot) AS BIGINT) AS share_micro
      |FROM cls GROUP BY cls ORDER BY cls""".stripMargin

  // ------------------------------------------ q147 RFM segmentation

  /** RFM customer segmentation — recency (days since last order at the
    * corpus reference day), frequency (orders), monetary (exact cents)
    * per customer, each quintile-binned by the q143 EXACT equi-depth
    * definition (bin = cum_prev·5 div n over DISTINCT metric values —
    * ties never split; the cumulative count runs through the q146
    * two-phase prefix sum, never a single reducer), then the segment
    * rollup. The per-customer base
    * is checkpointed once and feeds the three bin maps AND the final
    * classification joins (value-keyed equi-joins against bin maps
    * that are broadcast-tiny). */
  private def q147(s: SparkSession, d: String): DataFrame = {
    val ord = t(s, d, "orders")
    val refDay = ord.agg(max(col("o_orderdate").cast("date")).as("ref_day"))
    val rfm = ord.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_ord"),
        count(lit(1)).as("f"),
        sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("m"))
      .crossJoin(broadcast(refDay))
      .withColumn("r",
        datediff(col("ref_day"), col("last_ord").cast("date")).cast("long"))
      .select(col("o_custkey"), col("r"), col("f"), col("m"))
      .localCheckpoint() // feeds 3 bin maps + the classification joins
    // The cumulative count over distinct metric values rides the q146
    // two-phase prefix construction — the metric domain (monetary cents
    // especially) is value-bounded, not row-bounded, so a bare
    // `SUM OVER (ORDER BY v)` would still be a data-scaled single
    // reducer at 100 TB (r9 verdict #2).
    def binMap(metric: String): DataFrame = {
      val counts = rfm.groupBy(col(metric).as("v"))
        .agg(count(lit(1)).as("c"))
      val n = counts.agg(sum(col("c")).as("n"))
      graft.ext.ShardOps.withGlobalPrefixSum(counts, Seq(col("v")), "c")
        .withColumnRenamed("__rsum", "cum")
        .crossJoin(broadcast(n))
        .select(col("v"),
          least(lit(4L), expr("(cum - c) * 5 div n")).as(s"${metric}_bin"))
    }
    rfm
      .join(broadcast(binMap("r")).withColumnRenamed("v", "r"), Seq("r"))
      .join(broadcast(binMap("f")).withColumnRenamed("v", "f"), Seq("f"))
      .join(broadcast(binMap("m")).withColumnRenamed("v", "m"), Seq("m"))
      .groupBy(col("r_bin"), col("f_bin"), col("m_bin"))
      .agg(count(lit(1)).as("n_customers"), sum(col("m")).as("m_cents"))
      .orderBy(col("r_bin"), col("f_bin"), col("m_bin"))
  }

  private val q147Sql = {
    def bin(metric: String) =
      s"""${metric}b AS (
         |  SELECT v, LEAST(4, (cum - c) * 5 // n) AS ${metric}_bin FROM (
         |    SELECT v, c,
         |           CAST(SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |                AS BIGINT) AS cum,
         |           (SELECT CAST(COUNT(*) AS BIGINT) FROM rfm) AS n
         |    FROM (SELECT $metric AS v, CAST(COUNT(*) AS BIGINT) AS c
         |          FROM rfm GROUP BY 1)))""".stripMargin
    s"""WITH ref AS (
       |  SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_day FROM orders),
       |rfm AS (
       |  SELECT o_custkey,
       |         CAST(DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
       |              (SELECT ref_day FROM ref)) AS BIGINT) AS r,
       |         CAST(COUNT(*) AS BIGINT) AS f,
       |         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
       |              AS BIGINT) AS m
       |  FROM orders GROUP BY o_custkey),
       |${bin("r")},
       |${bin("f")},
       |${bin("m")}
       |SELECT rb.r_bin, fb.f_bin, mb.m_bin,
       |       CAST(COUNT(*) AS BIGINT) AS n_customers,
       |       CAST(SUM(rfm.m) AS BIGINT) AS m_cents
       |FROM rfm
       |JOIN rb ON rfm.r = rb.v
       |JOIN fb ON rfm.f = fb.v
       |JOIN mb ON rfm.m = mb.v
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // ------------------------------------------ q148 association rules

  /** Association rules over q134's capped co-occurrence lattice:
    * confidence (support/df_a) and lift (support·N/(df_a·df_b)) in
    * exact integer micros — lift's numerator rides DECIMAL(38,0) so
    * the 100 TB path (support·N·1e6 past BIGINT) cannot overflow,
    * while DuckDB's HUGEINT mirrors the same integral division. Same
    * blowup discipline as q134: corpus-relative df bounds and the
    * ≤ 20-tokens-per-doc cap BEFORE the pair join; the df table is
    * checkpointed once and reused for the cap and both rule-side
    * lookups. Top-20 by (lift DESC, pair). */
  private def q148(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val ndocs = docs.agg(countDistinct(col("doc_id")).as("nd"))
    val toks = docs.select(col("doc_id"),
        explode(graft.ext.DedupOps.wordTokens(col("text"))).as("tok"))
      .distinct()
    val dfc = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(ndocs))
      .filter(col("df") >= 2 && col("df") * 10 <= col("nd") * 9)
      .select(col("tok"), col("df"))
      .localCheckpoint() // cap join + both df lookups
    val capped = toks.join(dfc.select(col("tok")), Seq("tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tok"))))
      .filter(col("rn") <= 20)
      .select(col("doc_id"), col("tok"))
    val sup = capped.select(col("doc_id"), col("tok").as("tok_a"))
      .join(capped.select(col("doc_id"), col("tok").as("tok_b")),
        Seq("doc_id"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("support"))
    sup
      .join(dfc.select(col("tok").as("tok_a"), col("df").as("df_a")),
        Seq("tok_a"))
      .join(dfc.select(col("tok").as("tok_b"), col("df").as("df_b")),
        Seq("tok_b"))
      .crossJoin(broadcast(ndocs))
      .filter(col("support") * 20 >= col("nd"))
      .withColumn("conf_micro",
        expr("cast(support as decimal(38,0)) * 1000000 div df_a"))
      .withColumn("lift_micro",
        expr("(CAST(support AS DECIMAL(38,0)) * nd * 1000000)" +
          " div (cast(df_a as decimal(38,0)) * df_b)"))
      .select(col("tok_a"), col("tok_b"), col("support"),
        col("conf_micro"), col("lift_micro"))
      .orderBy(col("lift_micro").desc, col("tok_a"), col("tok_b"))
      .limit(20)
  }

  private val q148Sql =
    """WITH w AS (
      |  SELECT doc_id,
      |         UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                t -> LEN(t) > 0)) AS tok
      |  FROM documents),
      |toks AS (SELECT DISTINCT doc_id, tok FROM w),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      |dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks
      |        GROUP BY tok
      |        HAVING COUNT(*) >= 2
      |           AND COUNT(*) * 10 <= (SELECT n FROM nd) * 9),
      |capped AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT t.doc_id, t.tok,
      |           ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY t.tok)
      |             AS rn
      |    FROM toks t JOIN dfc USING (tok))
      |  WHERE rn <= 20),
      |p AS (
      |  SELECT a.tok AS tok_a, b.tok AS tok_b,
      |         CAST(COUNT(*) AS BIGINT) AS support
      |  FROM capped a
      |  JOIN capped b ON a.doc_id = b.doc_id AND a.tok < b.tok
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) * 20 >= (SELECT n FROM nd))
      |SELECT p.tok_a, p.tok_b, p.support,
      |       CAST(CAST(p.support AS HUGEINT) * 1000000 // da.df AS BIGINT)
      |         AS conf_micro,
      |       CAST(CAST(p.support AS HUGEINT) * (SELECT n FROM nd) * 1000000
      |         // (CAST(da.df AS HUGEINT) * db.df) AS BIGINT) AS lift_micro
      |FROM p
      |JOIN dfc da ON da.tok = p.tok_a
      |JOIN dfc db ON db.tok = p.tok_b
      |ORDER BY lift_micro DESC, tok_a, tok_b LIMIT 20""".stripMargin

  // ------------------------------------------ q142 rolling 7-day WAU

  /** Rolling 7-day active users (WAU) per observed day — the growth
    * metric whose naive `COUNT(DISTINCT) OVER (RANGE 6 PRECEDING)`
    * spelling engines reject or run quadratically. Exact at any scale
    * via contribution explode: distinct (day, user) once, each pair
    * contributes to the 7 window days it covers (a BOUNDED ×7
    * multiplier — the q139/q124 discipline of exploding the constant
    * axis, never the data axis), distinct again, and a plain per-day
    * count. DAU rides the same distinct base. No window function at
    * all — two hash aggregates and a ×7 generate. */
  private def q142(s: SparkSession, d: String): DataFrame = {
    val du = t(s, d, "events")
      .select(col("ts").cast("date").as("day"), col("user_id"))
      .distinct()
      .localCheckpoint() // consumed by the contribution explode AND dau
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = du
      .select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("i"), col("day"))
      .select(expr("date_add(day, i)").as("day"), col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau7"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau7"))
      .orderBy(col("day"))
  }

  private val q142Sql =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
      |        FROM du GROUP BY 1),
      |contrib AS (
      |  SELECT DISTINCT du.day + CAST(t.i AS INTEGER) AS day, du.user_id
      |  FROM du CROSS JOIN (SELECT UNNEST(RANGE(0, 7)) AS i) t),
      |wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau7
      |        FROM contrib GROUP BY 1)
      |SELECT dau.day, dau.dau, wau.wau7
      |FROM dau JOIN wau ON dau.day = wau.day
      |ORDER BY dau.day""".stripMargin

  // ------------------------------------------ q143 equi-depth binning

  /** 10-bin equi-depth (equal-frequency) histogram of the price column
    * — the feature-binning primitive (quantile bucketing for model
    * inputs), EXACT: a distinct value whose preceding cumulative count
    * is `cum_prev` lands in bin `cum_prev·10 div n` (clamped to 9), so
    * every row of one value shares one bin and bin populations are as
    * equal as ties allow — a deterministic integer definition, not a
    * sampled approximation (Spark's `QuantileDiscretizer` is
    * approximate by design). Same bounded machinery as q137: counts
    * per (distinct cent), then the running total over distinct values
    * through [[graft.ext.ShardOps.withGlobalPrefixSum]] — the q146
    * two-phase construction, ONE range shuffle, never a single-reducer
    * `SUM OVER (ORDER BY)` (the value domain is ~1e7 distinct cents at
    * scale — too wide to entrust to one reducer; r9 verdict #2) — then
    * a 10-row aggregate. */
  private def q143(s: SparkSession, d: String): DataFrame = {
    val cents = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
    val counts = t(s, d, "lineitem").select(cents.as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // consumed by the total AND the prefix pass
    val n = counts.agg(sum(col("c")).as("n"))
    graft.ext.ShardOps.withGlobalPrefixSum(counts, Seq(col("v")), "c")
      .withColumnRenamed("__rsum", "cum")
      .crossJoin(broadcast(n))
      .withColumn("bin",
        least(lit(9L), expr("(cum - c) * 10 div n")))
      .groupBy(col("bin"))
      .agg(sum(col("c")).as("n_rows"), min(col("v")).as("lo_cents"),
        max(col("v")).as("hi_cents"))
      .orderBy(col("bin"))
  }

  private val q143Sql =
    """WITH c AS (
      |  SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
      |         CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
      |cum AS (
      |  SELECT v, c, n.n,
      |         CAST(SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) AS cum
      |  FROM c, n)
      |SELECT LEAST(9, (cum - c) * 10 // n) AS bin,
      |       CAST(SUM(c) AS BIGINT) AS n_rows,
      |       MIN(v) AS lo_cents, MAX(v) AS hi_cents
      |FROM cum GROUP BY 1 ORDER BY bin""".stripMargin

  // ------------------------------------------ q144 growth accounting

  /** Daily growth accounting — each active (day, user) classified as
    * `new` (first activity ever), `retained` (previous activity ≤ 7
    * days back) or `resurrected` (gap > 7 days): the full
    * startup-metrics matrix that q135's cumulative-uniques report
    * feeds. One distinct (day, user) base, one lag window partitioned
    * per user (millions of tiny partitions at scale — never one
    * reducer), then a per-day conditional aggregate. All counts exact
    * integers; every day present in the base appears exactly once. */
  private def q144(s: SparkSession, d: String): DataFrame = {
    val du = t(s, d, "events")
      .select(col("ts").cast("date").as("day"), col("user_id"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    du.withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("status",
        when(col("prev").isNull, "new")
          .when(datediff(col("day"), col("prev")) <= 7, "retained")
          .otherwise("resurrected"))
      .groupBy(col("day"))
      .agg(
        sum(when(col("status") === "new", 1L).otherwise(0L))
          .as("new_users"),
        sum(when(col("status") === "retained", 1L).otherwise(0L))
          .as("retained_users"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L))
          .as("resurrected_users"))
      .orderBy(col("day"))
  }

  private val q144Sql =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |l AS (
      |  SELECT day, user_id,
      |         LAG(day, 1) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |  FROM du),
      |s AS (
      |  SELECT day,
      |         CASE WHEN prev IS NULL THEN 'new'
      |              WHEN DATE_DIFF('day', prev, day) <= 7 THEN 'retained'
      |              ELSE 'resurrected' END AS status
      |  FROM l)
      |SELECT day,
      |       CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS new_users,
      |       CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS retained_users,
      |       CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS resurrected_users
      |FROM s GROUP BY day ORDER BY day""".stripMargin

  // ------------------------------------------ q145 path mining

  /** Top event-type paths of length 3 — second-order journey mining
    * extending q141's transition matrix: per user, two lags over the
    * (ts, event_id) total order produce (a→b→c) windows; exact counts,
    * top-15 by (count DESC, path) planning as TakeOrderedAndProject.
    * Same scale shape as q141 — the lag window partitions on user_id,
    * the count aggregate partial-aggregates map-side, and nothing
    * after it scales with the table. */
  private def q145(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("c"))
      .withColumn("b", lag(col("c"), 1).over(w))
      .withColumn("a", lag(col("c"), 2).over(w))
      .filter(col("a").isNotNull)
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"), col("c"))
      .limit(15)
  }

  private val q145Sql =
    """WITH p AS (
      |  SELECT LAG(event_type, 2) OVER w AS a,
      |         LAG(event_type, 1) OVER w AS b,
      |         event_type AS c
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM p WHERE a IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY cnt DESC, a, b, c LIMIT 15""".stripMargin

  // ------------------------------------------ q136 decayed engagement

  /** Recency-weighted user engagement — the feature-store "exponential
    * decay" score, EXACT: half-life = 1 day with base-2 weights (an
    * event dd days before the corpus's last day weighs 2^(20−dd),
    * zero past the 20-day horizon) over half-up cents. No libm `exp`
    * anywhere, so transcendental last-ulp divergence between engines
    * cannot flip a bit; the weighted sum is an order-independent
    * integer, accumulated as DECIMAL(38,0) (the 100 TB overflow-safe
    * path — per-user cents×2^20 sums leave BIGINT range long before
    * they leave 38 digits) and emitted BIGINT. The reference day is a
    * broadcast 1-row aggregate (no driver collect); ONE user-keyed
    * aggregate; top-20 plans as TakeOrderedAndProject. */
  private def q136(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val refDay = ev.agg(max(col("ts").cast("date")).as("ref_day"))
    ev.select(col("user_id"), col("ts"), col("value"))
      .crossJoin(broadcast(refDay))
      .withColumn("dd", datediff(col("ref_day"), col("ts").cast("date")))
      .filter(col("dd") <= 20)
      .withColumn("cents",
        floor(col("value") * 100 + lit(0.5)).cast("long"))
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), 20 - dd)"))
      .groupBy(col("user_id"))
      .agg(sum((col("cents") * col("w")).cast("decimal(38,0)"))
          .cast("long").as("score_units"),
        count(lit(1)).as("n_events"))
      .withColumn("score_cents", expr("score_units div 1048576"))
      .select(col("user_id"), col("n_events"), col("score_units"),
        col("score_cents"))
      .orderBy(col("score_units").desc, col("user_id"))
      .limit(20)
  }

  private val q136Sql =
    """WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS ref_day FROM events),
      |e AS (
      |  SELECT user_id,
      |         DATE_DIFF('day', CAST(ts AS DATE),
      |                   (SELECT ref_day FROM ref)) AS dd,
      |         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |s AS (
      |  SELECT user_id,
      |         CAST(SUM(cents * (CAST(1 AS BIGINT) << (20 - dd)))
      |              AS BIGINT) AS score_units,
      |         CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM e WHERE dd <= 20 GROUP BY user_id)
      |SELECT user_id, n_events, score_units,
      |       score_units // 1048576 AS score_cents
      |FROM s ORDER BY score_units DESC, user_id LIMIT 20""".stripMargin

  // ------------------------------------------ q137 winsorized group mean

  /** Winsorized group mean — the outlier-robust pricing mean with clip
    * points as EXACT order statistics (rank (n−1)·p/100 + 1, the q128
    * convention) computed from (group, DISTINCT-cent) counts: the
    * running total over distinct price points rides the two-phase
    * grouped prefix sum ([[graft.ext.ShardOps.withGroupPrefixSum]] —
    * the ExactQuantile/q146 discipline), so neither row count NOR the
    * ~1e7-cent price domain ever serializes one reducer per group.
    * The clipped sum re-aggregates
    * the distinct-value counts — no second row-level pass — and every
    * emitted number is BIGINT (mean in milli-cents by integer
    * division over positive sums). */
  private def q137(s: SparkSession, d: String): DataFrame = {
    val cents = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
    val counts = t(s, d, "lineitem")
      .select(col("l_returnflag").as("g"), cents.as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // consumed by n, cum (×2) and the clipped sum —
      // without it every branch re-scans and re-aggregates the table
    val n = counts.groupBy(col("g")).agg(sum(col("c")).as("n"))
    // ONE ranked pass: both clip points fall out of a single conditional
    // aggregate over the cumulative counts (min value whose running total
    // reaches the rank threshold) — not one filtered window pass per bound.
    // The per-group cumulative count rides ShardOps.withGroupPrefixSum
    // (range-partitioned two-phase prefix) rather than a
    // `SUM OVER (PARTITION BY g ORDER BY v)` window: the handful of
    // groups each span the full price DOMAIN (~1e7 distinct cents at
    // scale), so the window would route a data-scaled value set through
    // one reducer per group (r9 verdict #2).
    val bounds = graft.ext.ShardOps
      .withGroupPrefixSum(counts, "g", Seq(col("v")), "c")
      .withColumnRenamed("__grsum", "cum")
      .join(n, Seq("g"))
      .groupBy(col("g"), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n - 1) * 5 div 100 + 1"), col("v")))
          .as("lo"),
        min(when(col("cum") >= expr("(n - 1) * 95 div 100 + 1"), col("v")))
          .as("hi"))
    counts.join(broadcast(bounds), Seq("g"))
      .withColumn("cv", greatest(col("lo"), least(col("hi"), col("v"))))
      .groupBy(col("g"), col("n"), col("lo"), col("hi"))
      // DECIMAL(38,0) product sum (the r11 groupedCorr overflow
      // contract): Σ(cv·c)·1000 in BIGINT crosses 2⁶³ once
      // value·rows ≈ 1e16 — value-identical below that, and `div`
      // (IntegralDivide) still yields BIGINT, so oracles are untouched.
      .agg(sum((col("cv").cast("decimal(19,0)") * col("c"))
        .cast("decimal(38,0)")).as("wsum"))
      .withColumn("wmean_milli", expr("wsum * 1000 div n"))
      .select(col("g"), col("n"), col("lo"), col("hi"),
        col("wmean_milli"))
      .orderBy(col("g"))
  }

  private val q137Sql =
    """WITH c AS (
      |  SELECT l_returnflag AS g,
      |         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
      |         CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |n AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY g),
      |cum AS (
      |  SELECT c.g, c.v, c.c, n.n,
      |         CAST(SUM(c.c) OVER (PARTITION BY c.g ORDER BY c.v
      |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM c JOIN n USING (g)),
      |lo AS (SELECT g, MIN(v) AS lo FROM cum
      |       WHERE cum >= (n - 1) * 5 // 100 + 1 GROUP BY g),
      |hi AS (SELECT g, MIN(v) AS hi FROM cum
      |       WHERE cum >= (n - 1) * 95 // 100 + 1 GROUP BY g)
      |SELECT c.g, n.n, lo.lo, hi.hi,
      |       CAST(SUM(GREATEST(lo.lo, LEAST(hi.hi, c.v)) * c.c) AS BIGINT)
      |         * 1000 // n.n AS wmean_milli
      |FROM c JOIN n USING (g) JOIN lo USING (g) JOIN hi USING (g)
      |GROUP BY c.g, n.n, lo.lo, hi.hi
      |ORDER BY g""".stripMargin

  // ------------------------------------------ q138 correlation matrix

  /** Pairwise Pearson correlation matrix over lineitem's four numeric
    * columns from EXACT co-moments (the q118 OLS discipline): one scan,
    * ONE hash aggregate collecting n and all 14 sums/products in
    * half-up cents as DECIMAL(38,0) (products reach ~1e25 at sf0.1 —
    * past BIGINT, comfortably inside 38 digits; DuckDB's HUGEINT sums
    * mirror exactly), then each pair's correlation is one shared IEEE
    * expression over those integers, floored to micro-units. The 6-row
    * matrix is a stack-unpivot of the single aggregate row — the q73
    * profile shape — so the scan is never repeated per pair. */
  private def q138(s: SparkSession, d: String): DataFrame = {
    val vars = Seq("q", "p", "r", "x")
    val named = Map("q" -> "l_quantity", "p" -> "l_extendedprice",
      "r" -> "l_discount", "x" -> "l_tax")
    def cents(c: String) = floor(col(c) * 100 + lit(0.5)).cast("long")
    val base = t(s, d, "lineitem").select(
      cents("l_quantity").as("q"), cents("l_extendedprice").as("p"),
      cents("l_discount").as("r"), cents("l_tax").as("x"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val aggs =
      (count(lit(1)).cast("decimal(38,0)").as("n") +:
        vars.map(v => sum(dec(col(v))).as(s"s_$v"))) ++
      (for { i <- vars.indices; j <- i until vars.length }
        yield sum(dec(col(vars(i)) * col(vars(j))))
          .as(s"s_${vars(i)}${vars(j)}"))
    val a = base.agg(aggs.head, aggs.tail: _*)
    val pairs = for { i <- vars.indices; j <- (i + 1) until vars.length }
      yield (vars(i), vars(j))
    def corrCol(xv: String, yv: String): Column = {
      val n = col("n")
      val (sx, sy) = (col(s"s_$xv"), col(s"s_$yv"))
      val sxy = col(s"s_$xv$yv")
      val (sxx, syy) = (col(s"s_$xv$xv"), col(s"s_$yv$yv"))
      val num = (n * sxy - sx * sy).cast("double")
      val dx = (n * sxx - sx * sx).cast("double")
      val dy = (n * syy - sy * sy).cast("double")
      when(dx === 0 || dy === 0, lit(null).cast("double"))
        .otherwise(floor(num / (sqrt(dx) * sqrt(dy)) * 1000000) / 1000000)
    }
    val withCorr = pairs.foldLeft(a) { case (df, (xv, yv)) =>
      df.withColumn(s"corr_$xv$yv", corrCol(xv, yv))
    }
    val stackArgs = pairs.map { case (xv, yv) =>
      s"'${named(xv)}', '${named(yv)}', corr_$xv$yv"
    }.mkString(", ")
    withCorr
      .selectExpr(
        s"stack(${pairs.size}, $stackArgs) AS (var_x, var_y, corr)",
        "CAST(n AS BIGINT) AS n")
      .select(col("var_x"), col("var_y"), col("n"), col("corr"))
      .orderBy(col("var_x"), col("var_y"))
  }

  private val q138Sql = {
    val vars = Seq("q" -> "l_quantity", "p" -> "l_extendedprice",
      "r" -> "l_discount", "x" -> "l_tax")
    val sums =
      vars.map { case (k, c) =>
        s"SUM(CAST(FLOOR($c * 100 + 0.5) AS BIGINT)) AS s_$k"
      } ++
      (for { i <- vars.indices; j <- i until vars.length } yield {
        val (a, ca) = vars(i); val (b, cb) = vars(j)
        s"""SUM(CAST(FLOOR($ca * 100 + 0.5) AS BIGINT)
           |             * CAST(FLOOR($cb * 100 + 0.5) AS BIGINT)) AS s_$a$b"""
          .stripMargin
      })
    val branches =
      (for { i <- vars.indices; j <- (i + 1) until vars.length } yield {
        val (x, cx) = vars(i); val (y, cy) = vars(j)
        s"""SELECT '$cx' AS var_x, '$cy' AS var_y, CAST(n AS BIGINT) AS n,
           |       CASE WHEN (n * s_$x$x - s_$x * s_$x) = 0
           |              OR (n * s_$y$y - s_$y * s_$y) = 0 THEN NULL
           |            ELSE FLOOR(CAST(n * s_$x$y - s_$x * s_$y AS DOUBLE)
           |                 / (SQRT(CAST(n * s_$x$x - s_$x * s_$x AS DOUBLE))
           |                    * SQRT(CAST(n * s_$y$y - s_$y * s_$y
           |                                AS DOUBLE)))
           |                 * 1000000) / 1000000 END AS corr
           |FROM a""".stripMargin
      }).mkString("\nUNION ALL\n")
    s"""WITH a AS (
       |  SELECT COUNT(*) AS n,
       |         ${sums.mkString(",\n         ")}
       |  FROM lineitem)
       |SELECT var_x, var_y, n, corr FROM (
       |$branches)
       |ORDER BY var_x, var_y""".stripMargin
  }

  // ------------------------------------------ q139 n-gram novelty score

  /** Per-document n-gram novelty vs a reference corpus — the "how much
    * NEW information does this candidate add" curation signal: split
    * documents 80/20 by the deterministic Knuth bucket ([[graft.ext
    * .SplitOps.bucket]], the q72/q98 split hash), take each candidate
    * doc's DISTINCT word trigrams, and score the fraction absent from
    * the reference side's distinct trigram set. ONE shingle-keyed
    * equi-join (left join against the deduped reference set — at 100 TB
    * the reference side swaps for the q66b Bloom screen with identical
    * plumbing); counts and the micro-ratio are exact integers. Top-20
    * most-novel docs, total order. */
  private def q139(s: SparkSession, d: String): DataFrame = {
    val withB = t(s, d, "documents")
      .withColumn("b", graft.ext.SplitOps.bucket(col("doc_id")))
      .select(col("doc_id"), col("b"),
        graft.ext.DedupOps.wordTokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("b"),
        explode(graft.ext.DedupOps.shingles(col("w"), 3)).as("g"))
    val ref = withB.filter(col("b") < 80).select(col("g")).distinct()
      .withColumn("seen", lit(1L))
    val cand = withB.filter(col("b") >= 80)
      .select(col("doc_id"), col("g")).distinct()
    cand.join(ref, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_micro", expr("n_novel * 1000000 div n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        col("novelty_micro"))
      .orderBy(col("novelty_micro").desc, col("doc_id"))
      .limit(20)
  }

  private val q139Sql =
    """WITH w AS (
      |  SELECT doc_id,
      |         ((doc_id * 2654435761) % 4294967296) % 100 AS b,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     t -> LEN(t) > 0) AS w
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, b,
      |         UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
      |                  i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])))
      |           AS g
      |  FROM w WHERE LEN(w) >= 3),
      |ref AS (SELECT DISTINCT g FROM g0 WHERE b < 80),
      |cand AS (SELECT DISTINCT doc_id, g FROM g0 WHERE b >= 80),
      |j AS (
      |  SELECT c.doc_id,
      |         CAST(COUNT(*) AS BIGINT) AS n_grams,
      |         CAST(SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_novel
      |  FROM cand c LEFT JOIN ref r ON c.g = r.g
      |  GROUP BY 1)
      |SELECT doc_id, n_grams, n_novel,
      |       n_novel * 1000000 // n_grams AS novelty_micro
      |FROM j ORDER BY novelty_micro DESC, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------ q140 moving daily revenue

  /** 7-observed-day moving revenue with day-over-day delta — the KPI
    * smoothing report. Daily sums are exact integer cents (half-up
    * per row, BEFORE the sum — order-independent). The ROWS 6 PRECEDING
    * frame is spelled as PREFIX DIFFERENCES since r10: a global rank +
    * prefix sum over the day-ordered aggregate (two bounded range
    * shuffles, [[graft.ext.ShardOps]]), then `sum7 = ps(rn) − ps(rn−7)`
    * and `lag = rev(rn−1)` via rank-keyed equi self-joins — hash joins,
    * no unpartitioned window, the construction that survives even a
    * non-calendar-bounded order column. Moving mean stays integer
    * milli-cents (frame sum and count, one integer division). */
  private def q140(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .select(col("ts").cast("date").as("day"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("rev_cents"))
    val base = graft.ext.ShardOps.withGlobalPrefixSum(
        graft.ext.ShardOps.withGlobalRank(daily, Seq(col("day"))),
        Seq(col("day")), "rev_cents")
      .select(col("day"), col("rev_cents"), col("__rn").as("rn"),
        col("__rsum").as("ps"))
      .localCheckpoint() // feeds the two rank-offset self-joins
    val off7 = base.select((col("rn") + 7).as("rn"), col("ps").as("ps7"))
    val off1 = base.select((col("rn") + 1).as("rn"),
      col("rev_cents").as("prev_rev"))
    base
      .join(off7, Seq("rn"), "left")
      .join(off1, Seq("rn"), "left")
      .withColumn("sum7", col("ps") - coalesce(col("ps7"), lit(0L)))
      .withColumn("cnt7", least(col("rn"), lit(7L)))
      .withColumn("ma7_milli", expr("sum7 * 1000 div cnt7"))
      .withColumn("delta_cents", col("rev_cents") - col("prev_rev"))
      .select(col("day"), col("rev_cents"), col("ma7_milli"),
        col("delta_cents"))
      .orderBy(col("day"))
  }

  private val q140Sql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS rev_cents
      |  FROM events GROUP BY 1)
      |SELECT day, rev_cents,
      |       CAST(SUM(rev_cents) OVER w7 AS BIGINT) * 1000
      |         // CAST(COUNT(*) OVER w7 AS BIGINT) AS ma7_milli,
      |       rev_cents - LAG(rev_cents, 1) OVER (ORDER BY day)
      |         AS delta_cents
      |FROM daily
      |WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  // ------------------------------------------ q141 transition matrix

  /** Event-type Markov transition matrix — the user-journey primitive:
    * per user, order events by (ts, event_id) (the unique tie-break
    * rule), lag one step, and count (prev → next) transitions with the
    * row-conditional probability in exact integer micros. The lag
    * window partitions on user_id — millions of tiny partitions at
    * scale, never one reducer — and the probability window runs over
    * the aggregated #event_types² matrix, bounded by the type DOMAIN,
    * not the data. */
  private def q141(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("tot",
        sum(col("cnt")).over(Window.partitionBy(col("prev"))))
      .withColumn("prob_micro",
        expr("cast(cnt as decimal(38,0)) * 1000000 div tot"))
      .select(col("prev"), col("next"), col("cnt"), col("prob_micro"))
      .orderBy(col("prev"), col("next"))
  }

  private val q141Sql =
    """WITH tr AS (
      |  SELECT LAG(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS prev,
      |         event_type AS next
      |  FROM events),
      |c AS (
      |  SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2)
      |SELECT prev, next, cnt,
      |       CAST(CAST(cnt AS HUGEINT) * 1000000
      |         // CAST(SUM(cnt) OVER (PARTITION BY prev) AS BIGINT)
      |         AS BIGINT) AS prob_micro
      |FROM c ORDER BY prev, next""".stripMargin

  // --------------------------------------- q135 cumulative unique users

  /** Daily active / new / CUMULATIVE-unique users — the growth-accounting
    * report whose naive spelling (`COUNT(DISTINCT user) OVER (ORDER BY
    * day)`) engines either reject or execute quadratically. Exact at any
    * scale via first-seen aggregation: distinct (day, user) once, each
    * user's MIN(day) marks them "new" exactly once, and the running sum
    * of new-user counts IS the cumulative distinct count. The running
    * sum over the per-day frame rides the two-phase prefix construction
    * ([[graft.ext.ShardOps.withGlobalPrefixSum]]) — the frame is
    * calendar-bounded anyway, but the discipline is uniform since r10:
    * no LIBRARY construction plans an unpartitioned window (the only
    * survivors are q133/q160, whose USER dialect SQL spells the
    * window itself). */
  private def q135(s: SparkSession, d: String): DataFrame = {
    val du = t(s, d, "events")
      .select(col("ts").cast("date").as("day"), col("user_id"))
      .distinct()
    val active = du.groupBy(col("day")).agg(count(lit(1)).as("active_users"))
    val nu = du.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val joined = active.join(nu, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
    graft.ext.ShardOps
      .withGlobalPrefixSum(joined, Seq(col("day")), "new_users")
      .withColumnRenamed("__rsum", "cum_users")
      .select(col("day"), col("active_users"), col("new_users"),
        col("cum_users"))
      .orderBy(col("day"))
  }

  private val q135Sql =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |active AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS active_users
      |  FROM du GROUP BY 1),
      |f AS (SELECT user_id, MIN(day) AS day FROM du GROUP BY 1),
      |nu AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
      |  FROM f GROUP BY 1)
      |SELECT a.day, a.active_users,
      |       COALESCE(n.new_users, 0) AS new_users,
      |       CAST(SUM(COALESCE(n.new_users, 0))
      |            OVER (ORDER BY a.day ROWS UNBOUNDED PRECEDING)
      |         AS BIGINT) AS cum_users
      |FROM active a LEFT JOIN nu n ON n.day = a.day
      |ORDER BY a.day""".stripMargin

  // ------------------------------------------- q134 token co-occurrence

  /** Token co-occurrence mining (market-basket over documents): the top
    * pairs of tokens appearing in the same document — the topic-discovery
    * / taxonomy-seed primitive. Both blowup axes are capped BEFORE the
    * pair join, the q129/winnow bucket discipline, with CORPUS-RELATIVE
    * bounds (integer cross-multiplied, no floats): document frequency
    * ≥ 2 (a df-1 token can't pair twice) and ≤ 90% of docs (a truly
    * ubiquitous token carries no signal), ≤ 20 tokens per document
    * (lexicographic, deterministic) bounding pairs at C(20,2) per doc,
    * and support ≥ 10% of docs on the way out. ONE doc-keyed equi-join
    * generates pairs; support counts are exact integers; top-25 by
    * (support DESC, pair) plans as TakeOrderedAndProject. Per-doc
    * windows partition on doc_id — millions of tiny partitions at scale,
    * never one reducer. */
  private def q134(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val ndocs = docs.agg(countDistinct(col("doc_id")).as("nd"))
    val toks = docs
      .select(col("doc_id"),
        explode(graft.ext.DedupOps.wordTokens(col("text"))).as("tok"))
      .distinct()
    val dfc = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(ndocs))
      .filter(col("df") >= 2 && col("df") * 10 <= col("nd") * 9)
      .select(col("tok"))
    val capped = toks.join(dfc, Seq("tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tok"))))
      .filter(col("rn") <= 20)
      .select(col("doc_id"), col("tok"))
    capped.select(col("doc_id"), col("tok").as("tok_a"))
      .join(capped.select(col("doc_id"), col("tok").as("tok_b")), Seq("doc_id"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(ndocs))
      .filter(col("support") * 10 >= col("nd"))
      .select(col("tok_a"), col("tok_b"), col("support"))
      .orderBy(col("support").desc, col("tok_a"), col("tok_b"))
      .limit(25)
  }

  private val q134Sql =
    """WITH w AS (
      |  SELECT doc_id,
      |         UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                t -> LEN(t) > 0)) AS tok
      |  FROM documents),
      |toks AS (SELECT DISTINCT doc_id, tok FROM w),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      |dfc AS (SELECT tok FROM toks GROUP BY tok
      |        HAVING COUNT(*) >= 2
      |           AND COUNT(*) * 10 <= (SELECT n FROM nd) * 9),
      |capped AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT t.doc_id, t.tok,
      |           ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY t.tok) AS rn
      |    FROM toks t JOIN dfc USING (tok))
      |  WHERE rn <= 20),
      |p AS (
      |  SELECT a.tok AS tok_a, b.tok AS tok_b,
      |         CAST(COUNT(*) AS BIGINT) AS support
      |  FROM capped a
      |  JOIN capped b ON a.doc_id = b.doc_id AND a.tok < b.tok
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) * 10 >= (SELECT n FROM nd))
      |SELECT tok_a, tok_b, support FROM p
      |ORDER BY support DESC, tok_a, tok_b LIMIT 25""".stripMargin

  // ------------------------------------------------ q133 QUALIFY dialect

  /** The r9 `QUALIFY` dialect driven end-to-end: the Snowflake/DuckDB
    * window-filter clause through `SqlCompat.translateQualify` (subquery
    * rewrite; the window evaluates post-GROUP-BY), while the ORACLE runs
    * the identical clause on DuckDB's NATIVE QUALIFY — engine-vs-engine
    * on the same declarative text, the q130 pattern. Top-3 orders per
    * customer segment-leader: a grouped aggregate qualified by a window
    * over the aggregate, the clause's canonical hard case. */
  private def q133(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders").createOrReplaceTempView("orders_q")
    val sql =
      """SELECT o_custkey, count(*) AS n_orders,
        |       floor(sum(o_totalprice) * 100 + 0.5) AS cents
        |FROM orders_q
        |GROUP BY o_custkey
        |QUALIFY row_number() OVER (ORDER BY floor(sum(o_totalprice) * 100 + 0.5) DESC, o_custkey) <= 25
        |ORDER BY o_custkey""".stripMargin
    s.sql(graft.wrapper.SqlCompat.translateQualify(sql).get)
      .selectExpr("o_custkey", "n_orders",
        "cast(cents as bigint) as cents")
  }

  private val q133Sql =
    """SELECT o_custkey, n_orders, CAST(cents AS BIGINT) AS cents FROM (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |         FLOOR(SUM(o_totalprice) * 100 + 0.5) AS cents
      |  FROM orders
      |  GROUP BY o_custkey
      |  QUALIFY ROW_NUMBER() OVER (ORDER BY FLOOR(SUM(o_totalprice) * 100 + 0.5) DESC, o_custkey) <= 25
      |) ORDER BY o_custkey""".stripMargin

  // ------------------------------------- q132 label-propagation communities

  /** Community detection on the q119 co-activity graph
    * ([[graft.operators.LabelPropagation]]): 3 synchronous rounds of
    * deterministic min-tie-break LPA — which users behave as one cohort.
    * The oracle unrolls the exact same 3 rounds in SQL (per-round
    * neighbor-label counts + (cnt DESC, label) argmax), so every round's
    * semantics — not just the fixpoint — is cross-engine-checked. */
  private def q132(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    // shared bucket-explode edge builder — see [[coActivityEdges]] (q119):
    // the same co-activity graph (minShared = 3), which until r13 was
    // still spelled here as the cell-frame SELF-JOIN the r12 round
    // replaced for q119/q123 — one shuffle of the cell frame, not two,
    // provably the identical pair set.
    val und = coActivityEdges(ev, minShared = 3)
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    graft.operators.LabelPropagation.run(edges, iters = 3)
      .orderBy(col("node"))
  }

  private val q132Sql = {
    def round(i: Int) =
      s"""c$i AS (
         |  SELECT e.src AS node, l.label, COUNT(*) AS cnt
         |  FROM e JOIN l${i - 1} l ON e.dst = l.node GROUP BY 1, 2),
         |l$i AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           ROW_NUMBER() OVER (PARTITION BY node
         |                              ORDER BY cnt DESC, label) AS rn
         |    FROM c$i) WHERE rn = 1)"""
    s"""WITH cells AS (
       |  SELECT DISTINCT user_id, event_type,
       |         epoch_us(ts) // 3600000000 AS h
       |  FROM events),
       |e0 AS (
       |  SELECT a.user_id AS u, b.user_id AS v
       |  FROM cells a
       |  JOIN cells b ON a.event_type = b.event_type AND a.h = b.h
       |              AND a.user_id < b.user_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
       |e AS (SELECT u AS src, v AS dst FROM e0
       |      UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT node, label FROM l3 ORDER BY node""".stripMargin
  }

  // --------------------------------------- q131 weighted sample (ES keys)

  /** Deterministic weighted sampling without replacement — the
    * Efraimidis–Spirakis exponential-key scheme (Inf. Proc. Letters 97(5),
    * 2006): each document draws key u^(1/w) from a uniform u and weight w,
    * and the top-k keys per stratum are an exact weighted sample. The
    * training-mixture primitive q116's DSIR weights feed into: given
    * per-doc importance weights, SELECT the documents, reproducibly.
    *
    * rand()-free like every sampling op here: u derives from md5 of the
    * doc id (6 nibbles → u ∈ (0,1)), so a resumed or re-run job draws the
    * SAME sample. Keys are compared as ln(u)/w floored to nano-units —
    * one shared IEEE computation reproduced verbatim in the DuckDB oracle
    * (the q112 md5-derivation pattern), with doc_id tie-breaks, so the
    * sampled SET is hash-compared cross-engine. Ranks come from the
    * bounded-memory two-phase construction, never a one-reducer window;
    * w is taken as n_chars (clamped ≥1) — longer docs proportionally
    * likelier, the token-budget-aware choice. */
  private def q131(s: SparkSession, d: String): DataFrame =
    graft.ext.SamplingOps.weightedSampleStratified(
      t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      idCol = "doc_id", strataCol = "source", weightCol = "n_chars", k = 10)
      .select(col("doc_id"), col("source"), col("n_chars"), col("u6"),
        col("key_nano"), col("__grn").cast("int").as("rk"))
      .orderBy(col("doc_id"))

  private val q131Sql =
    """WITH h AS (
      |  SELECT doc_id, source, n_chars, MD5('ws:' || doc_id) AS hx
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST((STRPOS('0123456789abcdef', SUBSTR(hx, 1, 1)) - 1) * 1048576
      |       + (STRPOS('0123456789abcdef', SUBSTR(hx, 2, 1)) - 1) * 65536
      |       + (STRPOS('0123456789abcdef', SUBSTR(hx, 3, 1)) - 1) * 4096
      |       + (STRPOS('0123456789abcdef', SUBSTR(hx, 4, 1)) - 1) * 256
      |       + (STRPOS('0123456789abcdef', SUBSTR(hx, 5, 1)) - 1) * 16
      |       + (STRPOS('0123456789abcdef', SUBSTR(hx, 6, 1)) - 1)
      |      AS BIGINT) AS u6
      |  FROM h),
      |k AS (
      |  SELECT doc_id, source, n_chars, u6,
      |         CAST(FLOOR(LN((CAST(u6 AS DOUBLE) + 0.5) / 16777216.0)
      |                    / GREATEST(CAST(n_chars AS DOUBLE), 1.0)
      |                    * 1000000000.0) AS BIGINT) AS key_nano
      |  FROM u),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |                               ORDER BY key_nano DESC, doc_id) AS rk
      |  FROM k)
      |SELECT doc_id, source, n_chars, u6, key_nano, CAST(rk AS INTEGER) AS rk
      |FROM r WHERE rk <= 10 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ q130 ASOF JOIN dialect

  /** The r9 `ASOF JOIN` dialect spelling, driven end-to-end: the DuckDB-
    * grammar statement goes through `SqlCompat.parseAsOf` and the parsed
    * statement's `run` onto the single-shuffle union+window as-of
    * operator, and the ORACLE is DuckDB's
    * own native ASOF JOIN — engine-vs-engine on identical declarative text,
    * not an emulation compared against itself. Each event matches the
    * latest purchase-aggregate at-or-before its timestamp for the same
    * user; inner semantics (events before a user's first purchase drop). */
  private def q130(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    ev.createOrReplaceTempView("ev_asof_l")
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pval"))
      .createOrReplaceTempView("ev_asof_r")
    // timestamps leave as integer micros (§7.6 determinism rule: raw
    // timestamp outputs write INT96 → ns-typed parquet, dtype-mismatching
    // the oracle's µs arrow output even when values agree)
    graft.wrapper.SqlCompat.parseAsOf(
      """SELECT a.event_id, a.user_id, unix_micros(a.ts) AS ts_us,
        |       unix_micros(b.ts) AS pts_us, b.pval
        |FROM ev_asof_l a ASOF JOIN ev_asof_r b
        |ON a.user_id = b.user_id AND a.ts >= b.ts
        |ORDER BY a.event_id""".stripMargin).get.run(s).df.get
  }

  private val q130Sql =
    """SELECT a.event_id, a.user_id, EPOCH_US(a.ts) AS ts_us,
      |       EPOCH_US(b.ts) AS pts_us, b.pval
      |FROM events a ASOF JOIN (
      |  SELECT user_id, ts, MAX(value) AS pval FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id, ts
      |) b ON a.user_id = b.user_id AND a.ts >= b.ts
      |ORDER BY a.event_id""".stripMargin

  // --------------------------------------------- q129 source overlap matrix

  /** Corpus-overlap matrix: pairwise Jaccard of each source pair's
    * DISCRIMINATIVE bigram-shingle sets (document frequency ≤ 10 of the
    * 20 sources — ubiquitous shingles carry no overlap signal and are
    * dropped on BOTH sides, which also caps the shingle join at
    * maxDf² pairs per shingle, the winnow/LSH bucket discipline). The
    * mixture-planning input: which sources are near-copies of each
    * other before weighting a training blend. Set sizes and shared
    * counts are exact integers; the Jaccard is one shared IEEE division
    * floored to micro-units. Shape: one shingle explode + distinct, one
    * df aggregate, one capped equi-join on shingle — never all-pairs
    * on documents. */
  private def q129(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val sh = docs
      .select(col("source"), graft.ext.DedupOps.wordTokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("source"),
        explode(graft.ext.DedupOps.shingles(col("w"), 2)).as("g"))
      .distinct()
    val kept = sh
      .join(sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 10).select(col("g")), Seq("g"))
      .select(col("source"), col("g"))
      .localCheckpoint() // consumed by sizes + both sides of the pair join
    val sizes = kept.groupBy(col("source")).agg(count(lit(1)).as("nsh"))
    val shared = kept.select(col("source").as("src_a"), col("g"))
      .join(kept.select(col("source").as("src_b"), col("g")), Seq("g"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("source").as("src_a"), col("nsh").as("na")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("nsh").as("nb")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"),
        floor(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared"))
          * lit(1000000.0)).cast("long").as("jac_micro"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val q129Sql =
    """WITH w AS (
      |  SELECT source,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     t -> LEN(t) > 0) AS w
      |  FROM documents),
      |g0 AS (
      |  SELECT source,
      |         UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w)),
      |                  i -> w[i] || ' ' || w[i + 1]))) AS g
      |  FROM w WHERE LEN(w) >= 2),
      |sh AS (SELECT DISTINCT source, g FROM g0),
      |dfc AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= 10),
      |kept AS (SELECT sh.source, sh.g FROM sh JOIN dfc USING (g)),
      |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nsh
      |          FROM kept GROUP BY 1),
      |shared AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |         CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM kept a JOIN kept b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT s.src_a, s.src_b, s.shared,
      |       CAST(FLOOR(CAST(s.shared AS DOUBLE)
      |                  / (na.nsh + nb.nsh - s.shared)
      |                  * 1000000::DOUBLE) AS BIGINT) AS jac_micro
      |FROM shared s
      |JOIN sizes na ON na.source = s.src_a
      |JOIN sizes nb ON nb.source = s.src_b
      |ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------ q154 jaro-winkler pairs

  /** Name-similarity candidate pairs via Jaro–Winkler
    * ([[graft.functions.JaroWinklerSimilarity]], native codegen) — the
    * record-linkage comparator pass that follows a blocking key: pairs
    * share a block (last name token here), never all-pairs. The
    * distinct-names table is tiny relative to the corpus (names
    * dedupe), so Catalyst broadcasts the build side; at 100 TB the
    * block key bounds each bucket and the comparator runs inside
    * whole-stage codegen. Scores reported in exact integer micros; the
    * oracle is DuckDB's own independent `jaro_winkler_similarity`
    * implementation — a genuine cross-engine differential test. */
  private def q154(s: SparkSession, d: String): DataFrame = {
    val names = t(s, d, "part").select(col("p_name")).distinct()
      .withColumn("blk", element_at(split(col("p_name"), " "), -1))
    val lhs = names.select(col("blk"), col("p_name").as("name_a"))
    val rhs = names.select(col("blk").as("blk_b"),
      col("p_name").as("name_b"))
    lhs.join(rhs,
        col("blk") === col("blk_b") && col("name_a") < col("name_b"))
      .withColumn("jw", graft.functions.HashFunctions.jaroWinkler(
        col("name_a"), col("name_b")))
      .filter(col("jw") >= 0.85)
      .select(col("name_a"), col("name_b"),
        expr("CAST(FLOOR(jw * 1000000 + 0.5) AS BIGINT)").as("jw_micro"))
      .orderBy(col("name_a"), col("name_b"))
  }

  private val q154Sql =
    """WITH p AS (SELECT DISTINCT p_name FROM part),
      |b AS (
      |  SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM p)
      |SELECT x.p_name AS name_a, y.p_name AS name_b,
      |       CAST(FLOOR(jaro_winkler_similarity(x.p_name, y.p_name)
      |                  * 1000000 + 0.5) AS BIGINT) AS jw_micro
      |FROM b x JOIN b y ON x.blk = y.blk AND x.p_name < y.p_name
      |WHERE jaro_winkler_similarity(x.p_name, y.p_name) >= 0.85
      |ORDER BY name_a, name_b""".stripMargin

  // ------------------------------------------ q155 activity streaks

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands computation: distinct (user, day), then `day −
    * row_number()` is constant within a consecutive run (the island
    * anchor), so one per-user window plus two integer aggregates give
    * streak lengths. Everything partitions on user_id; the distinct
    * collapses the event volume to ≤ users×days rows before any
    * window runs — at 100 TB the window input is bounded by the
    * calendar, not the event count. All-integer output. */
  private def q155(s: SparkSession, d: String): DataFrame = {
    val days = t(s, d, "events")
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val islands = days
      .withColumn("anchor", expr("date_sub(day, row_number() OVER" +
        " (PARTITION BY user_id ORDER BY day))"))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    islands.groupBy(col("user_id"))
      .agg(max(col("len")).as("longest"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("active_days"))
      .orderBy(col("longest").desc, col("user_id"))
      .limit(20)
  }

  private val q155Sql =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |isl AS (
      |  SELECT user_id,
      |         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
      |               ORDER BY day) AS INTEGER) AS anchor,
      |         day
      |  FROM days),
      |st AS (
      |  SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, MAX(len) AS longest,
      |       CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |       CAST(SUM(len) AS BIGINT) AS active_days
      |FROM st GROUP BY user_id
      |ORDER BY longest DESC, user_id LIMIT 20""".stripMargin

  // ------------------------------------------ q156 cohort LTV

  /** Cohort lifetime-value triangle — customers cohorted by first-order
    * month, revenue rolled up by (cohort, months-since-cohort) with a
    * running cumulative per cohort: the standard LTV curve input.
    * Money is exact integer cents from the first projection
    * (`FLOOR(x·100+0.5)` — the decimal-aggregation discipline), so the
    * cumulative window is integer arithmetic. Two shuffles (per-
    * customer min, per-cell aggregate) plus one window over ≤
    * cohorts×ages rows — calendar-bounded, volume-independent. */
  private def q156(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders").select(col("o_custkey"),
      col("o_orderdate").cast("date").as("od"),
      expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
        .as("cents"))
    val cohorts = orders.groupBy(col("o_custkey"))
      .agg(min(expr("date_trunc('month', od)")).cast("date")
        .as("cohort"))
    val cells = orders.join(cohorts, "o_custkey")
      .withColumn("age", expr(
        "(year(od) * 12 + month(od)) - (year(cohort) * 12 + month(cohort))"))
      .groupBy(col("cohort"), col("age"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("rev_cents"),
        countDistinct(col("o_custkey")).as("n_customers"))
    cells.withColumn("cum_rev_cents",
        sum(col("rev_cents")).over(Window.partitionBy(col("cohort"))
          .orderBy(col("age"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("cohort"), col("age"))
  }

  private val q156Sql =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
      |         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |c AS (
      |  SELECT o_custkey,
      |         CAST(DATE_TRUNC('month', MIN(od)) AS DATE) AS cohort
      |  FROM o GROUP BY o_custkey),
      |cells AS (
      |  SELECT cohort,
      |         (YEAR(od) * 12 + MONTH(od))
      |           - (YEAR(cohort) * 12 + MONTH(cohort)) AS age,
      |         CAST(COUNT(*) AS BIGINT) AS n_orders,
      |         CAST(SUM(cents) AS BIGINT) AS rev_cents,
      |         CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
      |  FROM o JOIN c ON o.o_custkey = c.o_custkey
      |  GROUP BY 1, 2)
      |SELECT cohort, CAST(age AS INTEGER) AS age, n_orders, rev_cents,
      |       n_customers,
      |       CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age
      |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
      |FROM cells ORDER BY cohort, age""".stripMargin

  // ------------------------------------------ q157 sparse cosine join

  /** All-pairs sparse TF-IDF cosine via posting lists — the text-side
    * similarity-join workhorse (dedup/clustering before embeddings
    * exist): dot products materialize ONLY through shared tokens (one
    * token-keyed exchange — non-shared tokens contribute 0, so this is
    * exact), with a document-frequency cap as the hot-key guard (a
    * stop-word's posting list is quadratic; the cap is part of the
    * operator's contract and applied identically in the oracle). Per-
    * token contributions floor to integer micro-units BEFORE the sum
    * (the q104 discipline — integer addition is order-independent, so
    * Spark's partition-order sums hash-match DuckDB's). Final cosine
    * normalizes by SQRT of the integer norms — unit-scale doubles,
    * same IEEE ops both engines. Top-50 by score. */
  private def q157(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val toks = docs.select(col("doc_id"),
      explode(graft.ext.TextOps.tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 450)
    val ndDf = docs.agg(count(lit(1)).as("nd"))
    val w = tf.join(broadcast(dfq), "tok").crossJoin(broadcast(ndDf))
      .select(col("doc_id"), col("tok"),
        (col("tf") * log(lit(1.0)
          + col("nd").cast("double") / col("df").cast("double")))
          .as("w"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(floor(col("w") * col("w") * lit(1e6))).as("n2_un"))
    val lhs = w.select(col("tok"), col("doc_id").as("da"),
      col("w").as("wa"))
    val rhs = w.select(col("tok").as("tok_b"), col("doc_id").as("db"),
      col("w").as("wb"))
    val dots = lhs.join(rhs,
        col("tok") === col("tok_b") && col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(sum(floor(col("wa") * col("wb") * lit(1e6))).as("dot_un"))
    dots
      .join(norms.select(col("doc_id").as("da"),
        col("n2_un").as("na_un")), "da")
      .join(norms.select(col("doc_id").as("db"),
        col("n2_un").as("nb_un")), "db")
      .select(col("da"), col("db"),
        floor(col("dot_un")
          / (sqrt(col("na_un")) * sqrt(col("nb_un")))
          * lit(1e6) + lit(0.5)).as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("da"), col("db"))
      .limit(50)
  }

  private val q157Sql =
    """WITH tk AS (
      |  SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                                    x -> LEN(x) > 0)) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM tk GROUP BY 1, 2),
      |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf
      |        GROUP BY tok HAVING COUNT(*) <= 450),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
      |w AS (SELECT doc_id, tf.tok,
      |             tf * LN(1 + CAST(nd AS DOUBLE) / CAST(df AS DOUBLE))
      |               AS w
      |      FROM tf JOIN dfq ON tf.tok = dfq.tok CROSS JOIN nd),
      |norms AS (SELECT doc_id,
      |                 CAST(SUM(CAST(FLOOR(w * w * 1000000) AS BIGINT))
      |                      AS BIGINT) AS n2_un
      |          FROM w GROUP BY 1),
      |dots AS (SELECT a.doc_id AS da, b.doc_id AS db,
      |                CAST(SUM(CAST(FLOOR(a.w * b.w * 1000000) AS BIGINT))
      |                     AS BIGINT) AS dot_un
      |         FROM w a JOIN w b
      |           ON a.tok = b.tok AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2)
      |SELECT da, db,
      |       CAST(FLOOR(dot_un / (SQRT(na.n2_un) * SQRT(nb.n2_un))
      |                  * 1000000 + 0.5) AS BIGINT) AS cos_micro
      |FROM dots
      |JOIN norms na ON na.doc_id = da
      |JOIN norms nb ON nb.doc_id = db
      |ORDER BY cos_micro DESC, da, db LIMIT 50""".stripMargin

  // ------------------------------------------ q158 BFS distances

  /** Bounded multi-source BFS ([[graft.operators.Bfs]]) over the
    * customer↔supplier trade graph (the q117 bipartite construction):
    * hop distance from the 3 seed customers, reported as a per-distance
    * histogram. All-integer state means a fixed depth is bit-identical
    * on any engine — the oracle is a bounded recursive CTE with
    * UNION-dedup (frontier rows stay ≤ nodes×depth, never the
    * exponential UNION ALL walk). Frontier-only expansion: each hop
    * joins just the newly-reached nodes against the checkpointed edge
    * list. */
  private def q158(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders").select(col("o_orderkey"),
      col("o_custkey"))
    val li = t(s, d, "lineitem").select(col("l_orderkey"),
      col("l_suppkey"))
    val pairs = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    val seeds = s.range(3).select((col("id") * 2).as("node"))
    graft.operators.Bfs.distances(edges, seeds, maxDepth = 3)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy(col("dist"))
  }

  private val q158Sql =
    """WITH RECURSIVE
      |pairs AS (
      |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (
      |  SELECT a AS src, b AS dst FROM pairs
      |  UNION ALL
      |  SELECT b AS src, a AS dst FROM pairs),
      |walk(node, dist) AS (
      |  SELECT CAST(v.node AS BIGINT), v.dist
      |  FROM (VALUES (0, 0), (2, 0), (4, 0)) v(node, dist)
      |  UNION
      |  SELECT e.dst, w.dist + 1
      |  FROM walk w JOIN edges e ON e.src = w.node
      |  WHERE w.dist < 3),
      |d AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
      |SELECT CAST(dist AS INTEGER) AS dist,
      |       CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |       MIN(node) AS min_node, MAX(node) AS max_node
      |FROM d GROUP BY dist ORDER BY dist""".stripMargin

  // ------------------------------------------ q159 HLL sketch rollup

  /** Incremental distinct-user counting via mergeable bottom-k
    * KMV/theta samples — the 100 TB pattern for "distinct users per
    * segment, updated daily": one ≤8 KiB sample per (event_type, day)
    * partial (map-side combinable — [[graft.functions.KmvSampleAgg]]
    * over portable md5-60 hashes), then partials MERGE per event_type
    * (bottom-k of the union of bottom-k samples IS the bottom-k of the
    * union — re-aggregating history rescans NOTHING) and one
    * exact-integer estimate `|{h<θ}|·2^60 div θ` (EXACT below k=1024,
    * ~3% relative error above — the q17b/q162 KMV contract, so the row
    * is hash-matched against a staged DuckDB rebuild since r11;
    * the historical `hll` in the query key names the LANE this row
    * held r9–r10). Spark's native DataSketches HLL spellings
    * (`hll_sketch_agg`/`hll_union_agg`/`hll_sketch_estimate`) remain
    * the library engine for pre-serialized sketch stores — QueriesSpec
    * still pins their daily-partial union to the one-pass sketch
    * exactly, plus the 5%-of-exact envelope on this row. */
  private def q159(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HashFunctions._
    val k = 1024
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(kmvSample(md5Hash60(col("user_id")), k).as("sk"))
    daily
      .select(col("event_type"), col("day"), explode(col("sk")).as("h"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("day")).as("n_days"),
        kmvSample(col("h"), k).as("sk"))
      .withColumn("th", kmvTheta(col("sk"), k))
      .withColumn("nb", kmvBelow(col("sk"), col("th")))
      .select(col("event_type"), col("n_days"),
        kmvEstimate("nb", "th").as("est_users"))
      .orderBy(col("event_type"))
  }

  /** DuckDB rebuild of the incremental KMV rollup: per-(type, day)
    * bottom-k distinct md5-60 partials, merged per type as the
    * bottom-k of their union, exact HUGEINT estimate. */
  private val q159Sql =
    """WITH dh AS (
      |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
      |         CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15)
      |              AS BIGINT) AS h
      |  FROM events WHERE user_id IS NOT NULL),
      |daily AS (
      |  SELECT event_type, day, h FROM (
      |    SELECT event_type, day, h,
      |           ROW_NUMBER() OVER (PARTITION BY event_type, day
      |                              ORDER BY h) AS rn
      |    FROM dh) WHERE rn <= 1024),
      |u AS (SELECT DISTINCT event_type, h FROM daily),
      |m AS (SELECT event_type, h,
      |             ROW_NUMBER() OVER (PARTITION BY event_type
      |                                ORDER BY h) AS rn
      |      FROM u),
      |st AS (SELECT event_type,
      |              COUNT(*) FILTER (WHERE rn <= 1024) AS n_in,
      |              MAX(CASE WHEN rn = 1024 THEN h END) AS hk
      |       FROM m GROUP BY event_type),
      |nd AS (SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
      |       FROM dh GROUP BY event_type)
      |SELECT st.event_type, nd.n_days,
      |       CASE WHEN hk IS NULL THEN CAST(n_in AS BIGINT)
      |            ELSE CAST(CAST(n_in - 1 AS HUGEINT) * 1152921504606846976
      |                      // hk AS BIGINT) END AS est_users
      |FROM st JOIN nd USING (event_type)
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------ q160 ratio_to_report

  /** Revenue share per market segment through the Exasol/Oracle
    * `RATIO_TO_REPORT(x) OVER (...)` dialect spelling
    * ([[graft.wrapper.SqlCompat.translateRatioToReport]] → `(x) /
    * SUM(x) OVER (...)`, the builtin window aggregate). Shares are
    * computed over exact integer cents (one segment-level aggregate
    * first — the window runs over 5 rows, never the fact table) and
    * reported in floored micros. */
  private def q160(s: SparkSession, d: String): DataFrame = {
    t(s, d, "customer").createOrReplaceTempView("customer_q160")
    t(s, d, "orders").createOrReplaceTempView("orders_q160")
    val sql =
      """SELECT c_mktsegment, cents,
        |       CAST(FLOOR(RATIO_TO_REPORT(cents) OVER ()
        |                  * 1000000 + 0.5) AS BIGINT) AS share_micro
        |FROM (SELECT c_mktsegment,
        |             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
        |               AS cents
        |      FROM orders_q160
        |      JOIN customer_q160 ON o_custkey = c_custkey
        |      GROUP BY c_mktsegment) seg
        |ORDER BY c_mktsegment""".stripMargin
    s.sql(graft.wrapper.SqlCompat.translateRatioToReport(sql))
  }

  private val q160Sql =
    """WITH seg AS (
      |  SELECT c_mktsegment,
      |         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment)
      |SELECT c_mktsegment, cents,
      |       CAST(FLOOR(CAST(cents AS DOUBLE)
      |                  / CAST(SUM(cents) OVER () AS DOUBLE)
      |                  * 1000000 + 0.5) AS BIGINT) AS share_micro
      |FROM seg ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------ q161 quantile sketch rollup

  /** Incremental percentile maintenance via DETERMINISTIC mergeable
    * quantile sketches ([[graft.functions.LogHistAgg]] — log-bucketed
    * counting histograms, DDSketch family, ≤0.5% relative error per
    * quantile; native TypedImperativeAggregates, live buffers
    * serialized only at shuffle boundaries): one byte-bounded partial
    * per (event_type, day), a merge-aggregate per type, p50/p90/p99
    * extracted from the merged state. Re-running over new days merges
    * SKETCHES — history is never rescanned, and because merge is pure
    * bucket-count addition (a commutative monoid) the result is
    * bit-identical under ANY partitioning or merge order. r10-late
    * this replaced the DataSketches KLL rollup here: KLL's randomized
    * compaction (thread-shared Random) made q161 the one declared
    * query outside the two-run bit-identity contract; Spark's builtin
    * KLL lane (`kll_sketch_agg_double` / `kll_merge_agg_double` /
    * `kll_sketch_get_quantile_double`) serves fixed-size-bound use
    * cases. Because the bucket map is a pure integer function of the
    * data (`bucket = ⌈log_γ v⌉`, estimate = bucket midpoint, quantile =
    * a cumulative walk), DuckDB rebuilds the WHOLE sketch in SQL — the
    * same flip q182 made for Count-Min — so since r11 this row is
    * DuckDB-oracle hash-checked, not just spec-pinned. Outputs are
    * [[round6]]-rounded on both engines: `ln`/`pow` are the lane's only
    * non-IEEE-identical ops (≤2 ulp apart between libms), and 6dp
    * absorbs that while staying far inside the α = 0.5% accuracy
    * contract that QueriesSpec pins. */
  private def q161(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchFunctions._
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(logHistAgg(col("value")).as("sk"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), logHistMerge(col("sk")).as("msk"))
      .select(col("event_type"), col("n_days"),
        round6(logHistQuantile(col("msk"), lit(0.5))).as("p50"),
        round6(logHistQuantile(col("msk"), lit(0.9))).as("p90"),
        round6(logHistQuantile(col("msk"), lit(0.99))).as("p99"))
      .orderBy(col("event_type"))
  }

  /** DuckDB rebuild of the log-hist sketch (functions/LogHistogram.scala):
    * bucket on (sign, k=⌈log_γ|v|⌉) — grouping on the pair instead of the
    * packed odd/even id because DuckDB's `//` truncates where the JVM's
    * `>>1` floors — midpoint estimates, cumulative walk to
    * target = max(1, ⌈rank·total⌉). γ and the targets are computed with
    * explicit DOUBLE casts so both engines run the identical IEEE ops. */
  private val q161Sql =
    """WITH gg AS (SELECT CAST(1.005 AS DOUBLE) / CAST(0.995 AS DOUBLE) AS g),
      |bk AS (
      |  SELECT event_type,
      |         CASE WHEN value = 0 THEN 0 WHEN value > 0 THEN 1
      |              ELSE -1 END AS sgn,
      |         CASE WHEN value = 0 THEN CAST(0 AS BIGINT)
      |              ELSE CAST(CEIL(LN(ABS(value)) / LN(g)) AS BIGINT)
      |              END AS k,
      |         CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events CROSS JOIN gg
      |  WHERE value IS NOT NULL AND NOT ISNAN(value) AND NOT ISINF(value)
      |  GROUP BY 1, 2, 3),
      |est AS (
      |  SELECT event_type, c,
      |         CASE WHEN sgn = 0 THEN CAST(0 AS DOUBLE)
      |              ELSE sgn * (2 * POW(g, k) / (g + 1)) END AS e
      |  FROM bk CROSS JOIN gg),
      |cum AS (
      |  SELECT event_type, e, c,
      |         SUM(c) OVER (PARTITION BY event_type ORDER BY e) AS cum,
      |         SUM(c) OVER (PARTITION BY event_type) AS total
      |  FROM est),
      |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      |       FROM (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day
      |             FROM events)
      |       GROUP BY 1),
      |q AS (
      |  SELECT event_type,
      |         MIN(e) FILTER (WHERE cum >= GREATEST(1,
      |           CEIL(CAST(0.5 AS DOUBLE) * CAST(total AS DOUBLE)))) AS p50r,
      |         MIN(e) FILTER (WHERE cum >= GREATEST(1,
      |           CEIL(CAST(0.9 AS DOUBLE) * CAST(total AS DOUBLE)))) AS p90r,
      |         MIN(e) FILTER (WHERE cum >= GREATEST(1,
      |           CEIL(CAST(0.99 AS DOUBLE) * CAST(total AS DOUBLE)))) AS p99r
      |  FROM cum GROUP BY 1)
      |SELECT q.event_type, nd.n_days,
      |       FLOOR(p50r * 1000000 + 0.5) / 1000000 AS p50,
      |       FLOOR(p90r * 1000000 + 0.5) / 1000000 AS p90,
      |       FLOOR(p99r * 1000000 + 0.5) / 1000000 AS p99
      |FROM q JOIN nd USING (event_type) ORDER BY event_type""".stripMargin

  // ------------------------------------------ q162 theta overlap

  /** Sketch-estimated corpus-overlap matrix — the q129 exact Jaccard
    * re-expressed at the 100 TB scale path: one mergeable bottom-k
    * theta/KMV sample per source over its bigram-shingle hashes
    * ([[graft.functions.KmvSampleAgg]] — k smallest distinct md5-60
    * hashes, map-side-combinable ≤8 KiB state), then EVERY pairwise
    * overlap is a set operation over kilobyte samples (the operation
    * HLL cannot do) — the corpora are never re-joined, and the pair
    * join runs over #sources rows (broadcast by construction, never
    * fact-sized).
    *
    * Estimator (exact integer arithmetic throughout, the q17b KMV
    * contract): per sketch θ = h_(k) (or 2^60 when the sample is the
    * whole distinct set), retained = sample entries BELOW θ, estimate
    * `|retained|·2^60 div θ` — which collapses to the exact distinct
    * count below k and to the (k−1)-convention KMV estimate at k.
    * Intersections evaluate at the COMMON θ' = min(θ_a, θ_b) (the
    * standard theta intersection), and `jac_est` is the common-θ'
    * ratio |A∩B<θ'| / |A∪B<θ'| — two exact integers, ONE double
    * division, so the whole row is deterministic and DuckDB rebuilds
    * it verbatim (bottom-k lists + LIST_INTERSECT/LIST_FILTER +
    * HUGEINT division): a driver-hash oracle since r11, on top of the
    * QueriesSpec pin against the exact shingle-set Jaccard. Spark's
    * builtin DataSketches theta lane (`theta_sketch_agg` /
    * `theta_union_agg` / `theta_intersection` / `theta_sketch_estimate`)
    * is the engine for pre-serialized sketch stores. */
  private def q162(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HashFunctions._
    val k = 1024
    val docs = t(s, d, "documents")
    val sh = docs
      .select(col("source"),
        graft.ext.DedupOps.wordTokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("source"),
        explode(graft.ext.DedupOps.shingles(col("w"), 2)).as("g"))
    val sks = sh.groupBy(col("source"))
      .agg(kmvSample(md5Hash60(col("g")), k).as("sk"))
    val rhs = sks.select(col("source").as("src_b"), col("sk").as("skb"))
    sks.select(col("source").as("src_a"), col("sk").as("ska"))
      .join(broadcast(rhs), col("src_a") < col("src_b"))
      .withColumn("tha", kmvTheta(col("ska"), k))
      .withColumn("thb", kmvTheta(col("skb"), k))
      .withColumn("th", least(col("tha"), col("thb")))
      .withColumn("na", kmvBelow(col("ska"), col("tha")))
      .withColumn("nb", kmvBelow(col("skb"), col("thb")))
      .withColumn("n_shared",
        kmvBelow(array_intersect(col("ska"), col("skb")), col("th")))
      .withColumn("n_union",
        kmvBelow(array_union(col("ska"), col("skb")), col("th")))
      .select(col("src_a"), col("src_b"),
        kmvEstimate("na", "tha").as("est_a"),
        kmvEstimate("nb", "thb").as("est_b"),
        kmvEstimate("n_shared", "th").as("est_shared"),
        (col("n_shared").cast("double") / col("n_union").cast("double"))
          .as("jac_est"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** DuckDB rebuild of the KMV-theta overlap pipeline: per-source
    * bottom-k distinct md5-60 bigram hashes as ascending lists, θ
    * cutoffs, common-θ set operations, exact HUGEINT estimates. */
  private val q162Sql =
    """WITH toks AS (
      |  SELECT source,
      |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                     t -> LEN(t) > 0) AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT source,
      |         UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)),
      |                               i -> w[i] || ' ' || w[i + 1])) AS g
      |  FROM toks WHERE LEN(w) >= 2),
      |h AS (SELECT DISTINCT source,
      |             CAST('0x' || SUBSTR(MD5(g), 1, 15) AS BIGINT) AS h
      |      FROM sh),
      |rk AS (SELECT source, h,
      |              ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      |       FROM h),
      |sk AS (SELECT source, LIST(h ORDER BY h) AS sk,
      |              CAST(COUNT(*) AS BIGINT) AS n
      |       FROM rk WHERE rn <= 1024 GROUP BY source),
      |th AS (SELECT source, sk,
      |              CASE WHEN n < 1024
      |                   THEN CAST(1152921504606846976 AS BIGINT)
      |                   ELSE sk[1024] END AS th
      |       FROM sk),
      |pr AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |         a.th AS tha, b.th AS thb, LEAST(a.th, b.th) AS th,
      |         CAST(LEN(LIST_FILTER(a.sk, x -> x < a.th)) AS BIGINT) AS na,
      |         CAST(LEN(LIST_FILTER(b.sk, x -> x < b.th)) AS BIGINT) AS nb,
      |         CAST(LEN(LIST_FILTER(LIST_INTERSECT(a.sk, b.sk),
      |                              x -> x < LEAST(a.th, b.th)))
      |              AS BIGINT) AS n_shared,
      |         CAST(LEN(LIST_FILTER(LIST_DISTINCT(LIST_CONCAT(a.sk, b.sk)),
      |                              x -> x < LEAST(a.th, b.th)))
      |              AS BIGINT) AS n_union
      |  FROM th a JOIN th b ON a.source < b.source)
      |SELECT src_a, src_b,
      |       CAST(CAST(na AS HUGEINT) * 1152921504606846976 // tha
      |            AS BIGINT) AS est_a,
      |       CAST(CAST(nb AS HUGEINT) * 1152921504606846976 // thb
      |            AS BIGINT) AS est_b,
      |       CAST(CAST(n_shared AS HUGEINT) * 1152921504606846976 // th
      |            AS BIGINT) AS est_shared,
      |       CAST(n_shared AS DOUBLE) / CAST(n_union AS DOUBLE) AS jac_est
      |FROM pr ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------ q163 bloom-pruned join

  /** Explicit bloom-prefiltered semi join — the scale pattern when the
    * dim side is too big to broadcast whole but its KEY SET fits a
    * compact bitmap (Spark's own runtime-filter machinery, driven
    * explicitly): build `bloom_filter_agg` over the filtered dim keys
    * (one ~KB aggregate row), broadcast it, prune the fact table with
    * `might_contain` BEFORE the join shuffle, then close with the exact
    * semi join — false positives drop there, so the RESULT is exact and
    * oracle-checkable while the shuffle moves only ~matching rows.
    * Money in exact integer cents. */
  private def q163(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HashFunctions._
    val cust = t(s, d, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    // `might_contain` requires a CONSTANT filter (or scalar subquery) —
    // the one-row aggregate is driver-held and re-broadcast as a
    // literal, the codebook discipline (bounded: ~100 KB bitmap).
    val bf = cust.agg(
      bloomAgg(xxhash64(col("c_custkey")), 100000L, 800000L).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pruned = t(s, d, "orders")
      .filter(mightContain(lit(bf), xxhash64(col("o_custkey"))))
    pruned
      .join(cust, pruned("o_custkey") === cust("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"))
      .orderBy(col("o_orderpriority"))
  }

  private val q163Sql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |            AS BIGINT) AS cents
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'BUILDING')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------ q164 heap top-k per group

  /** Grouped top-k via a bounded-heap aggregate (Spark's internal
    * `CollectTopK`, exposed through the HashFunctions facade) — the
    * scale answer to "top 3 orders per segment": ONE hash aggregate
    * holding a k-item heap per group, map-side combinable — no window,
    * no per-group sort, no one-reducer-per-group. Tie-break inside the
    * heap via a negated orderkey field (struct ordering is
    * lexicographic), so the result is exact and deterministic; the
    * oracle is the ROW_NUMBER window spelling of the same cut. */
  private def q164(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders")
      .join(t(s, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"),
        col("o_orderkey"))
    orders.groupBy(col("c_mktsegment"))
      .agg(graft.functions.HashFunctions.collectTopK(
        struct(col("cents"), (-col("o_orderkey")).as("nk")), 3,
        reverse = false).as("tops"))
      .select(col("c_mktsegment"),
        posexplode_outer(col("tops")).as(Seq("pos", "top")))
      .select(col("c_mktsegment"),
        (col("pos") + 1).cast("int").as("rk"),
        (-col("top.nk")).as("o_orderkey"),
        col("top.cents").as("cents"))
      .orderBy(col("c_mktsegment"), col("rk"))
  }

  private val q164Sql =
    """WITH ranked AS (
      |  SELECT c_mktsegment,
      |         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |         o_orderkey,
      |         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |           ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |             DESC, o_orderkey) AS rk
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |SELECT c_mktsegment, CAST(rk AS INTEGER) AS rk, o_orderkey, cents
      |FROM ranked WHERE rk <= 3
      |ORDER BY c_mktsegment, rk""".stripMargin

  // ------------------------------------------ q165 personalized PR

  /** Personalized PageRank from the 3 seed customers over the q117
    * trade graph ([[graft.operators.PageRank.personalized]]): teleport
    * mass flows only to the seeds, so ranks measure graph proximity —
    * "suppliers/customers most related to these accounts". Same
    * engine-exact integer-micro discipline as q117, so the oracle is
    * the same chained-CTE iteration with a seeded teleport; top-20. */
  private def q165(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders").select(col("o_orderkey"),
      col("o_custkey"))
    val li = t(s, d, "lineitem").select(col("l_orderkey"),
      col("l_suppkey"))
    val pairs = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    val seeds = s.range(3).select((col("id") * 2).as("node"))
    graft.operators.PageRank.personalized(edges, seeds, iters = 5)
      .orderBy(col("rank").desc, col("node"))
      .limit(20)
  }

  private val q165Sql = {
    val prs = (1 to 5).map { i =>
      s"""pr$i AS (
         |  SELECT b.node,
         |         CAST(b.is_seed * 150000
         |              + FLOOR(0.85 * COALESCE(c.s, 0)) AS BIGINT)
         |           AS rank
         |  FROM base b LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.rank // d.outdeg) AS s
         |    FROM pr${i - 1} p
         |    JOIN edges e ON e.src = p.node
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON c.node = b.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT a AS src, b AS dst FROM pairs
       |          UNION ALL SELECT b AS src, a AS dst FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |base AS (SELECT node,
       |                CASE WHEN node IN (0, 2, 4) THEN 1 ELSE 0 END
       |                  AS is_seed
       |         FROM nodes),
       |pr0 AS (SELECT node, CAST(is_seed * 1000000 AS BIGINT) AS rank
       |        FROM base),
       |$prs
       |SELECT node, rank FROM pr5
       |ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  // ------------------------------------------ q166 hard negatives

  /** Hard-negative mining for contrastive training — for every vector,
    * the most-similar vector with a DIFFERENT label (the classic
    * "hardest negative" pair): pair scoring via the native `array_dot`
    * cosine, then the per-query top-1 through the bounded-heap
    * aggregate ([[graft.functions.HashFunctions.collectTopK]]) — one
    * hash aggregate, no window, no per-query sort. Here the query side
    * broadcasts (brute-force is the oracle-checkable baseline and the
    * recall reference for the index path); the SCALE path is the
    * declared sibling [[q166b]] — the same mining through the
    * persisted IVF index's cell-co-partitioned batch scorer, nothing
    * all-pairs, nothing unboundedly broadcast. */
  private def q166(s: SparkSession, d: String): DataFrame = {
    // Norms hoisted OUT of the pair loop (guide §1.2 "per-task work"):
    // cosine(e, qe) re-derives sqrt(dot(e,e)) and sqrt(dot(qe,qe)) per
    // PAIR — 3 array folds × N·Q pairs; computing each row's norm once in
    // the pre-join projections and scoring dot/(en·qn) is the identical
    // IEEE expression tree (same operand order), so the 4dp-rounded
    // output is bit-for-bit unchanged, at ~1/3 the per-pair arithmetic.
    val emb = t(s, d, "embeddings").select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .withColumn("en", graft.ext.SimilarityOps.l2Norm(col("e")))
    // Scale-bounded anchor (VERDICT r11 #2): the all-pairs brute is the
    // oracle baseline and stays FULL at every oracle scale (≤ sf0.1,
    // ≤ 10k vectors), but N² made it the suite's only superlinear bench
    // citizen (312 s at sf1 = 42% of the whole suite). Past 10k vectors
    // the QUERY side restricts to the 32 vectors with the smallest
    // md5_60("q166q_<id>") (the q187 portable-hash sampling discipline) —
    // per-query semantics stay exactly brute (every query still scores
    // the ENTIRE corpus), so q166b's agreement floor keeps its anchor,
    // while bench cost drops from N² to 32·N. The sort feeding limit(32)
    // is a TakeOrderedAndProject — bounded heap, never a global sort.
    val qsAll = emb.select(col("vec_id").as("query_id"),
      col("label").as("qlabel"), col("e").as("qe"), col("en").as("qn"))
    val qs = if (embeddingsCount(s, d) <= 10000L) qsAll else
      qsAll.orderBy(
        graft.functions.HashFunctions.md5Hash60(
          concat(lit("q166q_"), col("query_id"))), col("query_id"))
        .limit(32)
    val scored = emb.join(broadcast(qs), col("label") =!= col("qlabel"))
      .withColumn("cos",
        graft.ext.SimilarityOps.dot(col("e"), col("qe"))
          / (col("en") * col("qn")))
    // Top-1 as a codegen'd `max(struct)` DeclarativeAggregate rather than
    // the k-heap: collectTopK is a TypedImperativeAggregate, and
    // ObjectHashAggregateExec falls back to SORT-based aggregation past
    // 128 distinct keys per task — with thousands of query ids that
    // sorted every scored pair. `max` over the SAME struct ordering
    // (cos, -vec_id) keeps the identical winner (largest cos, smallest
    // vec_id on ties, NaN-largest) and stays on the fast hash path with
    // map-side partial aggregation.
    scored.groupBy(col("query_id"))
      .agg(max(struct(col("cos"), (-col("vec_id")).as("nid"))).as("top"))
      .select(col("query_id"), (-col("top.nid")).as("neg_id"),
        round(col("top.cos"), 4).as("cosine"))
      .orderBy(col("query_id"))
  }

  private val q166Sql =
    """WITH e AS (
      |  SELECT vec_id, label,
      |         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id,
      |         LIST_COSINE_SIMILARITY(c.e, q.e) AS cos
      |  FROM e q JOIN e c ON c.label <> q.label),
      |r AS (SELECT query_id, vec_id, cos,
      |             ROW_NUMBER() OVER (PARTITION BY query_id
      |               ORDER BY cos DESC, vec_id) AS rk
      |      FROM scored)
      |SELECT query_id, vec_id AS neg_id, ROUND(cos, 4) AS cosine
      |FROM r WHERE rk = 1 ORDER BY query_id""".stripMargin

  /** Hard-negative mining at scale — q166's semantics scored through
    * the PERSISTED IVF index ([[graft.ext.IvfIndex.batchQuery]]): every
    * vector probes only its nProbe nearest cells (cell-co-partitioned
    * shuffle join — the query side never broadcasts, unlike [[q166]]'s
    * deliberately-brute oracle baseline), candidates heap-capped at k
    * per query, then ONE linear label join pair filters same-label
    * candidates before the q166 top-1 tie-break (cos DESC, vec_id ASC).
    * Approximate by construction (a query whose k nearest IVF
    * candidates all share its label emits no row) — and since r12
    * DuckDB-oracle-checked end to end ([[q166bSql]], the portable index
    * build made it possible); HardNegativesIvfSpec additionally pins a
    * ≥0.8 top-1 agreement floor vs q166 and the
    * no-broadcast/no-cartesian plan shape. */
  private def q166b(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val labels = emb.select(col("vec_id"), col("label"))
    // exactCos: the top-1 tie-break below must see the UNROUNDED cosine
    // (exactly like q166's heap) — rounding happens only in the final
    // projection, so 4dp-tied-but-distinct candidates can't flip the
    // winner between the exact and indexed lanes (ADVICE r10).
    val cands = graft.ext.IvfIndex.batchQuery(
      s, ivfIndexDir(s, d), emb, k = 16, nProbe = 8, exactCos = true)
    cands
      .join(labels.withColumnRenamed("label", "clabel"), Seq("vec_id"))
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("qlabel")), Seq("query_id"))
      .filter(col("clabel") =!= col("qlabel"))
      .groupBy(col("query_id"))
      .agg(max_by(struct(col("vec_id"), col("cosine")),
        struct(col("cosine"), -col("vec_id"))).as("top"))
      .select(col("query_id"), col("top.vec_id").as("neg_id"),
        round(col("top.cosine"), 4).as("cosine"))
      .orderBy(col("query_id"))
  }

  /** q166b oracle (r12 — possible because the IVF build is now
    * bit-portable, q41's [[ivfCoarseCtes]]): every vector probes its 8
    * nearest cells (unrounded-cosine rank, lowest-cell ties — the
    * batchQuery heap ordering), candidates heap-capped at 16 per query,
    * then the label filter and the exact-cosine top-1 with the (cos
    * DESC, vec_id ASC) tie-break. Approximation semantics carry over
    * exactly: a query whose 16 candidates all share its label emits no
    * row, in SQL as in Spark. */
  private val q166bSql =
    s"""WITH $ivfCoarseCtes,
       |${ivfProbesCte("", 8)},
       |${ivfScoredCte("scored0")},
       |cand AS (SELECT query_id, vec_id, cos FROM (
       |           SELECT query_id, vec_id, cos,
       |                  ROW_NUMBER() OVER (PARTITION BY query_id
       |                    ORDER BY cos DESC, vec_id) AS rk
       |           FROM scored0) s WHERE rk <= 16),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |neg AS (SELECT c.query_id, c.vec_id, c.cos,
       |               ROW_NUMBER() OVER (PARTITION BY c.query_id
       |                 ORDER BY c.cos DESC, c.vec_id) AS rk
       |        FROM cand c JOIN lab cl ON cl.vec_id = c.vec_id
       |                    JOIN lab ql ON ql.vec_id = c.query_id
       |        WHERE cl.label <> ql.label)
       |SELECT query_id, vec_id AS neg_id, ROUND(cos, 4) AS cosine
       |FROM neg WHERE rk = 1 ORDER BY query_id""".stripMargin

  // ------------------------------------------ q167 time-weighted avg

  /** Time-weighted average value per user (TWAP) — each event's value
    * holds until the user's next event, weighted by the holding
    * interval: the step-function average that plain AVG gets wrong
    * whenever sampling is irregular. Exact integer arithmetic
    * throughout (centi-value × interval micros, integer division with
    * a NULLIF guard — the time-boundary discipline); ONE per-user
    * window (lead) + one aggregate. */
  private def q167(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tus"),
        expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("vc"))
      .withColumn("nxt", lead(col("tus"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dt", col("nxt") - col("tus"))
      .groupBy(col("user_id"))
      // DECIMAL(38,0) product sum (the r11 groupedCorr overflow
      // contract): a single centi-value × interval-micros term reaches
      // 1e19 at years-long gaps — the operand widens BEFORE the
      // multiply; IntegralDivide still yields BIGINT, oracle untouched.
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt")).as("span_us"),
        sum(col("vc").cast("decimal(19,0)") * col("dt")).as("wsum"))
      .withColumn("twap_centi", expr("wsum div nullif(span_us, 0)"))
      .select(col("user_id"), col("n_intervals"), col("span_us"),
        col("twap_centi"))
      .orderBy(col("user_id"))
  }

  private val q167Sql =
    """WITH iv AS (
      |  SELECT user_id, EPOCH_US(ts) AS tus,
      |         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc,
      |         LEAD(EPOCH_US(ts), 1) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS nxt
      |  FROM events),
      |d AS (SELECT user_id, vc, nxt - tus AS dt FROM iv
      |      WHERE nxt IS NOT NULL)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |       CAST(SUM(dt) AS BIGINT) AS span_us,
      |       CAST(SUM(vc * dt) AS BIGINT)
      |         // NULLIF(CAST(SUM(dt) AS BIGINT), 0) AS twap_centi
      |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------ q168 KS two-sample test

  /** Exact two-sample Kolmogorov–Smirnov distance between the purchase
    * and click value distributions — the distribution-drift test PSI's
    * fixed bins can miss: D = max |F1(x) − F2(x)| evaluated at every
    * distinct value, computed in EXACT integers (cross-multiplied
    * cumulative counts — no float CDFs). Scale shape: collapse to
    * per-distinct-value counts FIRST (input to the prefix is bounded by
    * the value domain, not the event count), then BOTH cumulative
    * counts ride ONE bounded-memory global prefix
    * ([[graft.ext.ShardOps.withGlobalPrefixSum]], one range shuffle —
    * never a one-reducer window) by packing (cnt1, cnt2) into a single
    * long (cnt1·2³² + cnt2; counts < 2³¹ so the lanes cannot carry). */
  private def q168(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"),
        expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("vc"))
    val perValue = ev.groupBy(col("vc"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c1"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("c2"))
      .withColumn("packed",
        col("c1") * lit(4294967296L) + col("c2"))
    val prefixed = graft.ext.ShardOps.withGlobalPrefixSum(
      perValue, Seq(col("vc").asc), "packed")
    prefixed
      .withColumn("cum1", expr("__rsum div 4294967296"))
      .withColumn("cum2", expr("__rsum % 4294967296"))
      .crossJoin(broadcast(ev.groupBy()
        .agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n1"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n2"))))
      .withColumn("gap", abs(col("cum1") * col("n2")
        - col("cum2") * col("n1")))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("gap")).as("d_num"))
      // within the documented <2³¹-per-type packing contract the gap
      // products fit a long, but gap·1e6 does not — DECIMAL(38,0)
      .withColumn("d_micro",
        expr("cast(d_num as decimal(38,0)) * 1000000 div (n1 * n2)"))
      .select(col("n1"), col("n2"), col("d_num"), col("d_micro"))
  }

  private val q168Sql =
    """WITH ev AS (
      |  SELECT event_type,
      |         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |pv AS (
      |  SELECT vc,
      |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
      |                       ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(SUM(CASE WHEN event_type = 'click' THEN 1
      |                       ELSE 0 END) AS BIGINT) AS c2
      |  FROM ev GROUP BY vc),
      |cum AS (
      |  SELECT CAST(SUM(c1) OVER (ORDER BY vc
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
      |         CAST(SUM(c2) OVER (ORDER BY vc
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
      |  FROM pv),
      |n AS (
      |  SELECT CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
      |                       ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(SUM(CASE WHEN event_type = 'click' THEN 1
      |                       ELSE 0 END) AS BIGINT) AS n2
      |  FROM ev)
      |SELECT n1, n2,
      |       CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
      |       CAST(CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS HUGEINT)
      |         * 1000000 // (n1 * n2) AS BIGINT) AS d_micro
      |FROM cum CROSS JOIN n
      |GROUP BY n1, n2""".stripMargin

  // ------------------------------------------ q169 chi-square test

  /** Chi-square independence test between event type and hour-of-day —
    * "is traffic mix time-invariant": χ² = Σ (O·N − R·C)² / (N·R·C)
    * over the contingency cells (the cross-multiplied form — expected
    * counts never materialize as floats). Per-cell contributions floor
    * to integer micros BEFORE the sum (the q104 discipline: integer
    * addition is order-independent ⇒ cross-engine hash-match); the
    * per-cell double ops are the same IEEE expression on both engines.
    * Everything after the first aggregate runs on ≤ types×24 rows. */
  private def q169(s: SparkSession, d: String): DataFrame = {
    val cells = t(s, d, "events")
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val colT = cells.groupBy(col("hr")).agg(sum(col("o")).as("c"))
    val nT = cells.agg(sum(col("o")).as("n"))
    cells.join(broadcast(rowT), "event_type")
      .join(broadcast(colT), "hr")
      .crossJoin(broadcast(nT))
      .withColumn("diff", col("o") * col("n") - col("r") * col("c"))
      .withColumn("contrib_micro",
        floor(col("diff").cast("double") * col("diff").cast("double")
          / (col("n").cast("double") * col("r") * col("c"))
          * lit(1e6)))
      .agg(count(lit(1)).as("n_cells"),
        ((countDistinct(col("event_type")) - 1)
          * (countDistinct(col("hr")) - 1)).as("dof"),
        sum(col("contrib_micro")).as("chi2_micro"))
  }

  private val q169Sql =
    """WITH cells AS (
      |  SELECT event_type, HOUR(ts) AS hr,
      |         CAST(COUNT(*) AS BIGINT) AS o
      |  FROM events GROUP BY 1, 2),
      |rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
      |       FROM cells GROUP BY 1),
      |ct AS (SELECT hr, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      |nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      |x AS (
      |  SELECT cells.o * nt.n - rt.r * ct.c AS diff,
      |         rt.r AS r, ct.c AS c, nt.n AS n,
      |         cells.event_type, cells.hr
      |  FROM cells
      |  JOIN rt ON cells.event_type = rt.event_type
      |  JOIN ct ON cells.hr = ct.hr
      |  CROSS JOIN nt)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      |       CAST((COUNT(DISTINCT event_type) - 1)
      |            * (COUNT(DISTINCT hr) - 1) AS BIGINT) AS dof,
      |       CAST(SUM(CAST(FLOOR(
      |           CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE)
      |           / (CAST(n AS DOUBLE) * r * c) * 1000000)
      |         AS BIGINT)) AS BIGINT) AS chi2_micro
      |FROM x""".stripMargin

  // ------------------------------------------ q170 Mann–Whitney U

  /** Mann–Whitney U rank-sum test (purchase vs click values) — the
    * nonparametric location test completing the drift family (KS q168,
    * χ² q169). Midranks stay EXACT integers by working in doubled
    * units: for a distinct value with `m` total observations after
    * `cb` smaller ones, 2·midrank = 2·cb + m + 1, so the rank sum and
    * U statistic are integer-exact with ties handled correctly. The
    * tie-corrected z-score is ONE shared final double expression over
    * those integers. Same scale shape as q168: per-distinct-value
    * collapse first, one bounded-memory global prefix. */
  private def q170(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"),
        expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("vc"))
    val perValue = ev.groupBy(col("vc"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c1"),
        count(lit(1)).as("m"))
    val prefixed = graft.ext.ShardOps.withGlobalPrefixSum(
      perValue, Seq(col("vc").asc), "m")
      .withColumn("cb", col("__rsum") - col("m"))
      .withColumn("contrib_x2",
        col("c1") * (lit(2L) * col("cb") + col("m") + 1L))
      .withColumn("tie_t", col("m") * (col("m") * col("m") - 1L))
    prefixed
      .agg(sum(col("c1")).as("n1"),
        (sum(col("m")) - sum(col("c1"))).as("n2"),
        sum(col("contrib_x2")).as("r1_x2"),
        sum(col("tie_t")).as("tie_t"))
      .withColumn("u1_x2", col("r1_x2") - col("n1") * (col("n1") + 1L))
      .withColumn("z_micro", expr(
        """CAST(FLOOR(
          |  (CAST(u1_x2 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * n2 / 2)
          |  / SQRT(CAST(n1 AS DOUBLE) * n2 / 12
          |         * ((n1 + n2 + 1)
          |            - CAST(tie_t AS DOUBLE)
          |              / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE))))
          |  * 1000000) AS BIGINT)""".stripMargin))
      .select(col("n1"), col("n2"), col("u1_x2"), col("tie_t"),
        col("z_micro"))
  }

  private val q170Sql =
    """WITH ev AS (
      |  SELECT event_type,
      |         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |pv AS (
      |  SELECT vc,
      |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
      |                       ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(COUNT(*) AS BIGINT) AS m
      |  FROM ev GROUP BY vc),
      |pr AS (
      |  SELECT c1, m,
      |         CAST(SUM(m) OVER (ORDER BY vc ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) - m AS cb
      |  FROM pv),
      |agg AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
      |         CAST(SUM(m) - SUM(c1) AS BIGINT) AS n2,
      |         CAST(SUM(c1 * (2 * cb + m + 1)) AS BIGINT) AS r1_x2,
      |         CAST(SUM(m * (m * m - 1)) AS BIGINT) AS tie_t
      |  FROM pr),
      |u AS (SELECT n1, n2, r1_x2 - n1 * (n1 + 1) AS u1_x2, tie_t
      |      FROM agg)
      |SELECT n1, n2, u1_x2, tie_t,
      |       CAST(FLOOR(
      |         (CAST(u1_x2 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * n2 / 2)
      |         / SQRT(CAST(n1 AS DOUBLE) * n2 / 12
      |                * ((n1 + n2 + 1)
      |                   - CAST(tie_t AS DOUBLE)
      |                     / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE))))
      |         * 1000000) AS BIGINT) AS z_micro
      |FROM u""".stripMargin

  // ------------------------------------------ q171 perceptual hash

  /** Perceptual-hash near-duplicate detection over media payloads —
    * dHash (9×8 pooled resample → 64 neighbor-comparison bits,
    * [[graft.ext.MultimodalOps.dHash]]) fed into the SAME banded
    * Hamming engine as text SimHash
    * ([[graft.ext.DedupOps.fingerprintPairs]]): constant per-payload
    * work, pairs only inside 16-bit-band buckets — the image-dedup
    * sibling of q31. Resize semantics aren't SQL-expressible (no
    * oracle); MultimodalOpsSpec pins determinism, duplicate-payload
    * zero-distance, and the pigeonhole band guarantee. */
  private def q171(s: SparkSession, d: String): DataFrame = {
    val media = graft.ext.MultimodalOps.asMedia(t(s, d, "documents"))
    val fp = graft.ext.MultimodalOps.dHash(media)
    graft.ext.DedupOps.fingerprintPairs(fp, maxHamming = 3)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"), min(col("id1")).as("min_id1"),
        max(col("id2")).as("max_id2"))
      .orderBy(col("hamming"))
  }

  // ------------------------------------------ q172 BPE coverage

  /** Tokenizer-coverage report — train a small BPE merge table on the
    * corpus ([[graft.ext.BpeOps.trainMergesBatched]]: top-k
    * token-disjoint merges per corpus pass, never one driver round-trip
    * per merge), apply it, and report per-source compression
    * (post-merge tokens per 1M words): the "how well does the tokenizer
    * fit each source" audit run before weighting a training mix. The
    * merge table is driver-held (bounded: nMerges rows) and applied as
    * a pure projection; everything else is two aggregates. Training is
    * a driver loop (not SQL-expressible — no oracle); QueriesSpec pins
    * determinism and the merge-only-shrinks invariant. */
  private def q172(s: SparkSession, d: String): DataFrame = {
    // fanOut: the 10-pattern regex chain + two pair-count passes are pure
    // CPU; on the single-row-group fixture scan they ran on ONE core
    // (decisions and integer aggregates are partitioning-independent).
    val docs = fanOut(t(s, d, "documents"))
    val (merges, _, _) =
      graft.ext.BpeOps.trainMergesBatched(docs, nMerges = 10, batch = 5)
    val applied = graft.ext.BpeOps.applyMerges(docs,
      merges.map(m => (m._1, m._2)))
    applied
      .select(col("source"),
        size(graft.ext.DedupOps.wordTokens(col("text"))).as("n_words"),
        size(col("tokens")).as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_words"),
        sum(col("n_tokens")).as("sum_tokens"))
      // per-source token sums reach ~1e13 on a 100 TB corpus — ·1e6
      // crosses 2^63; DECIMAL(38,0) product through IntegralDivide
      .withColumn("compression_micro",
        expr("cast(sum_tokens as decimal(38,0)) * 1000000 div sum_words"))
      .orderBy(col("source"))
  }

  // ------------------------------------------ q173 curation funnel

  /** The curation-funnel report — per-source survival through the
    * standard training-data pipeline stages (the report a data team
    * reads before weighting a mix): raw → length floor → exact dedup
    * (content hash, keep-min-id via a hash-keyed aggregate + semi
    * join — no per-hash window) → MinHash near-dup drop. **r11-late:**
    * the near-dup stage rides the portable md5-60 XOR-permutation lane
    * ([[graft.ext.DedupOps.dropNearDupsPortable]] — the q30 candidate
    * pipeline, verification as the exact-integer cross-multiplication
    * `5·|∩| ≥ 4·|∪|`), so the WHOLE funnel is SQL-expressible and this
    * row is hash-matched against a DuckDB rebuild (the xxhash64 engine
    * lane [[graft.ext.DedupOps.dropNearDups]] stays the throughput
    * path, DedupOpsSpec). All-integer output with survival in micros
    * (DECIMAL(38,0) product — the r11 widening contract); QueriesSpec
    * keeps the stage-monotonicity and direct-recount pins. */
  private def q173(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val kept = docs.filter(
      size(graft.ext.DedupOps.wordTokens(col("text"))) >= 5)
    val keepIds = kept
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = kept.join(keepIds, "doc_id")
    val curated = graft.ext.DedupOps.dropNearDupsPortable(deduped)
    def stage(df: DataFrame, name: String) =
      df.groupBy(col("source")).agg(count(lit(1)).as(name))
    stage(docs, "n_raw")
      .join(stage(kept, "n_len"), Seq("source"), "left")
      .join(stage(deduped, "n_exact"), Seq("source"), "left")
      .join(stage(curated, "n_near"), Seq("source"), "left")
      .na.fill(0L, Seq("n_len", "n_exact", "n_near"))
      .withColumn("survival_micro",
        expr("cast(n_near as decimal(38,0)) * 1000000 div n_raw"))
      .orderBy(col("source"))
  }

  /** DuckDB rebuild of the whole funnel, near-dup stage included: the
    * q30 portable MinHash CTE chain over the exact-dedup survivors,
    * integer cross-multiplied Jaccard ≥ 4/5 verification, greater-id
    * drop, per-source stage counts. */
  private val q173Sql =
    s"""WITH tokc AS (
      |  SELECT doc_id, source, text,
      |         LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
      |                         t -> LEN(t) > 0)) AS ntok
      |  FROM documents),
      |kept AS (SELECT doc_id, source, text FROM tokc WHERE ntok >= 5),
      |keep_ids AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY MD5(text)),
      |dedup AS (SELECT k.doc_id, k.source, k.text
      |          FROM kept k JOIN keep_ids USING (doc_id)),
      |${portableMinhashCtes("dedup")},
      |losers AS (
      |  SELECT DISTINCT p.id2 AS doc_id
      |  FROM pairs p
      |  JOIN hs h1 ON h1.id = p.id1
      |  JOIN hs h2 ON h2.id = p.id2
      |  WHERE 5 * LEN(LIST_INTERSECT(h1.hs, h2.hs))
      |        >= 4 * LEN(LIST_DISTINCT(LIST_CONCAT(h1.hs, h2.hs)))),
      |cur AS (SELECT d.doc_id, d.source FROM dedup d
      |        LEFT JOIN losers l USING (doc_id) WHERE l.doc_id IS NULL),
      |raw_c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
      |          FROM documents GROUP BY source),
      |len_c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_len
      |          FROM kept GROUP BY source),
      |ex_c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
      |         FROM dedup GROUP BY source),
      |nr_c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_near
      |         FROM cur GROUP BY source)
      |SELECT r.source, r.n_raw,
      |       COALESCE(l.n_len, 0) AS n_len,
      |       COALESCE(e.n_exact, 0) AS n_exact,
      |       COALESCE(n.n_near, 0) AS n_near,
      |       CAST(CAST(COALESCE(n.n_near, 0) AS HUGEINT) * 1000000
      |            // r.n_raw AS BIGINT) AS survival_micro
      |FROM raw_c r
      |LEFT JOIN len_c l USING (source)
      |LEFT JOIN ex_c e USING (source)
      |LEFT JOIN nr_c n USING (source)
      |ORDER BY source""".stripMargin

  // ------------------------------------------ q174 file provenance

  /** Row-provenance audit from the scan's hidden `_metadata` struct —
    * which physical file contributed which key range and how many rows:
    * the replay/audit primitive (a bad upstream file is then excisable
    * by provenance, not by value heuristics). Pure scan + one
    * aggregate; `_metadata` costs nothing extra (constant per
    * split). The oracle harness exposes tables as views (no filename
    * column), so the oracle pins the name as a literal — valid because
    * the fixture contract is ONE parquet file per table — and fully
    * checks the per-file aggregate; the extraction itself is also
    * covered by the Ingest provenance specs. */
  private def q174(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/orders.parquet")
      // Group on the RAW metadata path and extract the name AFTER the
      // aggregate: the path is constant per file, so the regexp runs on
      // ≤ #files rows instead of once per data row (the r12 scale sweep
      // caught the per-row spelling at 23× for a 10× step — regexp over
      // a repeated long string was the whole cost). The second aggregate
      // re-merges paths sharing a basename (hive-layout part files carry
      // the same name in every partition dir), preserving the r11
      // per-NAME contract; both aggregates run on ≤ #files rows.
      .groupBy(col("_metadata.file_path").as("file_path"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .groupBy(regexp_extract(col("file_path"), "([^/]+)$", 1)
          .as("file_name"))
      .agg(sum(col("n_rows")).as("n_rows"),
        min(col("min_key")).as("min_key"),
        max(col("max_key")).as("max_key"))
      .orderBy(col("file_name"))

  private val q174Sql =
    """SELECT 'orders.parquet' AS file_name,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM orders
      |GROUP BY 1 ORDER BY file_name""".stripMargin

  // ------------------------------------------ q175 Benford conformity

  /** Per-segment Benford conformity χ² — ranks event types by how far
    * their value first-digit distribution sits from Benford's law (the
    * per-segment drill-down of q126's global digit histogram; the
    * fraud/synthetic-data audit). Expected shares are
    * `log10(1 + 1/d)` — the same IEEE expression both engines — and
    * per-digit χ² contributions floor to integer micros BEFORE the sum
    * (order-independent ⇒ hash-match). Everything after the first
    * aggregate runs on ≤ types×9 rows. */
  private def q175(s: SparkSession, d: String): DataFrame = {
    val digits = t(s, d, "events")
      .filter(col("value") > 0)
      .select(col("event_type"),
        expr("CAST(substring(CAST(CAST(FLOOR(value * 100 + 0.5) AS" +
          " BIGINT) AS STRING), 1, 1) AS INT)").as("digit"))
      .groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).as("o"))
    val totals = digits.groupBy(col("event_type"))
      .agg(sum(col("o")).as("n"))
    digits.join(broadcast(totals), "event_type")
      .withColumn("p", expr("log10(1 + 1.0 / digit)"))
      .withColumn("contrib_micro", floor(
        (col("o") - col("n") * col("p")) * (col("o") - col("n") * col("p"))
          / (col("n") * col("p")) * lit(1e6)))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        count(lit(1)).as("n_digits"),
        sum(col("contrib_micro")).as("chi2_micro"))
      .orderBy(col("chi2_micro").desc, col("event_type"))
  }

  private val q175Sql =
    """WITH dg AS (
      |  SELECT event_type,
      |         CAST(SUBSTRING(CAST(CAST(FLOOR(value * 100 + 0.5)
      |           AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
      |         CAST(COUNT(*) AS BIGINT) AS o
      |  FROM events WHERE value > 0 GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS n
      |      FROM dg GROUP BY 1),
      |x AS (
      |  SELECT dg.event_type, dg.o, t.n,
      |         LOG10(1 + 1.0 / dg.digit) AS p
      |  FROM dg JOIN t ON dg.event_type = t.event_type)
      |SELECT event_type, MAX(n) AS n,
      |       CAST(COUNT(*) AS BIGINT) AS n_digits,
      |       CAST(SUM(CAST(FLOOR(
      |           (o - n * p) * (o - n * p) / (n * p) * 1000000)
      |         AS BIGINT)) AS BIGINT) AS chi2_micro
      |FROM x GROUP BY event_type
      |ORDER BY chi2_micro DESC, event_type""".stripMargin

  // ------------------------------------------ q176 survival curve

  /** User-lifetime survival curve — S(t) = fraction of users still
    * active ≥ t days after their first event (lifetime = last−first
    * active day): the churn curve product teams read next to q92's
    * cohort retention grid. All-integer: lifetimes in whole days, the
    * curve as a reversed cumulative count over the ≤ calendar-bounded
    * distinct-lifetime rows (descending prefix via ascending prefix of
    * the total — no second sort), survival in micros. */
  private def q176(s: SparkSession, d: String): DataFrame = {
    val lt = t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(datediff(max(col("ts").cast("date")),
        min(col("ts").cast("date"))).as("lifetime_days"))
    val perT = lt.groupBy(col("lifetime_days"))
      .agg(count(lit(1)).as("ended_here"))
    val prefixed = graft.ext.ShardOps.withGlobalPrefixSum(
      perT, Seq(col("lifetime_days").asc), "ended_here")
    prefixed
      .crossJoin(broadcast(lt.agg(count(lit(1)).as("n_users"))))
      // users with lifetime >= t = total - (cumulative ended BELOW t)
      .withColumn("surviving",
        col("n_users") - (col("__rsum") - col("ended_here")))
      .select(col("lifetime_days"), col("ended_here"), col("surviving"),
        expr("surviving * 1000000 div n_users").as("survival_micro"))
      .orderBy(col("lifetime_days"))
  }

  private val q176Sql =
    """WITH lt AS (
      |  SELECT user_id,
      |         CAST(DATE_DIFF('day', MIN(CAST(ts AS DATE)),
      |                        MAX(CAST(ts AS DATE))) AS INTEGER)
      |           AS lifetime_days
      |  FROM events GROUP BY user_id),
      |pt AS (SELECT lifetime_days, CAST(COUNT(*) AS BIGINT) AS ended_here
      |       FROM lt GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM lt),
      |c AS (
      |  SELECT lifetime_days, ended_here,
      |         CAST(SUM(ended_here) OVER (ORDER BY lifetime_days
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) - ended_here
      |           AS ended_below
      |  FROM pt)
      |SELECT lifetime_days, ended_here,
      |       n_users - ended_below AS surviving,
      |       (n_users - ended_below) * 1000000 // n_users
      |         AS survival_micro
      |FROM c CROSS JOIN n ORDER BY lifetime_days""".stripMargin

  // ------------------------------------------ q177 assortativity

  /** Degree assortativity of the trade graph — Pearson correlation of
    * endpoint degrees over the edge list (Newman 2002): do high-degree
    * accounts trade with each other (assortative) or with the
    * periphery (disassortative)? Rides [[graft.ext.ProfileOps
    * .groupedCorr]]'s BIGINT sufficient statistics with ONE shared
    * final double expression (reproducible where native `corr` is
    * not). Two degree joins on the edge list — broadcastable degree
    * side, no new shuffle family. */
  private def q177(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders").select(col("o_orderkey"),
      col("o_custkey"))
    val li = t(s, d, "lineitem").select(col("l_orderkey"),
      col("l_suppkey"))
    val pairs = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = edges
      .join(broadcast(deg.select(col("src").as("s1"),
        col("deg").as("dx"))), col("src") === col("s1"))
      .join(broadcast(deg.select(col("src").as("s2"),
        col("deg").as("dy"))), col("dst") === col("s2"))
      .withColumn("g", lit("trade"))
    graft.ext.ProfileOps.groupedCorr(ed, "g", "dx", "dy")
  }

  private val q177Sql =
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION ALL SELECT b AS src, a AS dst FROM pairs),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
      |        FROM edges GROUP BY src),
      |ed AS (
      |  SELECT d1.deg AS x, d2.deg AS y
      |  FROM edges e
      |  JOIN deg d1 ON e.src = d1.src
      |  JOIN deg d2 ON e.dst = d2.src),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(x) AS BIGINT) AS sx,
      |         CAST(SUM(y) AS BIGINT) AS sy,
      |         CAST(SUM(x * y) AS BIGINT) AS sxy,
      |         CAST(SUM(x * x) AS BIGINT) AS sxx,
      |         CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM ed)
      |SELECT 'trade' AS g, n,
      |       FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
      |             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
      |                * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
      |             * 1000000) / 1000000 AS corr_r
      |FROM a""".stripMargin

  // ------------------------------------------ q178 dispersion index

  /** Arrival overdispersion per event type — the variance-to-mean
    * (Fano) index of per-minute event counts: ≈1 for a Poisson
    * arrival process, ≫1 for bursty traffic (the load-model sanity
    * check before capacity planning). BIGINT sufficient statistics
    * over calendar-bounded per-minute cells, ONE shared final double
    * expression (the q109/q177 discipline). */
  private def q178(s: SparkSession, d: String): DataFrame = {
    val perMin = t(s, d, "events")
      .groupBy(col("event_type"),
        expr("date_trunc('minute', ts)").as("minute"))
      .agg(count(lit(1)).as("c"))
    perMin.groupBy(col("event_type"))
      // n·Σc² − (Σc)² combines in DECIMAL(38,0) (the r11 groupedCorr
      // overflow contract): both BIGINT products cross 2⁶³ near 1e5
      // events/minute over years of minutes — value-identical below,
      // correctly-rounded double either way, oracle untouched.
      .agg(count(lit(1)).as("n_minutes"),
        sum(col("c")).as("sc"),
        sum((col("c").cast("decimal(19,0)") * col("c"))
          .cast("decimal(38,0)")).as("scc"))
      .filter(col("n_minutes") > 1)
      .withColumn("fano_micro", floor(
        (col("n_minutes").cast("decimal(38,0)") * col("scc")
          - col("sc").cast("decimal(38,0)") * col("sc"))
          .cast("double")
          / ((col("n_minutes") - 1) * col("sc")).cast("double")
          * lit(1e6)))
      .select(col("event_type"), col("n_minutes"), col("sc").as("n_events"),
        col("fano_micro"))
      .orderBy(col("event_type"))
  }

  private val q178Sql =
    """WITH pm AS (
      |  SELECT event_type, DATE_TRUNC('minute', ts) AS minute,
      |         CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_minutes,
      |         CAST(SUM(c) AS BIGINT) AS sc,
      |         CAST(SUM(c * c) AS BIGINT) AS scc
      |  FROM pm GROUP BY 1)
      |SELECT event_type, n_minutes, sc AS n_events,
      |       CAST(FLOOR(CAST(n_minutes * scc - sc * sc AS DOUBLE)
      |                  / CAST((n_minutes - 1) * sc AS DOUBLE)
      |                  * 1000000) AS BIGINT) AS fano_micro
      |FROM a WHERE n_minutes > 1 ORDER BY event_type""".stripMargin

  // ------------------------------------------ q179 dup-cluster sizes

  /** Duplicate-cluster size distribution — the dedup audit read before
    * choosing a near-dup strategy: group documents by exact content
    * hash, then histogram the group sizes (how much of the corpus sits
    * in 2-copy / 3-copy / … clusters and how many rows dedup would
    * remove). Two hash aggregates — a scan shape at any size; exact
    * integers. */
  private def q179(s: SparkSession, d: String): DataFrame = {
    val groups = t(s, d, "documents")
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("copies"))
    groups.groupBy(col("copies"))
      .agg(count(lit(1)).as("n_clusters"),
        (sum(col("copies")) - count(lit(1))).as("removable"))
      .orderBy(col("copies"))
  }

  private val q179Sql =
    """WITH g AS (
      |  SELECT MD5(text) AS h, CAST(COUNT(*) AS BIGINT) AS copies
      |  FROM documents GROUP BY 1)
      |SELECT copies, CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |       CAST(SUM(copies) - COUNT(*) AS BIGINT) AS removable
      |FROM g GROUP BY copies ORDER BY copies""".stripMargin

  // ------------------------------------------ q180 purchase gaps

  /** Inter-purchase gap distribution — consecutive order-date gaps per
    * customer, histogrammed in whole weeks: the repeat-purchase cadence
    * read next to q176's survival curve. One per-customer lag window
    * (partitioned on the key — never global), one bounded histogram
    * aggregate; all-integer. */
  private def q180(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("od"), col("o_orderkey"))
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"))
      .withColumn("prev", lag(col("od"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gap_weeks",
        expr("CAST(datediff(od, prev) AS BIGINT) div 7"))
      .groupBy(col("gap_weeks"))
      .agg(count(lit(1)).as("n_gaps"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("gap_weeks"))
  }

  private val q180Sql =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od
      |  FROM orders),
      |l AS (
      |  SELECT o_custkey,
      |         CAST(DATE_DIFF('day',
      |           LAG(od, 1) OVER (PARTITION BY o_custkey
      |                            ORDER BY od, o_orderkey), od)
      |           AS BIGINT) AS gap_days
      |  FROM o)
      |SELECT gap_days // 7 AS gap_weeks,
      |       CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
      |FROM l WHERE gap_days IS NOT NULL
      |GROUP BY 1 ORDER BY gap_weeks""".stripMargin

  // ------------------------------------------ q181 revenue HHI

  /** Revenue-concentration (Herfindahl–Hirschman) index per market
    * segment — "is this segment's revenue a few whales or a long
    * tail": HHI = Σ shareᵢ² over each segment's customers, shares from
    * exact integer cents, per-customer contributions floored to
    * integer micros BEFORE the sum (order-independent ⇒ cross-engine
    * hash-match). Two key-family aggregates; the window-free shape. */
  private def q181(s: SparkSession, d: String): DataFrame = {
    val perCust = t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .as("cents"))
    val seg = perCust.groupBy(col("c_mktsegment"))
      .agg(sum(col("cents")).as("seg_cents"),
        count(lit(1)).as("n_customers"))
    perCust.join(broadcast(seg), "c_mktsegment")
      .withColumn("contrib_micro", floor(
        col("cents").cast("double") * col("cents").cast("double")
          / (col("seg_cents").cast("double") * col("seg_cents"))
          * lit(1e6)))
      .groupBy(col("c_mktsegment"))
      .agg(max(col("n_customers")).as("n_customers"),
        max(col("seg_cents")).as("seg_cents"),
        sum(col("contrib_micro")).as("hhi_micro"))
      .orderBy(col("c_mktsegment"))
  }

  private val q181Sql =
    """WITH pc AS (
      |  SELECT c_mktsegment, c_custkey,
      |         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |seg AS (
      |  SELECT c_mktsegment, CAST(SUM(cents) AS BIGINT) AS seg_cents,
      |         CAST(COUNT(*) AS BIGINT) AS n_customers
      |  FROM pc GROUP BY 1)
      |SELECT pc.c_mktsegment, MAX(seg.n_customers) AS n_customers,
      |       MAX(seg.seg_cents) AS seg_cents,
      |       CAST(SUM(CAST(FLOOR(
      |           CAST(pc.cents AS DOUBLE) * CAST(pc.cents AS DOUBLE)
      |           / (CAST(seg.seg_cents AS DOUBLE) * seg.seg_cents)
      |           * 1000000) AS BIGINT)) AS BIGINT) AS hhi_micro
      |FROM pc JOIN seg ON pc.c_mktsegment = seg.c_mktsegment
      |GROUP BY pc.c_mktsegment ORDER BY pc.c_mktsegment""".stripMargin

  // ------------------------------------------ q182 Count-Min frequencies

  /** Count-Min point-frequency estimates ([[graft.functions.CmsSketchAgg]]
    * + [[graft.functions.CmsEstimate]]): ONE pass builds a 4×512 counter
    * matrix (16 KiB mergeable partial — per-day partials roll up by
    * element-wise add, history never rescanned), then the probe items
    * score against the broadcast 1-row sketch. The portable md5-row
    * hashes make the whole counter matrix engine-reproducible, so the
    * estimates hash-match the DuckDB oracle — the sketch lane's first
    * fully oracle-checked member (Spark's builtin HLL/KLL/Theta sketches
    * are not engine-reproducible). `exact_cnt` rides along, pinning the
    * CMS ≥-true-count guarantee in data as well as in CountMinSpec. */
  private def q182(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CountMin.{cmsEstimate, cmsSketch}
    val li = t(s, d, "lineitem")
    val sk = li.agg(cmsSketch(col("l_partkey").cast("string")).as("sk"))
    val probes = li.filter(col("l_partkey") <= 20)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("exact_cnt"))
    probes.crossJoin(broadcast(sk))
      .select(col("l_partkey"), col("exact_cnt"),
        cmsEstimate(col("sk"), col("l_partkey").cast("string"))
          .as("est_freq"))
      .orderBy(col("l_partkey"))
  }

  private val q182Sql =
    """WITH items AS (SELECT CAST(l_partkey AS VARCHAR) AS item
      |               FROM lineitem),
      |rws AS (SELECT UNNEST(RANGE(0, 4)) AS r),
      |bk AS (SELECT rws.r AS r,
      |              CAST('0x' || SUBSTR(MD5('cms_' || rws.r || '_' || item),
      |                                  1, 15) AS BIGINT) % 512 AS b,
      |              CAST(COUNT(*) AS BIGINT) AS c
      |       FROM items CROSS JOIN rws GROUP BY 1, 2),
      |probes AS (SELECT l_partkey, CAST(l_partkey AS VARCHAR) AS item,
      |                  CAST(COUNT(*) AS BIGINT) AS exact_cnt
      |           FROM lineitem WHERE l_partkey <= 20 GROUP BY 1, 2)
      |SELECT p.l_partkey, p.exact_cnt, MIN(bk.c) AS est_freq
      |FROM probes p CROSS JOIN rws
      |JOIN bk ON bk.r = rws.r
      |       AND bk.b = CAST('0x' || SUBSTR(MD5('cms_' || rws.r || '_'
      |                                          || p.item), 1, 15)
      |                       AS BIGINT) % 512
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ------------------------------------------ q183 hybrid retrieval RRF

  /** Hybrid retrieval — BM25 lexical top-10 ([[graft.ext.CorpusOps
    * .bm25TopK]]) fused with embedding-cosine top-10 ([[graft.ext
    * .SimilarityOps.bruteForceKnn]]) by Reciprocal Rank Fusion
    * (Cormack, Clarke & Büttcher, SIGIR 2009): each arm contributes
    * `1e6 div (60 + rank)` — exact integer micro-units, so the fused
    * score is order-independent and engine-exact — and the fused
    * ranking orders by (score DESC, id ASC). doc_id and vec_id share
    * the corpus id space, so the two arms fuse by id; each arm keeps
    * its own scale path (candidate-pruned BM25; ANN-swappable cosine).
    * One narrow union + one fused aggregate on top of the two arms —
    * RRF adds no corpus-sized work of its own. */
  private val q183Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("hash", "join"),
    1L -> Seq("window", "merge", "stream"),
    2L -> Seq("vector", "scan", "slow"))

  private def q183(s: SparkSession, d: String): DataFrame = {
    val lex = graft.ext.CorpusOps
      .bm25TopK(t(s, d, "documents"), q183Queries, topK = 10)
      .select(col("query_id"), col("doc_id").as("id"),
        expr("1000000 div (60 + rk)").as("c"))
    val emb = t(s, d, "embeddings")
    val vec = graft.ext.SimilarityOps
      .bruteForceKnn(emb, emb.filter(col("vec_id") <= 2), k = 10)
      .select(col("query_id"), col("vec_id").as("id"),
        expr("1000000 div (60 + rk)").as("c"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("id").asc)
    lex.unionByName(vec)
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("c")).as("rrf_micro"), count(lit(1)).as("n_arms"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("query_id"), col("rk"), col("id"), col("rrf_micro"),
        col("n_arms"))
      .orderBy(col("query_id"), col("rk"))
  }

  private val q183Sql = {
    val bm25 =
      """qt AS (
        |  SELECT CAST(query_id AS BIGINT) AS query_id, tok FROM (VALUES
        |    (0, 'hash'), (0, 'join'),
        |    (1, 'window'), (1, 'merge'), (1, 'stream'),
        |    (2, 'vector'), (2, 'scan'), (2, 'slow')) AS v(query_id, tok)),
        |tk AS (
        |  SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
        |                                    x -> LEN(x) > 0)) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
        |st AS (SELECT (SELECT COUNT(*) FROM documents) AS nd,
        |              (SELECT COUNT(*) FROM tk) AS sumdl),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk
        |       WHERE tok IN ('hash', 'join', 'window', 'merge', 'stream',
        |                     'vector', 'scan', 'slow')
        |       GROUP BY doc_id, tok),
        |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |sc AS (
        |  SELECT qt.query_id, tf.doc_id,
        |         CAST(SUM(CAST(FLOOR(
        |             LN(1 + (st.nd - dfq.df + 0.5::DOUBLE)
        |                    / (dfq.df + 0.5::DOUBLE))
        |             * (tf.tf * (1.2::DOUBLE + 1))
        |             / (tf.tf + 1.2::DOUBLE
        |                * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl.dl
        |                   / (CAST(st.sumdl AS DOUBLE) / st.nd)))
        |             * 1000000) AS BIGINT)) AS BIGINT) AS score_un
        |  FROM tf JOIN qt USING (tok) JOIN dfq USING (tok)
        |       JOIN dl USING (doc_id) CROSS JOIN st
        |  GROUP BY qt.query_id, tf.doc_id),
        |lexarm AS (
        |  SELECT query_id, doc_id AS id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY score_un DESC, doc_id) AS rk
        |  FROM sc QUALIFY rk <= 10)""".stripMargin
    val cosine =
      """qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        |       WHERE vec_id <= 2),
        |vscored AS (
        |  SELECT qv.query_id, e.vec_id,
        |         LIST_COSINE_SIMILARITY(
        |           LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)),
        |           LIST_TRANSFORM(qv.qe, x -> CAST(x AS DOUBLE))) AS cos
        |  FROM embeddings e, qv WHERE e.vec_id <> qv.query_id),
        |vecarm AS (
        |  SELECT query_id, vec_id AS id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY cos DESC, vec_id) AS rk
        |  FROM vscored QUALIFY rk <= 10)""".stripMargin
    s"""WITH $bm25,
       |$cosine,
       |fused AS (
       |  SELECT query_id, id,
       |         CAST(SUM(1000000 // (60 + rk)) AS BIGINT) AS rrf_micro,
       |         CAST(COUNT(*) AS BIGINT) AS n_arms
       |  FROM (SELECT * FROM lexarm UNION ALL SELECT * FROM vecarm)
       |  GROUP BY 1, 2)
       |SELECT query_id,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                               ORDER BY rrf_micro DESC, id)
       |            AS INTEGER) AS rk,
       |       id, rrf_micro, n_arms
       |FROM fused QUALIFY rk <= 10
       |ORDER BY query_id, rk""".stripMargin
  }

  // ------------------------------------------ q184 revenue Gini

  /** Gini coefficient of customer revenue per market segment — the
    * Lorenz-curve inequality summary next to q181's HHI and q146's ABC:
    * `G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ)` over revenues ranked
    * ascending. Ranks come from the bounded two-phase group rank
    * ([[graft.ext.ShardOps.withGroupRank]] — never a per-group
    * one-reducer window); ties in revenue are rank-permutation-invariant
    * (equal x under any tie order gives the same Σ i·xᵢ), the custkey
    * tie-break only pins determinism of the intermediate frame. The
    * final ratio is exact integer micros over DECIMAL(38,0) (DuckDB
    * HUGEINT), so the 100 TB-sized numerator cannot overflow. */
  private def q184(s: SparkSession, d: String): DataFrame = {
    val cents = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
    val perCust = t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(cents).as("cents"))
    graft.ext.ShardOps.withGroupRank(perCust, "c_mktsegment",
        Seq(col("cents").asc, col("c_custkey").asc))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("seg_cents"),
        // the rank·cents products and their sum ride DECIMAL(38,0) —
        // a LongType sum would overflow near ~1e18 long before the
        // documented scale (review r10 finding)
        sum(col("__grn").cast("decimal(38,0)") * col("cents")).as("s2"))
      .withColumn("gini_micro", expr(
        """(CAST(2 AS DECIMAL(38, 0)) * s2
          | - (CAST(n_customers AS DECIMAL(38, 0)) + 1) * seg_cents)
          | * 1000000 div (CAST(n_customers AS DECIMAL(38, 0)) * seg_cents)
          |""".stripMargin).cast("long"))
      .select(col("c_mktsegment"), col("n_customers"), col("seg_cents"),
        col("gini_micro"))
      .orderBy(col("c_mktsegment"))
  }

  private val q184Sql =
    """WITH pc AS (
      |  SELECT c_mktsegment, c_custkey,
      |         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT c_mktsegment, cents,
      |         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |                            ORDER BY cents, c_custkey) AS rn
      |  FROM pc)
      |SELECT c_mktsegment,
      |       CAST(COUNT(*) AS BIGINT) AS n_customers,
      |       CAST(SUM(cents) AS BIGINT) AS seg_cents,
      |       CAST((2 * CAST(SUM(rn * cents) AS HUGEINT)
      |             - (COUNT(*) + 1) * CAST(SUM(cents) AS HUGEINT))
      |            * 1000000
      |            // (CAST(COUNT(*) AS HUGEINT) * SUM(cents))
      |            AS BIGINT) AS gini_micro
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------ q185 score AUC

  /** Exact ROC AUC of the event `value` as a purchase classifier — the
    * Mann–Whitney U rank statistic with midrank tie handling, the
    * quality-score calibration check a filter-model pipeline (q112)
    * runs before trusting a threshold. DELIBERATELY rides q170's
    * doubled-midrank machinery (AUC IS the Mann–Whitney U normalized
    * by n⁺·n⁻ — q170 takes the same statistic to a drift-test z-score,
    * this query to the classifier metric). Spelled as EXACT integers:
    * per-distinct-score (count, positives) from one aggregate, the
    * cumulative count through the two-phase prefix sum (never a
    * one-reducer window), doubled midranks `2·cum_before + c + 1` keep
    * ties integral, and `AUC = (2·ΣR⁺ − 2·n⁺(n⁺+1)/2) / (2·n⁺·n⁻)` is
    * one DECIMAL(38,0) division to micro-units. Both engines run the
    * identical integer pipeline — hash-matched oracle, no float rank
    * sums anywhere. */
  private def q185(s: SparkSession, d: String): DataFrame = {
    val counts = t(s, d, "events")
      .select(floor(col("value") * 100 + lit(0.5)).cast("long").as("v"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("pos"))
    graft.ext.ShardOps.withGlobalPrefixSum(counts, Seq(col("v")), "c")
      .withColumn("midrank2", (col("__rsum") - col("c")) * 2 + col("c") + 1)
      .agg(sum(col("c")).as("n"), sum(col("pos")).as("n_pos"),
        // pos·midrank2 sums in DECIMAL(38,0): midrank2 ≈ 2N, so a long
        // r2pos would overflow near N ≈ 3e9 (review r10 finding)
        sum(col("pos").cast("decimal(38,0)") * col("midrank2")).as("r2pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
      .withColumn("auc_micro", expr(
        """(r2pos - CAST(n_pos AS DECIMAL(38, 0)) * (n_pos + 1)) * 1000000
          | div (CAST(2 AS DECIMAL(38, 0)) * n_pos * n_neg)""".stripMargin)
        .cast("long"))
      .select(col("n"), col("n_pos"), col("n_neg"), col("auc_micro"))
  }

  private val q185Sql =
    """WITH c AS (
      |  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
      |         CAST(COUNT(*) AS BIGINT) AS c,
      |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS pos
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT c, pos,
      |         CAST(SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) AS cum
      |  FROM c),
      |m AS (SELECT c, pos, (cum - c) * 2 + c + 1 AS midrank2 FROM p),
      |a AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
      |             CAST(SUM(pos) AS BIGINT) AS n_pos,
      |             CAST(SUM(pos * midrank2) AS BIGINT) AS r2pos
      |      FROM m)
      |SELECT n, n_pos, n - n_pos AS n_neg,
      |       CAST(CAST(r2pos - n_pos * (n_pos + 1) AS HUGEINT) * 1000000
      |            // (CAST(2 AS HUGEINT) * n_pos * (n - n_pos))
      |            AS BIGINT) AS auc_micro
      |FROM a""".stripMargin

  // ------------------------------------------ q186 reliability curve

  /** Calibration reliability curve of the q185 score — per value-decile
    * bucket: observed positive rate (`acc_micro`) vs mean normalized
    * score (`conf_micro`), the other half of model evaluation next to
    * q185's AUC (AUC measures discrimination; calibration measures
    * whether the score's VALUE is trustworthy as a probability — the
    * check before using a quality score as a sampling weight, q96/q112
    * style). Buckets are fixed value-domain deciles (`cents·10 div
    * (max+1)` — NOT q143's equi-depth ranks: a reliability curve wants
    * interpretable score bands, not equal populations). One aggregate +
    * a broadcast 1-row max; both ratios ride DECIMAL(38,0) so
    * bucket-count·1e6 can never overflow a long at scale (the q184/q185
    * review lesson). */
  private def q186(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"),
      (col("event_type") === "purchase").cast("long").as("y"))
    val mx = ev.agg(max(col("cents")).as("m"))
    ev.crossJoin(broadcast(mx))
      .withColumn("bucket", least(lit(9L), expr("cents * 10 div (m + 1)")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("cents")).as("sum_cents"), max(col("m")).as("m"))
      .withColumn("acc_micro",
        expr("CAST(n_pos AS DECIMAL(38, 0)) * 1000000 div n").cast("long"))
      .withColumn("conf_micro", expr(
        """CAST(sum_cents AS DECIMAL(38, 0)) * 1000000
          | div (CAST(n AS DECIMAL(38, 0)) * m)""".stripMargin).cast("long"))
      .select(col("bucket"), col("n"), col("n_pos"), col("acc_micro"),
        col("conf_micro"))
      .orderBy(col("bucket"))
  }

  private val q186Sql =
    """WITH e AS (
      |  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |m AS (SELECT MAX(cents) AS m FROM e),
      |b AS (SELECT LEAST(9, cents * 10 // (m.m + 1)) AS bucket, cents, y,
      |             m.m AS m
      |      FROM e, m)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(y) AS BIGINT) AS n_pos,
      |       CAST(CAST(SUM(y) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
      |         AS acc_micro,
      |       CAST(CAST(SUM(cents) AS HUGEINT) * 1000000
      |            // (CAST(COUNT(*) AS HUGEINT) * MAX(m)) AS BIGINT)
      |         AS conf_micro
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ------------------------------------------ q187 negative edge sampling

  /** Deterministic negative-edge sampling over the bipartite trade
    * graph — for every trading customer, k = 4 candidate suppliers
    * drawn by portable hash (`md5_60("neg_<cust>_<i>") mod nSupp + 1`,
    * landing in the 1-based s_suppkey domain —
    * rand()-free, reproducible across runs/engines/partitionings like
    * every sampling op here), kept iff the pair is NOT a real trade:
    * the link-prediction training-negative generator (the
    * uniform-random complement of q166's similarity-HARD negatives).
    * Scale shape: candidates are customers×k (linear — never the
    * |C|×|S| complement), one distinct on real pairs, ONE anti-join on
    * (cust, supp); a collided proposal (real edge) simply drops —
    * callers wanting exactly-k re-propose with a larger k, documented
    * rather than hidden by rejection loops. */
  private def q187(s: SparkSession, d: String): DataFrame = {
    val pos = t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_suppkey").as("suppkey"))
      .distinct()
      .localCheckpoint() // feeds the customer universe AND the anti-join
    val ns = t(s, d, "supplier").agg(count(lit(1)).as("ns"))
    val cands = pos.select(col("custkey")).distinct()
      .crossJoin(broadcast(ns))
      .select(col("custkey"), col("ns"),
        explode(sequence(lit(0), lit(3))).as("i"))
      // `pmod(...) + 1` maps the hash into the REAL key domain: TPC-H
      // s_suppkey is 1-based [1, nSupp], so a bare `mod nSupp` could
      // emit the nonexistent supplier 0 and never sample supplier
      // nSupp (ADVICE r10). The oracle applies the same `% ns + 1`.
      .withColumn("neg_suppkey",
        pmod(graft.functions.HashFunctions.md5Hash60(
          concat(lit("neg_"), col("custkey"), lit("_"), col("i"))),
          col("ns")) + lit(1L))
    cands
      .join(pos.withColumnRenamed("suppkey", "neg_suppkey"),
        Seq("custkey", "neg_suppkey"), "left_anti")
      .select(col("custkey"), col("i"), col("neg_suppkey"))
      .orderBy(col("custkey"), col("i"))
  }

  private val q187Sql =
    """WITH pos AS (
      |  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM supplier),
      |cand AS (
      |  SELECT c.custkey, CAST(t.i AS INTEGER) AS i,
      |         CAST('0x' || SUBSTR(MD5('neg_' || c.custkey || '_' || t.i),
      |                             1, 15) AS BIGINT) % ns.ns + 1 AS neg_suppkey
      |  FROM (SELECT DISTINCT custkey FROM pos) c
      |  CROSS JOIN (SELECT UNNEST(RANGE(0, 4)) AS i) t
      |  CROSS JOIN ns)
      |SELECT custkey, i, neg_suppkey
      |FROM cand
      |WHERE NOT EXISTS (SELECT 1 FROM pos
      |                  WHERE pos.custkey = cand.custkey
      |                    AND pos.suppkey = cand.neg_suppkey)
      |ORDER BY custkey, i""".stripMargin

  // ---------------------------------------------------------------- export

  val all: Seq[QueryDef] = Seq(
    QueryDef("q01_count_star", q01, Some(q01Sql)),
    QueryDef("q02_filter_conjunction", q02, Some(q02Sql)),
    QueryDef("q03_projection_expr", q03, Some(q03Sql)),
    QueryDef("q04_agg_groupby", q04, Some(q04Sql)),
    QueryDef("q05_agg_max", q05, Some(q05Sql)),
    QueryDef("q06_join_inner", q06, Some(q06Sql)),
    QueryDef("q06b_join_outer", q06b, Some(q06bSql)),
    QueryDef("q07_join_broadcast", q07, Some(q07Sql)),
    QueryDef("q08_join_semi", q08, Some(q08Sql)),
    QueryDef("q09_join_anti", q09, Some(q09Sql)),
    QueryDef("q10_join_multiway", q10, Some(q10Sql)),
    QueryDef("q11_window_rank", q11, Some(q11Sql)),
    QueryDef("q12_window_frame", q12, Some(q12Sql)),
    QueryDef("q13_topk", q13, Some(q13Sql)),
    QueryDef("q14_union", q14, Some(q14Sql)),
    QueryDef("q15_intersect", q15, Some(q15Sql)),
    QueryDef("q16_except", q16, Some(q16Sql)),
    QueryDef("q17_count_distinct", q17, Some(q17Sql)),
    QueryDef("q17b_approx_distinct", q17b, Some(q17bSql)),
    QueryDef("q18_rollup", q18, Some(q18Sql)),
    QueryDef("q18b_cube", q18b, Some(q18bSql)),
    QueryDef("q19_string_funcs", q19, Some(q19Sql)),
    QueryDef("q19b_string_funcs2", q19b, Some(q19bSql)),
    QueryDef("q20_datetime_funcs", q20, Some(q20Sql)),
    QueryDef("q20b_datetime_funcs2", q20b, Some(q20bSql)),
    QueryDef("q21_math_funcs", q21, Some(q21Sql)),
    QueryDef("q22_case_null", q22, Some(q22Sql)),
    QueryDef("q23_array_funcs", q23, Some(q23Sql)),
    QueryDef("q24_sessionize", q24, Some(q24Sql)),
    QueryDef("q25_dedup_exact", q25, Some(q25Sql)),
    QueryDef("q26_similarity_topk", q26, Some(q26Sql)),
    QueryDef("q27_text_tokens", q27, Some(q27Sql)),
    QueryDef("q27b_json_extract", q27b, Some(q27bSql)),
    QueryDef("q28_param_identifier", q28, Some(q28Sql)),
    QueryDef("q29_wrapper_lifecycle", q29, None),
    QueryDef("q30_minhash_neardup", q30, Some(q30Sql)),
    QueryDef("q31_simhash", q31, Some(q31Sql)),
    QueryDef("q32_jaccard_chars", q32, Some(q32Sql)),
    QueryDef("q33_lang_id", q33, Some(q33Sql)),
    QueryDef("q34_quality_score", q34, Some(q34Sql)),
    QueryDef("q35_token_count", q35, Some(q35Sql)),
    QueryDef("q36_fingerprint", q36, Some(q36Sql)),
    QueryDef("q37_ann_bruteforce", q37, Some(q37Sql)),
    QueryDef("q38_ann_lsh", q38, Some(q38Sql)),
    QueryDef("q39_multimodal_meta", q39, Some(q39Sql)),
    QueryDef("q39b_multimodal_decode", q39b, None),
    QueryDef("q40_asof_join", q40, Some(q40Sql)),
    QueryDef("q41_ann_ivf", q41, Some(q41Sql)),
    QueryDef("q42_embedding_neardup", q42, Some(q42Sql)),
    QueryDef("q43_json_build", q43, Some(q43Sql)),
    QueryDef("q44_from_json", q44, Some(q44Sql)),
    QueryDef("q45_window_range", q45, Some(q45Sql)),
    QueryDef("q46_window_analytics", q46, Some(q46Sql)),
    QueryDef("q47_percentiles", q47, Some(q47Sql)),
    QueryDef("q47b_approx_percentiles", q47b, Some(q47bSql)),
    QueryDef("q48_scalar_subquery", q48, Some(q48Sql)),
    QueryDef("q49_pivot", q49, Some(q49Sql)),
    QueryDef("q50_recursive_cte", q50, Some(q50Sql)),
    QueryDef("q51_lateral", q51, Some(q51Sql)),
    QueryDef("q52_decimal_agg", q52, Some(q52Sql)),
    QueryDef("q53_grouping_sets", q53, Some(q53Sql)),
    QueryDef("q54_listagg", q54, Some(q54Sql)),
    QueryDef("q55_filter_agg", q55, Some(q55Sql)),
    QueryDef("q56_range_join", q56, Some(q56Sql)),
    QueryDef("q57_chunking", q57, Some(q57Sql)),
    QueryDef("q58_connect_by", q58, Some(q58Sql)),
    QueryDef("q59_group_concat", q59, Some(q59Sql)),
    QueryDef("q60_train_test_split", q60, Some(q60Sql)),
    QueryDef("q61_repetition_score", q61, Some(q61Sql)),
    QueryDef("q62_neardup_clusters", q62, Some(q62Sql)),
    QueryDef("q63_embedding_quantize", q63, Some(q63Sql)),
    QueryDef("q64_vocab_topk", q64, Some(q64Sql)),
    QueryDef("q65_tfidf", q65, Some(q65Sql)),
    QueryDef("q66_contamination", q66, Some(q66Sql)),
    QueryDef("q67_pii_redact", q67, Some(q67Sql)),
    QueryDef("q68_length_histogram", q68, Some(q68Sql)),
    QueryDef("q69_stratified_sample", q69, Some(q69Sql)),
    QueryDef("q70_source_mix", q70, Some(q70Sql)),
    QueryDef("q71_scd2_intervals", q71, Some(q71Sql)),
    QueryDef("q72_shard_assign", q72, Some(q72Sql)),
    QueryDef("q73_dq_profile", q73, Some(q73Sql)),
    QueryDef("q73b_dq_profile_approx", q73b, Some(q73bSql)),
    QueryDef("q74_ngram_jaccard", q74, Some(q74Sql)),
    QueryDef("q75_kmeans_assign", q75, Some(q75Sql)),
    QueryDef("q76_token_rarity", q76, Some(q76Sql)),
    QueryDef("q66b_contamination_bloom", q66b, None),
    QueryDef("q77_url_extract", q77, Some(q77Sql)),
    QueryDef("q78_char_entropy", q78, Some(q78Sql)),
    QueryDef("q79_cluster_canonical", q79, Some(q79Sql)),
    QueryDef("q80_line_dedup", q80, Some(q80Sql)),
    QueryDef("q81_gap_fill", q81, Some(q81Sql)),
    QueryDef("q82_normalize_ws", q82, Some(q82Sql)),
    QueryDef("q83_semdedup", q83, Some(q83Sql)),
    QueryDef("q84_markup_strip", q84, Some(q84Sql)),
    QueryDef("q85_hash_classifier", q85, Some(q85Sql)),
    QueryDef("q86_winnow_pairs", q86, Some(q86Sql)),
    QueryDef("q87_epoch_upsample", q87, Some(q87Sql)),
    QueryDef("q88_dedup_increment", q88, Some(q88Sql)),
    QueryDef("q89_skyline", q89, Some(q89Sql)),
    QueryDef("q89b_preferring_dialect", q89b, Some(q89Sql)),
    QueryDef("q90_unigram_logprob", q90, Some(q90Sql)),
    QueryDef("q91_funnel", q91, Some(q91Sql)),
    QueryDef("q91b_funnel_gap", q91b, Some(q91bSql)),
    QueryDef("q92_retention", q92, Some(q92Sql)),
    QueryDef("q93_span_excision", q93, Some(q93Sql)),
    QueryDef("q94_span_decontaminate", q94, Some(q94Sql)),
    QueryDef("q95_bigram_logprob", q95, Some(q95Sql)),
    QueryDef("q96_token_budget", q96, Some(q96Sql)),
    QueryDef("q97_compression_quality", q97, None),
    QueryDef("q98_stratified_topk", q98, Some(q98Sql)),
    QueryDef("q99_epoch_shuffle", q99, Some(q99Sql)),
    QueryDef("q100_random_projection", q100, Some(q100Sql)),
    QueryDef("q101_ann_pq", q101, Some(q101Sql)),
    QueryDef("q102_quantile_filter", q102, Some(q102Sql)),
    QueryDef("q103_ann_ivfpq", q103, Some(q103Sql)),
    QueryDef("q104_bm25_topk", q104, Some(q104Sql)),
    QueryDef("q105_fuzzy_join_ed1", q105, Some(q105Sql)),
    QueryDef("q106_grouped_mad", q106, Some(q106Sql)),
    QueryDef("q107_weighted_median", q107, Some(q107Sql)),
    QueryDef("q108_robust_outliers", q108, Some(q108Sql)),
    QueryDef("q109_grouped_corr", q109, Some(q109Sql)),
    QueryDef("q110_interval_join", q110, Some(q110Sql)),
    QueryDef("q111_sorted_neighborhood", q111, Some(q111Sql)),
    QueryDef("q112_model_filter", q112, Some(q112Sql)),
    QueryDef("q113_gopher_rules", q113, Some(q113Sql)),
    QueryDef("q114_heavy_hitters", q114, Some(q114Sql)),
    QueryDef("q115_ccnet_buckets", q115, Some(q115Sql)),
    QueryDef("q116_dsir_weights", q116, Some(q116Sql)),
    QueryDef("q117_pagerank", q117, Some(q117Sql)),
    QueryDef("q118_grouped_ols", q118, Some(q118Sql)),
    QueryDef("q119_triangles", q119, Some(q119Sql)),
    QueryDef("q120_ohlc_bars", q120, Some(q120Sql)),
    QueryDef("q121_snapshot_diff", q121, Some(q121Sql)),
    QueryDef("q122_psi_drift", q122, Some(q122Sql)),
    QueryDef("q123_kcore", q123, Some(q123Sql)),
    QueryDef("q124_attribution", q124, Some(q124Sql)),
    QueryDef("q125_er_golden", q125, Some(q125Sql)),
    QueryDef("q126_benford", q126, Some(q126Sql)),
    QueryDef("q127_hourly_anomaly", q127, Some(q127Sql)),
    QueryDef("q128_skew_report", q128, Some(q128Sql)),
    QueryDef("q129_source_overlap", q129, Some(q129Sql)),
    QueryDef("q130_asof_dialect", q130, Some(q130Sql)),
    QueryDef("q131_weighted_sample", q131, Some(q131Sql)),
    QueryDef("q132_lpa_communities", q132, Some(q132Sql)),
    QueryDef("q133_qualify_dialect", q133, Some(q133Sql)),
    QueryDef("q134_token_pairs", q134, Some(q134Sql)),
    QueryDef("q135_cumulative_uniques", q135, Some(q135Sql)),
    QueryDef("q136_decayed_engagement", q136, Some(q136Sql)),
    QueryDef("q137_winsorized_mean", q137, Some(q137Sql)),
    QueryDef("q138_corr_matrix", q138, Some(q138Sql)),
    QueryDef("q139_ngram_novelty", q139, Some(q139Sql)),
    QueryDef("q140_moving_revenue", q140, Some(q140Sql)),
    QueryDef("q141_transition_matrix", q141, Some(q141Sql)),
    QueryDef("q142_rolling_wau", q142, Some(q142Sql)),
    QueryDef("q143_equidepth_bins", q143, Some(q143Sql)),
    QueryDef("q144_growth_accounting", q144, Some(q144Sql)),
    QueryDef("q145_path_mining", q145, Some(q145Sql)),
    QueryDef("q146_abc_pareto", q146, Some(q146Sql)),
    QueryDef("q147_rfm_segments", q147, Some(q147Sql)),
    QueryDef("q148_association_rules", q148, Some(q148Sql)),
    QueryDef("q149_fk_integrity", q149, Some(q149Sql)),
    QueryDef("q150_financial_recon", q150, Some(q150Sql)),
    QueryDef("q151_phonetic_blocking", q151, Some(q151Sql)),
    QueryDef("q152_interval_coverage", q152, Some(q152Sql)),
    QueryDef("q153_session_conversion", q153, Some(q153Sql)),
    QueryDef("q154_jaro_winkler_pairs", q154, Some(q154Sql)),
    QueryDef("q155_activity_streaks", q155, Some(q155Sql)),
    QueryDef("q156_cohort_ltv", q156, Some(q156Sql)),
    QueryDef("q157_sparse_cosine", q157, Some(q157Sql)),
    QueryDef("q158_bfs_distances", q158, Some(q158Sql)),
    QueryDef("q159_hll_incremental", q159, Some(q159Sql)),
    QueryDef("q160_ratio_to_report", q160, Some(q160Sql)),
    QueryDef("q161_quantile_sketch", q161, Some(q161Sql)),
    QueryDef("q162_theta_overlap", q162, Some(q162Sql)),
    QueryDef("q163_bloom_prune", q163, Some(q163Sql)),
    QueryDef("q164_heap_topk", q164, Some(q164Sql)),
    QueryDef("q165_personalized_pr", q165, Some(q165Sql)),
    QueryDef("q166_hard_negatives", q166, Some(q166Sql)),
    QueryDef("q166b_hard_negatives_ivf", q166b, Some(q166bSql)),
    QueryDef("q167_twap", q167, Some(q167Sql)),
    QueryDef("q168_ks_test", q168, Some(q168Sql)),
    QueryDef("q169_chi_square", q169, Some(q169Sql)),
    QueryDef("q170_mann_whitney", q170, Some(q170Sql)),
    QueryDef("q171_phash_neardup", q171, None),
    QueryDef("q172_bpe_coverage", q172, None),
    QueryDef("q173_curation_funnel", q173, Some(q173Sql)),
    QueryDef("q174_file_provenance", q174, Some(q174Sql)),
    QueryDef("q175_benford_by_segment", q175, Some(q175Sql)),
    QueryDef("q176_survival_curve", q176, Some(q176Sql)),
    QueryDef("q177_assortativity", q177, Some(q177Sql)),
    QueryDef("q178_dispersion_index", q178, Some(q178Sql)),
    QueryDef("q179_dup_cluster_sizes", q179, Some(q179Sql)),
    QueryDef("q180_purchase_gaps", q180, Some(q180Sql)),
    QueryDef("q181_revenue_hhi", q181, Some(q181Sql)),
    QueryDef("q182_countmin_freq", q182, Some(q182Sql)),
    QueryDef("q183_hybrid_retrieval_rrf", q183, Some(q183Sql)),
    QueryDef("q184_revenue_gini", q184, Some(q184Sql)),
    QueryDef("q185_score_auc", q185, Some(q185Sql)),
    QueryDef("q186_reliability_curve", q186, Some(q186Sql)),
    QueryDef("q187_negative_edges", q187, Some(q187Sql)),
  )
}
