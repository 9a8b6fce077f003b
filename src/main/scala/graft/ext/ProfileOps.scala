package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality column profiling: per-column row/null/distinct counts and
  * byte-wise min/max, for pre-load validation and drift monitoring — the
  * check an ETL job (the reference's domain) runs before committing a load.
  *
  * Shape at 100 TB: ONE full scan. All per-column aggregates are computed
  * in a single `agg` (Spark evaluates them in one pass over the data); the
  * wide 1-row result is then unpivoted driver-side via `stack` into one row
  * per column. Exact `count_distinct` over several columns in one pass uses
  * Spark's expand — for very wide tables swap `approxDistinct = true` to
  * bottom-k KMV sketches ([[graft.functions.KmvDistinctAgg]]: bounded
  * memory, one pass, no expand — and deterministic exact-integer
  * estimates a SQL oracle reproduces, unlike HLL).
  *
  * min/max are computed on the string cast — byte-wise UTF-8 comparison,
  * identical in Spark and DuckDB (both compare varchar binary), so the
  * digest is oracle-stable across engines.
  */
object ProfileOps {

  def profile(df: DataFrame, cols: Seq[String],
      approxDistinct: Boolean = false): DataFrame = {
    val aggs = cols.flatMap { c =>
      val s = col(c).cast("string")
      Seq(
        count(lit(1)).as(s"${c}__n"),
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        (if (approxDistinct)
           graft.functions.HashFunctions.kmvDistinct(
             graft.functions.HashFunctions.md5Hash60(col(c)), 1024)
         else count_distinct(col(c))).as(s"${c}__distinct"),
        min(s).as(s"${c}__min"),
        max(s).as(s"${c}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // stack(n, name1, n1, nulls1, …) → one row per profiled column.
    val stackArgs = cols.map { c =>
      s"'$c', `${c}__n`, `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    wide.selectExpr(
      s"stack(${cols.length}, $stackArgs) AS " +
        "(column_name, n_rows, n_nulls, n_distinct, min_s, max_s)")
      .orderBy(col("column_name"))
  }

  /** Per-group robust center/spread: LOWER MEDIAN and MEDIAN ABSOLUTE
    * DEVIATION of an integral column — the outlier-resistant profile stats
    * (a contaminated source's mean length explodes; its MAD barely moves).
    *
    * Exactness contract: "median" here is the lower median — the value at
    * 1-based rank `(n + 1) div 2` under (`valCol`, `tieCol`) ordering — an
    * INTEGER-ARITHMETIC definition both engines replicate bit-exactly
    * (interpolating medians average two doubles and can diverge; DuckDB
    * `MEDIAN(int)` interpolates, so the oracle spells ROW_NUMBER too).
    *
    * Shape at 100 TB (r13, guide §2.3 "aggregate before you shuffle"):
    * both medians are VALUE-ONLY statistics — the value at rank
    * `(n+1) div 2` depends on the multiset of values, never on which row
    * carries which tie-breaker — so the base is hash-aggregated ONCE to
    * `(group, value, count)` (map-side combinable) and everything after
    * runs on that bounded frame: each median is the weighted-crossing
    * filter over the two-phase per-group prefix sum
    * ([[ShardOps.withGroupPrefix]] with the count as the value — the
    * [[weightedMedian]] construction), and the deviation pass re-buckets
    * the AGGREGATED frame by |v − med|. Until r13 this range-shuffled
    * every raw row TWICE (once per rank pass) and re-scanned `df` three
    * times; now one scan, one full-width aggregate, and two range
    * shuffles of the distinct-value frame (≤ distinct values × groups
    * rows — for integral profile columns, orders of magnitude below row
    * count). Memory stays bounded for ANY value domain: the distinct
    * frame still range-partitions, never a per-group window. NULL values
    * rank first (ascending NULLS FIRST), NULL group values profile
    * together (null-safe `<=>` joins) — both as before.
    *
    * Output: (`groupCol`, med, mad) ordered by the group. */
  def groupedMad(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val vcounts = df.select(col(groupCol), col(valCol).as("__v"))
      .groupBy(col(groupCol), col("__v")).agg(count(lit(1)).as("__c"))
      .localCheckpoint() // ONE scan of df serves n + both median passes
    val n = vcounts.groupBy(col(groupCol).as("__gc"))
      .agg(sum(col("__c")).as("__n"))
    // Value at 1-based rank (n+1) div 2: the unique value whose cumulative
    // count interval (cum − c, cum] covers the rank — identical to ranking
    // every raw row and keeping rank (n+1) div 2 (ties all carry the same
    // value, so the tie-break order cannot change the value at any rank).
    def lowerMedian(in: DataFrame, out: String): DataFrame =
      ShardOps.withGroupPrefix(in, groupCol, Seq(col("__v")), Some("__c"),
          "__cum")
        .join(broadcast(n), col(groupCol) <=> col("__gc"))
        .filter(col("__cum") >= expr("(__n + 1) div 2") &&
          col("__cum") - col("__c") < expr("(__n + 1) div 2"))
        .select(col(groupCol), col("__v").as(out))
    val med = lowerMedian(vcounts, "med")
    val devCounts = vcounts
      .join(broadcast(med.withColumnRenamed(groupCol, "__gm")),
        col(groupCol) <=> col("__gm"))
      .select(col(groupCol), abs(col("__v") - col("med")).as("__v"),
        col("__c"))
      .groupBy(col(groupCol), col("__v")).agg(sum(col("__c")).as("__c"))
    lowerMedian(devCounts, "mad")
      .join(broadcast(med.withColumnRenamed(groupCol, "__gm")),
        col(groupCol) <=> col("__gm"))
      .select(col(groupCol), col("med"), col("mad"))
      .orderBy(col(groupCol))
  }

  /** Per-group WEIGHTED lower median: the value at which the running
    * weight (in (`valCol`, `tieCol`) order) first reaches
    * `(Σw + 1) div 2` — integer arithmetic end to end, so engine-exact
    * (an unweighted call with w≡1 degenerates to [[groupedMad]]'s lower
    * median). The canonical curation use: "median document length where
    * each doc counts by its tokens" — a long doc moves the center as much
    * as its token mass, not once.
    *
    * The crossing row is unique: running weight is strictly above
    * `cum − w` for w > 0, and zero-weight rows can never satisfy
    * `cum − w < thr ≤ cum`. Weights must be non-negative integers;
    * groups with Σw = 0 drop out (no crossing exists).
    *
    * Shape at 100 TB: ONE range shuffle ([[ShardOps.withGroupPrefix]]
    * with the weight as the summed value), a #groups-row broadcast of
    * total weights, then a pure filter — no per-group reducer, no second
    * pass. Output: (`groupCol`, wmed) ordered by the group. */
  def weightedMedian(df: DataFrame, groupCol: String, valCol: String,
      weightCol: String, tieCol: String): DataFrame = {
    val tot = df.groupBy(col(groupCol).as("__gc"))
      .agg(sum(col(weightCol)).as("__tw"))
    ShardOps.withGroupPrefix(df, groupCol,
        Seq(col(valCol), col(tieCol)), Some(weightCol), "__cw")
      .join(broadcast(tot), col(groupCol) <=> col("__gc"))
      .filter(col("__cw") >= expr("(__tw + 1) div 2") &&
        col("__cw") - col(weightCol) < expr("(__tw + 1) div 2"))
      .select(col(groupCol), col(valCol).as("wmed"))
      .orderBy(col(groupCol))
  }

  /** Robust outlier flags via the modified z-score (Iglewicz–Hoaglin):
    * flag x when `0.6745 · |x − med| / mad > zTenths/10` — spelled as the
    * cross-multiplied INTEGER comparison
    * `67450 · |x − med| > zTenths · 10000 · mad`, so the decision
    * boundary is engine-exact, never a float threshold. `zTenths` is the
    * cutoff in tenths (35 = the classic 3.5). mad = 0 groups (over half
    * the mass at the median) flag every x ≠ med, the standard convention.
    *
    * Shape: [[groupedMad]]'s two rank passes, then the #groups-row
    * (med, mad) table broadcasts into a pure projection — the flag scan
    * adds no shuffle. Output: the outlier rows (`groupCol`, `idCol`,
    * `valCol`, med, mad) ordered by (`groupCol`, `idCol`). */
  def robustOutliers(df: DataFrame, groupCol: String, valCol: String,
      idCol: String, zTenths: Int = 35): DataFrame = {
    require(zTenths > 0)
    val stats = groupedMad(df, groupCol, valCol)
    df.select(col(groupCol), col(idCol), col(valCol))
      .join(broadcast(stats.withColumnRenamed(groupCol, "__gm")),
        col(groupCol) <=> col("__gm"))
      .filter(lit(67450L) * abs(col(valCol) - col("med")) >
        lit(zTenths * 10000L) * col("mad"))
      .select(col(groupCol), col(idCol), col(valCol), col("med"),
        col("mad"))
      .orderBy(col(groupCol), col(idCol))
  }

  /** Per-group Pearson correlation of two INTEGRAL columns, engine-exact:
    * the sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) aggregate as
    * exact integers — order-independent — and only the FINAL expression
    * `num / (sqrt(varx) · sqrt(vary))` runs in floating point, identically
    * associated on both engines, then floors to 6dp. (Spark's own `corr`
    * and DuckDB's aggregate doubles in stream order — not reproducible
    * across partitionings, let alone engines.) The two variances stay as
    * SEPARATE sqrt factors: their product could overflow where each
    * factor (≤ n·Σv²) is exact.
    *
    * Overflow contract (r11): the product sums (Σxy, Σx², Σy²) and every
    * n·Σ − Σ·Σ combination run in DECIMAL(38,0) — the r11 sf1-derived
    * bench caught q177's n·Σx² crossing 2⁶³ at ~10M edges (n≈1e7 ×
    * Σx²≈2.5e12), an ANSI task abort at exactly the scale this library
    * targets. DECIMAL(38,0) lifts the exact bound to ~1e38 (n·Σv² with
    * trillion-row groups of million-sized values ≈ 1e36 still fits);
    * DECIMAL(38,0)→DOUBLE and BIGINT→DOUBLE are both correctly-rounded
    * conversions of the same integer, so results — and the DuckDB
    * oracles, whose BIGINT spelling never overflows at fixture scale
    * (their HUGEINT sums widen the same way) — are bit-unchanged
    * wherever the old BIGINT path didn't overflow.
    *
    * Shape: ONE hash aggregate (map-side partial) + a #groups-row
    * projection. Zero-variance groups yield NULL (0/0), the SQL
    * convention. Output: (`groupCol`, n, corr_r) ordered by the group. */
  def groupedCorr(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val (x, y) = (col(xCol).cast("decimal(19,0)"), col(yCol).cast("decimal(19,0)"))
    val dec = "decimal(38,0)"
    val agg = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(x).cast(dec).as("sx"),
        sum(y).cast(dec).as("sy"),
        sum((x * y).cast(dec)).cast(dec).as("sxy"),
        sum((x * x).cast(dec)).cast(dec).as("sxx"),
        sum((y * y).cast(dec)).cast(dec).as("syy"))
    val nD = col("n").cast(dec)
    val num = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (nD * col("syy") - col("sy") * col("sy")).cast("double")
    agg.withColumn("corr_r",
        when(vx === 0 || vy === 0, lit(null).cast("double"))
          .otherwise(floor(num / (sqrt(vx) * sqrt(vy)) * 1000000) / 1000000))
      .select(col(groupCol), col("n"), col("corr_r"))
      .orderBy(col(groupCol))
  }

  /** Per-group ordinary-least-squares fit `y = a + b·x` from EXACT integer
    * sufficient statistics (the [[groupedCorr]] discipline): slope
    * `b = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)`, intercept
    * `a = (Σy − b·Σx) / n` — exact integer sums shuffle (DECIMAL(38,0)
    * products, the r11 groupedCorr overflow contract — exact to ~1e38),
    * then
    * ONE shared double expression per output, floored to 6dp. Both
    * engines run the identical IEEE sequence, so the fit hash-compares —
    * native `regr_slope` aggregates doubles in stream order and is
    * neither partitioning- nor engine-reproducible. Zero-x-variance
    * groups yield NULL slope and intercept. One hash aggregate: the
    * 100 TB cost is one shuffle of six longs per group. */
  def groupedOls(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val (x, y) = (col(xCol).cast("decimal(19,0)"), col(yCol).cast("decimal(19,0)"))
    val dec = "decimal(38,0)"
    val agg = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(x).cast(dec).as("sx"),
        sum(y).cast(dec).as("sy"),
        sum((x * y).cast(dec)).cast(dec).as("sxy"),
        sum((x * x).cast(dec)).cast(dec).as("sxx"))
    val nD = col("n").cast(dec)
    val num = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
    val b = num / den // raw double slope feeds the intercept, THEN floor
    agg
      .withColumn("slope",
        when(den === 0, lit(null).cast("double"))
          .otherwise(floor(b * 1000000) / 1000000))
      .withColumn("intercept",
        when(den === 0, lit(null).cast("double"))
          .otherwise(floor(
            (col("sy").cast("double") - b * col("sx").cast("double"))
              / col("n").cast("double") * 1000000) / 1000000))
      .select(col(groupCol), col("n"), col("slope"), col("intercept"))
      .orderBy(col(groupCol))
  }

  /** Per-group distribution drift vs the whole corpus: Population
    * Stability Index of an integral column's bucketed distribution,
    * `PSI = Σ_b (p_g,b − p_all,b)·ln(p_g,b / p_all,b)` — the standard
    * "has this source/model-input shifted?" monitor. Laplace-smoothed
    * (`+1` per bucket) so empty buckets are defined; a group that matches
    * the corpus scores ≈0, a shifted one grows roughly linearly in the
    * shift.
    *
    * Exactness contract: bucket counts are exact integers from ONE hash
    * aggregate; each bucket's PSI term is ONE shared IEEE expression over
    * those integers (`pg` and `pa` computed once, reused for both the
    * difference and the log ratio), floored to integer micro-units BEFORE
    * the per-group sum — so the result is an order-independent BIGINT
    * that hash-compares across engines (the q90 micro-nat discipline).
    *
    * Shape at 100 TB: one full scan into a (group × nBuckets)-bounded
    * aggregate; corpus-wide bucket totals re-aggregate those tiny counts
    * (NO second scan); the dense group × bucket frame is a cross join of
    * two driver-tiny sides. Everything after the first aggregate is
    * kilobytes. */
  def psiDrift(df: DataFrame, groupCol: String, valCol: String,
      bucketWidth: Long, nBuckets: Int): DataFrame = {
    require(bucketWidth >= 1 && nBuckets >= 2,
      s"need bucketWidth>=1, nBuckets>=2; got $bucketWidth, $nBuckets")
    val bucket = least(
      expr(s"cast(`$valCol` as bigint) div ${bucketWidth}L"),
      lit(nBuckets - 1L)).as("b")
    val counts = df.select(col(groupCol), bucket)
      .groupBy(col(groupCol), col("b")).agg(count(lit(1)).as("cg"))
      .localCheckpoint() // consumed three times: dense frame, totals ×2
    val groups = counts.select(col(groupCol), col("cg"))
      .groupBy(col(groupCol)).agg(sum(col("cg")).as("ng"))
    val buckets = counts.groupBy(col("b")).agg(sum(col("cg")).as("ca"))
    val nAll = counts.agg(sum(col("cg")).as("na"))
    // dense frame = groups × OCCUPIED buckets: a group missing a bucket
    // some other group populates still contributes smoothed mass there
    // (corpus-empty buckets are unobservable and by definition excluded)
    val dense = groups.crossJoin(broadcast(buckets.select(col("b"))))
      .join(counts, Seq(groupCol, "b"), "left")
      .join(buckets, Seq("b"))
      .crossJoin(broadcast(nAll))
      .na.fill(0L, Seq("cg"))
    val pg = (col("cg") + 1).cast("double") /
      (col("ng") + lit(nBuckets)).cast("double")
    val pa = (col("ca") + 1).cast("double") /
      (col("na") + lit(nBuckets)).cast("double")
    dense
      .withColumn("term", floor((pg - pa) * log(pg / pa) * 1000000)
        .cast("long"))
      .groupBy(col(groupCol))
      .agg(max(col("ng")).as("n"), sum(col("term")).as("psi_micro"))
      .orderBy(col(groupCol))
  }
}
