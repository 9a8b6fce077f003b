package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal, StringInstr, StringLocate, TimestampAdd, TimestampDiff, ToNumber}
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, IntegerType}

/** SQL surface for the native sketch expressions: registers
  * `minhash_signature(hashes, k)` and `simhash64(hashes)` so pass-through
  * SQL running via `QueryWrapper.query` / `spark.sql` can use them — the
  * reference's model is exactly "arbitrary SQL text reaches the engine"
  * (query_wrapper.sql:40), so engine extensions must be SQL-visible, not
  * Column-API-only.
  *
  * Two ways in:
  *   - production: `spark.sql.extensions=graft.functions.GraftExtensions`
  *     (standard `SparkSessionExtensions` injection at session build)
  *   - live session (tests, notebooks): `GraftExtensions.register(spark)`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {

  private def intLit(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an integer literal, got ${other.sql}")
  }

  private[functions] val functions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      { args: Seq[Expression] =>
        require(args.length == 2,
          s"minhash_signature(hashes, k) takes 2 arguments, got ${args.length}")
        MinHashSignature(args.head, intLit(args(1), "minhash_signature", 2))
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      { args: Seq[Expression] =>
        require(args.length == 1,
          s"simhash64(hashes) takes 1 argument, got ${args.length}")
        SimHash64(args.head)
      }),
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      { args: Seq[Expression] =>
        require(args.length == 2,
          s"array_dot(a, b) takes 2 arguments, got ${args.length}")
        ArrayDotProduct(args.head, args(1))
      })) ++ dialectFunctions

  // ------------------------------------------------- Exasol dialect aliases
  //
  // Functions Exasol ETL SQL uses routinely that Spark spells differently —
  // registered as thin aliases (UnresolvedFunction delegation, so Spark's
  // own type coercion applies) so reference-dialect statements run through
  // `wrapper.query` unchanged. ADD_* return TIMESTAMP (Exasol preserves
  // DATE for date inputs; builders run pre-analysis and cannot see types).

  private def delegate(target: String)(args: Seq[Expression]): Expression =
    UnresolvedFunction(target, args, isDistinct = false)

  private def arity(fn: String, n: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      require(args.length == n, s"$fn takes $n argument(s), got ${args.length}")
      b(args)
    }

  private def dialectEntry(name: String, n: Int)(
      b: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      arity(name, n)(b))

  // lazy: referenced from `functions` above during object init.
  private lazy val dialectFunctions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    dialectEntry("hash_md5", 1)(delegate("md5")),
    dialectEntry("hash_sha1", 1)(delegate("sha1")),
    dialectEntry("hash_sha256", 1)(a => delegate("sha2")(Seq(a.head, Literal(256)))),
    dialectEntry("edit_distance", 2)(delegate("levenshtein")),
    dialectEntry("add_days", 2)(a => TimestampAdd("DAY", a(1), a.head)),
    dialectEntry("add_hours", 2)(a => TimestampAdd("HOUR", a(1), a.head)),
    dialectEntry("add_minutes", 2)(a => TimestampAdd("MINUTE", a(1), a.head)),
    dialectEntry("add_seconds", 2)(a => TimestampAdd("SECOND", a(1), a.head)),
    dialectEntry("add_weeks", 2)(a => TimestampAdd("WEEK", a(1), a.head)),
    dialectEntry("add_years", 2)(a => TimestampAdd("YEAR", a(1), a.head)),
    dialectEntry("seconds_between", 2)(a =>
      TimestampDiff("SECOND", a(1), a.head)),
    dialectEntry("days_between", 2)(a =>
      TimestampDiff("DAY", a(1), a.head)),
    // Like seconds/days_between: complete periods via TimestampDiff (the
    // Exasol fractional-tail nuance is a documented divergence).
    dialectEntry("minutes_between", 2)(a =>
      TimestampDiff("MINUTE", a(1), a.head)),
    dialectEntry("hours_between", 2)(a =>
      TimestampDiff("HOUR", a(1), a.head)),
    // No months_between entry: Spark's BUILTIN months_between already has
    // the Oracle/Exasol fractional semantics — shadowing it would change
    // existing Spark SQL.
    dialectEntry("years_between", 2)(a =>
      TimestampDiff("YEAR", a(1), a.head)),
    dialectEntry("week", 1)(delegate("weekofyear")),
    // CONVERT_TZ(datetime, from_tz, to_tz) — Exasol arg order; Spark's
    // builtin is convert_timezone(from, to, ts).
    dialectEntry("convert_tz", 3)(a =>
      delegate("convert_timezone")(Seq(a(1), a(2), a.head))),
    // POSIX_TIME(datetime) → epoch seconds (Exasol returns DECIMAL with a
    // fractional tail; whole seconds here — documented divergence).
    dialectEntry("posix_time", 1)(delegate("unix_timestamp")),
    dialectEntry("from_posix_time", 1)(delegate("timestamp_seconds")),
    // COLOGNE_PHONETIC(str) — Kölner Phonetik, the German sibling of
    // soundex; native codegen expression.
    dialectEntry("cologne_phonetic", 1)(a => ColognePhonetic(a.head)),
    // JARO_WINKLER(a, b) — record-linkage comparator in [0,1]; native
    // codegen expression, DuckDB-compatible parameterization.
    dialectEntry("jaro_winkler", 2)(a =>
      JaroWinklerSimilarity(a.head, a(1))),
    // Deterministic log-bucket quantile histograms (DDSketch family):
    // build / merge / extract, merge-order-independent. The agg
    // spellings are variadic (optional alpha literal, default 0.005) —
    // see variadicDialectFunctions below. ZEROIFNULL / NULLIFZERO and
    // the KLL / Theta sketch lanes are Spark builtins and are not
    // registered here.
    dialectEntry("log_hist_quantile", 2)(a =>
      LogHistQuantile(a.head, a(1)))) ++
      variadicDialectFunctions

  // Variadic Exasol functions that SHADOW a Spark builtin of the same name:
  // the overlapping arity keeps the builtin's exact expression (so existing
  // Spark SQL is unchanged), the extra Exasol arity is added on top.
  // Builders run pre-analysis (no types), so TRUNC takes the date reading
  // (the ETL-common one; numeric TRUNC(n, d) is out of scope) and 1-arg
  // TO_NUMBER yields DOUBLE (Exasol infers an exact DECIMAL — documented
  // divergence; use CAST for an explicit decimal).
  /** Extract a literal double (SQL numeric literals parse as DECIMAL)
    * for pre-analysis builder parameters like the log-hist alpha, and
    * range-check it HERE so a bad value fails at analysis with a clean
    * message instead of inside a (cluster-retried) executor task. */
  private def litDouble(e: Expression, fn: String): Double = {
    val v = e match {
      case Literal(d: Decimal, _: DecimalType) => d.toDouble
      case Literal(d: java.lang.Double, DoubleType) => d.doubleValue()
      case Literal(i: java.lang.Integer, IntegerType) => i.toDouble
      case _ => throw new IllegalArgumentException(
        s"$fn: alpha must be a numeric literal, got ${e.sql}")
    }
    require(v >= 1e-4 && v < 1.0,
      s"$fn: alpha must be in [1e-4, 1), got $v")
    v
  }

  /** Shared scaffold for the alpha-parameterized sketch spellings:
    * `name(value)` uses the 0.005 default, `name(value, alpha)` takes
    * a validated numeric literal. */
  private def alphaEntry(name: String, signature: String)(
      ctor: (Expression, Double) => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      { args: Seq[Expression] => args match {
        case Seq(v) => ctor(v, 0.005)
        case Seq(v, a) => ctor(v, litDouble(a, name))
        case _ => throw new IllegalArgumentException(
          s"$name($signature) takes 1-2 arguments, got ${args.length}")
      }})

  private lazy val variadicDialectFunctions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // LOG_HIST_AGG(v [, alpha]) / LOG_HIST_MERGE_AGG(sk [, alpha]) —
    // the deterministic quantile-histogram build/rollup with the same
    // optional relative-accuracy parameter the Column API takes
    // (default 0.005; the merge side adopts its inputs' alpha anyway).
    alphaEntry("log_hist_agg", "value[, alpha]")(LogHistAgg(_, _)),
    alphaEntry("log_hist_merge_agg", "sketch[, alpha]")(
      LogHistMergeAgg(_, _)),
    // INSTR(string, search [, position]) — Oracle/Exasol semantics: the
    // returned index is absolute; 3-arg starts the search at `position`.
    // 2-arg IS Spark's builtin instr; 3-arg is Spark's locate arg order.
    (FunctionIdentifier("instr"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "instr"),
      { args: Seq[Expression] => args match {
        case Seq(str, sub) => StringInstr(str, sub)
        case Seq(str, sub, pos) => StringLocate(sub, str, pos)
        case _ => throw new IllegalArgumentException(
          s"instr(string, search[, position]) takes 2-3 arguments, got ${args.length}")
      }}),
    // TRUNC(datetime) → DATE; TRUNC(datetime, fmt) → first day/instant of
    // the fmt period as DATE (Exasol returns DATE for both). Value-equal to
    // Spark's own trunc(date, fmt) on the shared formats.
    (FunctionIdentifier("trunc"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "trunc"),
      { args: Seq[Expression] => args match {
        case Seq(d) => delegate("to_date")(Seq(d))
        case Seq(d, fmt) =>
          delegate("to_date")(Seq(delegate("date_trunc")(Seq(fmt, d))))
        case _ => throw new IllegalArgumentException(
          s"trunc(datetime[, fmt]) takes 1-2 arguments, got ${args.length}")
      }}),
    // TO_NUMBER(string) → exact DECIMAL(38,18) (Exasol infers an exact
    // DECIMAL from the value; a fixed wide scale is the closest a
    // pre-analysis builder can get — 20 integer digits, 18 fractional,
    // never a binary-float rounding). TO_NUMBER(string, fmt) IS Spark's
    // builtin to_number (Oracle-style format mask → DECIMAL).
    (FunctionIdentifier("to_number"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "to_number"),
      { args: Seq[Expression] => args match {
        case Seq(s) => Cast(s, DecimalType(38, 18))
        case Seq(s, fmt) => ToNumber(s, fmt)
        case _ => throw new IllegalArgumentException(
          s"to_number(string[, fmt]) takes 1-2 arguments, got ${args.length}")
      }}),
    // MID(string, position[, length]) — Exasol's SUBSTR spelling.
    (FunctionIdentifier("mid"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "mid"),
      { args: Seq[Expression] =>
        if (args.length < 2 || args.length > 3)
          throw new IllegalArgumentException(
            s"mid(string, position[, length]) takes 2-3 arguments, got ${args.length}")
        delegate("substring")(args)
      }))

  /** Register on an already-built session (the injection path above only
    * runs at session build). Skips if already registered.
    *
    * The `instr`/`trunc`/`to_number` entries deliberately shadow builtin
    * registry entries (with builtin behavior preserved on the overlapping
    * arities); no other entry may shadow a builtin (GraftExtensionsSpec
    * pins the allow-list). SimpleFunctionRegistry WARNs on every
    * replacement — noise on each session init, so the registry logger is
    * raised to ERROR for the registration call only. */
  def register(spark: SparkSession): Unit =
    if (!spark.catalog.functionExists("simhash64")) {
      val registryLogger =
        "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry"
      val prev = org.apache.logging.log4j.LogManager
        .getLogger(registryLogger).getLevel
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        registryLogger, org.apache.logging.log4j.Level.ERROR)
      try functions.foreach { case (ident, info, builder) =>
        org.apache.spark.sql.graftbridge.Bridge.registerFunction(
          spark, ident, info, builder)
      } finally org.apache.logging.log4j.core.config.Configurator.setLevel(
        registryLogger, prev)
    }
}
