package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, GlobalLimitExec, ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Structural plan sweep over EVERY declared query for the two
  * always-a-scale-bug shapes — an unpartitioned `WindowExec` whose
  * input is NOT already row-bounded (one reducer swallows the whole
  * input) and a `CartesianProductExec` (unpartitioned all-pairs;
  * broadcast nested loops over tiny sides are fine and NOT flagged).
  * An empty-partition window fed through `TakeOrderedAndProject` /
  * `GlobalLimit` / `WindowGroupLimit` is accepted: Spark's rank-limit
  * inference already bounded the reducer's input (q133's QUALIFY
  * top-25 plans this way).
  *
  * Runs two ways: `runMain graft.PlanAudit [sfDir] [queryName ...]`
  * prints offenders and exits non-zero (a round-close gate), and
  * QueriesSpec runs [[sweep]] as a standing test so a regression
  * can't land silently. GRAFT_NO_BROADCAST=1 additionally shows what
  * the plans do once no join side fits a broadcast (the 100 TB
  * join-strategy view).
  *
  * IMPORTANT: the sweep must run with AQE DISABLED —
  * `AdaptiveSparkPlanExec` has no children, so a `TreeNode.foreach`
  * over an AQE-wrapped plan silently scans nothing (the r10 lesson:
  * a vacuous first version of this audit reported a clean sweep). */
object PlanAudit {

  /** Queries allowed to keep a genuinely unpartitioned window, each
    * with the reason the one-reducer input stays bounded at 100 TB. */
  val allowedUnpartitioned: Map[String, String] = Map(
    "q160_ratio_to_report" ->
      ("the user's RATIO_TO_REPORT(...) OVER () runs post-aggregate " +
        "over the c_mktsegment grouping — a value-DOMAIN-bounded " +
        "handful of rows at any data volume"))

  /** The window's one reducer is safe if, descending through
    * row-preserving nodes, its input is already limit-bounded. Only an
    * UNpartitioned `WindowGroupLimit` is a GLOBAL row bound — a
    * PARTITION-BY'd one bounds rows per key, which is still unbounded
    * input for a global window above it. */
  private def boundedInput(p: SparkPlan): Boolean = p match {
    case _: TakeOrderedAndProjectExec | _: GlobalLimitExec => true
    case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
    case n @ (_: ProjectExec | _: FilterExec | _: SortExec) =>
      boundedInput(n.children.head)
    case _ => false
  }

  /** Sweep `names` (default: every declared query) and return one
    * "name: problem" line per offender. Caller must ensure
    * `spark.sql.adaptive.enabled=false` on this session (asserted).
    * Subquery physical plans are swept too — they hang off
    * expressions, not children, so a plain tree walk would miss a
    * Cartesian product inside a scalar/IN subquery. An allowance
    * covers exactly ONE unpartitioned window in its query; any
    * further one is flagged (the exemption stays as narrow as its
    * documented reason). */
  def sweep(spark: SparkSession, sfDir: String,
      names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted): Seq[String] = {
    require(spark.conf.get("spark.sql.adaptive.enabled") == "false",
      "PlanAudit.sweep needs AQE off — an AdaptiveSparkPlanExec wrapper " +
        "has no children and the tree walk would be vacuous")
    names.flatMap { name =>
      try {
        val plan: SparkPlan =
          SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        val found = Seq.newBuilder[String]
        var allowanceLeft = if (allowedUnpartitioned.contains(name)) 1 else 0
        (plan +: plan.subqueriesAll).foreach(_.foreach {
          case w: WindowExec if w.partitionSpec.isEmpty &&
              !boundedInput(w.child) =>
            if (allowanceLeft > 0) allowanceLeft -= 1
            else found += s"$name: unpartitioned WindowExec: " +
              w.windowExpression.map(_.sql).mkString(", ").take(140)
          case _: CartesianProductExec =>
            found += s"$name: CartesianProductExec"
          case _ => ()
        })
        found.result()
      } catch {
        case e: Throwable =>
          Seq(s"$name: plan failed: ${String.valueOf(e.getMessage).take(100)}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.builder("8")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.get("GRAFT_NO_BROADCAST").contains("1"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    val offenders = sweep(spark, sfDir, names)
    offenders.foreach(o => println(s"FLAG $o"))
    println(s"PlanAudit: ${names.size} queries scanned, " +
      s"${offenders.size} flagged " +
      s"(${allowedUnpartitioned.keySet.intersect(names.toSet).size} " +
      "documented allowances)")
    spark.stop()
    if (offenders.nonEmpty) sys.exit(1)
  }
}
