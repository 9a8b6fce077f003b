package perfbench

import org.apache.spark.sql.SaveMode

import graft.queries.{Queries, QueryDef}

/** `query_suite`: declared queries of `Queries.all` over the generated
  * fixture tables. One operation is one query: `QueryDef.fn` builds the
  * DataFrame (eager jobs included) and the result is written to the `noop`
  * sink. The timed loop is one pass over [[QuerySuiteLane.Names]] in a
  * seeded order.
  *
  * The warm-up is a pass in another seeded order that writes each result
  * to parquet, next to the DuckDB oracle SQL, for the output check in
  * `perfbench/oracle_check.py`; it also keeps the first-run cost of each
  * query out of the timed pass. */
final class QuerySuiteLane(ctx: Ctx) extends Lane {
  import ctx.spark

  private val defs: Vector[QueryDef] = {
    val byName = Queries.all.map(q => q.name -> q).toMap
    QuerySuiteLane.Names.map(byName)
  }

  def setUp(tag: String): Unit = ()

  def warmUp(): Unit = {
    val out = s"${ctx.workDir}/results"
    for (q <- ctx.rng.shuffle(defs))
      q.fn(spark, ctx.dataDir).coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/${q.name}")
    Main.json.writeValue(new java.io.File(s"$out/oracles.json"),
      defs.map(q => q.name -> q.oracle.getOrElse("")).toMap)
  }

  def ops: Long = defs.size.toLong

  /** The timed pass's order, drawn after the warm-up's. */
  private lazy val timedOrder = ctx.rng.shuffle(defs)

  def op(i: Long): String = {
    val q = timedOrder(i.toInt)
    val df = ctx.tracer.span("queries", "build")(q.fn(spark, ctx.dataDir))
    ctx.tracer.span("spark", "exec") {
      df.write.format("noop").mode(SaveMode.Overwrite).save()
    }
    q.name
  }

  override def extra: Map[String, Any] = Map("groups" -> Map(
    "queries.graph_s" -> QuerySuiteLane.Graph,
    "queries.vector_s" -> QuerySuiteLane.Vectors))
}

object QuerySuiteLane {
  /** The queries of the suite, a fixed subset of `Queries.all` that fits
    * one run: plain relational plans, graph operators of `graft.operators`
    * and vector and text pipelines of `graft.ext`. */
  val Relational: Vector[String] = Vector("q01_count_star",
    "q10_join_multiway", "q24_sessionize")
  val Graph: Vector[String] = Vector("q119_triangles",
    "q132_lpa_communities", "q177_assortativity")
  val Vectors: Vector[String] = Vector("q26_similarity_topk",
    "q42_embedding_neardup", "q166_hard_negatives")
  val Names: Vector[String] = Relational ++ Graph ++ Vectors
}
