package graft.wrapper

/** Prepared statement (reference `wrap_prepare`/`wrap_ps_execute`,
  * query_wrapper.sql:285–335): holds the `?`→`:PS_VAL_n`-rewritten SQL and
  * its placeholder arity; `execute` binds each value row positionally and
  * runs the statement, aborting early on the first failure.
  *
  * Indices are 1-based inclusive, matching the Lua original (QW:289).
  * Missing/null cells bind as SQL NULL (QW:291 `values[row][p] or null`).
  *
  * Scale note: per-row re-execution is the reference's semantics and is kept
  * for parity in [[execute]]; [[executeBatch]] is the bulk-load fast path —
  * an INSERT-shaped statement binds ALL value rows into one DataFrame and
  * appends in a single distributed write job instead of N statements.
  */
final class PreparedStatement(
    wrapper: QueryWrapper,
    val sqlText: String,
    val paramCount: Int) {

  def execute(
      values: Seq[Seq[Any]],
      startIndex: Int = 1,
      endIndex: Int = -1,
      options: QueryOptions = QueryOptions()): (Boolean, Vector[QueryResult]) = {
    val end = if (endIndex < 0) values.length else math.min(endIndex, values.length)
    val results = Vector.newBuilder[QueryResult]
    var row = startIndex
    while (row <= end) {
      val cells = values(row - 1)
      (1 to paramCount).foreach { p =>
        wrapper.setParam(s"PS_VAL_$p", if (p <= cells.length) cells(p - 1) else null)
      }
      val (ok, res) = wrapper.query(sqlText, options)
      results += res
      if (!ok) return (false, results.result()) // early abort (QW:296–298)
      row += 1
    }
    (true, results.result())
  }

  // `INSERT INTO t [(cols)] VALUES (:PS_VAL_i, …)` where every value item
  // is exactly one placeholder — the bulk-load shape.
  private val InsertShapeRe =
    "(?is)^\\s*insert\\s+into\\s+([\\w.`]+)\\s*(?:\\(([^)]*)\\))?\\s*values\\s*\\((.*)\\)\\s*;?\\s*$".r
  private val PlaceholderRe = "(?i)^:PS_VAL_(\\d+)$".r

  /** Vectorized execution: if the statement is a pure-placeholder INSERT
    * into a catalog table, bind all `values` rows into one DataFrame and
    * append it in ONE write job (per-row `execute` costs one Spark
    * statement per row — correct but hopeless for bulk loads). Any other
    * statement shape falls back to per-row [[execute]] (same results,
    * reference semantics).
    *
    * Cells are bound through a string→target-type cast per column — the
    * same coercion path a bound literal takes through `spark.sql(text,
    * args)`. Columns absent from an explicit column list insert NULL.
    *
    * Divergences from the per-row path, by construction of the string
    * binding: a BINARY target column would receive the bytes of the
    * array's `toString` — so any bound BinaryType column falls back to
    * per-row [[execute]] — and a malformed numeric/timestamp cell fails
    * the whole batch (Spark's default ANSI cast raises; with ANSI mode
    * off the cell becomes NULL instead) where `execute` would fail only
    * its row.
    *
    * Success and failure go through the wrapper's one protocol
    * ([[QueryWrapper.settle]]): the statement logs as
    * `batch insert: <sql>`, and a failure follows `on_error`. A failed
    * batch is not retried per row: the append may have committed nothing
    * or everything, so per-row replay could double-insert. */
  def executeBatch(
      values: Seq[Seq[Any]],
      options: QueryOptions = QueryOptions()): (Boolean, Vector[QueryResult]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._

    val spark = wrapper.spark
    val batchable = sqlText match {
      case InsertShapeRe(table, cols, items) =>
        val placeholders = items.split(",").map(_.trim).toSeq
        val idxs = placeholders.map {
          case PlaceholderRe(i) => i.toInt
          case _ => -1
        }
        if (idxs.contains(-1) ||
            !scala.util.Try(spark.catalog.tableExists(table)).getOrElse(false))
          None
        else {
          val schema = spark.table(table).schema
          val colNames = Option(cols)
            .map(_.split(",").map(_.trim).toSeq)
            .getOrElse(schema.map(_.name).toSeq)
          val boundBinary = colNames.exists(n => schema.exists(f =>
            f.name.equalsIgnoreCase(n) &&
              f.dataType == org.apache.spark.sql.types.BinaryType))
          if (colNames.length != idxs.length || boundBinary) None
          else Some((table, colNames.zip(idxs)))
        }
      case _ => None
    }

    batchable match {
      case None => execute(values, options = options)
      case Some((table, bindings)) =>
        val attempt = scala.util.Try {
          val tgtSchema = spark.table(table).schema
          val strSchema = StructType(
            bindings.map { case (n, _) => StructField(n, StringType) })
          val rows: java.util.List[Row] = values.map { cells =>
            Row.fromSeq(bindings.map { case (_, i) =>
              if (i <= cells.length && cells(i - 1) != null)
                String.valueOf(cells(i - 1))
              else null
            })
          }.asJava
          val bound = spark.createDataFrame(rows, strSchema)
          val byName = bindings.map(_._1.toLowerCase).toSet
          val full = bound.select(tgtSchema.map { f =>
            if (byName.contains(f.name.toLowerCase))
              col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toSeq: _*)
          full.write.mode("append").insertInto(table)
          new QueryResult(sqlText, None, Some(values.length.toLong), None)
        }
        val (ok, res) = wrapper.settle(sqlText, attempt, options.logging,
          logPrefix = "batch insert: ")
        (ok, Vector(res))
    }
  }
}
