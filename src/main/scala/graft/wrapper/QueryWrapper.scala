package graft.wrapper

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Per-query options (the reference's `options` table, query_wrapper.sql:39):
  * `logging` opts a statement out of auto-logging; `params` overrides the
  * wrapper's shared parameter map for this statement only (QW:40). */
final case class QueryOptions(
    logging: Boolean = true,
    params: Option[Map[String, Any]] = None)

/** Raised by the wrapper's abort path (QW:44–48) and by `run` on undefined
  * functions (QW:241). */
final class QueryWrapperException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Row facade giving the reference's dual field access: by name and by
  * 1-based index (QW:356–361 `data.TABLE_NAME .. data[2]`). */
final case class ResultRow(row: Row) {
  def apply(i: Int): Any = row.get(i - 1)
  def apply(name: String): Any = row.getAs[Any](name)
  def isNull(i: Int): Boolean = row.isNullAt(i - 1)
}

/** The Query Wrapper — a Spark-native re-expression of exasol/etl-utils'
  * `query_wrapper.sql` (459-line Lua library): uniform parameterized query
  * execution with error policy, structured job logging into
  * `job_log`/`job_details`, parameter management, prepared statements,
  * result iterators and procedural composition.
  *
  * Where the original delegates every query to the host engine via `pquery`
  * (QW:40), this delegates to `spark.sql(text, args)` — parse, optimize and
  * distributed execution belong to Catalyst/Tungsten; the wrapper adds the
  * lifecycle around it.
  *
  * Divergences from the Lua original, all deliberate:
  *   - `trim` on log messages is a plain trim (the original's Lua pattern
  *     returns nil for strings shorter than 3 non-space chars, QW:32–36 — an
  *     accident of the pattern, not intent).
  *   - Spark writes are auto-committed; `commit`/`rollback` keep their
  *     observable role as log-flush points (QW:127–144), with the reference's
  *     ordering guarantee that logs survive a rollback.
  *   - A failure *during* `finish` does not recurse into `finish` again
  *     (the original would, QW:44–48 × QW:168–183).
  */
final class QueryWrapper private (
    val spark: SparkSession,
    val logStore: Option[LogStore],
    val scriptName: String,
    clock: () => Instant) {

  /** Durable script/connection catalog beside the job log (VERDICT r11
    * #3): a LogStore-backed wrapper persists DDL-created objects to
    * `<root>/scripts` + `<root>/connections` and rehydrates them in
    * [[init]]; in-memory wrappers stay session-scoped (QW:448's
    * nothing-persists mode). */
  private val durableCatalog: Option[DurableCatalog] =
    logStore.map(ls => new DurableCatalog(spark, ls.rootDir, clock))

  /** `verbosity` (QW:416): ≥3 logs DEBUG per statement, 2 logs INFO, <2 off. */
  var verbosity: Int = 2
  /** `on_error` (QW:417): abort (no rollback) | rollback | continue. */
  var onError: String = "abort"
  var errors: Int = 0
  var runId: Option[Long] = None

  /** Schema string of the `finish()` return value, reference parity (QW:414). */
  val messagesTypes: String =
    "run_id INT, msg_time VARCHAR2(20), msg_type VARCHAR(10), message VARCHAR(20000), rowcount DECIMAL(18)"

  private[wrapper] val messages = mutable.ArrayBuffer.empty[LogMessage]
  private val queryParams = mutable.LinkedHashMap.empty[String, Any]
  private var messageLogOffset = 0
  private var finishing = false
  private[wrapper] var startingSchema: Option[String] = None

  private val timeFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  // ------------------------------------------------------------------ A1/A5

  /** Single SQL-null notion on the Spark side (reference `is_null`, QW:24–30,
    * papers over two Lua null flavors). */
  def isNull(x: Any): Boolean = x == null || x == None

  /** Append a message to the in-memory buffer (QW:70–85). Truncation rules
    * are the reference's observable constants: level >10 chars → first 7 +
    * `...`; message >20000 chars → first 19995 + `...`. ERROR increments the
    * error counter that decides the final job status. */
  def log(msgType: String, text: String, rowcount: Option[Long] = None): Unit = {
    val mt =
      if (msgType.length > 10) msgType.substring(0, 7) + "..." else msgType
    var msg = Option(text).map(_.trim).getOrElse("")
    if (msg.length > 20000) msg = msg.substring(0, 19995) + "..."
    messages += LogMessage(runId, timeFmt.format(clock()), mt, msg, rowcount)
    if (mt == "ERROR") errors += 1
  }

  // ------------------------------------------------------------------ A3/A4

  private val TxRe = "(?is)^\\s*(commit|rollback)\\b.*".r
  private val OpenSchemaRe = "(?is)^\\s*open\\s+schema\\s+(\\S+)\\s*$".r

  /** THE pass-through (reference `wrap_query`, QW:38–68): splice `::x`
    * identifier params, bind `:x` value params, execute via `spark.sql`
    * (or the SqlCompat emulation), then [[settle]] the outcome. */
  def query(sqlText: String,
      options: QueryOptions = QueryOptions()): (Boolean, QueryResult) = {
    val params = options.params.getOrElse(queryParams.toMap)
    var stmtText = sqlText
    val attempt = Try {
      // Script DDL is handled BEFORE param splicing: a CREATE SCRIPT
      // body's `:P`/`::P` references belong to the script's own EXECUTE-
      // time binding, not to this wrapper's current params (an unbound
      // `::P` would otherwise raise at CREATE, and a bound one would
      // freeze today's value into the body).
      if (SqlCompat.handleScriptDdl(sqlText, durableCatalog))
        QueryResult.empty(sqlText)
      else {
        stmtText = Params.spliceIdentifiers(sqlText, params)
        val res = execute(stmtText, params)
        // Force the rowcount here so RUNTIME failures (not just analysis
        // errors) hit the error path — `pquery` materializes eagerly, so
        // its failures are always query failures (QW:41). For a query this
        // is a distributed count: no rows cross to the driver.
        res.normalizedRowCount
        res
      }
    }
    settle(stmtText, attempt, options.logging)
  }

  /** The result-and-failure protocol every wrapper statement ends in
    * (QW:41–66), [[query]]'s and [[PreparedStatement.executeBatch]]'s
    * alike. On success auto-log `logPrefix + stmtText` at verbosity ≥2
    * with the normalized rowcount (INFO at 2, DEBUG at ≥3). On failure log
    * INFO(statement) + ERROR(message) and apply the `on_error` policy:
    * abort/rollback finish first, then raise (QW:44–48) — except while
    * `finish` itself runs. */
  private[wrapper] def settle(stmtText: String, attempt: Try[QueryResult],
      logging: Boolean, logPrefix: String = ""): (Boolean, QueryResult) =
    attempt match {
      case Success(res) =>
        if (logging) {
          val msg = logPrefix + stmtText
          if (verbosity >= 3) log("DEBUG", msg, Some(res.normalizedRowCount))
          else if (verbosity == 2) log("INFO", msg, Some(res.normalizedRowCount))
        }
        (true, res)
      case Failure(e) =>
        val err = toError(e)
        log("INFO", stmtText)
        log("ERROR", err.message)
        if (!finishing && (onError == "abort" || onError == "rollback")) {
          finish(rollback = onError == "rollback")
          throw new QueryWrapperException(
            err.message + "\n Statement was: " + stmtText + "\n", e)
        }
        (false, QueryResult.failure(stmtText, err))
    }

  private object Emulated {
    def unapply(stmt: String) = SqlCompat.classify(spark, stmt)
  }
  private object ScriptCall {
    def unapply(stmt: String) = SqlCompat.scriptCall(stmt)
  }

  private def execute(stmt: String, params: Map[String, Any]): QueryResult =
    stmt match {
      case TxRe(_) =>
        // B9: transaction markers are wrapper-level (Spark writes are
        // auto-committed); accepted syntactically, logged with rowcount 0.
        QueryResult.empty(stmt)
      case OpenSchemaRe(ident) =>
        // B8: OPEN SCHEMA s → USE s.
        spark.sql(s"USE ${Params.quote(ident)}")
        QueryResult.empty(stmt)
      case _ if SqlCompat.handleConnectionDdl(stmt, durableCatalog) =>
        // CREATE/DROP CONNECTION: named JDBC endpoints for IMPORT/EXPORT.
        QueryResult.empty(stmt)
      case Emulated(s) =>
        // UPDATE/DELETE/MERGE on parquet tables, the Exasol IMPORT/EXPORT
        // loaders and ASOF JOIN, run by SqlCompat. rows_affected is the
        // matched, loaded or exported row count, like the host engine's;
        // rows an IMPORT quarantined are logged.
        val out = s.run(spark)
        if (out.quarantined > 0)
          log("WARNING", s"IMPORT quarantined ${out.quarantined} malformed row(s)")
        new QueryResult(stmt, out.df, out.rowsAffected, None)
      case ScriptCall(e, sc) =>
        // B16 end-to-end: `EXECUTE SCRIPT name(args)` (RM:35-37, 69)
        // dispatches a registered EtlJob — a FRESH wrapper + job_log
        // registration, like the host engine spawning the script's own
        // session; the result is the finished job's messages table
        // (RETURNS TABLE analog). Shares this wrapper's log store and
        // clock, so script runs land in the same job_log.
        val df = EtlJob.execute(spark, logStore, e.name.replace("`", ""),
          sc.steps(e.args), sc.onError, clock)
        QueryResult.success(stmt, df, None)
      case _ =>
        val translated = SqlCompat.translate(stmt)
        val referenced = Params.valueParamNames(translated)
        val args: Map[String, Any] = referenced.flatMap { name =>
          params.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => name -> v }
        }.toMap
        val df = if (args.isEmpty) spark.sql(translated)
                 else spark.sql(translated, args)
        QueryResult.success(stmt, df, rowsAffectedOf(df))
    }

  /** `rows_affected` for wrapper-mediated DML: commands execute eagerly under
    * `spark.sql`, and a write command's physical node carries the written-row
    * metric. Absent (plain SELECT, DDL) → None → rowcount falls back to the
    * result-row rules (QW:51–59). */
  private def rowsAffectedOf(df: DataFrame): Option[Long] = try {
    df.queryExecution.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        c.commandPhysicalPlan.metrics.get("numOutputRows").map(_.value)
      case _ => None
    }
  } catch { case NonFatal(_) => None }

  private def toError(e: Throwable): QueryError = {
    val code = e match {
      case st: SparkThrowable if st.getSqlState != null => st.getSqlState
      case st: SparkThrowable if st.getCondition != null => st.getCondition
      case other => other.getClass.getSimpleName
    }
    QueryError(code, Option(e.getMessage).getOrElse(e.toString))
  }

  // ------------------------------------------------------------------ A6–A8

  /** Flush new buffered messages to `job_details` (QW:87–125). One batched
    * append (the 100-row chunking was an Exasol resource workaround); the
    * offset advances past attempted rows, and a flush failure downgrades to a
    * WARNING rather than failing the job — reference intent (QW:117–119). */
  private[wrapper] def writeLogDetails(): Unit = logStore.foreach { ls =>
    if (messageLogOffset < messages.length) {
      val batch = messages.slice(messageLogOffset, messages.length).toSeq
      messageLogOffset = messages.length
      Try(ls.appendDetails(batch)) match {
        case Failure(e) =>
          log("WARNING", s"Failed to write detail log: ${e.getMessage}")
        case _ => ()
      }
    }
  }

  private def transaction(sql: String, logging: Boolean): (Boolean, QueryResult) = {
    val (success, info) = query(sql, QueryOptions(logging = logging))
    if (success && logStore.isDefined) {
      writeLogDetails()
      // QW:133: 'commit -- wrapper-log', never recursing into transaction().
      query("commit -- wrapper-log", QueryOptions(logging = false))
    }
    (success, info)
  }

  /** Commit: execute the `commit -- wrapper` marker, then flush the log
    * buffer (QW:127–140). */
  def commit(logging: Boolean = true): (Boolean, QueryResult) =
    transaction("commit -- wrapper", logging)

  /** Rollback: logs still flush — they survive the data rollback
    * (QW:127–136, 142–144). */
  def rollback(logging: Boolean = true): (Boolean, QueryResult) =
    transaction("rollback -- wrapper", logging)

  // ------------------------------------------------------------------ A9

  /** Terminal lifecycle step (QW:146–193): commit (or rollback), close the
    * `job_log` row with end_time + rolled-up status, restore the starting
    * schema, return the buffered messages with the QW:414 schema. */
  def finish(rollback: Boolean = false): DataFrame = {
    val wasFinishing = finishing
    finishing = true
    try {
      val (success, res) =
        if (rollback) this.rollback() else this.commit()
      if (!success) throw new QueryWrapperException(
        s"[querywrapper] finish() while commiting / rollbacking [${res.errorCode}] ${res.errorMessage}")
      runId.foreach { id =>
        val state =
          if (errors > 0) "FINISHED WITH ERROR" else "FINISHED SUCCESSFULLY"
        logStore.foreach(_.close(id, state))
        // QW:180–183: trailing commit, flushes anything logged since.
        transaction("commit -- wrapper", logging = false)
      }
      startingSchema.foreach { s =>
        query(s"OPEN SCHEMA $s", QueryOptions(logging = false))
      }
      messagesDataFrame
    } finally { finishing = wasFinishing }
  }

  /** The buffered messages as a DataFrame matching the reference's
    * `messages_types` schema string (QW:414). */
  def messagesDataFrame: DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("run_id", LongType),
      StructField("msg_time", StringType),
      StructField("msg_type", StringType),
      StructField("message", StringType),
      StructField("rowcount", LongType)))
    val rows: Seq[Row] = messages.toSeq.map { m =>
      Row(m.runId.map(Long.box).orNull, m.msgTime, m.msgType, m.message,
        m.rowcount.map(Long.box).orNull)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  // ------------------------------------------------------------------ A10–A13

  def setParam(name: String, value: Any): Unit = queryParams(name) = value
  def getParam(name: String): Option[Any] = queryParams.get(name)
  def loadParams(params: Map[String, Any]): Unit =
    params.foreach { case (k, v) => setParam(k, v) }

  /** Load (name, value) pairs from the first two columns of a table
    * (QW:211–224), logging the loaded set in the reference's
    * `{ "k" = "v", ... }` INFO format. */
  def loadParamsFromTable(tableName: String): Unit = {
    setParam("PARAMETERS_TABLE", tableName)
    val (_, res) = query("SELECT * FROM ::PARAMETERS_TABLE")
    val entries = res.rows.toSeq.map { r =>
      val name = String.valueOf(r.get(0))
      val value = r.get(1)
      setParam(name, value)
      "\"" + name + "\" = \"" + String.valueOf(value) + "\""
    }
    log("INFO", s"Loaded Parameters from Table $tableName: " +
      entries.mkString("{ ", ", ", " }"))
  }

  // ------------------------------------------------------------------ A14

  /** Procedural step executor (QW:226–243): START/INFO/ERROR log protocol,
    * abort-mode re-raise, undefined function → ERROR + raise. */
  def run[A](pkg: Map[String, QueryWrapper => A], fnName: String): (Boolean, Any) =
    pkg.get(fnName) match {
      case Some(fn) =>
        log("START", s"Entering function $fnName")
        Try(fn(this)) match {
          case Success(v) =>
            log("INFO", s"Finished function $fnName")
            (true, v)
          case Failure(e) =>
            log("ERROR", s"$fnName returned with error: ${e.getMessage}")
            if (onError == "abort") throw e
            (false, e.getMessage)
        }
      case None =>
        log("ERROR", s"Undefined function $fnName")
        throw new QueryWrapperException(s"Undefined function $fnName")
    }

  // ------------------------------------------------------------------ A16/A17

  /** Rewrite `?` placeholders (outside literals/comments) to `:PS_VAL_n` and
    * return a prepared statement (QW:303–335). */
  def prepare(sqlText: String): PreparedStatement = {
    val (rewritten, n) = SqlTokens.rewritePlaceholders(sqlText)
    new PreparedStatement(this, rewritten, n)
  }

  // ------------------------------------------------------------------ A18–A20

  /** Row iterator over a query or an existing result (QW:352–373); fields
    * readable by name or 1-based index via [[ResultRow]]. Streams via
    * `toLocalIterator` — never collects the whole result on the driver. */
  def queryRows(sqlText: String): Iterator[ResultRow] =
    queryRows(querySuccess(sqlText))

  def queryRows(res: QueryResult): Iterator[ResultRow] =
    res.localIterator.map(ResultRow)

  /** Destructured values iterator (QW:375–408): each row as a Seq, matching
    * the README's `for a, b in wrapper:query_values(...)` loop. */
  def queryValues(sqlText: String): Iterator[Seq[Any]] =
    queryValues(querySuccess(sqlText))

  def queryValues(res: QueryResult): Iterator[Seq[Any]] =
    res.localIterator.map(_.toSeq)

  private def querySuccess(sqlText: String): QueryResult = query(sqlText)._2

  // ------------------------------------------------------------------ A21

  private[wrapper] def init(): Unit = {
    // Dialect surface: make the Exasol function aliases + native sketch
    // functions SQL-visible, so pass-through statements (QW:40 delegation)
    // run unchanged. Idempotent re-registration.
    graft.functions.GraftExtensions.register(spark)
    // Durable catalog objects from prior sessions become visible before
    // any statement can reference them (host engines resolve scripts and
    // connections from the shared catalog at statement time).
    durableCatalog.foreach(_.rehydrate())
    logStore.foreach { ls =>
      // QW:246–283: INSERT-then-MAX id allocation + early commit.
      val id = ls.register(scriptName)
      runId = Some(id)
      log("INFO", s"Job nr. $id registered")
      transaction("commit -- wrapper", logging = false)
    }
    // QW:452: capture CURRENT_SCHEMA to restore at finish().
    startingSchema = Try(spark.catalog.currentDatabase).toOption
  }
}

object QueryWrapper {

  /** Constructor (reference `new`, QW:410–458). `logStore = None` is the
    * fully in-memory mode: logging works, nothing persists (QW:161, 448). */
  def apply(
      spark: SparkSession,
      logStore: Option[LogStore] = None,
      scriptName: String = "",
      clock: () => Instant = () => Instant.now()): QueryWrapper = {
    val w = new QueryWrapper(spark, logStore, scriptName, clock)
    w.init()
    w
  }
}
