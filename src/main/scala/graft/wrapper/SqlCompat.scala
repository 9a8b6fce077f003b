package graft.wrapper

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row,
  SparkSession}
import org.apache.spark.sql.functions._

/** Compatibility execution for SQL the host engine supports but Spark
  * does not run as written. [[classify]] picks the [[Statement]] this
  * object emulates (UPDATE/DELETE/MERGE on parquet tables, the Exasol
  * IMPORT/EXPORT loaders, ASOF JOIN); [[translate]] rewrites the rest of
  * the Exasol dialect into Spark SQL.
  *
  * `UPDATE t SET … [WHERE …]` (reference B4, the `finish()` UPDATE
  * pattern QW:168–175 generalized to user tables) has standard SQL
  * semantics: every SET expression is evaluated against the OLD row (so
  * `SET a = b, b = a` swaps), WHERE gates the assignment per-row.
  * Execution is read → transform → checkpoint to a temp location →
  * overwrite, which is exactly how an immutable-storage warehouse applies
  * an UPDATE; rows_affected is the matched-row count. On hive-partitioned
  * targets the read and the overwrite are PARTITION-SCOPED whenever the
  * statement provably confines its effects to a set of partitions (see the
  * partition-scoped section) — untouched partitions' files are never read
  * or replaced. */
object SqlCompat {

  /** What an emulated statement did: a query result (ASOF), a
    * rows-affected count (DML, IMPORT, EXPORT), and how many malformed
    * input rows an IMPORT quarantined instead of loading. */
  final case class Outcome(df: Option[DataFrame], rowsAffected: Option[Long],
      quarantined: Long = 0L)

  private def affected(n: Long): Outcome = Outcome(None, Some(n))

  /** A parsed statement this object runs itself, because Spark cannot run
    * it as written: DML on parquet tables, the Exasol IMPORT/EXPORT
    * loaders and ASOF JOIN. */
  sealed trait Statement {
    /** Whether this engine can serve the statement as parsed — typically,
      * whether the tables it names exist. */
    def canHandle(spark: SparkSession): Boolean
    def run(spark: SparkSession): Outcome
  }

  /** The parsers of the emulated statements, in dispatch order. */
  private val parsers: Seq[String => Option[Statement]] = Seq(
    parseUpdate, parseDelete, parseMerge, parseImport, parseFbvImport,
    parseExport, parseParquetImport, parseParquetExport, parseJdbcImport,
    parseJdbcExport, parseAsOf)

  /** The first parse of `sql` that this engine can serve, running each
    * parser at most once, in dispatch order. A statement that parses but
    * cannot be handled (say, an UPDATE of a missing table) falls through
    * to the next parser and, failing all, to `spark.sql` — which then
    * reports the engine's own error. */
  def classify(spark: SparkSession, sql: String): Option[Statement] =
    parsers.iterator.flatMap(_(sql)).find(_.canHandle(spark))

  /** The dialect translations, in order, each a no-op on Spark-native SQL:
    * CONNECT BY hierarchical queries → recursive CTE, PREFERRING skyline →
    * NOT-EXISTS dominance, QUALIFY → subquery, the Oracle-compat ROWNUM
    * filter → LIMIT (subquery-wrapped under ORDER BY: the host numbers
    * rows BEFORE the sort), select-list ROWNUM → ROW_NUMBER() over the
    * statement's own ORDER BY, GROUP_CONCAT → listagg, RATIO_TO_REPORT →
    * window ratio, then the B10 Exasol datetime-format dialect (the
    * reference's own TO_TIMESTAMP(?, 'YYYY-MM-DD HH24:MI:SS'), QW:98) →
    * Spark patterns, TO_CHAR → date_format. */
  def translate(sql: String): String = {
    val whole = Seq[String => Option[String]](translateConnectBy,
      translatePreferring, translateQualify, translateRownum,
      translateSelectRownum).foldLeft(sql)((s, t) => t(s).getOrElse(s))
    translateDatetimeFormats(
      translateRatioToReport(translateGroupConcat(whole)))
  }

  private val UpdateHeadRe = "(?is)^\\s*update\\s+([\\w.`]+)\\s+set\\s".r
  private val WhereRe = "(?i)\\bwhere\\b".r

  final case class Update(table: String, assignments: Seq[(String, String)],
      where: Option[String]) extends Statement {
    def canHandle(spark: SparkSession): Boolean = tableExists(spark, table)
    def run(spark: SparkSession): Outcome = affected(runUpdate(spark, this))
  }

  /** A copy of `sql` (same length, so match offsets map 1:1) where string
    * literals, comments, and everything nested inside parentheses is blanked
    * out. Clause keywords (SET/WHERE) are then located by regex over THIS
    * text, so a `where` inside a literal (`SET note = 'see where it goes'`)
    * or a SET-clause subquery can never split the statement. Quoted
    * identifiers are kept (they are structure, not data). */
  private def maskNonTopLevel(sql: String): String = {
    val sb = new StringBuilder(sql.length)
    var depth = 0
    SqlTokens.tokenize(sql).foreach {
      case SqlTokens.Token(SqlTokens.Other, text) =>
        text.foreach {
          case '(' => sb += (if (depth == 0) '(' else ' '); depth += 1
          case ')' => depth -= 1; sb += (if (depth == 0) ')' else ' ')
          case c => sb += (if (depth == 0) c else ' ')
        }
      case SqlTokens.Token(SqlTokens.QuotedIdent, text) if depth == 0 =>
        // Keep the quote characters (so `...` spans still look like
        // identifiers) but overwrite the interior with a neutral word
        // char: a quoted identifier that IS a keyword (`where`, `matched`
        // — the main reason users quote) must never match a clause regex.
        sb += text.head
        (1 until text.length - 1).foreach(_ => sb += 'x')
        if (text.length > 1) sb += text.last
      case t =>
        // Blank char-for-char, preserving length (newlines too — the
        // regexes are (?s) and never anchor on line structure).
        (0 until t.text.length).foreach(_ => sb += ' ')
    }
    sb.result()
  }

  /** End offset of the statement body: trailing whitespace and one optional
    * `;` stripped. */
  private def bodyEnd(sql: String): Int = {
    var e = sql.length
    while (e > 0 && sql.charAt(e - 1).isWhitespace) e -= 1
    if (e > 0 && sql.charAt(e - 1) == ';') {
      e -= 1
      while (e > 0 && sql.charAt(e - 1).isWhitespace) e -= 1
    }
    e
  }

  /** Parse an UPDATE statement, or None if `sql` is not one. Keyword
    * detection (UPDATE/SET head, top-level WHERE) runs over the masked text;
    * clause bodies are sliced from the ORIGINAL at the matched offsets, so
    * literal/comment/subquery content is preserved verbatim. */
  def parseUpdate(sql: String): Option[Update] = {
    val masked = maskNonTopLevel(sql)
    UpdateHeadRe.findFirstMatchIn(masked).map { m =>
      val end = bodyEnd(sql)
      val whereKw = WhereRe.findFirstMatchIn(masked.substring(m.end, end))
        .map(w => (m.end + w.start, m.end + w.end))
      val setClause = sql.substring(m.end, whereKw.map(_._1).getOrElse(end))
      val assignments = splitTopLevel(setClause).map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"malformed SET assignment: $a")
        (a.substring(0, i).trim, a.substring(i + 1).trim)
      }
      Update(sql.substring(m.start(1), m.end(1)), assignments,
        whereKw.map { case (_, kwEnd) => sql.substring(kwEnd, end).trim })
    }
  }

  /** Split on top-level commas (outside strings/comments/parens). */
  private def splitTopLevel(s: String): Seq[String] =
    splitTopLevelOn(s, ',')

  /** Split on a top-level separator char (outside strings/comments/
    * parens) — `','` for lists, `';'` for script-body statements. */
  private def splitTopLevelOn(s: String, sep: Char): Seq[String] = {
    val parts = Vector.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    SqlTokens.tokenize(s).foreach {
      case SqlTokens.Token(SqlTokens.Other, text) =>
        text.foreach {
          case '(' => depth += 1; cur += '('
          case ')' => depth -= 1; cur += ')'
          case c if c == sep && depth == 0 => parts += cur.result(); cur.clear()
          case c => cur += c
        }
      case SqlTokens.Token(SqlTokens.Comment, _) =>
        cur += ' ' // comments are not part of the expression
      case t => cur ++= t.text
    }
    parts += cur.result()
    parts.result().filter(_.trim.nonEmpty)
  }

  /** Execute a parsed UPDATE against a catalog table. Returns the matched
    * row count (`rows_affected`).
    *
    * On a partitioned table whose assignments leave the partition columns
    * alone, only the partitions holding matched rows are read and rewritten
    * (see the partition-scoped section below) — the 100 TB shape of a
    * nightly UPDATE against a date-partitioned fact table. Unpartitioned
    * tables, and updates that move rows between partitions, take the
    * full-table checkpoint-overwrite. */
  private def runUpdate(spark: SparkSession, u: Update): Long = {
    val df = spark.table(u.table)
    val cond = u.where.map(expr).getOrElse(lit(true))
    val pcols = partitionColsOf(spark, u.table)
    // An assignment TO a partition column can move a row into a partition
    // this path never read — only the full rewrite sees the destination.
    val movesRows =
      pcols.exists(pc => u.assignments.exists(_._1.equalsIgnoreCase(pc)))
    if (pcols.nonEmpty && !movesRows) {
      // Touched partitions = those holding matched rows. The discovery scan
      // prunes when WHERE covers the partition column; either way the WRITE
      // only ever rewrites partitions that contain a matched row.
      val touched = df.filter(cond).select(pcols.map(col): _*)
        .distinct().limit(MaxTouchedPartitions + 1).collect().toSeq
      if (touched.isEmpty) return 0L // nothing matched → nothing written
      if (touched.size <= MaxTouchedPartitions) {
        val pruned = df.filter(touchedPredicate(pcols, touched))
        val counts = pruned.agg(
          count(lit(1)), count(when(cond, lit(1)))).head()
        val ok = partitionScopedOverwrite(spark, u.table, pcols, touched,
          applyAssignments(pruned, u, cond),
          expectedRows = counts.getLong(0),
          mustCoverParts = Some(touched))
        if (ok) return counts.getLong(1)
        // Defensive only — an UPDATE preserves every pruned row, so the
        // checks cannot fail unless the table changed under us.
      }
    }
    // One scan for both counts: total (staging validation) + matched.
    val counts = df.agg(
      count(lit(1)), count(when(cond, lit(1)))).head()
    val (total, affected) = (counts.getLong(0), counts.getLong(1))
    checkpointOverwrite(spark, u.table, df, applyAssignments(df, u, cond),
      expectedRows = total)
    affected
  }

  /** SET-list projection with old-row semantics (`SET a = b, b = a` swaps);
    * WHERE gates each assignment per-row. */
  private def applyAssignments(df: DataFrame, u: Update,
      cond: Column): DataFrame =
    df.select(df.columns.map { c =>
      u.assignments.find(_._1.equalsIgnoreCase(c)) match {
        case Some((_, e)) => when(cond, expr(e)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toSeq: _*)

  /** Checkpoint `transformed` to a staging dir on the TABLE'S filesystem
    * (visible to every executor — a driver-local temp dir is not, on a real
    * cluster), verify the staged row count, then overwrite the table from
    * the staging copy. The two-step dance is required because the overwrite
    * would otherwise read from the very files it is replacing; staging next
    * to the table keeps the copy on the same storage system (and quota) as
    * the data. Staging is removed in `finally`, so a failed overwrite leaves
    * no litter — and because the staged copy is verified complete BEFORE the
    * destructive overwrite starts, a crash mid-overwrite can be repaired
    * from source data + statement replay rather than silently losing rows. */
  private def checkpointOverwrite(spark: SparkSession, table: String,
      source: org.apache.spark.sql.DataFrame,
      transformed: org.apache.spark.sql.DataFrame, expectedRows: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val location = new Path(
      org.apache.spark.sql.graftbridge.Bridge.tableLocation(spark, table))
    val fs = location.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Not dot-prefixed: hidden-path filters in Spark's file listing would
    // treat a leading-dot dir inconsistently across read paths.
    val staging = new Path(location.getParent,
      s"graft_staging_${location.getName}_${java.util.UUID.randomUUID()}")
    var overwriteFailed = false
    try {
      transformed.write.parquet(staging.toString)
      val staged = spark.read.schema(source.schema).parquet(staging.toString)
      val stagedRows = staged.count()
      require(stagedRows == expectedRows,
        s"staged checkpoint for $table has $stagedRows rows, expected " +
          s"$expectedRows — aborting before the destructive overwrite")
      try staged.write.mode("overwrite").insertInto(table)
      catch {
        case e: Throwable =>
          // The overwrite may have destroyed table files; the staging copy
          // is now the only complete version — keep it for recovery.
          overwriteFailed = true
          throw new IllegalStateException(
            s"overwrite of $table failed mid-write; verified checkpoint " +
              s"preserved at $staging for recovery", e)
      }
    } finally {
      if (!overwriteFailed) fs.delete(staging, true)
    }
  }

  // ------------------------------------------ partition-scoped execution
  //
  // When the target catalog table is hive-partitioned and the statement
  // provably confines its effects to a driver-tiny set of partitions, the
  // rewrite reads ONLY those partitions (an equality predicate over the
  // touched values → `PartitionFilters` in the scan) and replaces ONLY
  // their files (dynamic partition overwrite). A nightly MERGE touching 3
  // of 3,000 date partitions must not read — let alone rewrite — the other
  // 2,997. Same shape as [[graft.sources.PartitionedMerge]], wired into
  // the SQL dialect path. Every safety check runs on an eagerly
  // materialized checkpoint BEFORE the destructive write; a check that
  // cannot be satisfied falls back to the full-table path having written
  // nothing.

  private def partitionColsOf(spark: SparkSession, table: String): Seq[String] =
    scala.util.Try(
      org.apache.spark.sql.graftbridge.Bridge.partitionColumnNames(spark, table))
      .getOrElse(Nil)

  /** Above this many touched partitions the statement effectively IS a
    * full-table rewrite, and the OR-of-ANDs pruning predicate (one
    * disjunct per partition tuple) would bloat plan analysis for no IO
    * win — the full path takes over. */
  private val MaxTouchedPartitions = 1000

  /** OR-of-ANDs equality predicate over the touched partition-value tuples
    * — the shape Spark's scan planning turns into `PartitionFilters`, so
    * untouched partitions are never listed or read. */
  private[wrapper] def touchedPredicate(pcols: Seq[String],
      touched: Seq[org.apache.spark.sql.Row]): Column =
    touched.map { r =>
      pcols.zipWithIndex.map { case (c, i) =>
        if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
      }.reduce(_ && _)
    }.reduce(_ || _)

  /** Stage `transformed` as an eager local checkpoint (bounded by the
    * TOUCHED partitions, never the table — the write below replaces the
    * very files the plan reads), run the pre-write safety checks, then
    * dynamic-partition-overwrite only the partitions present in the staged
    * data. Returns false — having written NOTHING — when a check shows the
    * statement's effects escape the touched set, so the caller can fall
    * back to the full-table path. A row-count mismatch aborts hard, same
    * as [[checkpointOverwrite]].
    *
    * Checks: (1) staged rows == expected; (2) every staged partition is in
    * the touched set — an out-of-set partition in the output would make
    * dynamic overwrite REPLACE an unread partition with only these rows;
    * (3) every `mustCoverParts` partition still has ≥1 staged row — a
    * partition whose rows all vanish is invisible to dynamic overwrite (no
    * rows written → its old files survive); only a full rewrite clears it. */
  private def partitionScopedOverwrite(spark: SparkSession, table: String,
      pcols: Seq[String], touched: Seq[org.apache.spark.sql.Row],
      transformed: DataFrame, expectedRows: Long,
      mustCoverParts: Option[Seq[org.apache.spark.sql.Row]]): Boolean = {
    val schema = spark.table(table).schema
    val staged = transformed
      .select(schema.map(f => col(f.name)).toSeq: _*).localCheckpoint(true)
    val stagedRows = staged.count()
    require(stagedRows == expectedRows,
      s"staged partition-scoped rewrite of $table has $stagedRows rows, " +
        s"expected $expectedRows — aborting before the destructive overwrite")
    val stagedParts = staged.select(pcols.map(col): _*).distinct().collect()
      .map(_.toSeq).toSet
    val touchedSet = touched.map(_.toSeq).toSet
    if (!stagedParts.subsetOf(touchedSet)) return false
    if (mustCoverParts.exists(p => !p.map(_.toSeq).toSet.subsetOf(stagedParts)))
      return false
    // The catalog insert path reads the overwrite mode from the SESSION
    // conf (the per-write option is only honored by path-based writes) —
    // set dynamic for the duration of this statement and restore.
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try staged.write.mode("overwrite").insertInto(table)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    true
  }

  private def tableExists(spark: SparkSession, t: String): Boolean =
    scala.util.Try(spark.catalog.tableExists(t)).getOrElse(false)

  // ---------------------------------------------------------------- DELETE

  private val DeleteHeadRe = "(?is)^\\s*delete\\s+from\\s+([\\w.`]+)\\s*".r

  final case class Delete(table: String, where: Option[String])
      extends Statement {
    def canHandle(spark: SparkSession): Boolean = tableExists(spark, table)
    def run(spark: SparkSession): Outcome = affected(runDelete(spark, this))
  }

  def parseDelete(sql: String): Option[Delete] = {
    val masked = maskNonTopLevel(sql)
    DeleteHeadRe.findFirstMatchIn(masked).map { m =>
      val end = bodyEnd(sql)
      val where = WhereRe.findFirstMatchIn(masked.substring(m.end, end))
        .map(w => sql.substring(m.end + w.end, end).trim)
      Delete(sql.substring(m.start(1), m.end(1)), where)
    }
  }

  /** DELETE FROM t [WHERE p] on a parquet catalog table: keep the
    * complement, checkpoint, overwrite. Returns the deleted-row count.
    *
    * On a partitioned table only the partitions holding deleted rows are
    * read and rewritten — unless a partition empties completely (dynamic
    * overwrite cannot clear a partition it writes no rows into), which
    * falls back to the full rewrite. */
  private def runDelete(spark: SparkSession, d: Delete): Long = {
    val df = spark.table(d.table)
    val cond = d.where.map(expr).getOrElse(lit(true))
    val pcols = partitionColsOf(spark, d.table)
    if (pcols.nonEmpty) {
      val touched = df.filter(cond).select(pcols.map(col): _*)
        .distinct().limit(MaxTouchedPartitions + 1).collect().toSeq
      if (touched.isEmpty) return 0L // nothing matched → nothing written
      if (touched.size <= MaxTouchedPartitions) {
        val pruned = df.filter(touchedPredicate(pcols, touched))
        val counts = pruned.agg(
          count(lit(1)), count(when(cond, lit(1)))).head()
        val (total, affected) = (counts.getLong(0), counts.getLong(1))
        val remaining = pruned.filter(coalesce(!cond, lit(true)))
        val ok = partitionScopedOverwrite(spark, d.table, pcols, touched,
          remaining, expectedRows = total - affected,
          mustCoverParts = Some(touched))
        if (ok) return affected
      }
    }
    val counts = df.agg(
      count(lit(1)), count(when(cond, lit(1)))).head()
    val (total, affected) = (counts.getLong(0), counts.getLong(1))
    // Rows with a NULL predicate are NOT deleted (SQL semantics): keep
    // everything whose condition is not strictly TRUE.
    val remaining = df.filter(coalesce(!cond, lit(true)))
    checkpointOverwrite(spark, d.table, df, remaining,
      expectedRows = total - affected)
    affected
  }

  // -------------------------------------------------------- IMPORT/EXPORT

  // Optional remote-loader base shared by every FILE lane (CSV/PARQUET/
  // FBV): `AT ('url'|connection) [USER 'u' IDENTIFIED BY 'p']` — three
  // capture groups per use (url literal, connection name, credential
  // clause; the last is captured only to be REFUSED with guidance).
  private val AtBaseRe =
    "(?:at\\s+(?:'([^']*)'|([\\w`]+))\\s+" +
      "((?:user\\s+'[^']*'\\s+identified\\s+by\\s+'[^']*'\\s+)?))?"

  private val ImportRe =
    ("(?is)^\\s*import\\s+into\\s+([\\w.`]+)\\s+from\\s+(?:local\\s+)?csv\\s+" +
      AtBaseRe +
      "((?:file\\s+'[^']*'\\s*)+)(.*?)\\s*;?\\s*$").r
  private val ExportRe =
    ("(?is)^\\s*export\\s+(?:([\\w.`]+)|\\((.*)\\))\\s+into\\s+(?:local\\s+)?csv\\s+" +
      AtBaseRe +
      "file\\s+'([^']*)'(.*?)\\s*;?\\s*$").r
  private val FileClauseRe = "(?is)file\\s+'([^']*)'".r
  private val SepOptRe = "(?is)column\\s+separator\\s*=\\s*'([^']*)'".r
  private val SkipOptRe = "(?is)skip\\s*=\\s*(\\d+)".r
  private val EncodingOptRe = "(?is)encoding\\s*=\\s*'([^']*)'".r
  private val NullOptRe = "(?is)\\bnull\\s*=\\s*'([^']*)'".r
  private val RowSepOptRe = "(?is)row\\s+separator\\s*=\\s*'([^']*)'".r
  private val RejectLimitRe = "(?is)reject\\s+limit\\s+(\\d+|unlimited)".r
  private val ErrorsIntoRe = "(?is)errors\\s+into\\s+([\\w.`]+)".r
  private val ReplaceOptRe = "(?is)\\breplace\\b".r
  private val WithColNamesRe = "(?is)with\\s+column\\s+names".r

  final case class CsvImport(table: String, paths: Seq[String], sep: String,
      skip: Int, encoding: String, nullValue: Option[String],
      rowSep: Option[String], rejectLimit: Option[Long],
      errorsInto: Option[String] = None) extends Statement {
    def canHandle(spark: SparkSession): Boolean = tableExists(spark, table)
    def run(spark: SparkSession): Outcome = runImport(spark, this)
    /** SKIP = 1 is the header-row case — let the CSV reader consume it. */
    def header: Boolean = skip == 1
    def path: String = paths.head
    /** `ROW SEPARATOR = 'LF'|'CR'|'CRLF'` → a reader line separator. CRLF
      * maps to None: the CSV reader's default line splitting already
      * accepts \r\n (its explicit lineSep option is single-char). */
    def lineSep: Option[String] = rowSep.map(_.toUpperCase) match {
      case Some("LF") => Some("\n")
      case Some("CR") => Some("\r")
      case Some("CRLF") | None => None
      case Some(other) =>
        throw new IllegalArgumentException(s"ROW SEPARATOR '$other' not supported")
    }
  }
  final case class CsvExport(source: Either[String, String], path: String,
      sep: String, replace: Boolean,
      withColumnNames: Boolean) // Left = table name, Right = subquery text
      extends Statement {
    def canHandle(spark: SparkSession): Boolean = sourceExists(spark, source)
    /** Header only WITH COLUMN NAMES; an existing target path fails
      * unless REPLACE (both the host engine's file-export semantics). */
    def run(spark: SparkSession): Outcome = exportRows(spark, source)(
      _.mode(if (replace) "overwrite" else "errorifexists")
        .option("header", withColumnNames.toString)
        .option("sep", sep).csv(path))
  }

  /** Exasol `IMPORT INTO t FROM [LOCAL] CSV FILE 'path' [FILE 'path2' …]
    * [COLUMN SEPARATOR = ','] [SKIP = n] [ENCODING = '…'] [NULL = '…']
    * [ROW SEPARATOR = 'LF'|'CR'|'CRLF'] [REJECT LIMIT n|UNLIMITED]`.
    * SKIP = 1 maps to a header row (the overwhelmingly common case);
    * SKIP > 1 drops the first n physical lines before parsing (single-file
    * statements only). Without a REJECT LIMIT clause malformed rows go to
    * the quarantine lane uncapped (deliberate divergence from the host
    * engine's abort-on-first-error default — quarantine is this engine's
    * data-quality lane); with one, more than n malformed rows fail the
    * statement like the host engine. */
  def parseImport(sql: String): Option[CsvImport] =
    ImportRe.findFirstMatchIn(maskOptions(sql)).map { m =>
      val base = resolveFileBase(sql, m, urlGroup = 2, connGroup = 3,
        credsGroup = 4)
      val files = sql.substring(m.start(5), m.end(5))
      val opts = sql.substring(m.start(6), m.end(6))
      val skip = SkipOptRe.findFirstMatchIn(opts).map(_.group(1).toInt).getOrElse(0)
      CsvImport(sql.substring(m.start(1), m.end(1)),
        FileClauseRe.findAllMatchIn(files).map(_.group(1))
          .map(joinFileBase(base, _)).toSeq,
        SepOptRe.findFirstMatchIn(opts).map(_.group(1)).getOrElse(","),
        skip = skip,
        encoding = EncodingOptRe.findFirstMatchIn(opts).map(_.group(1))
          .getOrElse("UTF-8"),
        nullValue = NullOptRe.findFirstMatchIn(opts).map(_.group(1)),
        rowSep = RowSepOptRe.findFirstMatchIn(opts).map(_.group(1)),
        rejectLimit = RejectLimitRe.findFirstMatchIn(opts).flatMap { r =>
          if (r.group(1).equalsIgnoreCase("unlimited")) None
          else Some(r.group(1).toLong)
        },
        errorsInto = ErrorsIntoRe.findFirstMatchIn(opts).map(_.group(1)))
    }

  /** Exasol `EXPORT t INTO [LOCAL] CSV FILE 'path' [REPLACE]
    * [COLUMN SEPARATOR …] [WITH COLUMN NAMES]` — `t` is a table name or a
    * parenthesized query (`EXPORT (SELECT …)`). The path is written as a
    * directory of part files (the distributed shape); an existing path
    * fails the statement unless REPLACE is given, and the header row is
    * written only WITH COLUMN NAMES — both host-engine semantics. */
  def parseExport(sql: String): Option[CsvExport] =
    ExportRe.findFirstMatchIn(maskOptions(sql)).map { m =>
      val base = resolveFileBase(sql, m, urlGroup = 3, connGroup = 4,
        credsGroup = 5)
      val opts = sql.substring(m.start(7), m.end(7))
      val source =
        if (m.group(1) != null) Left(sql.substring(m.start(1), m.end(1)))
        else Right(sql.substring(m.start(2), m.end(2)).trim)
      CsvExport(source,
        joinFileBase(base, sql.substring(m.start(6), m.end(6))),
        SepOptRe.findFirstMatchIn(opts).map(_.group(1)).getOrElse(","),
        replace = ReplaceOptRe.findFirstIn(opts).isDefined,
        withColumnNames = WithColNamesRe.findFirstIn(opts).isDefined)
    }

  /** Exasol's remote-file loader form `… CSV AT ('url'|conn) FILE 'rel' …`:
    * the AT base is a URL literal or a named CONNECTION, and FILE paths are
    * relative to it. Hadoop-compatible bases (file:, hdfs:, s3a:, …) pass
    * straight through to the filesystem layer; the host engine's own
    * http(s)/ftp remote-file protocol has no Hadoop filesystem here — in a
    * Spark deployment object storage IS the remote-file lane — so those
    * schemes are refused with that guidance instead of a misleading
    * path-not-found. Returns None when the statement has no AT clause. */
  private def resolveFileBase(sql: String, m: scala.util.matching.Regex.Match,
      urlGroup: Int, connGroup: Int, credsGroup: Int): Option[String] = {
    // Exasol's remote loader authenticates with the AT credentials; the
    // Hadoop filesystem layer authenticates via cluster configuration
    // instead. Applying neither silently would read/write as the WRONG
    // principal, so credentialed statements are refused with that
    // guidance (inline USER clause and credential-carrying connections
    // alike) rather than half-honored.
    def refuseCreds(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"IMPORT/EXPORT … AT: $what — the file lanes resolve through the " +
          "Hadoop filesystem layer, which takes credentials from the " +
          "cluster/Hadoop configuration (e.g. s3a key settings), not from " +
          "the statement; remove the credentials or configure the " +
          "filesystem, or use the JDBC lane for credentialed endpoints")
    if (m.group(credsGroup) != null && m.group(credsGroup).nonEmpty)
      refuseCreds("a USER … IDENTIFIED BY clause is not applied here")
    val url =
      if (m.group(urlGroup) != null)
        Some(sql.substring(m.start(urlGroup), m.end(urlGroup)))
      else if (m.group(connGroup) != null) {
        val name = sql.substring(m.start(connGroup), m.end(connGroup))
        val c = lookupConnection(name).getOrElse(
          throw new IllegalArgumentException(
            s"connection ${name.replace("`", "").toUpperCase} does not exist"))
        if (c.user.isDefined || c.password.isDefined)
          refuseCreds(s"connection ${name.replace("`", "").toUpperCase} " +
            "carries credentials that would not be applied here")
        Some(c.url)
      } else None
    url.foreach { u =>
      val scheme = u.takeWhile(_ != ':').toLowerCase
      if (Set("http", "https", "ftp", "ftps", "sftp").contains(scheme))
        throw new UnsupportedOperationException(
          s"IMPORT/EXPORT … AT '$u': the $scheme remote-file protocol is " +
            "not available in this engine — stage the files on a " +
            "Hadoop-compatible filesystem (file:, hdfs:, s3a:, …) or use " +
            "the JDBC lane")
    }
    url
  }

  /** FILE path against an optional AT base: `base/rel` (one separator). */
  private def joinFileBase(base: Option[String], rel: String): String =
    base.map(b => b.stripSuffix("/") + "/" + rel.stripPrefix("/"))
      .getOrElse(rel)

  // For IMPORT/EXPORT heads the quoted file path must stay visible to the
  // regex, so mask only comments + depth>0 — not string literals. String
  // and quoted-identifier tokens pass through WITHOUT paren counting: a
  // '(' or ')' inside a literal (subquery text, a path) is data, not
  // nesting.
  private def maskOptions(sql: String): String = {
    val sb = new StringBuilder(sql.length)
    var depth = 0
    SqlTokens.tokenize(sql).foreach {
      case SqlTokens.Token(SqlTokens.Comment, text) =>
        (0 until text.length).foreach(_ => sb += ' ')
      case SqlTokens.Token(SqlTokens.Str | SqlTokens.QuotedIdent, text) =>
        if (depth == 0) sb ++= text
        else (0 until text.length).foreach(_ => sb += ' ')
      case t =>
        t.text.foreach {
          case '(' => sb += (if (depth == 0) '(' else ' '); depth += 1
          case ')' => depth -= 1; sb += (if (depth == 0) ')' else ' ')
          case c => sb += (if (depth == 0) c else ' ')
        }
    }
    sb.result()
  }

  /** Whether an EXPORT source — a table name, or a query — resolves. */
  private def sourceExists(spark: SparkSession,
      source: Either[String, String]): Boolean = source match {
    case Left(table) => tableExists(spark, table)
    case Right(query) =>
      // Accept only a pure query — `spark.sql` on a COMMAND would EXECUTE
      // it eagerly right here in the dispatch guard (ADVICE r3/r4: double
      // execution of a side-effecting EXPORT source; a SELECT/WITH prefix
      // check alone still let `WITH x AS (…) INSERT …` through). Parse
      // first and reject any plan containing a command node anywhere; only
      // then run `spark.sql`, which for a pure query is analysis-only
      // (lazy) and validates resolution without running anything.
      isPureQuery(spark, query)
  }

  /** Count an EXPORT source, then hand its writer to `write` (the CSV,
    * PARQUET and JDBC lanes differ only there); rows_affected is the
    * exported row count. */
  private def exportRows(spark: SparkSession, source: Either[String, String])(
      write: DataFrameWriter[Row] => Unit): Outcome = {
    val df = source.fold(spark.table, spark.sql)
    val n = df.count()
    write(df.write)
    affected(n)
  }

  /** True iff `sql` parses to a plan with no command node anywhere AND
    * analyzes successfully. Safe to call in a dispatch guard: for a pure
    * query `spark.sql` is analysis-only (lazy), and command-like plans are
    * rejected BEFORE `spark.sql` could eagerly execute them. */
  private def isPureQuery(spark: SparkSession, sql: String): Boolean =
    scala.util.Try {
      import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement}
      import org.apache.spark.sql.catalyst.plans.logical.ParsedStatement
      val plan = spark.sessionState.sqlParser.parsePlan(sql)
      val commandLike = plan.find {
        case _: Command => true
        case _: InsertIntoStatement => true
        case _: ParsedStatement => true
        case _ => false
      }.isDefined
      !commandLike && scala.util.Try(spark.sql(sql)).isSuccess
    }.getOrElse(false)

  /** Append the CSV files' schema-conforming rows to the table; malformed
    * rows quarantine (logged by the caller via the returned counts), except
    * past an explicit REJECT LIMIT, where the statement fails before any
    * write. */
  private def runImport(spark: SparkSession, i: CsvImport): Outcome = {
    val schema = spark.table(i.table).schema
    val res =
      if (i.skip > 1) {
        require(i.paths.length == 1,
          s"IMPORT SKIP > 1 takes a single FILE clause, got ${i.paths.length}")
        graft.sources.Ingest.csvSkippingLines(spark, i.path, schema,
          skipLines = i.skip, sep = i.sep, nullValue = i.nullValue)
      } else graft.sources.Ingest.csvFiles(
        spark, i.paths, schema, header = i.header, sep = i.sep,
        encoding = i.encoding, nullValue = i.nullValue, lineSep = i.lineSep)
    try {
      val loaded = res.good.count()
      val bad = res.quarantined.count()
      i.rejectLimit.foreach { cap =>
        require(bad <= cap,
          s"IMPORT: $bad malformed row(s) exceed REJECT LIMIT $cap")
      }
      // Exasol `ERRORS INTO t`: rejected raw lines land in an errors
      // table instead of (only) the in-memory quarantine lane. The table
      // is created on first use, host-engine style.
      i.errorsInto.foreach { et =>
        spark.sql(s"CREATE TABLE IF NOT EXISTS $et " +
          "(raw_record STRING) USING parquet")
        if (bad > 0)
          res.quarantined.write.mode("append").insertInto(et)
      }
      res.good.write.mode("append").insertInto(i.table)
      Outcome(None, Some(loaded), bad)
    } finally res.unpersist()
  }

  // --- FBV: Exasol's fixed-byte-value file format (one SIZE=n element per
  // target column, fields space-padded). The reference's host engine
  // accepts it through the same QW:40 pass-through as CSV IMPORT.

  private val FbvImportRe =
    ("(?is)^\\s*import\\s+into\\s+([\\w.`]+)\\s+from\\s+(?:local\\s+)?fbv\\s+" +
      AtBaseRe +
      "file\\s+'([^']*)'\\s*\\(([^)]*)\\)(.*?)\\s*;?\\s*$").r
  private val FbvSizeRe = "(?is)size\\s*=\\s*(\\d+)".r

  final case class FbvImport(table: String, path: String, sizes: Seq[Int],
      rejectLimit: Option[Long]) extends Statement {
    def canHandle(spark: SparkSession): Boolean = tableExists(spark, table) &&
      sizes.length == spark.table(table).schema.length
    def run(spark: SparkSession): Outcome = runFbvImport(spark, this)
  }

  /** `IMPORT INTO t FROM [LOCAL] FBV FILE 'path' (SIZE=n, SIZE=m, …)
    * [REJECT LIMIT …]` — one SIZE per target column, in order. */
  def parseFbvImport(sql: String): Option[FbvImport] =
    FbvImportRe.findFirstMatchIn(maskOptions(sql)).flatMap { m =>
      val base = resolveFileBase(sql, m, urlGroup = 2, connGroup = 3,
        credsGroup = 4)
      val sizes = FbvSizeRe.findAllMatchIn(sql.substring(m.start(6), m.end(6)))
        .map(_.group(1).toInt).toSeq
      val opts = sql.substring(m.start(7), m.end(7))
      if (sizes.isEmpty) None
      else Some(FbvImport(sql.substring(m.start(1), m.end(1)),
        joinFileBase(base, sql.substring(m.start(5), m.end(5))), sizes,
        RejectLimitRe.findFirstMatchIn(opts).flatMap { r =>
          if (r.group(1).equalsIgnoreCase("unlimited")) None
          else Some(r.group(1).toLong)
        }))
    }

  /** Fixed-width ingest with the same quarantine lane as CSV: a line of
    * the wrong total length, or a non-blank field that fails its column's
    * cast, quarantines the raw line (or fails the statement past an
    * explicit REJECT LIMIT). Blank (all-space) fields are NULL. Pure
    * line-parallel projection — splits scale like any text scan. */
  private def runFbvImport(spark: SparkSession, f: FbvImport): Outcome = {
    val schema = spark.table(f.table).schema
    val offsets = f.sizes.scanLeft(1)(_ + _) // substring() is 1-based
    val total = f.sizes.sum
    val raw = spark.read.text(f.path)
    val fields = schema.zip(f.sizes.indices).map { case (fld, i) =>
      val str = trim(substring(col("value"), offsets(i), f.sizes(i)))
      val nonBlank = when(length(str) > 0, str) // all-space field → NULL
      // try_cast: NULL on malformed (ANSI cast would fail the whole scan);
      // the bad-row predicate turns that NULL into a quarantine instead.
      (nonBlank.try_cast(fld.dataType).as(fld.name),
        nonBlank.isNotNull && nonBlank.try_cast(fld.dataType).isNull)
    }
    val lenBad = length(col("value")) =!= lit(total)
    val bad = (lenBad +: fields.map(_._2)).reduce(_ || _)
    val parsed = raw.withColumn("__bad", bad).cache()
    try {
      val good = parsed.filter(!col("__bad"))
        .select(fields.map(_._1): _*)
      val quarantined = parsed.filter(col("__bad"))
        .select(col("value").as("raw_record"))
      val loaded = good.count()
      val nBad = quarantined.count()
      f.rejectLimit.foreach { cap =>
        require(nBad <= cap,
          s"IMPORT: $nBad malformed row(s) exceed REJECT LIMIT $cap")
      }
      good.write.mode("append").insertInto(f.table)
      Outcome(None, Some(loaded), nBad)
    } finally { parsed.unpersist(); () }
  }

  // ---------------------------------------------- IMPORT/EXPORT via PARQUET
  // The columnar sibling of the CSV lane, same statement grammar:
  // `IMPORT INTO t FROM [LOCAL] PARQUET FILE 'p' [FILE 'p2' …]` /
  // `EXPORT (t|(query)) INTO [LOCAL] PARQUET FILE 'p' [REPLACE]`.
  // Parquet is typed, so there is no malformed-row quarantine or REJECT
  // LIMIT; columns align BY NAME with a cast to the target type (loader
  // semantics — a missing target column fails analysis, extra source
  // columns are dropped).

  private val ParquetImportRe =
    ("(?is)^\\s*import\\s+into\\s+([\\w.`]+)\\s+from\\s+(?:local\\s+)?" +
      "parquet\\s+" + AtBaseRe +
      "((?:file\\s+'[^']*'\\s*)+)\\s*;?\\s*$").r
  private val ParquetExportRe =
    ("(?is)^\\s*export\\s+(?:([\\w.`]+)|\\((.*)\\))\\s+into\\s+" +
      "(?:local\\s+)?parquet\\s+" + AtBaseRe +
      "file\\s+'([^']*)'(.*?)\\s*;?\\s*$").r

  final case class ParquetImport(table: String, paths: Seq[String])
      extends Statement {
    def canHandle(spark: SparkSession): Boolean = tableExists(spark, table)
    def run(spark: SparkSession): Outcome = runParquetImport(spark, this)
  }
  final case class ParquetExport(source: Either[String, String],
      path: String, replace: Boolean) extends Statement {
    def canHandle(spark: SparkSession): Boolean = sourceExists(spark, source)
    def run(spark: SparkSession): Outcome = exportRows(spark, source)(
      _.mode(if (replace) "overwrite" else "errorifexists").parquet(path))
  }

  def parseParquetImport(sql: String): Option[ParquetImport] =
    ParquetImportRe.findFirstMatchIn(maskOptions(sql)).map { m =>
      val base = resolveFileBase(sql, m, urlGroup = 2, connGroup = 3,
        credsGroup = 4)
      val files = sql.substring(m.start(5), m.end(5))
      ParquetImport(sql.substring(m.start(1), m.end(1)),
        FileClauseRe.findAllMatchIn(files).map(_.group(1))
          .map(joinFileBase(base, _)).toSeq)
    }

  def parseParquetExport(sql: String): Option[ParquetExport] =
    ParquetExportRe.findFirstMatchIn(maskOptions(sql)).map { m =>
      val base = resolveFileBase(sql, m, urlGroup = 3, connGroup = 4,
        credsGroup = 5)
      val opts = sql.substring(m.start(7), m.end(7))
      val source =
        if (m.group(1) != null) Left(sql.substring(m.start(1), m.end(1)))
        else Right(sql.substring(m.start(2), m.end(2)).trim)
      ParquetExport(source,
        joinFileBase(base, sql.substring(m.start(6), m.end(6))),
        replace = ReplaceOptRe.findFirstIn(opts).isDefined)
    }

  private def runParquetImport(spark: SparkSession, i: ParquetImport): Outcome = {
    val target = spark.table(i.table).schema
    val src = spark.read.parquet(i.paths: _*)
    val aligned = src.select(target.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val n = aligned.count()
    aligned.write.mode("append").insertInto(i.table)
    affected(n)
  }

  // ------------------------------------------------- IMPORT/EXPORT via JDBC
  //
  // Exasol's loader speaks to external databases through the same IMPORT/
  // EXPORT statements it uses for files (the reference's QW:40 pass-through
  // forwards them verbatim): `IMPORT INTO t FROM JDBC AT <conn> TABLE s` /
  // `EXPORT t INTO JDBC AT <conn> TABLE s`, where <conn> is an inline
  // 'jdbc:…' URL or a named connection created with `CREATE CONNECTION c TO
  // 'url' USER 'u' IDENTIFIED BY 'p'`. Re-expressed Spark-first as
  // spark.read.jdbc / df.write.jdbc.
  //
  // Scale notes (100 TB discipline): a single-source JDBC read is inherently
  // one cursor → Exasol's own parallel form is MULTIPLE `STATEMENT` clauses,
  // one cursor each; we honor that — each STATEMENT becomes its own JDBC
  // partition (`predicates`-style union), so `STATEMENT 'q WHERE id%4=0'
  // STATEMENT 'q WHERE id%4=1' …` fans out exactly like the host loader.
  // The external database, not Spark, is the bottleneck by design here.

  /** Named-connection registry (CREATE/DROP CONNECTION). Driver-side state,
    * like the host engine's catalog object; never serialized to executors
    * (spark.read.jdbc ships url/properties itself). */
  final case class Connection(url: String, user: Option[String],
      password: Option[String])
  private val connections =
    new java.util.concurrent.ConcurrentHashMap[String, Connection]()

  private val CreateConnRe =
    ("(?is)^\\s*create\\s+(or\\s+replace\\s+)?connection\\s+([\\w`]+)\\s+to\\s+'([^']*)'" +
      "(?:\\s+user\\s+'([^']*)'\\s+identified\\s+by\\s+'([^']*)')?\\s*;?\\s*$").r
  private val DropConnRe =
    "(?is)^\\s*drop\\s+connection\\s+(if\\s+exists\\s+)?([\\w`]+)\\s*;?\\s*$".r

  /** `CREATE [OR REPLACE] CONNECTION c TO 'url' [USER 'u' IDENTIFIED BY 'p']`
    * / `DROP CONNECTION [IF EXISTS] c`. Returns true if the statement was a
    * connection DDL (handled here). With a [[DurableCatalog]] the object
    * also writes through to the warehouse `connections` table (the host
    * engine's durable-catalog model — VERDICT r11 #3); without one
    * (in-memory wrapper, direct calls) it stays session-scoped. */
  def handleConnectionDdl(sql: String,
      catalog: Option[DurableCatalog] = None): Boolean = sql match {
    case CreateConnRe(orReplace, name, url, user, pass) =>
      val key = name.replace("`", "").toUpperCase
      if (orReplace == null && connections.containsKey(key))
        throw new IllegalArgumentException(s"connection $key already exists")
      connections.put(key, Connection(url, Option(user), Option(pass)))
      catalog.foreach(_.saveConnection(key, url, Option(user), Option(pass)))
      true
    case DropConnRe(ifExists, name) =>
      val key = name.replace("`", "").toUpperCase
      val removedMem = connections.remove(key) != null
      // Always offer the drop to the store (it no-ops on a never-created
      // table): a row the in-memory registry never saw — dropped there by
      // a no-catalog wrapper in this JVM, or a failed hydration — must
      // still be droppable, or it resurrects at the next restart.
      val removedStore = catalog.exists(_.dropConnection(key))
      if (!removedMem && !removedStore && ifExists == null)
        throw new IllegalArgumentException(s"connection $key does not exist")
      true
    case _ => false
  }

  private[wrapper] def lookupConnection(name: String): Option[Connection] =
    Option(connections.get(name.replace("`", "").toUpperCase))

  /** Registry write for [[DurableCatalog.rehydrate]] — bypasses the DDL
    * parse (the stored row already carries the parsed fields). */
  private[wrapper] def registerConnection(name: String, c: Connection): Unit = {
    connections.put(name.replace("`", "").toUpperCase, c); ()
  }

  /** Memory-ONLY registry removal — session-restart simulation in specs
    * (the durable row survives, so rehydrate restores it). DROP
    * CONNECTION is the real removal path. */
  private[wrapper] def forgetConnection(name: String): Unit = {
    connections.remove(name.replace("`", "").toUpperCase); ()
  }

  // EXA and ORA loader forms (Exasol's native-driver lanes) are accepted as
  // aliases of the JDBC grammar: in this engine all three resolve through
  // the same spark.read/write.jdbc path, with the AT connection supplying a
  // JDBC url (for EXA/ORA that is the vendor's JDBC endpoint).
  private val JdbcImportRe =
    ("(?is)^\\s*import\\s+into\\s+([\\w.`]+)\\s+from\\s+(?:jdbc|exa|ora)\\s+at\\s+" +
      "(?:'([^']*)'|([\\w`]+))(.*?)\\s*;?\\s*$").r
  private val JdbcExportRe =
    ("(?is)^\\s*export\\s+(?:([\\w.`]+)|\\((.*)\\))\\s+into\\s+(?:jdbc|exa|ora)\\s+at\\s+" +
      "(?:'([^']*)'|([\\w`]+))(.*?)\\s*;?\\s*$").r
  private val UserOptRe = "(?is)\\buser\\s+'([^']*)'".r
  private val PasswordOptRe = "(?is)identified\\s+by\\s+'([^']*)'".r
  private val DriverOptRe = "(?is)\\bdriver\\s*=\\s*'([^']*)'".r
  private val TableClauseRe = "(?is)\\btable\\s+([\\w.`]+)".r
  private val StatementClauseRe = "(?is)\\bstatement\\s+'((?:[^']|'')*)'".r
  private val TruncateOptRe = "(?is)\\btruncate\\b".r

  /** Endpoint shared by JDBC import and export: resolved url + credentials
    * (+ optional explicit driver class). */
  final case class JdbcEndpoint(url: String, user: Option[String],
      password: Option[String], driver: Option[String]) {
    def properties: java.util.Properties = {
      val p = new java.util.Properties()
      user.foreach(p.setProperty("user", _))
      password.foreach(p.setProperty("password", _))
      driver.foreach(p.setProperty("driver", _))
      p
    }
  }
  final case class JdbcImport(table: String, at: JdbcEndpoint,
      source: Either[String, Seq[String]], // Left = remote table, Right = STATEMENTs
      rejectLimit: Option[Long] = None, errorsInto: Option[String] = None)
      extends Statement {
    def canHandle(spark: SparkSession): Boolean = tableExists(spark, table)
    def run(spark: SparkSession): Outcome = runJdbcImport(spark, this)
  }
  final case class JdbcExport(source: Either[String, String], // table | query
      at: JdbcEndpoint, target: String, replace: Boolean, truncate: Boolean)
      extends Statement {
    def canHandle(spark: SparkSession): Boolean = sourceExists(spark, source)
    def run(spark: SparkSession): Outcome = exportRows(spark, source)(
      _.mode(if (replace || truncate) "overwrite" else "append")
        .option("truncate", truncate.toString) // TRUNCATE keeps remote DDL
        .jdbc(at.url, target, at.properties))
  }

  private def endpoint(urlLit: String, connName: String, opts: String):
      Option[JdbcEndpoint] = {
    val base =
      if (urlLit != null) Some(Connection(urlLit, None, None))
      else lookupConnection(connName)
    base.map { c =>
      JdbcEndpoint(c.url,
        UserOptRe.findFirstMatchIn(opts).map(_.group(1)).orElse(c.user),
        PasswordOptRe.findFirstMatchIn(opts).map(_.group(1)).orElse(c.password),
        DriverOptRe.findFirstMatchIn(opts).map(_.group(1)))
    }
  }

  /** `IMPORT INTO t FROM JDBC AT ('url'|conn) [USER 'u' IDENTIFIED BY 'p']
    * [DRIVER = 'class'] (TABLE s | STATEMENT 'q' [STATEMENT 'q2' …])` —
    * each STATEMENT clause is an independent cursor, loaded as its own
    * partition (the host loader's parallel form). */
  def parseJdbcImport(sql: String): Option[JdbcImport] =
    JdbcImportRe.findFirstMatchIn(sql).flatMap { m =>
      val opts = m.group(4)
      val stmts = StatementClauseRe.findAllMatchIn(opts)
        .map(_.group(1).replace("''", "'")).toSeq
      // Every OTHER option regex runs with the STATEMENT literals blanked
      // out: a remote query containing "reject limit 0" / "errors into x"
      // / "table y" as TEXT must not be read as a loader clause (review
      // r10 finding). USER/IDENTIFIED BY literals live outside STATEMENT
      // clauses, so they survive the blanking.
      val sb = new StringBuilder(opts)
      StatementClauseRe.findAllMatchIn(opts).foreach { sm =>
        (sm.start until sm.end).foreach(i => sb.setCharAt(i, ' '))
      }
      val optsNoStmt = sb.toString
      endpoint(m.group(2), m.group(3), optsNoStmt).flatMap { ep =>
        val tbl = TableClauseRe.findFirstMatchIn(optsNoStmt).map(_.group(1))
        val reject = RejectLimitRe.findFirstMatchIn(optsNoStmt).flatMap { r =>
          if (r.group(1).equalsIgnoreCase("unlimited")) None
          else Some(r.group(1).toLong)
        }
        val errs = ErrorsIntoRe.findFirstMatchIn(optsNoStmt).map(_.group(1))
        (tbl, stmts) match {
          case (Some(t), Seq()) =>
            Some(JdbcImport(m.group(1), ep, Left(t), reject, errs))
          case (None, s) if s.nonEmpty =>
            Some(JdbcImport(m.group(1), ep, Right(s), reject, errs))
          case _ => None
        }
      }
    }

  /** `EXPORT (t|(query)) INTO JDBC AT ('url'|conn) [USER … IDENTIFIED BY …]
    * [DRIVER = '…'] TABLE s [REPLACE|TRUNCATE]`. REPLACE drops+recreates the
    * remote table (overwrite), TRUNCATE empties it keeping DDL. */
  def parseJdbcExport(sql: String): Option[JdbcExport] =
    JdbcExportRe.findFirstMatchIn(maskOptions(sql)).flatMap { m =>
      val opts = sql.substring(m.start(5), m.end(5))
      endpoint(
        if (m.group(3) != null) sql.substring(m.start(3), m.end(3)) else null,
        if (m.group(4) != null) sql.substring(m.start(4), m.end(4)) else null,
        opts).flatMap { ep =>
        TableClauseRe.findFirstMatchIn(opts).map { t =>
          val source =
            if (m.group(1) != null) Left(sql.substring(m.start(1), m.end(1)))
            else Right(sql.substring(m.start(2), m.end(2)).trim)
          JdbcExport(source, ep, t.group(1),
            replace = ReplaceOptRe.findFirstIn(opts).isDefined,
            truncate = TruncateOptRe.findFirstIn(opts).isDefined)
        }
      }
    }

  /** Append the remote rows to the local table. Columns map by POSITION with
    * a cast to the target type — the host loader's rule. Multiple STATEMENT
    * cursors read concurrently (one jdbc partition each) and union.
    *
    * Same quarantine lane as the CSV loader (r9 verdict #4): a row whose
    * non-NULL source value fails its target-type cast quarantines (the
    * whole source row JSON-serialized as `raw_record`) instead of failing
    * the scan under ANSI cast; an explicit `REJECT LIMIT n` fails the
    * statement BEFORE any write once exceeded, and `ERRORS INTO t` lands
    * the quarantined rows in an errors table created on first use. */
  private def runJdbcImport(spark: SparkSession, i: JdbcImport): Outcome = {
    val target = spark.table(i.table).schema
    val df = i.source match {
      case Left(remote) =>
        spark.read.jdbc(i.at.url, remote, i.at.properties)
      case Right(stmts) =>
        stmts.map { q =>
          // no leading underscore: some engines (Derby) reject `_x` idents
          spark.read.jdbc(i.at.url, s"($q) graft_src", i.at.properties)
        }.reduce(_ unionAll _)
    }
    require(df.schema.length == target.length,
      s"IMPORT JDBC: source has ${df.schema.length} column(s), " +
        s"target ${i.table} has ${target.length}")
    val pairs = df.columns.zip(target).map { case (c, f) =>
      val src = col(Params.quote(c))
      // try_cast: NULL on a malformed value (ANSI cast would fail the
      // whole scan); the bad-row predicate turns that NULL into a
      // quarantine instead — the FBV lane's rule.
      (src.try_cast(f.dataType).as(f.name),
        src.isNotNull && src.try_cast(f.dataType).isNull)
    }
    val parsed = df
      .withColumn("__bad", pairs.map(_._2).reduce(_ || _))
      // persist before count+write: the source is an EXTERNAL database —
      // without it each action would open fresh remote cursors.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val good = parsed.filter(!col("__bad")).select(pairs.map(_._1): _*)
      val quarantined = parsed.filter(col("__bad"))
        .select(to_json(struct(df.columns.map(c =>
          col(Params.quote(c))): _*)).as("raw_record"))
      val loaded = good.count()
      val bad = quarantined.count()
      i.rejectLimit.foreach { cap =>
        require(bad <= cap,
          s"IMPORT: $bad malformed row(s) exceed REJECT LIMIT $cap")
      }
      i.errorsInto.foreach { et =>
        spark.sql(s"CREATE TABLE IF NOT EXISTS $et " +
          "(raw_record STRING) USING parquet")
        if (bad > 0)
          quarantined.write.mode("append").insertInto(et)
      }
      good.write.mode("append").insertInto(i.table)
      Outcome(None, Some(loaded), bad)
    } finally { parsed.unpersist(); () }
  }

  // -------------------------------------------------------- EXECUTE SCRIPT

  private val ExecScriptRe =
    "(?is)^\\s*execute\\s+script\\s+([\\w.`]+)\\s*(?:\\((.*)\\))?\\s*;?\\s*$".r

  final case class ExecScript(name: String, rawArgs: Seq[String]) {
    /** Bind the statement's literal arguments. Deliberately NOT called
      * during parse: the dispatch guard must stay side-effect- and
      * throw-free so an unregistered name (whatever its argument text)
      * falls through to `spark.sql`'s host-style error (review r10
      * finding); a REGISTERED script with a malformed literal raises
      * the clear unsupported-literal error through the wrapper's normal
      * query-failure path instead. */
    def args: Seq[Any] = rawArgs.map(SqlCompat.parseScriptArg)
  }

  /** `EXECUTE SCRIPT name[(arg, …)]` (reference RM:35–37, 69; QW:22) —
    * args are SQL literals: 'string' (with `''` escape), integer,
    * decimal, TRUE/FALSE, NULL. Dispatches against [[ScriptRegistry]];
    * an unregistered name does NOT parse as this dialect statement (it
    * falls through to `spark.sql`, which raises the host-style parse
    * error). */
  def parseExecuteScript(sql: String): Option[ExecScript] =
    ExecScriptRe.findFirstMatchIn(maskOptions(sql)).map { m =>
      val name = sql.substring(m.start(1), m.end(1))
      val raw =
        if (m.group(2) == null) Seq.empty[String]
        else splitTopLevel(sql.substring(m.start(2), m.end(2)))
      ExecScript(name, raw)
    }

  /** The registered script an `EXECUTE SCRIPT` statement calls, if any. */
  private[wrapper] def scriptCall(sql: String)
      : Option[(ExecScript, ScriptRegistry.Script)] =
    parseExecuteScript(sql).flatMap(e =>
      ScriptRegistry.lookup(e.name).map(e -> _))

  private def parseScriptArg(raw: String): Any = {
    val t = raw.trim
    if (t.equalsIgnoreCase("null")) null
    else if (t.equalsIgnoreCase("true")) true
    else if (t.equalsIgnoreCase("false")) false
    else if (t.length >= 2 && t.startsWith("'") && t.endsWith("'"))
      t.substring(1, t.length - 1).replace("''", "'")
    else if (t.matches("[+-]?\\d+")) t.toLong
    else if (t.matches("[+-]?(\\d*\\.\\d+|\\d+\\.\\d*)([eE][+-]?\\d+)?"))
      t.toDouble
    else throw new IllegalArgumentException(
      s"EXECUTE SCRIPT: unsupported argument literal: $t")
  }

  // ----------------------------------------------- CREATE/DROP SCRIPT DDL

  private val CreateScriptRe =
    ("(?is)^\\s*create\\s+(or\\s+replace\\s+)?(lua\\s+)?script\\s+" +
      "([\\w.`]+)\\s*(\\(([^)]*)\\))?\\s*" +
      "(?:returns\\s+(table|rowcount)\\s+)?as\\b").r
  private val DropScriptRe =
    "(?is)^\\s*drop\\s+script\\s+(if\\s+exists\\s+)?([\\w.`]+)\\s*;?\\s*$".r

  final case class CreateScript(name: String, replace: Boolean, lua: Boolean,
      params: Seq[String], returns: Option[String], body: String)

  /** `CREATE [OR REPLACE] [LUA] SCRIPT name [(p, …)] [RETURNS TABLE|
    * ROWCOUNT] AS <body> [/]` — the DDL the reference itself is installed
    * with (query_wrapper.sql:22, README.md:28–37). Header keywords are
    * located on the masked text; name/params/body slice from the ORIGINAL
    * at matched offsets, so literals inside the body can't confuse the
    * header regex. The optional EXAplus `/` terminator line is stripped. */
  def parseCreateScript(sql: String): Option[CreateScript] = {
    val masked = maskNonTopLevel(sql)
    CreateScriptRe.findFirstMatchIn(masked).map { m =>
      val name = sql.substring(m.start(3), m.end(3))
      val params =
        if (m.group(4) == null) Seq.empty[String]
        else splitTopLevel(sql.substring(m.start(5), m.end(5)))
          .map(_.trim).filter(_.nonEmpty)
      val body = sql.substring(m.end)
        .replaceFirst("(?s)[\\s;]*$", "") // rstrip + trailing ';'
        .replaceFirst("(?s)\\n\\s*/\\s*$", "") // EXAplus terminator line
      CreateScript(name, m.group(1) != null, m.group(2) != null, params,
        Option(m.group(6)).map(_.toLowerCase), body)
    }
  }

  /** Steps for a DDL-registered script. A SQL body is `;`-split into one
    * wrapper step per statement (each runs through `wrapper.query`, so
    * steps can themselves use the whole dialect — IMPORT/EXPORT, MERGE,
    * even EXECUTE SCRIPT); declared parameters bind positionally as
    * wrapper params first, so bodies reference them `:P` / `::P` exactly
    * like the reference's own parameterized statements (README.md:46).
    * A LUA body is catalogued but INERT: this engine's native
    * QueryWrapper *is* the Lua wrapper's re-implementation, so executing
    * a Lua body raises a clear error instead of silently doing nothing
    * (divergence documented in SURVEY §2B B16). */
  private[wrapper] def scriptSteps(cs: CreateScript)
      : Seq[Any] => Seq[(String, QueryWrapper => Any)] = {
    if (cs.lua)
      _ => throw new UnsupportedOperationException(
        s"script ${cs.name} has a Lua body; graft executes SQL-bodied " +
          "scripts (CREATE SCRIPT … AS <sql>[; <sql>…]) — register Lua " +
          "logic driver-side via ScriptRegistry instead")
    else {
      val stmts = splitTopLevelOn(cs.body, ';').map(_.trim).filter(_.nonEmpty)
      require(stmts.nonEmpty,
        s"script ${cs.name}: body contains no SQL statements")
      args => {
        require(args.length == cs.params.length,
          s"script ${cs.name} expects ${cs.params.length} argument(s) " +
            s"(${cs.params.mkString(", ")}), got ${args.length}")
        val bind: Seq[(String, QueryWrapper => Any)] =
          if (cs.params.isEmpty) Nil
          else Seq("bind_params" -> { (w: QueryWrapper) =>
            cs.params.zip(args).foreach { case (p, v) => w.setParam(p, v) }
            s"bound ${args.length} parameter(s)"
          })
        bind ++ stmts.zipWithIndex.map { case (st, i) =>
          s"step_${i + 1}" -> ((w: QueryWrapper) => w.query(st))
        }
      }
    }
  }

  /** Handle CREATE/DROP SCRIPT DDL against [[ScriptRegistry]]; returns
    * true iff the statement was one. Without OR REPLACE an existing name
    * raises (host-engine object-exists behavior); DROP of a missing name
    * raises unless IF EXISTS. With a [[DurableCatalog]] the raw DDL text
    * also writes through to the warehouse `scripts` table so a fresh
    * session rehydrates it (VERDICT r11 #3); Lua bodies persist too —
    * they are catalog objects in the host engine even though EXECUTE
    * raises here. */
  def handleScriptDdl(sql: String,
      catalog: Option[DurableCatalog] = None): Boolean =
    parseCreateScript(sql) match {
      case Some(cs) =>
        if (!cs.replace && ScriptRegistry.lookup(cs.name).isDefined)
          throw new IllegalArgumentException(
            s"script ${cs.name} already exists (use CREATE OR REPLACE)")
        ScriptRegistry.register(cs.name, ScriptRegistry.Script(scriptSteps(cs)))
        catalog.foreach(_.saveScript(cs.name, sql))
        true
      case None => sql match {
        case DropScriptRe(ifExists, name) =>
          val existedMem = ScriptRegistry.lookup(name).isDefined
          ScriptRegistry.drop(name)
          // Always offer the drop to the store (it no-ops on a
          // never-created table): a stored row the registry never saw must
          // still be droppable, or it resurrects at the next restart.
          val removedStore = catalog.exists(_.dropScript(name))
          if (!existedMem && !removedStore && ifExists == null)
            throw new IllegalArgumentException(
              s"script $name does not exist")
          true
        case _ => false
      }
    }

  // --------------------------------------------------------------- QUALIFY

  private val QualifyKwRe = "(?i)\\bqualify\\b".r
  private val LimitKwRe = "(?i)\\blimit\\b".r
  private val DistinctHeadRe = "(?is)^\\s*select\\s+distinct\\b".r

  /** Snowflake/DuckDB/Teradata `QUALIFY` — filter rows on window
    * expressions without spelling the subquery — translated to the
    * subquery: `SELECT <list> FROM … QUALIFY <pred> [ORDER BY…|LIMIT…]`
    * becomes `SELECT * EXCEPT (__graft_q) FROM (SELECT <list>, (<pred>)
    * AS __graft_q FROM …) WHERE __graft_q [tail]`. The window evaluates in
    * the inner projection — after GROUP BY/HAVING, QUALIFY's standard
    * evaluation order — and NULL predicates drop the row like WHERE.
    * Pure spelling translation (the plan is whatever Catalyst makes of
    * the window + filter); `SELECT DISTINCT … QUALIFY` is out of scope
    * (injecting the predicate column would change the distinct key) and
    * left untranslated. */
  def translateQualify(sql: String): Option[String] = {
    val masked = maskNonTopLevel(sql)
    if (SelectHeadRe.findFirstIn(masked).isEmpty ||
        DistinctHeadRe.findFirstIn(masked).isDefined) return None
    for {
      q <- QualifyKwRe.findFirstMatchIn(masked)
      f <- FromKwRe.findFirstMatchIn(masked) if f.start < q.start
    } yield {
      val selHead = SelectHeadRe.findFirstMatchIn(masked).get
      val selectList = sql.substring(selHead.end, f.start).trim
      val mid = sql.substring(f.start, q.start).trim // FROM … [GROUP BY …]
      val afterQMasked = masked.substring(q.end)
      val tailCut = Seq(
        OrderByKwRe.findFirstMatchIn(afterQMasked).map(_.start),
        LimitKwRe.findFirstMatchIn(afterQMasked).map(_.start))
        .flatten.minOption.getOrElse(afterQMasked.length)
      val pred = sql.substring(q.end, q.end + tailCut)
        .replaceAll("[;\\s]+$", "").trim
      val tail = sql.substring(q.end + tailCut).replaceAll("[;\\s]+$", "")
      s"SELECT * EXCEPT (__graft_q) FROM (SELECT $selectList, ($pred) AS __graft_q $mid) WHERE __graft_q $tail"
        .trim
    }
  }

  // ---------------------------------------------------------------- ROWNUM

  private val RownumConjunctRe =
    "(?is)(?:(\\s+and\\s+)rownum|\\brownum)\\s*(<=|<|=)\\s*(\\d+)(\\s+and\\s+)?".r
  private val GroupHavingKwRe = "(?i)\\b(group\\s+by|having|qualify)\\b".r
  private val OrKwRe = "(?i)\\bor\\b".r

  /** Oracle-compat `ROWNUM` filter (Exasol accepts it for migrated ETL;
    * VERDICT r10 #7) — the dominant `WHERE ROWNUM <= n` form and its
    * `<` / `= 1` variants, as a top-level WHERE conjunct:
    *
    *   - no top-level ORDER BY → drop the conjunct, append `LIMIT n`;
    *   - with ORDER BY → the host evaluates ROWNUM BEFORE the sort, so
    *     the limit wraps an inner subquery and the ORDER BY moves
    *     outside (`SELECT * FROM (… LIMIT n) __graft_rn ORDER BY …`) —
    *     ORDER BY must reference projected columns in this form;
    *   - `= n` for n ≥ 2 can never hold (ROWNUM only advances on
    *     accepted rows) → `LIMIT 0`, like the host's empty result.
    *
    * Conservatively untouched (returns None → host-style error surfaces
    * or the plain statement runs): OR'd conjuncts, an existing LIMIT,
    * subquery/select-list ROWNUM uses. */
  def translateRownum(sql: String): Option[String] = {
    val masked = maskNonTopLevel(sql)
    if (SelectHeadRe.findFirstIn(masked).isEmpty) return None
    val end = bodyEnd(sql)
    if (LimitKwRe.findFirstIn(masked.substring(0, end)).isDefined) return None
    val whereKw = WhereRe.findFirstMatchIn(masked).getOrElse(return None)
    val whereEnd = Seq(
      GroupHavingKwRe.findFirstMatchIn(masked.substring(whereKw.end))
        .map(whereKw.end + _.start),
      OrderByKwRe.findFirstMatchIn(masked.substring(whereKw.end))
        .map(whereKw.end + _.start))
      .flatten.minOption.getOrElse(end)
    val whereBody = masked.substring(whereKw.end, whereEnd)
    val m = RownumConjunctRe.findFirstMatchIn(whereBody).getOrElse(return None)
    if (OrKwRe.findFirstIn(whereBody).isDefined) return None
    val nRaw = m.group(3).toLong
    val n = m.group(2) match {
      case "<=" => nRaw
      case "<" => math.max(0L, nRaw - 1)
      case "=" => if (nRaw == 1L) 1L else 0L
    }
    // Excise the conjunct (with ONE adjoining AND connector) from the
    // original; drop the whole WHERE clause if nothing else remains.
    val (cutStart, cutEnd) =
      if (m.group(1) != null) (whereKw.end + m.start, whereKw.end + m.end(3))
      else (whereKw.end + m.start,
        whereKw.end + (if (m.group(4) != null) m.end(4) else m.end(3)))
    // The connector's `\s+` also runs over the literals, comments and
    // parameters the masked view blanks to spaces: put those tokens back,
    // so the cut consumes only the conjunct and real whitespace.
    val kept = maskedTokens(sql, cutStart, cutEnd)
    val restOfWhere = (sql.substring(whereKw.end, cutStart) +
      (if (kept.isEmpty) "" else kept.map(endLine).mkString(" ", " ", " ")) +
      sql.substring(cutEnd, whereEnd)).trim
    val beforeWhere = sql.substring(0, whereKw.start)
    val afterWhere = sql.substring(whereEnd, end)
    val head = endLine(
      if (restOfWhere.isEmpty) beforeWhere.replaceAll("\\s+$", "")
      else s"${beforeWhere}WHERE $restOfWhere")
    val orderBy = OrderByKwRe.findFirstMatchIn(masked.substring(whereKw.end))
      .map(whereKw.end + _.start)
    Some(orderBy match {
      case Some(ob) =>
        val inner = (head + " " + sql.substring(whereEnd, ob).trim).trim
        val obClause = sql.substring(ob, end).trim
        s"SELECT * FROM (${endLine(inner)} LIMIT $n) __graft_rn $obClause"
      case None => s"${endLine((head + " " + afterWhere.trim).trim)} LIMIT $n"
    })
  }

  /** The tokens of `sql` in [from, until) that [[maskNonTopLevel]] blanks
    * at top level: string literals, comments and parameters. */
  private def maskedTokens(sql: String, from: Int, until: Int): Seq[String] = {
    var at = 0
    SqlTokens.tokenize(sql).flatMap { t =>
      val start = at
      at += t.text.length
      val blanked = t.kind != SqlTokens.Other &&
        t.kind != SqlTokens.QuotedIdent
      if (blanked && start >= from && at <= until) Some(t.text) else None
    }
  }

  /** `s` followed by a newline when it ends in a `--` comment, so text
    * appended after it is not commented out. */
  private def endLine(s: String): String =
    SqlTokens.tokenize(s).lastOption match {
      case Some(SqlTokens.Token(SqlTokens.Comment, c)) if c.startsWith("--") =>
        s + "\n"
      case _ => s
    }

  private val SelectRownumItemRe =
    "(?is)(^|,)(\\s*)rownum(\\s+as\\s+[\\w`]+|\\s+[\\w`]+)?\\s*(?=,|$)".r

  /** Select-list `ROWNUM` numbering idiom (VERDICT r11 #6):
    * `SELECT …, ROWNUM [AS rn], … FROM … ORDER BY k` → the item becomes
    * `ROW_NUMBER() OVER (ORDER BY k) AS rn`. The deterministic reading —
    * the one migrated code actually wants — numbers rows in the
    * statement's own ORDER BY; the host's literal assign-before-sort
    * semantics is scan-order-dependent and thus not reproducible under
    * parallelism on ANY engine, so a statement with no top-level ORDER BY
    * is conservatively rejected rather than given nondeterministic
    * numbers.
    *
    * Also conservatively untouched (None): DISTINCT, GROUP BY/HAVING/
    * QUALIFY heads (pre- vs post-aggregation numbering is ambiguous),
    * set operators (a branch-local window is neither Oracle's numbering
    * nor this function's contract), more than one ROWNUM item, ROWNUM
    * inside a larger expression, a ROWNUM WHERE-conjunct in the same
    * statement (combined filter + numbering), ORDER BY keys that
    * reference the numbering itself, ordinal ORDER BY keys (`ORDER BY 1`
    * resolves positionally in a Sort but as the CONSTANT 1 inside an
    * OVER clause — silently nondeterministic), OFFSET/FETCH tails, and
    * subquery/correlated uses (masked away, so they surface the host-
    * style unresolved-identifier error). */
  def translateSelectRownum(sql: String): Option[String] = {
    val masked = maskNonTopLevel(sql)
    val head = SelectHeadRe.findFirstMatchIn(masked).getOrElse(return None)
    if (DistinctHeadRe.findFirstIn(masked).isDefined) return None
    if ("(?i)\\b(union|intersect|except|minus)\\b".r
        .findFirstIn(masked).isDefined) return None
    if ("(?i)\\b(offset|fetch)\\b".r.findFirstIn(masked).isDefined)
      return None
    val end = bodyEnd(sql)
    val from = FromKwRe.findFirstMatchIn(masked.substring(0, end))
      .filter(_.start >= head.end).getOrElse(return None)
    val listMasked = masked.substring(head.end, from.start)
    val items = SelectRownumItemRe.findAllMatchIn(listMasked).toList
    if (items.length != 1) return None
    val m = items.head
    // a ROWNUM WHERE-conjunct elsewhere in the statement → ambiguous
    // combined form, reject (the filter-only path is translateRownum)
    if ("(?i)\\brownum\\b".r.findAllMatchIn(masked.substring(from.start, end))
        .nonEmpty) return None
    if (GroupHavingKwRe.findFirstIn(masked.substring(from.start, end))
        .isDefined) return None
    val ob = OrderByKwRe.findFirstMatchIn(masked.substring(0, end))
      .filter(_.start > from.start).getOrElse(return None)
    val obEnd = LimitKwRe.findFirstMatchIn(masked.substring(ob.end, end))
      .map(ob.end + _.start).getOrElse(end)
    val keys = sql.substring(ob.end, obEnd).trim
    if (keys.isEmpty) return None
    // Ordinal keys (`ORDER BY 1`) resolve positionally in a Sort but as a
    // constant literal inside an OVER clause — reject any constant key
    // item rather than emit silently-tied numbering. Parens/signs/space
    // strip away first so `(1)`, `+1`, `1 DESC` can't sneak an all-ties
    // window key past a bare-integer head-token test; anything retaining
    // an identifier character is a real expression and passes.
    if (splitTopLevel(keys).exists { item =>
      val stripped = item.trim
        .replaceAll("(?is)\\s+(asc|desc)\\b.*$", "")
        .replaceAll("(?is)\\s+nulls\\s+(first|last)\\s*$", "")
        .replaceAll("[\\s()+-]", "")
      stripped.matches("\\d+(\\.\\d+)?") || stripped.matches("'.*'")
    }) return None
    // Slice the alias from the ORIGINAL sql at the matched offsets (the
    // parseUpdate discipline): the masked text blanks quoted-identifier
    // interiors, so reading group(3) off the masked match would rename a
    // backtick-quoted alias to its 'x' filler in the rewritten statement.
    val alias = Option(m.group(3))
      .map(_ => sql.substring(head.end + m.start(3), head.end + m.end(3))
        .trim.replaceFirst("(?i)^as\\s+", "").trim)
      .getOrElse("ROWNUM")
    // ORDER BY must not reference the numbering it defines — compared on
    // the ORIGINAL keys text (alias may be backtick-quoted, which the
    // masked view obscures).
    if (("(?i)\\b" + java.util.regex.Pattern.quote(
        alias.replace("`", "")) + "\\b").r
        .findFirstIn(keys.replace("`", ""))
        .isDefined) return None
    val itemStart = head.end + m.start + m.group(1).length + m.group(2).length
    val itemEnd = head.end + m.end
    Some(sql.substring(0, itemStart) +
      s"ROW_NUMBER() OVER (ORDER BY $keys) AS $alias" +
      sql.substring(itemEnd))
  }

  // ------------------------------------------------------------- ASOF JOIN

  private val AsOfHeadRe =
    ("(?is)^\\s*select\\s+(.*?)\\s+from\\s+([\\w.`]+)(?:\\s+(?:as\\s+)?(\\w+))?\\s+" +
      "asof\\s+(left\\s+)?join\\s+([\\w.`]+)(?:\\s+(?:as\\s+)?(\\w+))?\\s+on\\s+").r
  private val AsOfCmpRe =
    "(?is)^\\s*(\\w+)\\.([\\w`]+)\\s*(>=|<=|=|>|<)\\s*(\\w+)\\.([\\w`]+)\\s*$".r

  /** One parsed `ASOF JOIN` statement (supported subset, see
    * [[parseAsOf]]). `keys` pairs are (leftCol, rightCol); `forward` is the
    * match direction (false = backward: latest right with
    * rightTime <= leftTime). `ctes` is the statement's top-level WITH
    * prologue — either joined side may name a CTE instead of a table. */
  final case class AsOfQuery(selectList: String, leftTable: String,
      leftAlias: String, rightTable: String, rightAlias: String,
      leftJoin: Boolean, keys: Seq[(String, String)], leftTime: String,
      rightTime: String, forward: Boolean, tail: String,
      ctes: Seq[(String, String)] = Seq.empty) extends Statement {
    def canHandle(spark: SparkSession): Boolean = {
      def resolvable(n: String) =
        ctes.exists(_._1.equalsIgnoreCase(n)) || tableExists(spark, n)
      resolvable(leftTable) && resolvable(rightTable) && keys.nonEmpty
    }
    def run(spark: SparkSession): Outcome =
      Outcome(Some(runAsOf(spark, this)), None)
  }

  private val WithHeadRe = "(?is)^\\s*with\\s+".r
  private val CteNameAsRe = "(?is)^\\s*([\\w`]+)\\s+as\\s*\\(".r

  /** Split a statement's top-level `WITH name AS (…), …` prologue into
    * (name → body) pairs + the main-query offset, balancing parens on the
    * MASKED text (maskNonTopLevel blanks nested paren interiors, so the
    * FIRST close after each open is the balanced one). Returns None when
    * the statement has no WITH prologue or it doesn't parse cleanly. */
  private def parseCtes(sql: String,
      masked: String): Option[(Seq[(String, String)], Int)] = {
    val h = WithHeadRe.findFirstMatchIn(masked).getOrElse(return None)
    val ctes = Seq.newBuilder[(String, String)]
    var pos = h.end
    var more = true
    while (more) {
      val m = CteNameAsRe.findFirstMatchIn(masked.substring(pos))
        .getOrElse(return None)
      val name = sql.substring(pos + m.start(1), pos + m.end(1))
      val open = pos + m.end - 1
      val close = balancedClose(masked, open)
      if (close < 0) return None
      ctes += name -> sql.substring(open + 1, close)
      pos = close + 1
      while (pos < masked.length && masked(pos).isWhitespace) pos += 1
      if (pos < masked.length && masked(pos) == ',') pos += 1
      else more = false
    }
    Some((ctes.result(), pos))
  }

  /** DuckDB-grammar `ASOF JOIN` → [[graft.operators.AsOfJoin]].
    *
    * Exasol users spell as-of logic as correlated subselects or window SQL;
    * the industry-standard declarative spelling (DuckDB, Snowflake) is an
    * ASOF JOIN clause, accepted here so the wrapper's pass-through surface
    * covers it: `SELECT <qualified cols> FROM l [AS] a ASOF [LEFT] JOIN r
    * [AS] b ON a.k = b.k [AND …] AND a.ts >= b.ts [WHERE …] [ORDER BY …]`.
    * The ON conjunction takes any number of alias-qualified equalities plus
    * EXACTLY ONE time inequality (`>=`/`>` = backward match, `<=`/`<` =
    * forward). Plain ASOF JOIN is inner (unmatched left rows drop, DuckDB
    * semantics); ASOF LEFT JOIN keeps them with NULL right columns.
    *
    * NOT a nested-loop range join: execution is the single-shuffle
    * union+running-window composition of [[graft.operators.AsOfJoin]], so
    * the dialect spelling inherits the scale path. */
  def parseAsOf(sql: String): Option[AsOfQuery] = {
    // maskNonTopLevel (not maskOptions): string literals blank out, so an
    // 'asof join' / 'order by' / 'limit' INSIDE a literal can neither
    // trigger the grammar nor mis-cut the tail keywords.
    val masked0 = maskNonTopLevel(sql)
    // Optional top-level WITH prologue (r9 ask #7, "ASOF under a CTE"):
    // strip it, parse the main query, carry the CTEs for [[runAsOf]] to
    // resolve either joined side against.
    val (ctes, sqlM, masked) = parseCtes(sql, masked0) match {
      case Some((cs, start)) => (cs, sql.substring(start), masked0.substring(start))
      case None => (Seq.empty[(String, String)], sql, masked0)
    }
    AsOfHeadRe.findFirstMatchIn(masked).flatMap { m =>
      val rest = sqlM.substring(m.end) // ON conjunction + optional tail
      val maskedRest = masked.substring(m.end)
      // The ON conjunction ends at the first top-level WHERE/ORDER/GROUP kw.
      val tailKw = "(?is)\\b(where|order\\s+by|group\\s+by|limit)\\b".r
      val cut = tailKw.findFirstMatchIn(maskedRest).map(_.start)
        .getOrElse(maskedRest.length)
      val onText = rest.substring(0, cut)
      val tail = rest.substring(cut).replaceAll("[;\\s]+$", "")
      val la = Option(m.group(3)).getOrElse(sqlM.substring(m.start(2), m.end(2)))
      val ra = Option(m.group(6)).getOrElse(sqlM.substring(m.start(5), m.end(5)))
      val conjuncts = splitTopLevelAnd(onText).map {
        case AsOfCmpRe(a1, c1, op, a2, c2) => Some((a1, c1, op, a2, c2))
        case _ => None
      }
      if (conjuncts.exists(_.isEmpty)) None
      else {
        val cs = conjuncts.flatten
        // orient every conjunct left-alias-first
        val oriented = cs.flatMap {
          case (a1, c1, op, a2, c2) if a1.equalsIgnoreCase(la) && a2.equalsIgnoreCase(ra) =>
            Some((c1, op, c2))
          case (a1, c1, op, a2, c2) if a1.equalsIgnoreCase(ra) && a2.equalsIgnoreCase(la) =>
            Some((c2, flipOp(op), c1))
          case _ => None
        }
        val eqs = oriented.collect { case (l, "=", r) => (l, r) }
        val ineqs = oriented.collect { case (l, op, r) if op != "=" => (l, op, r) }
        if (oriented.length != cs.length || ineqs.length != 1) None
        else {
          val (lt, op, rt) = ineqs.head
          Some(AsOfQuery(sqlM.substring(m.start(1), m.end(1)),
            sqlM.substring(m.start(2), m.end(2)), la,
            sqlM.substring(m.start(5), m.end(5)), ra,
            leftJoin = m.group(4) != null,
            keys = eqs, leftTime = lt, rightTime = rt,
            forward = op == "<=" || op == "<", tail = tail, ctes = ctes))
        }
      }
    }
  }

  /** Execute a parsed ASOF query: rename the right side into a collision-free
    * namespace, run the union+window as-of, then evaluate the SELECT list /
    * tail SQL over the joined view with alias-qualified refs rewritten. */
  private def runAsOf(spark: SparkSession, q: AsOfQuery): DataFrame = {
    // A side naming a CTE resolves by running the full prologue against
    // that name — no temp-view state, analysis resolves eagerly, and
    // earlier CTEs are in scope for later ones exactly as written.
    val prologue =
      if (q.ctes.isEmpty) ""
      else q.ctes.map { case (n, b) => s"$n AS ($b)" }
        .mkString("WITH ", ", ", " ")
    def rel(name: String): DataFrame =
      if (q.ctes.exists(_._1.equalsIgnoreCase(name)))
        spark.sql(s"${prologue}SELECT * FROM $name")
      else spark.table(name)
    val left = rel(q.leftTable)
    val right0 = rel(q.rightTable)
    // right keys take the left key's name (AsOfJoin keys are same-named);
    // every other right column moves to a collision-free prefixed name.
    val keyMap = q.keys.map { case (l, r) => r -> l }.toMap
    val right = right0.columns.foldLeft(right0) { (df, c) =>
      df.withColumnRenamed(c, keyMap.getOrElse(c, s"__asof_r_$c"))
    }
    val payload = right.columns.filterNot(q.keys.map(_._1).contains).toSeq
    val rt = s"__asof_r_${q.rightTime}"
    val joined0 =
      if (q.forward)
        graft.operators.AsOfJoin.forward(left, right, q.keys.map(_._1),
          q.leftTime, rt, payload.filterNot(_ == rt) :+ rt)
      else
        graft.operators.AsOfJoin.backward(left, right, q.keys.map(_._1),
          q.leftTime, rt, payload.filterNot(_ == rt) :+ rt)
    // inner semantics: a match exists iff the matched right time is non-null
    val joined1 = if (q.leftJoin) joined0 else joined0.filter(col(rt).isNotNull)
    // restore natural right-column names; only a name colliding with a left
    // column keeps a `<rightAlias>_` prefix (and must be SELECTed with an
    // explicit alias to disambiguate, same as any self-join)
    val finalName = payload.map { p =>
      val orig = p.stripPrefix("__asof_r_")
      val clash = left.columns.exists(_.equalsIgnoreCase(orig))
      p -> (if (clash) s"${q.rightAlias}_$orig" else orig)
    }.toMap
    val joined = finalName.foldLeft(joined1) { case (df, (from, to)) =>
      df.withColumnRenamed(from, to)
    }
    val view = "__graft_asof"
    joined.createOrReplaceTempView(view)
    def rewrite(text: String): String = {
      val l = ("(?i)\\b" + java.util.regex.Pattern.quote(q.leftAlias) + "\\.(\\w+)").r
      val r = ("(?i)\\b" + java.util.regex.Pattern.quote(q.rightAlias) + "\\.(\\w+)").r
      val afterL = l.replaceAllIn(text, mm => mm.group(1))
      r.replaceAllIn(afterL, mm => keyMap.getOrElse(mm.group(1),
        finalName.getOrElse(s"__asof_r_${mm.group(1)}", mm.group(1))))
    }
    // The prologue rides the FINAL statement too: a CTE referenced from
    // the select list or tail (WHERE … IN (SELECT … FROM cte)) resolves
    // exactly like the joined sides (review r10 finding).
    spark.sql(
      s"${prologue}SELECT ${rewrite(q.selectList)} FROM $view ${rewrite(q.tail)}")
  }

  // ----------------------------------------------------------- CONNECT BY

  // Anchor keywords located on the MASKED text; clause bodies are sliced
  // from the ORIGINAL between anchor STARTS — never by lazy group ends,
  // which truncate a clause whose last token is a (blanked) string literal.
  private val SelectHeadRe = "(?is)^\\s*select\\s+".r
  private val FromKwRe = "(?i)\\bfrom\\b".r
  private val TableAfterFromRe = "(?is)^\\s*([\\w.`]+)".r
  private val StartWithKwRe = "(?i)\\bstart\\s+with\\b".r
  private val ConnectByKwRe = "(?is)\\bconnect\\s+by\\b(\\s*nocycle\\b)?".r
  private val PriorEqLeftRe = "(?is)^prior\\s+(\\w+)\\s*=\\s*(\\w+)$".r
  private val PriorEqRightRe = "(?is)^(\\w+)\\s*=\\s*prior\\s+(\\w+)$".r
  private val PriorCmpLeftRe =
    "(?is)^prior\\s+(\\w+)\\s*(<=|>=|<>|!=|<|>)\\s*(\\w+)$".r
  private val PriorCmpRightRe =
    "(?is)^(\\w+)\\s*(<=|>=|<>|!=|<|>)\\s*prior\\s+(\\w+)$".r
  private val PriorWordRe = "(?i)\\bprior\\b".r
  private val AndKwRe = "(?i)\\band\\b".r
  // CONNECT_BY_ROOT col | CONNECT_BY_ROOT(col); SYS_CONNECT_BY_PATH(col, 'sep')
  private val RootFnRe =
    "(?i)\\bconnect_by_root\\s*(?:\\(\\s*(\\w+)\\s*\\)|(\\w+))".r
  private val PathFnRe =
    "(?i)\\bsys_connect_by_path\\s*\\(\\s*(\\w+)\\s*,\\s*'([^']*)'\\s*\\)".r
  private val IsLeafRe = "(?i)\\bconnect_by_isleaf\\b".r

  private val PreferringKwRe = "(?i)\\bpreferring\\b".r
  private val WhereKwRe = "(?i)\\bwhere\\b".r
  private val OrderByKwRe = "(?i)\\border\\s+by\\b".r
  private val PlusKwRe = "(?i)\\bplus\\b".r
  private val PrefTermRe = "(?is)^\\s*(high|low)\\s+([\\w.`]+)\\s*$".r

  /** Exasol `PREFERRING` (skyline) → ANSI NOT-EXISTS dominance.
    *
    * Supported subset (the ETL-common core): single-table
    * `SELECT <list> FROM <tbl> [WHERE <cond>] PREFERRING <term> [PLUS
    * <term>]* [ORDER BY ...]` with each term `HIGH <col>` or `LOW <col>`
    * (plain column identifiers; `PRIOR TO`/`INVERSE`/partitioned
    * preferences are out of scope and left untranslated). The WHERE text
    * is replicated into the dominance subquery, where its unqualified
    * column references bind to the inner scope — both the candidate and
    * the dominator must satisfy it, which is PREFERRING's semantics
    * (the skyline of the filtered set).
    *
    * The rewrite is the CORRECTNESS spelling: engines plan correlated
    * non-equi NOT EXISTS as a (broadcast) nested loop, which is fine for
    * wrapper pass-through sizes. The scale path for big frontiers is
    * [[graft.operators.Skyline.pareto]] — the two-phase mapPartitions
    * skyline where only local survivors shuffle. */
  def translatePreferring(sql: String): Option[String] = {
    val masked = maskNonTopLevel(sql)
    val end = bodyEnd(sql)
    for {
      head <- SelectHeadRe.findFirstMatchIn(masked)
      fromM <- FromKwRe.findFirstMatchIn(masked.substring(head.end, end))
        .map(f => (head.end + f.start, head.end + f.end))
      tblM <- TableAfterFromRe.findFirstMatchIn(masked.substring(fromM._2, end))
      tblEnd = fromM._2 + tblM.end(1)
      prefM <- PreferringKwRe.findFirstMatchIn(masked.substring(tblEnd, end))
        .map(k => (tblEnd + k.start, tblEnd + k.end))
      whereM = WhereKwRe.findFirstMatchIn(masked.substring(tblEnd, prefM._1))
        .map(k => (tblEnd + k.start, tblEnd + k.end))
      // Between table and (WHERE|PREFERRING): whitespace only — GROUP BY
      // etc. combined with PREFERRING is out of the supported subset.
      if sql.substring(tblEnd, whereM.map(_._1).getOrElse(prefM._1)).trim.isEmpty
      orderM = OrderByKwRe.findFirstMatchIn(masked.substring(prefM._2, end))
        .map(k => (prefM._2 + k.start, prefM._2 + k.end))
      termsEnd = orderM.map(_._1).getOrElse(end)
      termsRaw = sql.substring(prefM._2, termsEnd)
      termsMasked = masked.substring(prefM._2, termsEnd)
      terms = splitTopLevelKw(termsRaw, termsMasked, PlusKwRe)
        .map(t => PrefTermRe.findFirstMatchIn(t)
          .map(m => (m.group(1).toLowerCase == "high", m.group(2))))
      if terms.nonEmpty && !terms.exists(_.isEmpty)
    } yield {
      val dims = terms.flatten
      val table = sql.substring(fromM._2 + tblM.start(1), fromM._2 + tblM.end(1))
      val selectList = sql.substring(head.end, fromM._1).trim
      val whereTxt = whereM.map(w => sql.substring(w._2, prefM._1).trim)
      val ge = dims.map { case (hi, c) =>
        s"__sky1.$c ${if (hi) ">=" else "<="} __sky0.$c" }.mkString(" AND ")
      val gt = dims.map { case (hi, c) =>
        s"__sky1.$c ${if (hi) ">" else "<"} __sky0.$c" }.mkString(" OR ")
      val innerWhere = whereTxt.map(w => s"($w) AND ").getOrElse("")
      val outerWhere = whereTxt.map(w => s"($w) AND ").getOrElse("")
      val orderTail = orderM.map(o => " " + sql.substring(o._1, end)).getOrElse("")
      s"SELECT $selectList FROM $table __sky0 WHERE ${outerWhere}NOT EXISTS (" +
        s"SELECT 1 FROM $table __sky1 WHERE $innerWhere($ge) AND ($gt))" +
        orderTail
    }
  }

  /** Split `raw` on top-level occurrences of a keyword located in the
    * parallel `maskedText` (same offsets). */
  private def splitTopLevelKw(raw: String, maskedText: String,
      kw: scala.util.matching.Regex): Seq[String] = {
    val cuts = kw.findAllMatchIn(maskedText).map(m => (m.start, m.end)).toSeq
    val bounds = ((0, 0) +: cuts :+ ((raw.length, raw.length)))
    bounds.sliding(2).map { case Seq((_, s), (e, _)) =>
      raw.substring(s, e)
    }.toSeq
  }

  /** Split on top-level AND keywords (outside strings/comments/parens). */
  private def splitTopLevelAnd(s: String): Seq[String] = {
    val masked = maskNonTopLevel(s)
    val kws = AndKwRe.findAllMatchIn(masked).map(m => (m.start, m.end)).toSeq
    val cuts = (0 +: kws.flatMap(k => Seq(k._1, k._2))) :+ s.length
    cuts.grouped(2).collect { case Seq(a, b) => s.substring(a, b).trim }
      .toSeq.filter(_.nonEmpty)
  }

  /** One parsed CONNECT BY conjunct. */
  private sealed trait CbPred
  private final case class CbPriorEq(parent: String, child: String) extends CbPred
  private final case class CbPriorCmp(parent: String, op: String,
      child: String) extends CbPred
  private final case class CbChildPred(text: String) extends CbPred

  private def parseCbConjunct(c: String): Option[CbPred] = c match {
    case PriorEqLeftRe(p, ch) => Some(CbPriorEq(p, ch))
    case PriorEqRightRe(ch, p) => Some(CbPriorEq(p, ch))
    case PriorCmpLeftRe(p, op, ch) => Some(CbPriorCmp(p, op, ch))
    case PriorCmpRightRe(ch, op, p) => Some(CbPriorCmp(p, flipOp(op), ch))
    case other if PriorWordRe.findFirstIn(other).isEmpty =>
      Some(CbChildPred(other)) // PRIOR-free → filter on the child row
    case _ => None
  }

  private def flipOp(op: String): String = op match {
    case "<" => ">"
    case ">" => "<"
    case "<=" => ">="
    case ">=" => "<="
    case other => other // <>, != are symmetric
  }

  /** Translate an Exasol/Oracle `CONNECT BY` hierarchical query into a
    * Spark 4 recursive CTE. Supported shape (either clause order):
    *
    *   SELECT <list> FROM <table>
    *   START WITH <cond>
    *   CONNECT BY [NOCYCLE] <conjunct> [AND <conjunct> …]
    *
    * where each conjunct is `PRIOR a = b` / `b = PRIOR a` (at least one
    * equality required), a non-equality `PRIOR a <op> b`, or a PRIOR-free
    * predicate (applied to the child row, host-engine semantics). The
    * select list may use `LEVEL` (1-based recursion depth),
    * `CONNECT_BY_ROOT col` (root row's value, carried through the
    * recursion), `SYS_CONNECT_BY_PATH(col, 'sep')` (root-to-node string
    * path), and `CONNECT_BY_ISLEAF` (1 when the row has no children —
    * under NOCYCLE, no children that wouldn't close a cycle).
    *
    * With `NOCYCLE` a branch stops silently when it would revisit a key
    * already on its root-to-node path (tracked via a per-row path array);
    * without it, cycles stop at Spark's recursion limit
    * (`spark.sql.cteRecursionLevelLimit`). Returns None if `sql` is not a
    * CONNECT BY query of this shape (including CONNECT_BY_ISLEAF combined
    * with a non-equality PRIOR conjunct, whose leaf test would depend on
    * the parent row). */
  def translateConnectBy(sql: String): Option[String] = {
    val masked = maskNonTopLevel(sql)
    val end = bodyEnd(sql)
    for {
      head <- SelectHeadRe.findFirstMatchIn(masked)
      fromM <- FromKwRe.findFirstMatchIn(masked.substring(head.end, end))
        .map(f => (head.end + f.start, head.end + f.end))
      tblM <- TableAfterFromRe.findFirstMatchIn(masked.substring(fromM._2, end))
      tblEnd = fromM._2 + tblM.end(1)
      swM <- StartWithKwRe.findFirstMatchIn(masked.substring(tblEnd, end))
        .map(k => (tblEnd + k.start, tblEnd + k.end))
      cbM <- ConnectByKwRe.findFirstMatchIn(masked.substring(tblEnd, end))
        .map(k => (tblEnd + k.start, tblEnd + k.end, k.group(1) != null))
      // Only whitespace may sit between the table name and the first
      // clause keyword (no WHERE/GROUP BY in the CONNECT BY shape).
      if sql.substring(tblEnd, math.min(swM._1, cbM._1)).trim.isEmpty
      startWith = sql
        .substring(swM._2, if (cbM._1 > swM._1) cbM._1 else end).trim
      connectCond = sql
        .substring(cbM._2, if (swM._1 > cbM._1) swM._1 else end).trim
      preds = splitTopLevelAnd(connectCond).map(parseCbConjunct)
      if !preds.exists(_.isEmpty)
      result <- buildConnectBy(
        sql.substring(head.end, fromM._1).trim,
        sql.substring(fromM._2 + tblM.start(1), fromM._2 + tblM.end(1)),
        startWith, cbM._3, preds.flatten)
    } yield result
  }

  private def buildConnectBy(selectList: String, table: String,
      startWith: String, nocycle: Boolean,
      preds: Seq[CbPred]): Option[String] = {
    val eqs = preds.collect { case e: CbPriorEq => e }
    val cmps = preds.collect { case c: CbPriorCmp => c }
    val filters = preds.collect { case f: CbChildPred => f.text }
    if (eqs.isEmpty) return None
    // The cycle key: each node's own value of the first PRIOR-side column.
    val pc = eqs.head.parent

    // ---- select-list rewriting: allocate one carried CTE column per
    // distinct CONNECT_BY_ROOT column / SYS_CONNECT_BY_PATH call.
    val roots = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val paths = scala.collection.mutable.LinkedHashMap.empty[(String, String), String]
    var sel = RootFnRe.replaceAllIn(selectList, rm => {
      val c = Option(rm.group(1)).getOrElse(rm.group(2))
      roots.getOrElseUpdate(c.toLowerCase, s"__cbr_${c.toLowerCase}")
    })
    sel = PathFnRe.replaceAllIn(sel, pm => {
      val key = (pm.group(1).toLowerCase, pm.group(2))
      paths.getOrElseUpdate(key, s"__cbp_${paths.size}")
    })
    val usesIsleaf = IsLeafRe.findFirstIn(sel).isDefined
    if (usesIsleaf) sel = IsLeafRe.replaceAllIn(sel, "__cbl")
    // A leaf test that depends on the PARENT row's value (non-equality
    // PRIOR conjunct) can't be precomputed per child key — unsupported.
    if (usesIsleaf && cmps.nonEmpty) return None

    val needPath = nocycle || usesIsleaf && nocycle

    // ---- recursion pieces
    val joinCond = (eqs.map(e => s"__c.${e.child} = __p.${e.parent}") ++
      cmps.map(c => s"__p.${c.parent} ${c.op} __c.${c.child}")).mkString(" AND ")
    // PRIOR-free conjuncts filter the CHILD side only (START WITH picks the
    // seeds) — applied inside a subquery so unqualified columns resolve.
    val childSrc =
      if (filters.isEmpty) table
      else s"(SELECT * FROM $table WHERE ${filters.mkString(" AND ")})"

    val seedExtras = Seq("1 AS level") ++
      (if (needPath) Seq(s"array(__s.$pc) AS __path") else Nil) ++
      roots.map { case (c, a) => s"__s.$c AS $a" } ++
      paths.map { case ((c, sep), a) =>
        s"concat('$sep', cast(__s.$c AS string)) AS $a" }
    val recExtras = Seq("__p.level + 1 AS level") ++
      (if (needPath) Seq(s"array_append(__p.__path, __c.$pc) AS __path") else Nil) ++
      roots.map { case (_, a) => s"__p.$a AS $a" } ++
      paths.map { case ((c, sep), a) =>
        s"concat(__p.$a, '$sep', cast(__c.$c AS string)) AS $a" }
    val prune =
      if (nocycle) s"\n  WHERE NOT array_contains(__p.__path, __c.$pc)" else ""

    val hier0 =
      s"""__hier0 AS (
         |  SELECT __s.*, ${seedExtras.mkString(", ")}
         |  FROM $table __s WHERE $startWith
         |  UNION ALL
         |  SELECT __c.*, ${recExtras.mkString(", ")}
         |  FROM $childSrc __c JOIN __hier0 __p ON $joinCond$prune
         |)""".stripMargin

    // ---- leaf detection: one summary row per child-key tuple (bounded by
    // the table's distinct keys — NOT the hierarchy), left-joined 1:1.
    // Under NOCYCLE a candidate child "counts" only if its own cycle key
    // is not already on this row's path: collect the candidate children's
    // keys per join-key tuple and test the set difference.
    val finalStage =
      if (!usesIsleaf) {
        val strip = if (needPath) " EXCEPT (__path)" else ""
        s"__hier AS (SELECT *$strip FROM __hier0)"
      } else {
        val kidKeys = eqs.map(_.child).zipWithIndex
          .map { case (c, i) => (c, s"__kk_$i") }
        val kids =
          s"""__kids AS (
             |  SELECT ${kidKeys.map { case (c, a) => s"$c AS $a" }.mkString(", ")},
             |         collect_set($pc) AS __cps
             |  FROM $childSrc GROUP BY ${kidKeys.map(_._2).mkString(", ")}
             |)""".stripMargin
        val kidJoin = eqs.map(_.parent).zip(kidKeys.map(_._2))
          .map { case (p, a) => s"__kids.$a = __h.$p" }.mkString(" AND ")
        val leafExpr =
          if (nocycle)
            s"CASE WHEN __kids.${kidKeys.head._2} IS NULL OR " +
              "size(array_except(__kids.__cps, __h.__path)) = 0 THEN 1 ELSE 0 END"
          else s"CASE WHEN __kids.${kidKeys.head._2} IS NULL THEN 1 ELSE 0 END"
        val strip = if (needPath) " EXCEPT (__path)" else ""
        s"""$kids,
           |__hierL AS (
           |  SELECT __h.*, $leafExpr AS __cbl
           |  FROM __hier0 __h LEFT JOIN __kids ON $kidJoin
           |),
           |__hier AS (SELECT *$strip FROM __hierL)""".stripMargin
      }

    Some(s"WITH RECURSIVE $hier0,\n$finalStage\nSELECT $sel FROM __hier")
  }

  // ---------------------------------------------------------------- MERGE

  private val MergeHeadRe =
    ("(?is)^\\s*merge\\s+into\\s+([\\w.`]+)(?:\\s+(?:as\\s+)?(\\w+))?" +
      "\\s+using\\s+(?:([\\w.`]+)|\\((.*?)\\))(?:\\s+(?:as\\s+)?(\\w+))?\\s+on\\s").r
  // Clause starts match only the full `WHEN [NOT] MATCHED` phrase, so a
  // CASE WHEN inside a SET expression is never a clause boundary.
  private val WhenClauseRe = "(?i)\\bwhen\\s+(not\\s+)?matched\\b".r
  private val ThenKwRe = "(?i)\\bthen\\b".r
  private val AndPrefixRe = "(?is)^\\s*and\\s+(.*)$".r
  private val UpdateActionRe = "(?is)^\\s*update\\s+set\\s(.*)$".r
  private val DeleteActionRe = "(?is)^\\s*delete\\s*$".r
  private val InsertActionRe =
    "(?is)^\\s*insert\\s*(?:\\(([^)]*)\\))?\\s*values\\s*\\((.*)\\)\\s*$".r

  /** One `WHEN [NOT] MATCHED [AND cond] THEN action` clause. ANSI: clauses
    * are tried in source order; the FIRST one whose extra condition holds
    * applies to a given row (at most one action per row). */
  sealed trait MergeClause { def cond: Option[String] }
  final case class MatchedUpdate(cond: Option[String],
      assigns: Seq[(String, String)]) extends MergeClause
  final case class MatchedDelete(cond: Option[String]) extends MergeClause
  final case class NotMatchedInsert(cond: Option[String],
      cols: Option[Seq[String]], values: Seq[String]) extends MergeClause

  /** `MERGE INTO target USING source ON cond
    * WHEN MATCHED [AND c] THEN UPDATE SET … | DELETE
    * WHEN NOT MATCHED [AND c] THEN INSERT [(cols)] VALUES (…)` — the
    * Exasol/ANSI upsert the reference's pass-through surface accepts,
    * including conditional clauses (multiple, tried in order) and a
    * parenthesized subquery source (`USING (SELECT …) alias`, alias
    * required — `sourceIsQuery` then holds). */
  final case class Merge(
      target: String, targetAlias: String,
      source: String, sourceAlias: String,
      condition: String,
      clauses: Seq[MergeClause],
      sourceIsQuery: Boolean = false) extends Statement {
    def canHandle(spark: SparkSession): Boolean =
      tableExists(spark, target) && (
        if (sourceIsQuery) isPureQuery(spark, source)
        else scala.util.Try(spark.table(source)).isSuccess)
    def run(spark: SparkSession): Outcome = affected(runMerge(spark, this))
    // Convenience views of the (common) single-unconditional-clause shape.
    def matchedSet: Option[Seq[(String, String)]] =
      clauses.collectFirst { case MatchedUpdate(_, a) => a }
    def matchedDelete: Boolean = clauses.exists(_.isInstanceOf[MatchedDelete])
    def insert: Option[(Option[Seq[String]], Seq[String])] =
      clauses.collectFirst { case NotMatchedInsert(_, c, v) => (c, v) }
  }

  def parseMerge(sql: String): Option[Merge] = {
    val masked = maskNonTopLevel(sql)
    MergeHeadRe.findFirstMatchIn(masked).flatMap { m =>
      val end = bodyEnd(sql)
      val whens = WhenClauseRe.findAllMatchIn(masked.substring(m.end, end))
        .map(w => (m.end + w.start, m.end + w.end, w.group(1) != null)).toList
      if (whens.isEmpty) None
      else {
        val condition = sql.substring(m.end, whens.head._1).trim
        val clauses = whens.zipWithIndex.map { case ((_, kwEnd, isNotMatched), i) =>
          val clauseEnd = whens.lift(i + 1).map(_._1).getOrElse(end)
          // The THEN keyword is located on the MASKED text, so a literal
          // 'then' (or a parenthesized CASE WHEN … THEN) in the extra
          // condition can't split the clause. An unparenthesized CASE in
          // the condition is out of scope (wrap it in parens).
          ThenKwRe.findFirstMatchIn(masked.substring(kwEnd, clauseEnd))
            .flatMap { t =>
              val condText = sql.substring(kwEnd, kwEnd + t.start)
              val extraCond: Option[Option[String]] = condText match {
                case AndPrefixRe(c) => Some(Some(c.trim))
                case s if s.trim.isEmpty => Some(None)
                case _ => None // garbage between MATCHED and THEN
              }
              val action = sql.substring(kwEnd + t.end, clauseEnd)
              extraCond.flatMap { cond =>
                (isNotMatched, action) match {
                  case (false, UpdateActionRe(assigns)) =>
                    Some(MatchedUpdate(cond, splitTopLevel(assigns).map { a =>
                      val eq = a.indexOf('=')
                      require(eq > 0, s"malformed MERGE SET assignment: $a")
                      (a.substring(0, eq).trim, a.substring(eq + 1).trim)
                    }))
                  case (false, DeleteActionRe()) => Some(MatchedDelete(cond))
                  case (true, InsertActionRe(cols, values)) =>
                    Some(NotMatchedInsert(cond,
                      Option(cols).map(_.split(",").map(_.trim).toSeq),
                      splitTopLevel(values).map(_.trim)))
                  case _ => None // unsupported action shape
                }
              }
            }
        }
        val targetAlias = Option(m.group(2)).getOrElse(
          sql.substring(m.start(1), m.end(1)).split('.').last)
        val isQuery = m.group(3) == null
        // A subquery source has no derivable name — its alias is required.
        val sourceAlias =
          if (isQuery) Option(m.group(5))
          else Some(Option(m.group(5)).getOrElse(
            sql.substring(m.start(3), m.end(3)).split('.').last))
        val source =
          if (isQuery) sql.substring(m.start(4), m.end(4)).trim
          else sql.substring(m.start(3), m.end(3))
        // Any unparseable clause -> the whole statement is not ours (falls
        // through to spark.sql for a clear engine error).
        if (clauses.exists(_.isEmpty) || sourceAlias.isEmpty) None
        else Some(Merge(sql.substring(m.start(1), m.end(1)), targetAlias,
          source, sourceAlias.get, condition, clauses.flatten,
          sourceIsQuery = isQuery))
      }
    }
  }

  /** Execute MERGE in ONE join pass: full-outer target⋈source on the match
    * condition; matched rows take the first applicable WHEN MATCHED clause
    * (UPDATE with old-row semantics, or DELETE), target-only rows and
    * matched rows with no applicable clause pass through, source-only rows
    * take the first applicable WHEN NOT MATCHED INSERT. Multiple source
    * matches for one target row abort (the host engines' ambiguous-MERGE
    * error). Returns rows_affected = updated + deleted + inserted — rows no
    * clause touched do NOT count (so an insert-only MERGE reports only the
    * inserts).
    *
    * The id-stamped target is `localCheckpoint`ed (eager): the stats action
    * and the overwrite must see the SAME ids, and `monotonically_increasing_
    * id` over a nondeterministic source plan would otherwise be free to
    * renumber between the two actions. Checkpointing truncates the lineage,
    * so re-evaluation is impossible by construction (an executor loss fails
    * the statement instead of silently renumbering).
    *
    * On a partitioned target whose ON clause pins every partition column to
    * a source-side column (`t.pc = s.x`), with no UPDATE assignment to a
    * partition column and every INSERT writing the pinned source expression
    * into it, the merge reads and rewrites ONLY the partitions named by the
    * source's values — the nightly-MERGE-into-3-of-3000-date-partitions
    * shape. Anything else takes the full-table path. */
  private def runMerge(spark: SparkSession, m: Merge): Long = {
    val pcols = partitionColsOf(spark, m.target)
    val prune =
      if (pcols.isEmpty) None
      else mergePruneSourceExprs(spark, m, pcols).map(e => (pcols, e))
    runMergeImpl(spark, m, prune)
  }

  private val QualEqRe =
    "(?is)^\\s*([\\w`]+)\\s*\\.\\s*([\\w`]+)\\s*=\\s*([\\w`]+)\\s*\\.\\s*([\\w`]+)\\s*$".r

  /** For each partition column, the SOURCE-side expression it is equated to
    * by a top-level ON conjunct (`t.pc = s.x`, either order) — None unless
    * EVERY partition column is pinned, no WHEN MATCHED UPDATE assigns one,
    * and every WHEN NOT MATCHED INSERT writes the pinned source expression
    * into it verbatim. Only such statements provably confine their effects
    * to the source's partition values. */
  private def mergePruneSourceExprs(spark: SparkSession, m: Merge,
      pcols: Seq[String]): Option[Seq[String]] = {
    def unq(s: String) = s.replace("`", "")
    val conjuncts = splitTopLevelAnd(m.condition).flatMap {
      case QualEqRe(a, ac, b, bc) => Seq(
        (unq(a), unq(ac), s"${unq(b)}.${unq(bc)}"),
        (unq(b), unq(bc), s"${unq(a)}.${unq(ac)}"))
      case _ => Nil
    }
    val srcSide = pcols.map { pc =>
      conjuncts.collectFirst {
        case (al, c, other) if al.equalsIgnoreCase(m.targetAlias) &&
            c.equalsIgnoreCase(pc) &&
            other.split('.').head.equalsIgnoreCase(m.sourceAlias) => other
      }
    }
    if (srcSide.exists(_.isEmpty)) return None
    val exprs = srcSide.flatten
    val updatesPc = m.clauses.exists {
      case MatchedUpdate(_, assigns) => assigns.exists(a =>
        pcols.exists(pc => unq(a._1).equalsIgnoreCase(pc) ||
          unq(a._1).equalsIgnoreCase(s"${m.targetAlias}.$pc")))
      case _ => false
    }
    if (updatesPc) return None
    val tgtSchema = spark.table(m.target).schema
    val insertsOk = m.clauses.forall {
      case NotMatchedInsert(_, cols, values) =>
        val names = cols.getOrElse(tgtSchema.map(_.name).toSeq)
        pcols.zip(exprs).forall { case (pc, e) =>
          names.zip(values).collectFirst {
            case (n, v) if unq(n).equalsIgnoreCase(pc) => v
          }.exists(v => unq(v).replaceAll("\\s+", "")
            .equalsIgnoreCase(e.replaceAll("\\s+", "")))
        }
      case _ => true
    }
    if (insertsOk) Some(exprs) else None
  }

  private def runMergeImpl(spark: SparkSession, m: Merge,
      prune: Option[(Seq[String], Seq[String])]): Long = {
    val tid = "__graft_tid"
    val smk = "__graft_smatch"
    val tgtSchema = spark.table(m.target).schema
    val srcBase = (if (m.sourceIsQuery) spark.sql(m.source)
                   else spark.table(m.source))
    val touched = prune.map { case (pcols, srcExprs) =>
      (pcols, srcBase.alias(m.sourceAlias)
        .select(srcExprs.map(expr): _*).distinct()
        .limit(MaxTouchedPartitions + 1).collect().toSeq)
    }
    touched match { // empty source ⇒ no matches, no inserts ⇒ no-op
      case Some((_, t)) if t.isEmpty => return 0L
      // More touched partitions than the pruning predicate should carry:
      // this MERGE is a near-full rewrite — run it as one.
      case Some((_, t)) if t.size > MaxTouchedPartitions =>
        return runMergeImpl(spark, m, None)
      case _ => ()
    }
    val tgtBase = touched match {
      case Some((pcols, t)) =>
        spark.table(m.target).filter(touchedPredicate(pcols, t))
      case None => spark.table(m.target)
    }
    val tgt = tgtBase
      .withColumn(tid, monotonically_increasing_id())
      .localCheckpoint(true)
      .alias(m.targetAlias)
    val src = srcBase.withColumn(smk, lit(1)).alias(m.sourceAlias)
    val joined = tgt.join(src, expr(m.condition), "full_outer")
    val matched = col(tid).isNotNull && col(smk).isNotNull

    val indexed = m.clauses.zipWithIndex
    def firstApplicable(cs: Seq[(MergeClause, Int)]): Column =
      cs.foldRight(lit(null).cast("int")) { case ((c, i), els) =>
        when(c.cond.map(expr).getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    // Index of the clause that applies to this joined row (null = none).
    val appliedM = when(matched,
      firstApplicable(indexed.filter(!_._1.isInstanceOf[NotMatchedInsert])))
    val appliedI = when(col(tid).isNull,
      firstApplicable(indexed.filter(_._1.isInstanceOf[NotMatchedInsert])))
    def appliesTo(idxs: Seq[Int]): Column =
      if (idxs.isEmpty) lit(false)
      else coalesce(appliedM.isin(idxs: _*), lit(false))
    val isUpd = appliesTo(indexed.collect { case (_: MatchedUpdate, i) => i })
    val isDel = appliesTo(indexed.collect { case (_: MatchedDelete, i) => i })

    // Counts + ambiguity check in one pass over the join. coalesce(…, 0):
    // with both sides empty the grouped aggregate has ZERO rows and the
    // outer sums/max come back NULL — that is a valid no-op MERGE, not an
    // error.
    val statsRow = joined.groupBy(col(tid)).agg(
      count(when(matched, lit(1))).as("m"),
      count(when(isUpd, lit(1))).as("u"),
      count(when(isDel, lit(1))).as("d"),
      count(when(col(tid).isNotNull && col(smk).isNull, lit(1))).as("t"),
      count(when(appliedI.isNotNull, lit(1))).as("i"))
      .agg(coalesce(sum(col("m")), lit(0L)), coalesce(sum(col("u")), lit(0L)),
        coalesce(sum(col("d")), lit(0L)), coalesce(sum(col("t")), lit(0L)),
        coalesce(sum(col("i")), lit(0L)), coalesce(max(col("m")), lit(0L)))
      .head()
    val (nMatched, nUpdated, nDeleted, nTgtOnly, nInserted) =
      (statsRow.getLong(0), statsRow.getLong(1), statsRow.getLong(2),
        statsRow.getLong(3), statsRow.getLong(4))
    require(statsRow.getLong(5) <= 1L,
      s"MERGE: a ${m.target} row is matched by multiple ${m.source} rows")

    val kept = joined.filter(col(tid).isNotNull && !isDel)
    val updated = kept.select(tgtSchema.map { f =>
      indexed.collect { case (c: MatchedUpdate, i) => (c, i) }
        .foldRight(col(s"${m.targetAlias}.${f.name}")) { case ((c, i), els) =>
          c.assigns.find(_._1.equalsIgnoreCase(f.name)) match {
            case Some((_, e)) =>
              when(appliedM === i, expr(e).cast(f.dataType)).otherwise(els)
            case None => els
          }
        }.as(f.name)
    }.toSeq: _*)

    val insertClauses = indexed.collect { case (c: NotMatchedInsert, i) =>
      val names = c.cols.getOrElse(tgtSchema.map(_.name).toSeq)
      require(names.length == c.values.length,
        s"MERGE INSERT: ${names.length} columns but ${c.values.length} values")
      (c, i, names.zip(c.values).toMap)
    }
    val inserted =
      if (insertClauses.isEmpty) None
      else Some(joined.filter(appliedI.isNotNull).select(tgtSchema.map { f =>
        insertClauses.foldRight(lit(null).cast(f.dataType)) {
          case ((_, i, byName), els) =>
            val v = byName.collectFirst {
              case (n, e) if n.equalsIgnoreCase(f.name) => expr(e).cast(f.dataType)
            }.getOrElse(lit(null).cast(f.dataType))
            when(appliedI === i, v).otherwise(els)
        }.as(f.name)
      }.toSeq: _*))

    val result = inserted.fold(updated)(updated.unionByName(_))
    val expected = nMatched - nDeleted + nTgtOnly + nInserted
    touched match {
      case Some((pcols, t)) =>
        // Partitions present in the (pruned) target must survive a
        // DELETE-capable merge, and inserts must stay inside the source's
        // partition values. Both are checked pre-write on the staged
        // checkpoint; on failure nothing was written — run the full path.
        val mustCover =
          if (m.matchedDelete)
            Some(tgt.select(pcols.map(col): _*).distinct().collect().toSeq)
          else None
        val ok = partitionScopedOverwrite(spark, m.target, pcols, t, result,
          expected, mustCoverParts = mustCover)
        if (ok) nUpdated + nDeleted + nInserted
        else runMergeImpl(spark, m, None)
      case None =>
        checkpointOverwrite(spark, m.target, spark.table(m.target), result,
          expectedRows = expected)
        nUpdated + nDeleted + nInserted
    }
  }

  // ---------------------------------------------------------------- B10:
  // Exasol/Oracle datetime format dialect → Spark (JDK DateTimeFormatter)
  // patterns. The reference's own SQL uses e.g.
  // TO_TIMESTAMP(?, 'YYYY-MM-DD HH24:MI:SS') (QW:98): 'YYYY' is week-year
  // in Spark (silently wrong) and 'HH24'/'MI' are invalid. The translator
  // rewrites format STRING LITERALS inside TO_TIMESTAMP/TO_DATE/TO_CHAR
  // calls only (token-aware, paren-depth tracked) and maps TO_CHAR to
  // date_format.

  private val formatTokenMap: Seq[(String, String)] = Seq(
    "YYYY" -> "yyyy", "YY" -> "yy",
    "HH24" -> "HH", "HH12" -> "hh",
    "MI" -> "mm", "SS" -> "ss",
    "MON" -> "MMM", "DAY" -> "EEEE", "DY" -> "E",
    "DD" -> "dd", "FF3" -> "SSS", "FF" -> "SSS",
    "AM" -> "a", "PM" -> "a")
  // NOTE: 'MM' (month) and 'HH' (12-hour in both dialects) need no entry;
  // HH24/HH12 are handled before a bare HH would match anything.

  private[wrapper] def translateFormatLiteral(lit: String): String = {
    // lit includes the surrounding quotes; translate the body token-wise,
    // longest token first, case-sensitive on the uppercase dialect tokens.
    val body = lit.substring(1, lit.length - 1)
    val sb = new StringBuilder
    var i = 0
    while (i < body.length) {
      formatTokenMap.find { case (from, _) => body.startsWith(from, i) } match {
        case Some((from, to)) => sb ++= to; i += from.length
        case None => sb += body.charAt(i); i += 1
      }
    }
    "'" + sb.result() + "'"
  }

  private val ToFns = Set("to_timestamp", "to_date", "to_char")

  /** Rewrite Exasol-style datetime format literals (and `TO_CHAR` →
    * `date_format`) in a SQL text. Token-aware and call-aware: only string
    * literals lexically inside a TO_* argument list, and only from the
    * SECOND argument on (the format position — first-arg data literals are
    * never touched). */
  def translateDatetimeFormats(sql: String): String = {
    // (depth, commasSeen) per active TO_* call, innermost first.
    final case class Frame(depth: Int, var commas: Int)
    val out = new StringBuilder
    var frames = List.empty[Frame]
    var depth = 0
    var lastWord = ""        // most recent identifier word seen
    var lastWordStart = -1   // its start offset in `out`
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'

    SqlTokens.tokenize(sql).foreach {
      case SqlTokens.Token(SqlTokens.Other, text) =>
        var inWord = false
        text.foreach { c =>
          if (isWordChar(c)) {
            if (!inWord) { lastWordStart = out.length; lastWord = ""; inWord = true }
            lastWord += c
          } else {
            inWord = false
            c match {
              case '(' =>
                depth += 1
                if (ToFns.contains(lastWord.toLowerCase)) {
                  if (lastWord.equalsIgnoreCase("to_char"))
                    out.replace(lastWordStart, lastWordStart + lastWord.length,
                      "date_format")
                  frames ::= Frame(depth, 0)
                }
                lastWord = ""
              case ')' =>
                if (frames.headOption.exists(_.depth == depth)) frames = frames.tail
                depth -= 1
              case ',' =>
                frames.headOption.filter(_.depth == depth).foreach(_.commas += 1)
              case w if w.isWhitespace => () // word survives spaces before '('
              case _ => lastWord = ""
            }
          }
          out += c
        }
      case SqlTokens.Token(SqlTokens.Str, text)
          if frames.headOption.exists(_.commas >= 1) =>
        lastWord = ""
        out ++= translateFormatLiteral(text)
      case t =>
        lastWord = ""
        out ++= t.text
    }
    out.result()
  }

  // --------------------------------------------------- RATIO_TO_REPORT
  // Exasol/Oracle `RATIO_TO_REPORT(expr) OVER (partition)` → ANSI
  // `(expr) / SUM(expr) OVER (partition)`. Pure spelling translation —
  // the window aggregate runs on the builtin (codegen'd) SUM window.

  private val RatioToReportHeadRe = "(?i)\\bratio_to_report\\s*\\(".r
  private val RtrOverRe = "(?is)^\\s*over\\s*\\(".r

  /** Rewrite every RATIO_TO_REPORT call (innermost ones on later
    * passes). A call without a following OVER clause is left for the
    * engine (it's invalid in Exasol too). No-op for SQL without the
    * spelling. */
  def translateRatioToReport(sql: String): String = {
    var cur = sql
    var guard = 0
    while (guard < 50) {
      guard += 1
      val masked = maskLiterals(cur)
      val found = RatioToReportHeadRe.findFirstMatchIn(masked) match {
        case None => return cur
        case Some(m) =>
          val argClose = balancedClose(masked, m.end - 1)
          if (argClose < 0) return cur // unbalanced — leave for the engine
          val after = masked.substring(argClose + 1)
          RtrOverRe.findFirstMatchIn(after) match {
            case None => return cur // no OVER — not the analytic form
            case Some(ov) =>
              val overOpen = argClose + 1 + ov.end - 1
              val overClose = balancedClose(masked, overOpen)
              if (overClose < 0) return cur
              val arg = cur.substring(m.end, argClose).trim
              val overBody = cur.substring(overOpen + 1, overClose)
              val repl =
                s"(($arg) / SUM($arg) OVER ($overBody))"
              cur = cur.substring(0, m.start) + repl +
                cur.substring(overClose + 1)
              true
          }
      }
      if (!found) return cur
    }
    cur
  }

  /** Index of the ')' balancing the '(' at `open` (counted on
    * literal-masked text), or -1. */
  private def balancedClose(masked: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < masked.length) {
      masked.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    -1
  }

  // ------------------------------------------------------- GROUP_CONCAT
  // Exasol `GROUP_CONCAT([DISTINCT] expr [ORDER BY …] [SEPARATOR 'sep'])`
  // → Spark's native `listagg([DISTINCT] expr, 'sep')
  //   [WITHIN GROUP (ORDER BY …)]`. Pure spelling translation — the
  // aggregation itself runs on the builtin (codegen'd) listagg.

  private val GroupConcatHeadRe = "(?i)\\bgroup_concat\\s*\\(".r
  private val GcDistinctRe = "(?is)^\\s*distinct\\b".r
  private val GcOrderByRe = "(?i)\\border\\s+by\\b".r
  private val GcSeparatorRe = "(?i)\\bseparator\\b".r
  private val GcSepLitRe = "(?s)^\\s*('(?:[^']|'')*')".r

  /** Length-preserving copy with string-literal/comment/quoted-identifier
    * INTERIORS blanked but all structural characters kept — for balanced
    * paren scanning (unlike [[maskNonTopLevel]], nesting stays visible). */
  private def maskLiterals(sql: String): String = {
    val sb = new StringBuilder(sql.length)
    SqlTokens.tokenize(sql).foreach {
      case SqlTokens.Token(SqlTokens.Other, text) => sb ++= text
      case SqlTokens.Token(SqlTokens.Comment, text) =>
        (0 until text.length).foreach(_ => sb += ' ')
      case t =>
        sb += t.text.head
        (1 until t.text.length - 1).foreach(_ => sb += ' ')
        if (t.text.length > 1) sb += t.text.last
    }
    sb.result()
  }

  /** Rewrite every GROUP_CONCAT call (innermost ones on later passes) to
    * listagg. Default separator is ',' (the host engine's). No-op for SQL
    * without the spelling. */
  def translateGroupConcat(sql: String): String = {
    var cur = sql
    var guard = 0
    while (guard < 50) {
      guard += 1
      val masked = maskLiterals(cur)
      GroupConcatHeadRe.findFirstMatchIn(masked) match {
        case None => return cur
        case Some(m) =>
          // Matching close paren, counted on the literal-masked text.
          var depth = 0; var i = m.end - 1; var close = -1
          while (close < 0 && i < masked.length) {
            masked.charAt(i) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) close = i
              case _ => ()
            }
            i += 1
          }
          if (close < 0) return cur // unbalanced — leave for the engine
          val body = cur.substring(m.end, close)
          val bodyMasked = masked.substring(m.end, close)
          val distinct = GcDistinctRe.findFirstMatchIn(bodyMasked)
          val ob = GcOrderByRe.findFirstMatchIn(bodyMasked)
          val sep = GcSeparatorRe.findFirstMatchIn(bodyMasked)
          val exprStart = distinct.map(_.end).getOrElse(0)
          val exprEnd = Seq(ob.map(_.start), sep.map(_.start),
            Some(body.length)).flatten.min
          val exprText = body.substring(exprStart, exprEnd).trim
          val orderText = ob.map { om =>
            body.substring(om.end,
              sep.map(_.start).filter(_ > om.end).getOrElse(body.length)).trim
          }
          val sepLit = sep.flatMap { sm =>
            GcSepLitRe.findFirstMatchIn(body.substring(sm.end)).map(_.group(1))
          }.getOrElse("','")
          val repl = "listagg(" + (if (distinct.isDefined) "DISTINCT " else "") +
            exprText + ", " + sepLit + ")" +
            orderText.fold("")(o => s" WITHIN GROUP (ORDER BY $o)")
          cur = cur.substring(0, m.start) + repl + cur.substring(close + 1)
      }
    }
    cur
  }
}
