package perfbench

import scala.collection.mutable

import graft.wrapper.{LogStore, QueryWrapper}

/** `etl_job`: the reference system's own workload. Each operation is one
  * logged multi-statement job, from `QueryWrapper.apply` to `finish()`:
  *
  * DELETE stage → IMPORT CSV → UPDATE → MERGE → DELETE → SELECT GROUP BY →
  * prepared `executeBatch` INSERT of 100 rows → EXPORT CSV → commit → finish.
  * A run times a fixed 4 jobs, so every run sees the same log history.
  *
  * Every job is identical: the MERGE inserts half of the staged keys and
  * the second DELETE removes them again, so the tables keep their size and
  * only the log history grows. Each statement's rowcount is checked
  * against an independent plain `spark.sql` count, and each job against
  * its `job_log` and `job_details` rows. */
final class EtlJobLane(ctx: Ctx) extends Lane {
  import ctx.spark

  private val NewKeyBase = 10000000L
  /** Messages one job leaves in `job_details`: the registration line, one
    * INFO per statement (7), the batch insert, and the two commits. */
  private val DetailsPerJob = 11L

  private val UpdatePred = "o_orderstatus = 'P' " +
    "AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'"

  private var root = ""
  private var logStore: LogStore = _
  private var jobs = 0L
  /** Data rows of the staged CSV file, and how many carry new keys. */
  private var csvRows, csvNewKeys = 0L
  private val sent = mutable.LinkedHashSet.empty[String]

  def setUp(tag: String): Unit = {
    root = s"${ctx.workDir}/$tag"
    jobs = 0L
    spark.sql(s"CREATE DATABASE etl_$tag LOCATION '$root/wh'")
    spark.sql(s"USE etl_$tag")
    spark.read.parquet(s"${ctx.dataDir}/etl_orders.parquet")
      .write.format("parquet").saveAsTable("orders")
    spark.sql("CREATE TABLE stage (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, " +
      "o_orderpriority STRING) USING parquet")
    val csv = spark.read.schema(spark.table("stage").schema)
      .option("header", "true").csv(s"${ctx.dataDir}/stage.csv")
    csv.write.insertInto("stage")
    val counts = ctx.check {
      csv.selectExpr("count(*)", s"count_if(o_orderkey >= $NewKeyBase)").head()
    }
    csvRows = counts.getLong(0)
    csvNewKeys = counts.getLong(1)
    spark.sql("CREATE TABLE audit (job BIGINT, k BIGINT, note STRING) " +
      "USING parquet")
    logStore = new LogStore(spark, s"$root/logs")
  }

  /** Two jobs: the first is the cold one; the second still runs code the
    * JIT has not finished compiling. */
  def warmUp(): Unit = { job(); job() }

  def ops: Long = 4L

  def op(i: Long): String = { job(); "job" }

  private def stmt(w: QueryWrapper, kind: String, layer: String, sql: String,
      expected: Long): Unit = {
    sent += sql
    val (ok, res) = ctx.tracer.span(layer, kind)(w.query(sql))
    val got = if (ok) res.normalizedRowCount else -1L
    ctx.tracer.setRows(got)
    if (got != expected)
      ctx.fail(s"etl_job $kind: rowcount $got, expected $expected")
  }

  /** One job. The expected rowcounts come from plain `spark.sql` counts
    * taken between statements, outside the timed region; a count is taken
    * early where the statements in between cannot change it. */
  private def job(): Unit = {
    val pre = ctx.longs("SELECT (SELECT count(*) FROM stage), " +
      s"(SELECT count(*) FROM orders WHERE $UpdatePred)")
    val w = ctx.tracer.span("logstore", "open") {
      QueryWrapper(spark, Some(logStore), "etl_job")
    }
    w.onError = "continue"
    stmt(w, "delete", "dml", "DELETE FROM stage", pre(0))
    stmt(w, "import", "dml",
      s"IMPORT INTO stage FROM LOCAL CSV FILE '${ctx.dataDir}/stage.csv' " +
        "COLUMN SEPARATOR = ',' SKIP = 1", csvRows)
    stmt(w, "update", "dml",
      "UPDATE orders SET o_totalprice = o_totalprice + 1, " +
        s"o_orderpriority = '1-URGENT' WHERE $UpdatePred", pre(1))
    stmt(w, "merge", "dml",
      "MERGE INTO orders t USING stage s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, " +
        "o_orderpriority = s.o_orderpriority " +
        "WHEN NOT MATCHED THEN INSERT VALUES (s.o_orderkey, s.o_custkey, " +
        "s.o_orderstatus, s.o_totalprice, s.o_orderdate, s.o_orderpriority)",
      csvRows)
    stmt(w, "delete", "dml",
      s"DELETE FROM orders WHERE o_orderkey >= $NewKeyBase", csvNewKeys)
    val post = ctx.longs("SELECT count(DISTINCT o_orderstatus), " +
      "count_if(o_orderpriority = '1-URGENT'), " +
      s"count_if(o_orderkey >= $NewKeyBase) FROM orders")
    if (post(2) != 0L) ctx.fail(s"etl_job delete left ${post(2)} new keys")
    stmt(w, "select", "wrapper",
      "SELECT o_orderstatus, count(*) AS cnt, sum(o_totalprice) AS total " +
        "FROM orders GROUP BY o_orderstatus", post(0))
    val ps = ctx.tracer.span("wrapper", "prepare") {
      w.prepare("INSERT INTO audit VALUES (?, ?, ?)")
    }
    val rows = (1 to 100).map(k => Seq[Any](jobs, k.toLong, s"row $k"))
    val (ok, res) =
      ctx.tracer.span("wrapper", "batch_insert")(ps.executeBatch(rows))
    val got = if (ok) res.head.normalizedRowCount else -1L
    val added = ctx.longs(s"SELECT count(*) FROM audit WHERE job = $jobs")(0)
    if (got != 100L || added != 100L)
      ctx.fail(s"etl_job batch_insert: rowcount $got, rows added $added")
    stmt(w, "export", "dml",
      "EXPORT (SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderpriority = '1-URGENT') INTO LOCAL CSV FILE " +
        s"'$root/export' REPLACE WITH COLUMN NAMES", post(1))
    val (cok, _) = ctx.tracer.span("logstore", "commit")(w.commit())
    if (!cok) ctx.fail("etl_job commit failed")
    ctx.tracer.span("logstore", "finish")(w.finish())
    jobs += 1
    w.runId match {
      case Some(id) =>
        val log = ctx.longs("SELECT (SELECT count(*) FROM parquet.`" +
          s"${logStore.jobLogPath}` WHERE run_id = $id " +
          "AND status = 'FINISHED SUCCESSFULLY' AND end_time IS NOT NULL), " +
          "(SELECT count(*) FROM parquet.`" +
          s"${logStore.jobDetailsPath}` WHERE run_id = $id)")
        if (log(0) != 1L)
          ctx.fail(s"etl_job run $id: ${log(0)} finished job_log rows")
        if (log(1) != DetailsPerJob)
          ctx.fail(s"etl_job run $id: ${log(1)} job_details rows, " +
            s"expected $DetailsPerJob")
      case None => ctx.fail("etl_job: no run id")
    }
  }

  override def texts: Seq[String] = sent.toSeq

  override def extra: Map[String, Any] = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
      else Iterator(f)
    val logFiles = walk(new java.io.File(s"$root/logs")).toSeq
    Map("log_files" -> logFiles.size, "log_bytes" -> logFiles.map(_.length).sum,
      "jobs" -> jobs)
  }
}
