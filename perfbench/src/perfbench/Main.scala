package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.wrapper.{Params, SqlCompat, SqlTokens}

/** One benchmark run in one JVM: session start, repeated set-up, warm-up,
  * a closed loop of operations by one client thread, output checks, and a
  * JSON record of raw samples for `perfbench/run.py` to turn into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --trace 0|1
  *   --data DIR --work DIR --out FILE --cpus N
  *
  * Each workload times a fixed amount of work, so every run of one build
  * does the same operations. */
object Main {

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  /** Keeps the dispatch chain's results alive, so the JIT cannot drop it. */
  @volatile private var sink = 0L

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val dataDir = opt("data")
    val workDir = opt("work")
    val cpus = opt("cpus")

    val t0 = System.nanoTime()
    val spark = graft.Sessions.builder(cpus)
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, dataDir, workDir, seed)
    val lane: Lane = workload match {
      case "etl_job" => new EtlJobLane(ctx)
      case "query_suite" => new QuerySuiteLane(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val canaryStart = canary(spark, dataDir)
    // Three set-ups: the warm-up runs on the second, the timed loop on the
    // third, so it starts from a fresh warehouse and an empty log store.
    val setupReps = mutable.ArrayBuffer(timed(lane.setUp("setup1")),
      timed(lane.setUp("setup2")))
    val warmupS = timed(lane.warmUp())
    setupReps += timed(lane.setUp("run"))
    ctx.takeExcludedNs()
    ctx.failures.clear()

    // The closed loop: one client thread, next operation as soon as the
    // previous one returns. In a traced run every second operation is
    // traced, so traced and untraced times come from the same process.
    val ops = mutable.ArrayBuffer.empty[Seq[Any]]
    var excludedTotal = 0L
    val loopStart = System.nanoTime()
    for (i <- 0L until lane.ops) {
      val traced = trace && i % 2 == 1
      ctx.opFailed = false
      val s = System.nanoTime()
      val name =
        try tracer.op(i, traced)(lane.op(i))
        catch { case NonFatal(e) => ctx.fail(s"op $i: $e"); "error" }
      val e = System.nanoTime()
      val excluded = ctx.takeExcludedNs()
      excludedTotal += excluded
      ops += Seq(name, (e - s - excluded) / 1e9, traced, ctx.opFailed, i)
    }
    val wallS = (System.nanoTime() - loopStart - excludedTotal) / 1e9

    val canaryEnd = canary(spark, dataDir)
    val dispatchUs = if (trace) dispatchMicros(lane.texts) else None
    tracer.drain()

    val spans = if (!trace) Nil else tracer.spans.toSeq.map { s =>
      val c = tracer.countersOf(s)
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "ms" -> s.ms,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_failures" -> c.taskFailures, "run_ms" -> c.runMs,
        "cpu_ms" -> c.cpuNs / 1e6, "gc_ms" -> c.gcMs, "wait_ms" -> c.waitMs,
        "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite,
        "spill" -> c.spill, "peak_mem" -> c.peakMem,
        "out_bytes" -> c.outBytes, "out_records" -> c.outRecords,
        "job_wall_ms" -> c.jobWallMs, "plan_ms" -> c.planMs,
        "rows" -> s.rows)
    }
    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cpus" -> cpus.toInt,
      "spark_version" -> spark.version,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "session_s" -> sessionS, "setup_reps_s" -> setupReps,
      "warmup_s" -> warmupS, "ops" -> ops, "wall_s" -> wallS,
      "canary_s" -> Seq(canaryStart, canaryEnd),
      "vm_hwm_kb" -> vmHwmKb(), "failures" -> ctx.failures.toSeq,
      "dispatch_us" -> dispatchUs,
      "spans" -> spans, "extra" -> lane.extra)
    Main.json.writeValue(new java.io.File(opt("out")), record)
    spark.stop()
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of three `q01_count_star` runs: a fixed trivial query whose
    * time follows the machine, not the code. */
  private def canary(spark: SparkSession, dataDir: String): Double = {
    val q = graft.queries.Queries.all.find(_.name == "q01_count_star").get
    val ts = (1 to 3).map(_ => timed {
      q.fn(spark, dataDir).write.format("noop").mode(SaveMode.Overwrite).save()
    }).sorted
    ts(1)
  }

  /** The pure token/parameter/dialect chain the wrapper runs before Spark
    * sees a statement, called directly on the statement texts of the run:
    * median microseconds per statement. */
  private def dispatchMicros(texts: Seq[String]): Option[Double] = {
    def chain(sql: String): Int = {
      val spliced = Params.spliceIdentifiers(sql, Map.empty)
      val (s, _) = SqlTokens.rewritePlaceholders(spliced)
      val parsed = Seq(SqlCompat.parseUpdate(s), SqlCompat.parseDelete(s),
        SqlCompat.parseMerge(s), SqlCompat.parseImport(s),
        SqlCompat.parseExport(s)).count(_.isDefined)
      val cb = SqlCompat.translateConnectBy(s).getOrElse(s)
      val pf = SqlCompat.translatePreferring(cb).getOrElse(cb)
      val qf = SqlCompat.translateQualify(pf).getOrElse(pf)
      val rn = SqlCompat.translateRownum(qf).getOrElse(qf)
      val sr = SqlCompat.translateSelectRownum(rn).getOrElse(rn)
      val out = SqlCompat.translateDatetimeFormats(
        SqlCompat.translateRatioToReport(SqlCompat.translateGroupConcat(sr)))
      parsed + out.length + Params.valueParamNames(out).size
    }
    if (texts.isEmpty) None
    else {
      val perText = texts.map { sql =>
        (1 to 50).foreach(_ => sink += chain(sql))
        val reps = 200
        val t0 = System.nanoTime()
        (1 to reps).foreach(_ => sink += chain(sql))
        (System.nanoTime() - t0) / 1e3 / reps
      }.sorted
      Some(perText(perText.size / 2))
    }
  }

  private def vmHwmKb(): Long = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  } catch { case NonFatal(_) => -1L }
}
