package graft

/** Dev tool: print the formatted physical plan for declared queries.
  * Usage: runMain graft.Explain [sfDir] [queryName ...] (default: all).
  * Set GRAFT_NO_BROADCAST=1 to disable auto-broadcast — shows the plan
  * shape the query takes once no side fits a broadcast (the 100 TB
  * view of join strategy, where sf0.001 would otherwise broadcast
  * everything). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.get("GRAFT_NO_BROADCAST").contains("1"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
