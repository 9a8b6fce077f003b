package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase {
  def spark: SparkSession = SparkTestBase.spark
}
