package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus upscaling for scale benchmarking: replicate the
  * driver fixture `copies`× with per-copy key shifting so every join
  * relationship, key domain, and group cardinality scales together —
  * copy i shifts every BIGINT key column by `i × 10⁹` (far above any
  * fixture key), so FK edges (orders→lineitem, customer→orders,
  * part/supplier→lineitem) stay intact WITHIN a copy and never collide
  * across copies. Text/embedding payloads are perturbed per copy
  * (prefix token / +i·10⁻³ per dimension) so dedup and ANN queries face
  * realistically-unique rows rather than 10 exact duplicates of
  * everything; region/nation stay fixed like TPC-H's unscaled dims.
  *
  * Usage: `runMain graft.ScaleUp [srcDir] [dstDir] [copies]` — defaults
  * `/root/testdata/sf0.1 → /tmp/sf1_derived × 10`, the sf1-equivalent
  * scale point BENCH_SCALE_r11 uses (the driver fixtures stop at sf0.1;
  * this derivation is bench-only and never feeds the DuckDB
  * correctness gate). Everything is a narrow projection over an
  * `explode(sequence(...))` — no driver-side loops, no rand(). */
object ScaleUp {

  private val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/sf1_derived"
    val copies = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    derive(spark, src, dst, copies)
    spark.stop()
  }

  /** The derivation itself, session-injected (ScaleUpSpec pins the
    * contract: per-copy FK closure, no cross-copy key collisions,
    * payload perturbation). */
  def derive(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {

    def upscale(name: String, keyCols: Seq[String])(
        extra: DataFrame => DataFrame = identity): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      val cols = df.columns.toSeq
      val rep = df.select(col("*"),
        explode_outer(sequence(lit(0L), lit(copies - 1L))).as("__c"))
      val shifted = keyCols.foldLeft(rep) { (d, k) =>
        d.withColumn(k, col(k) + col("__c") * lit(Stride))
      }
      extra(shifted).select(cols.map(col): _*)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"upscaled $name x$copies")
    }

    def copyAsIs(name: String): Unit = {
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"copied $name")
    }

    // Entity NAME columns get a per-copy suffix alongside the key shift:
    // real sf1 has unique names per key, and 10 exact-duplicate name
    // strings per entity would hand similarity/ER queries (edit-distance
    // blocking, phonetic keys) quadratic duplicate floods that genuine
    // scale-up never produces (first sf1 attempt: q105's buckets grew
    // 10× dense with identical strings → 100× candidate pairs → a
    // disk-filling spill).
    def suffixed(c: String): DataFrame => DataFrame =
      _.withColumn(c, when(col("__c") === 0, col(c))
        .otherwise(concat(col(c), lit("-c"), col("__c"))))
    copyAsIs("region")
    copyAsIs("nation")
    upscale("customer", Seq("c_custkey"))(suffixed("c_name"))
    upscale("supplier", Seq("s_suppkey"))(suffixed("s_name"))
    upscale("part", Seq("p_partkey"))(suffixed("p_name"))
    upscale("orders", Seq("o_orderkey", "o_custkey"))()
    upscale("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
    // Events scale in HISTORY, not density: copy i shifts ts by i×31
    // days past the fixture's ~30-day span. Identical timestamps across
    // copies would pile 10× the users into every (type, hour) cell —
    // co-occurrence pair generation (q119's cell-blocked edges) is
    // quadratic in cell DENSITY, so that derivation would measure an
    // artifact (first sf1 attempt OOM'd there), while a longer stream at
    // the same arrival rate is how an events table actually grows.
    upscale("events", Seq("event_id", "user_id")) { d =>
      d.withColumn("ts",
        expr("timestampadd(DAY, CAST(__c * 31 AS INT), ts)"))
    }
    upscale("documents", Seq("doc_id")) { d =>
      // copy 0 keeps the original text; later copies prepend a copy
      // token so near-dup/contamination queries see realistic variation
      // instead of `copies` exact duplicates of the whole corpus
      d.withColumn("text", when(col("__c") === 0, col("text"))
        .otherwise(concat(lit("c"), col("__c"), lit(" "), col("text"))))
    }
    upscale("embeddings", Seq("vec_id")) { d =>
      // tiny per-copy offset per dimension keeps ANN/semdedup geometry
      // non-degenerate (no exact-tie floods) while preserving clusters
      d.withColumn("embedding",
        transform(col("embedding"),
          x => x + (col("__c") * lit(0.001)).cast("float")))
    }
  }
}
