package graft.wrapper

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Durable script/connection catalog (VERDICT r11 #3). In the host engine
  * `CREATE SCRIPT` and `CREATE CONNECTION` make durable catalog objects —
  * the reference itself is *installed once* via this DDL (query_wrapper
  * .sql:22, README.md:12) and survives forever — while graft's registries
  * ([[ScriptRegistry]], [[SqlCompat]]'s connection map) are driver-memory
  * and die with the JVM. SQL-bodied scripts and named connections are
  * pure data, so a [[LogStore]]-backed wrapper writes them through to two
  * warehouse tables beside the job log (`<root>/scripts`,
  * `<root>/connections`) and [[QueryWrapper.init]] rehydrates both
  * registries on construction: a fresh session sees every surviving
  * object, exactly the host catalog model. Scala-closure scripts
  * (registered via [[ScriptRegistry.register]] directly) are
  * session-scoped by nature and never persist.
  *
  * Both tables are metadata-sized (one row per catalog object), so the
  * REPLACE/DROP rewrite is the same read-transform-overwrite discipline
  * as [[LogStore.close]] — distributed projection + lineage-breaking
  * localCheckpoint, never a driver collect. Writers on the SAME warehouse
  * serialize through a JVM-global per-rootDir lock (every EXECUTE SCRIPT
  * spawns its own wrapper — and catalog — over the shared rootDir, so an
  * instance-level lock would let two of them read-union-overwrite each
  * other's rows away); cross-PROCESS writers share [[LogStore]]'s
  * documented single-driver contract (the reference itself races across
  * sessions, QW:277).
  *
  * CREDENTIALS: `CREATE CONNECTION … IDENTIFIED BY` persists the password
  * as-is in the `connections` table — the warehouse directory's access
  * control IS the credential boundary, exactly the host-engine catalog
  * model (anyone who can read the catalog can use the connection).
  * Deployments needing at-rest encryption should put the warehouse on an
  * encrypted filesystem; a key-management layer is out of scope here and
  * a home-grown obfuscation would only pretend otherwise.
  */
final class DurableCatalog(
    spark: SparkSession,
    rootDir: String,
    clock: () => Instant = () => Instant.now()) {

  import DurableCatalog.{hydratedRoots, lockFor, normalize}

  /** Normalized lock/hydration key: two spellings of the same warehouse
    * ("/w/cat" vs "/w/cat/") must share one lock or the per-root
    * serialization is defeated. */
  private val rootKey = normalize(rootDir)

  private val lock = lockFor(rootKey)

  val scriptsPath = s"$rootDir/scripts"
  val connectionsPath = s"$rootDir/connections"

  /** The full original DDL text is the persisted form — rehydration
    * re-parses it through the SAME [[SqlCompat.parseCreateScript]] the
    * live path uses, so stored and freshly-created scripts can never
    * diverge in interpretation. */
  val scriptsSchema: StructType = StructType(Seq(
    StructField("script_name", StringType, nullable = false),
    StructField("ddl", StringType, nullable = false),
    StructField("created_at", TimestampType)))

  val connectionsSchema: StructType = StructType(Seq(
    StructField("connection_name", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("conn_user", StringType),
    StructField("conn_pass", StringType),
    StructField("created_at", TimestampType)))

  private def fs(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def exists(path: String): Boolean = {
    val (p, f) = fs(path); f.exists(p)
  }

  def scripts: DataFrame =
    if (exists(scriptsPath))
      spark.read.schema(scriptsSchema).parquet(scriptsPath)
    else spark.createDataFrame(new java.util.ArrayList[Row](), scriptsSchema)

  def connections: DataFrame =
    if (exists(connectionsPath))
      spark.read.schema(connectionsSchema).parquet(connectionsPath)
    else spark.createDataFrame(
      new java.util.ArrayList[Row](), connectionsSchema)

  /** Upsert-by-key rewrite of a one-row-per-object table: survivors are
    * checkpointed BEFORE the overwrite touches the files being read
    * (the LogStore.close/SqlCompat.runUpdate discipline). */
  private def rewrite(path: String, schema: StructType, current: DataFrame,
      keyCol: String, key: String, replacement: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.{col, upper}
    val survivors = current.filter(upper(col(keyCol)) =!= key)
    val next = survivors
      .unionByName(spark.createDataFrame(replacement.asJava, schema))
      .coalesce(1) // catalog tables are one row per object — one file
      .localCheckpoint()
    next.write.mode("overwrite").parquet(path)
  }

  private def canonical(name: String): String =
    name.replace("`", "").toUpperCase

  def saveScript(name: String, ddl: String): Unit = lock.synchronized {
    val key = canonical(name)
    rewrite(scriptsPath, scriptsSchema, scripts, "script_name", key,
      Seq(Row(key, ddl, Timestamp.from(clock()))))
  }

  /** Removes the stored row if present; returns whether one existed. A
    * drop against a store that was never created stays a pure no-op (the
    * table must not materialize), and the return value lets the DDL layer
    * honor a store row the in-memory registry never saw (e.g. dropped
    * there by a no-catalog wrapper sharing this JVM's registries). */
  def dropScript(name: String): Boolean = lock.synchronized {
    val key = canonical(name)
    if (!exists(scriptsPath)) false
    else {
      import org.apache.spark.sql.functions.{col, upper}
      val had =
        scripts.filter(upper(col("script_name")) === key).limit(1).count() > 0
      if (had)
        rewrite(scriptsPath, scriptsSchema, scripts, "script_name", key, Nil)
      had
    }
  }

  def saveConnection(name: String, url: String, user: Option[String],
      pass: Option[String]): Unit = lock.synchronized {
    val key = canonical(name)
    rewrite(connectionsPath, connectionsSchema, connections,
      "connection_name", key,
      Seq(Row(key, url, user.orNull, pass.orNull, Timestamp.from(clock()))))
  }

  /** See [[dropScript]] — same no-op/return contract. */
  def dropConnection(name: String): Boolean = lock.synchronized {
    val key = canonical(name)
    if (!exists(connectionsPath)) false
    else {
      import org.apache.spark.sql.functions.{col, upper}
      val had = connections
        .filter(upper(col("connection_name")) === key).limit(1).count() > 0
      if (had)
        rewrite(connectionsPath, connectionsSchema, connections,
          "connection_name", key, Nil)
      had
    }
  }

  /** Load both catalog tables into the live registries. In-memory entries
    * win (within a JVM the registry is at least as new as the store —
    * every DDL writes through), so rehydration only fills names the
    * session hasn't seen; on a fresh JVM that is everything. Hydration
    * runs ONCE per (JVM, rootDir): every EXECUTE SCRIPT spawns its own
    * wrapper over the same warehouse, and since the in-JVM registries
    * stay write-through-fresh, re-reading the tables per spawn would be
    * pure cost. Tables are one row per object, so the collect here is
    * bounded by catalog size, not data size. */
  def rehydrate(): Unit = lock.synchronized {
    if (hydratedRoots.contains(rootKey)) return
    scripts.collect().foreach { r =>
      val name = r.getString(0)
      if (ScriptRegistry.lookup(name).isEmpty)
        SqlCompat.parseCreateScript(r.getString(1)).foreach { cs =>
          ScriptRegistry.register(name,
            ScriptRegistry.Script(SqlCompat.scriptSteps(cs)))
        }
    }
    connections.collect().foreach { r =>
      val name = r.getString(0)
      if (SqlCompat.lookupConnection(name).isEmpty)
        SqlCompat.registerConnection(name, SqlCompat.Connection(
          r.getString(1), Option(r.getString(2)), Option(r.getString(3))))
    }
    // Mark hydrated only AFTER both collects succeed: memoizing up front
    // would make one transient read failure permanently hide every stored
    // object from this JVM (the retry would return immediately).
    hydratedRoots.add(rootKey); ()
  }
}

object DurableCatalog {

  /** Hadoop-Path normalization (trailing/duplicate slashes collapse) so
    * every spelling of a root maps to one lock + one hydration entry. */
  private def normalize(rootDir: String): String =
    new org.apache.hadoop.fs.Path(rootDir).toString

  /** One lock object per warehouse root — serializes the
    * read-union-overwrite rewrites of ALL DurableCatalog instances over
    * the same rootDir in this JVM. Keyed on the NORMALIZED root. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(rootKey: String): Object =
    locks.computeIfAbsent(rootKey, _ => new Object)

  /** Roots already hydrated in this JVM ([[DurableCatalog.rehydrate]]'s
    * once-per-JVM guard). */
  private val hydratedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** TEST HOOK: forget that `rootDir` was hydrated, so the next wrapper
    * construction re-reads the stored catalog — the session-restart
    * simulation in ExecuteScriptSpec (a real restart forgets by dying). */
  private[wrapper] def resetHydration(rootDir: String): Unit = {
    hydratedRoots.remove(normalize(rootDir)); ()
  }
}
