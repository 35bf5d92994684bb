package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory mirroring the reference's `create_session` semantics
  * (reference: src/spark_fuse/spark.py:164-314) re-expressed for a JVM
  * deployment: environment detection via env vars, sane local defaults,
  * caller-supplied extra configs win last.
  *
  * Scale note: shuffle partitions default to the JVM's available cores in
  * local mode; on a real cluster callers pass `extraConfigs` (or rely on AQE
  * coalescing, which is enabled here).
  */
object Sessions {

  sealed trait Environment { def name: String }
  case object Databricks extends Environment { val name = "databricks" }
  case object Fabric extends Environment { val name = "fabric" }
  case object Local extends Environment { val name = "local" }

  /** Detect the runtime environment from env vars (spark.py:164-173). */
  def detectEnvironment(env: Map[String, String] = sys.env): Environment =
    if (env.contains("DATABRICKS_RUNTIME_VERSION")) Databricks
    else if (env.keys.exists(k => k.startsWith("SYNAPSE_") || k.startsWith("FABRIC_"))) Fabric
    else Local

  /** Build (or get) a SparkSession with graft defaults applied.
    *
    * Generated code lives as long as the application: Spark's codegen
    * cache (`spark.sql.codegen.cache.maxEntries`, a static conf) defaults
    * to a 100-entry LRU, but one perfbench pass already touches about 320
    * generated classes on `graph_loops` and about 170 on
    * `corpus_curation` (driver-side and task-side copies are separate
    * entries), so at 100 a pass evicts its own classes before their next
    * use. The default here is 1000; together with the reused loop
    * sessions of [[Loop.session]] a repeated pass compiles nothing.
    *
    * @param appName      Spark application name.
    * @param master       optional master override; defaults to `local[*]`
    *                     when running outside a managed environment.
    * @param extraConfigs applied last, so they override every default.
    */
  def createSession(
      appName: String = "graft",
      master: Option[String] = None,
      extraConfigs: Map[String, String] = Map.empty): SparkSession = {
    val envKind = detectEnvironment()
    val builder = SparkSession.builder().appName(appName)
    val resolvedMaster = master.orElse(envKind match {
      case Local => Some(s"local[${Runtime.getRuntime.availableProcessors()}]")
      case _ => None // managed envs (Databricks/Fabric) own the master
    })
    resolvedMaster.foreach(builder.master)
    val shufflePartitions = Runtime.getRuntime.availableProcessors().max(2)
    // 127.0.0.1 driver binding is a LOCAL-mode convenience (skips hostname
    // resolution on sandboxed machines) - on a real cluster it would tell
    // executors the driver lives on their own loopback
    val localOnly =
      if (envKind == Local && resolvedMaster.exists(_.startsWith("local")))
        Map(
          "spark.ui.enabled" -> "false",
          "spark.driver.host" -> "127.0.0.1",
          "spark.driver.bindAddress" -> "127.0.0.1")
      else Map.empty[String, String]
    val defaults = Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.codegen.cache.maxEntries" -> "1000"
    ) ++ localOnly
    (defaults ++ extraConfigs).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    // the SQL surface rides along: every graft scalar is callable from
    // spark.sql/JDBC in sessions this factory built (cluster-wide
    // installs use spark.sql.extensions=graft.sql.GraftExtensions)
    graft.sql.GraftFunctions.register(spark)
    spark
  }

  /** Raise Spark log verbosity for targeted categories
    * (reference: src/spark_fuse/utils/progress.py:412-445).
    */
  def enableSparkLogging(
      spark: SparkSession,
      level: String = "INFO",
      categories: Seq[String] = Seq(
        "org.apache.spark.storage",
        "org.apache.spark.scheduler",
        "org.apache.spark.shuffle")): Unit =
    // single implementation - a drifting duplicate lived here before
    graft.obs.Logging.enableSparkLogging(spark, level, categories)
}
