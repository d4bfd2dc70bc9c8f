package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Centralizes the session options the engine's semantics rely on, so every
  * entry point (Verify, Bench, tests, user code) runs under the same contract:
  *
  *  - `spark.sql.mapKeyDedupPolicy=LAST_WIN`: the reference's `m_add` map-union
  *    lets later maps overwrite earlier keys (reference:
  *    data-process/hive-udfs/src/main/java/com/thenetcircle/service/data/hive/udf/commons/UDFMapAdd.java:45-62).
  *    Spark's default for duplicate map keys is EXCEPTION; LAST_WIN restores the
  *    reference semantics for `map_concat`-based `m_add`.
  *  - UTC session time zone: deterministic timestamp <-> date/epoch conversions
  *    regardless of host zone (the oracle compares against DuckDB, which is
  *    zone-naive).
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  *    broadcast conversion — the knobs the reference tuned by hand in Hive
  *    (reference: data-process/spark-process/configs/configs.properties:6-11)
  *    are Catalyst/AQE defaults here.
  *  - shuffle partitions sized for the local test harness via
  *    `SPARK_GRAFT_CPUS`; on a real cluster this is overridden by AQE +
  *    deploy-time conf, not hardcoded.
  */
object GraftSession {

  /** `enableHive = true` opts into the Hive metastore catalog, the
    * reference's deployment mode (reference: process/Configs.scala:65
    * `spark.sql.catalogImplementation=hive`); Hive jars ship with Spark.
    * Static conf — must be set before the SparkContext starts.
    */
  def builder(appName: String = "graft", enableHive: Boolean = false): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (enableHive) b.enableHiveSupport() else b
  }

  /** Deploy-time conf for a real cluster — what `builder` pins for
    * local[32] plus the scale knobs: AQE skew-join splitting, 128 MiB scan
    * partitions, 64 MiB broadcast threshold (the reference hand-tuned
    * Hive's equivalent map-join threshold, configs.properties:8), and
    * speculation off because the effectful connectors (HTTP/KV/Kafka push)
    * are at-least-once — a speculative duplicate task would double-fire
    * side effects (SURVEY §7.4.1).
    */
  val clusterConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.mapKeyDedupPolicy" -> "LAST_WIN",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.cbo.enabled" -> "true", // reference: hive.cbo.enable (configs.properties:25)
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.speculation" -> "false",
    "spark.sql.extensions" -> "graft.GraftExtensions")

  /** Cluster builder: `clusterConf` applied, master/deploy left to
    * spark-submit. Call [[configure]] on the built session for the full
    * function surface.
    */
  def clusterBuilder(appName: String = "graft"): SparkSession.Builder =
    clusterConf.foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Local session for tests and CLI mains. */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = builder(appName).master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
    spark
  }

  /** Applies engine session settings + function registrations to an existing
    * session (e.g. the one the driver's Verify/Bench mains build). Idempotent.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // The driver's events.parquet carries TIMESTAMP(NANOS); Spark has no
    // nanosecond timestamp type, so read it as BIGINT nanoseconds and
    // convert explicitly where needed (see queries.T.eventsWithTs).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // per-row kernels over a narrow file scan run widened: see WidenNarrowScans
    org.apache.spark.sql.graft.WidenNarrowScans.install(spark)
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }
}
