package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.connectors._

/** Connector-backed queries against deterministic zero-egress stand-ins
  * (FIXTURES.md §4): an embedded HTTP server, an in-memory KV store, an
  * in-memory path-tree, and the events table viewed as a message log. Each
  * stand-in responds with a pure function of the request, so a DuckDB oracle
  * can recompute the expected result from the source tables alone.
  */
object Connectors {

  // -------------------------------------------------------------------- HTTP

  /** http_get via the partition-level operator: GET /echo with per-row query
    * strings; the server echoes the query string back, so content is a pure
    * function of the row. Exercises result-struct shape + one-client-per-
    * partition reuse.
    */
  def httpGetEcho(s: SparkSession, dir: String): DataFrame = {
    val base = LocalHttpServer.base
    val in = T(s, dir, "customer").filter(col("c_custkey") <= 50)
      .select(col("c_custkey"), col("c_mktsegment"))
    Http.withGet(in,
        concat(lit(s"$base/echo?ck="), col("c_custkey"),
          lit("&seg="), col("c_mktsegment")))
      .select(col("c_custkey"), col("resp.code").as("code"),
        col("resp.content").as("echo"))
      .orderBy(col("c_custkey"))
  }

  val httpGetEchoOracle: String =
    """SELECT c_custkey, 200 AS code,
      |  'ck=' || c_custkey || '&seg=' || c_mktsegment AS echo
      |FROM customer WHERE c_custkey <= 50
      |ORDER BY c_custkey""".stripMargin

  /** http_post via the registered SQL function: the server appends the posted
    * body's length as `blen`, and non-2xx statuses (/status/NNN) plus the
    * (-1, null, message) connection-error contract are exercised.
    */
  def httpPostStatus(s: SparkSession, dir: String): DataFrame = {
    val base = LocalHttpServer.base
    T(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
      .withColumn("resp",
        expr(s"http_post(concat('$base/echo?nk=', n_nationkey), n_name)"))
      .withColumn("bad",
        expr(s"http_get(concat('$base/status/', 400 + n_nationkey % 100))"))
      .select(col("n_nationkey"),
        col("resp.code").as("code"), col("resp.content").as("echo"),
        col("bad.code").as("bad_code"), col("bad.content").as("bad_content"))
      .orderBy(col("n_nationkey"))
  }

  val httpPostStatusOracle: String =
    """SELECT n_nationkey, 200 AS code,
      |  'nk=' || n_nationkey || '&blen=' || length(n_name) AS echo,
      |  CAST(400 + n_nationkey % 100 AS INTEGER) AS bad_code,
      |  CAST(400 + n_nationkey % 100 AS VARCHAR) AS bad_content
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** t_http_post via the partition-level operator (one client per partition,
    * retained columns = the reference's ctx protocol): POST n_name to /echo,
    * which reports the posted body's length as `blen`.
    */
  def httpPostPartition(s: SparkSession, dir: String): DataFrame = {
    val base = LocalHttpServer.base
    val in = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    Http.withPost(in, concat(lit(s"$base/echo?nk="), col("n_nationkey")), col("n_name"))
      .select(col("n_nationkey"), col("resp.code").as("code"),
        col("resp.content").as("echo"))
      .orderBy(col("n_nationkey"))
  }

  val httpPostPartitionOracle: String =
    """SELECT n_nationkey, 200 AS code,
      |  'nk=' || n_nationkey || '&blen=' || length(n_name) AS echo
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  // ---------------------------------------------------------------------- KV

  /** jd_get enrichment: nation names seeded into the KV store driver-side
    * (jd_mset), customers look up their nation per row on executors.
    */
  def kvGetEnrich(s: SparkSession, dir: String): DataFrame = {
    val factory = InMemoryKv.Factory("verify-kv")
    val nations = T(s, dir, "nation").select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().map(r => s"n:${r.getLong(0)}" -> r.getString(1)).toSeq
    Kv.seed(factory, nations)
    val in = T(s, dir, "customer").filter(col("c_custkey") <= 200)
      .select(col("c_custkey"), col("c_nationkey"))
    Kv.withGet(in, concat(lit("n:"), col("c_nationkey")), factory)
      .select(col("c_custkey"), col("ret").as("nation_name"))
      .orderBy(col("c_custkey"))
  }

  val kvGetEnrichOracle: String =
    """SELECT c_custkey, n_name AS nation_name
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_custkey <= 200
      |ORDER BY c_custkey""".stripMargin

  /** jd_mget + jd_set5 NX/XX semantics, all observable in one deterministic
    * pass: set5-NX can only create, set5-XX can only overwrite.
    */
  def kvSetSemantics(s: SparkSession, dir: String): DataFrame = {
    val ns = "verify-kv-set"
    InMemoryKv.clear(ns)
    val factory = InMemoryKv.Factory(ns)
    val in = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val afterNx = Kv.withSet5(in, concat(lit("nk:"), col("n_nationkey")), col("n_name"),
      lit("NX"), lit(null).cast("string"), lit(0L), factory, ret = "nx1")
    // second NX on the same key must fail (null); XX overwrite must succeed
    val afterNx2 = Kv.withSet5(afterNx, concat(lit("nk:"), col("n_nationkey")),
      lit("other"), lit("NX"), lit(null).cast("string"), lit(0L), factory, ret = "nx2")
    val afterXx = Kv.withSet5(afterNx2, concat(lit("nk:"), col("n_nationkey")),
      upper(col("n_name")), lit("XX"), lit(null).cast("string"), lit(0L), factory, ret = "xx1")
    Kv.withMGet(afterXx,
        array(concat(lit("nk:"), col("n_nationkey")), lit("nk:missing")), factory, ret = "vals")
      .select(col("n_nationkey"), col("nx1"), col("nx2"), col("xx1"),
        element_at(col("vals"), 1).as("final_val"),
        element_at(col("vals"), 2).as("missing_val"))
      .orderBy(col("n_nationkey"))
  }

  val kvSetSemanticsOracle: String =
    """SELECT n_nationkey, 'OK' AS nx1, CAST(NULL AS VARCHAR) AS nx2, 'OK' AS xx1,
      |  upper(n_name) AS final_val, CAST(NULL AS VARCHAR) AS missing_val
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** jd_set2 + jd_keys + jd_del lifecycle: create via per-row SET, list with
    * a glob, delete a slice (observing per-row removal counts), list what's
    * left. SET is idempotent, so its branch may be re-executed by the final
    * union; DEL is not, so its rows are materialized driver-side exactly once.
    */
  def kvLifecycle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ns = "verify-kv-lc"
    InMemoryKv.clear(ns)
    val factory = InMemoryKv.Factory(ns)
    val in = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val set = Kv.withSet(in, concat(lit("lc:"), col("n_nationkey")), col("n_name"),
      factory, ret = "st")
    set.count() // materialize the writes before listing
    val keys1 = Kv.keys(s, factory, "lc:1*")
      .select(lit("keys_1x").as("op"), col("key").as("k"), lit("").as("v"))
    val delRows = Kv.withDel(in.filter(col("n_nationkey") % 5 === 0),
        array(concat(lit("lc:"), col("n_nationkey"))), factory, ret = "nd")
      .select(col("n_nationkey"), col("nd")).collect()
      .map(r => ("del", s"lc:${r.get(0)}", r.getLong(1).toString)).toSeq
    val del = delRows.toDF("op", "k", "v")
    val left = Kv.keys(s, factory, "lc:*")
      .select(lit("left").as("op"), col("key").as("k"), lit("").as("v"))
    val setOut = set.select(lit("set").as("op"),
      concat(lit("lc:"), col("n_nationkey")).as("k"), col("st").as("v"))
    setOut.unionAll(keys1).unionAll(del).unionAll(left).orderBy(col("op"), col("k"))
  }

  val kvLifecycleOracle: String =
    """SELECT op, k, v FROM (
      |  SELECT 'set' AS op, 'lc:' || n_nationkey AS k, 'OK' AS v FROM nation
      |  UNION ALL
      |  SELECT 'keys_1x', 'lc:' || n_nationkey, '' FROM nation
      |  WHERE CAST(n_nationkey AS VARCHAR) LIKE '1%'
      |  UNION ALL
      |  SELECT 'del', 'lc:' || n_nationkey, '1' FROM nation WHERE n_nationkey % 5 = 0
      |  UNION ALL
      |  SELECT 'left', 'lc:' || n_nationkey, '' FROM nation WHERE n_nationkey % 5 <> 0) t
      |ORDER BY op, k""".stripMargin

  // ------------------------------------------------------------------ ZK tree

  /** zk_write + zk_read roundtrip: region/nation hierarchy written as
    * /r/<region>/<nation> = nationkey (parents auto-created), then the
    * subtree is read back recursively and exploded to (p, v) rows.
    */
  def zkTreeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val name = "verify-zk"
    TreeStore.drop(name)
    val tree = TreeStore.named(name)
    val rows = T(s, dir, "nation")
      .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), col("n_nationkey").cast("long"))
      .collect()
    val pvs = rows.map(r => s"/r/${r.getString(0)}/${r.getString(1)}" -> r.getLong(2).toString).toMap
    ZkTree.writeTree(tree, pvs)
    ZkTree.read(s, tree, "/r", "/r/ASIA").orderBy(col("p"))
  }

  val zkTreeRoundtripOracle: String =
    """SELECT p, v FROM (
      |  SELECT '/r' AS p, '' AS v
      |  UNION ALL
      |  SELECT '/r/' || r_name, '' FROM region
      |  UNION ALL
      |  SELECT '/r/' || r_name || '/' || n_name, CAST(n_nationkey AS VARCHAR)
      |  FROM nation JOIN region ON n_regionkey = r_regionkey) t
      |ORDER BY p""".stripMargin

  /** zk_delete: delete one region subtree (leaf-first), returning deleted
    * (p, v) rows; then verify the remainder by reading the root back.
    */
  def zkTreeDelete(s: SparkSession, dir: String): DataFrame = {
    val name = "verify-zk-del"
    TreeStore.drop(name)
    val tree = TreeStore.named(name)
    val rows = T(s, dir, "nation")
      .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), col("n_nationkey").cast("long"))
      .collect()
    val pvs = rows.map(r => s"/r/${r.getString(0)}/${r.getString(1)}" -> r.getLong(2).toString).toMap
    ZkTree.writeTree(tree, pvs)
    val deleted = ZkTree.delete(s, tree, "/r/ASIA").withColumn("op", lit("deleted"))
    val remaining = ZkTree.read(s, tree, "/r").withColumn("op", lit("kept"))
    deleted.unionAll(remaining).orderBy(col("op"), col("p"))
  }

  val zkTreeDeleteOracle: String =
    """SELECT p, v, op FROM (
      |  SELECT '/r/ASIA' AS p, '' AS v, 'deleted' AS op
      |  UNION ALL
      |  SELECT '/r/ASIA/' || n_name, CAST(n_nationkey AS VARCHAR), 'deleted'
      |  FROM nation JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
      |  UNION ALL
      |  SELECT '/r', '', 'kept'
      |  UNION ALL
      |  SELECT '/r/' || r_name, '', 'kept' FROM region WHERE r_name <> 'ASIA'
      |  UNION ALL
      |  SELECT '/r/' || r_name || '/' || n_name, CAST(n_nationkey AS VARCHAR), 'kept'
      |  FROM nation JOIN region ON n_regionkey = r_regionkey WHERE r_name <> 'ASIA') t
      |ORDER BY op, p""".stripMargin

  /** t_zk_write / t_zk_delete row-shape contract: write returns the previous
    * value per path (null on create, the old value on overwrite), delete
    * returns the deleted subtree rows. All phases are driver-materialized in
    * order, so the union is deterministic.
    */
  def zkWriteOldvals(s: SparkSession, dir: String): DataFrame = {
    val name = "verify-zk-w"
    TreeStore.drop(name)
    val tree = TreeStore.named(name)
    val regions = T(s, dir, "region")
      .select(col("r_name"), col("r_regionkey").cast("long")).collect()
    val m1 = regions.map(r => s"/w/${r.getString(0)}" -> r.getLong(1).toString).toMap
    val m2 = regions.map(r => s"/w/${r.getString(0)}" -> s"X${r.getLong(1)}").toMap
    val w1 = ZkTree.write(s, tree, m1).withColumn("op", lit("w1"))
    val w2 = ZkTree.write(s, tree, m2).withColumn("op", lit("w2"))
    val del = ZkTree.delete(s, tree, "/w").withColumn("op", lit("w3_deleted"))
    w1.unionAll(w2).unionAll(del).orderBy(col("op"), col("p"))
  }

  val zkWriteOldvalsOracle: String =
    """SELECT p, v, op FROM (
      |  SELECT '/w/' || r_name AS p, CAST(NULL AS VARCHAR) AS v, 'w1' AS op FROM region
      |  UNION ALL
      |  SELECT '/w/' || r_name, CAST(r_regionkey AS VARCHAR), 'w2' FROM region
      |  UNION ALL
      |  SELECT '/w', '', 'w3_deleted'
      |  UNION ALL
      |  SELECT '/w/' || r_name, 'X' || r_regionkey, 'w3_deleted' FROM region) t
      |ORDER BY op, p""".stripMargin

  // -------------------------------------------------------------------- Kafka

  /** kf_pull with a [start, end) creation-time window over the events table
    * viewed as a message log (topic = event_type, ct = epoch ms).
    * Window: [2024-01-10, 2024-01-20) UTC.
    */
  def kfPullWindow(s: SparkSession, dir: String): DataFrame = {
    val log = KafkaWindow.fromEvents(T.events(s, dir))
    KafkaWindow.pull(log, 1704844800000L, 1705708800000L, "click", "view")
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"), min(col("ct")).as("min_ct"), max(col("ct")).as("max_ct"),
        count_distinct(col("k")).as("n_users"))
      .orderBy(col("t"))
  }

  val kfPullWindowOracle: String =
    """SELECT event_type AS t, COUNT(*) AS n,
      |  MIN(epoch_ms(ts)) AS min_ct, MAX(epoch_ms(ts)) AS max_ct,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE event_type IN ('click', 'view')
      |  AND epoch_ms(ts) >= 1704844800000 AND epoch_ms(ts) < 1705708800000
      |GROUP BY event_type
      |ORDER BY t""".stripMargin

  /** kf_topics: distinct (topic, partition) of the log. */
  def kfTopics(s: SparkSession, dir: String): DataFrame =
    KafkaWindow.topics(KafkaWindow.fromEvents(T.events(s, dir)))
      .orderBy(col("t"), col("p"))

  val kfTopicsOracle: String =
    """SELECT DISTINCT event_type AS t, CAST(event_id % 4 AS INTEGER) AS p
      |FROM events
      |ORDER BY t, p""".stripMargin

  /** t_kf_push roundtrip: push one record per nation with a deterministic
    * ct, then read the topic back from the store and join acks to records.
    */
  def kfPushRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val ns = "verify-kf"
    TopicStore.clear(ns)
    val store = TopicStore.Factory(ns)
    val in = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val acked = KafkaWindow.push(in, store, lit("nations"),
      lit(1704067200000L) + col("n_nationkey"), col("n_nationkey").cast("string"),
      col("n_name"))
    // materialize the push before reading the store back
    acked.count()
    KafkaWindow.fromStore(s, store, "nations")
      .select(col("t"), col("ct"), col("k"), col("v"))
      .orderBy(col("ct"))
  }

  val kfPushRoundtripOracle: String =
    """SELECT 'nations' AS t, 1704067200000 + n_nationkey AS ct,
      |  CAST(n_nationkey AS VARCHAR) AS k, n_name AS v
      |FROM nation
      |ORDER BY ct""".stripMargin

  // --------------------------------------------------------------------- JDBC

  /** JDBC roundtrip against embedded Derby (in-memory, zero egress):
    * write nation over JDBC, execUpdate DML, read back partitioned-parallel
    * and via a registered temp view.
    */
  def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val url = "jdbc:derby:memory:graftverify;create=true"
    try Jdbc.execUpdate(url, "DROP TABLE nations") catch { case _: Exception => () }
    Jdbc.write(T(s, dir, "nation").select(
        col("n_nationkey").cast("int").as("nk"), col("n_name").as("name")),
      url, "nations")
    Jdbc.execUpdate(url, """UPDATE nations SET "name" = 'REDACTED' WHERE "nk" = 0""")
    Jdbc.toView(s, url, "nations", "graft_jdbc_nations")
    val parallel = Jdbc.readPartitioned(s, url, "nations", "nk", 0L, 24L, 4)
    parallel.join(s.table("graft_jdbc_nations").select(col("nk"), col("name").as("name2")),
        Seq("nk"))
      .select(col("nk"), col("name"), col("name2"))
      .orderBy(col("nk"))
  }

  val jdbcRoundtripOracle: String =
    """SELECT CAST(n_nationkey AS INTEGER) AS nk,
      |  CASE WHEN n_nationkey = 0 THEN 'REDACTED' ELSE n_name END AS name,
      |  CASE WHEN n_nationkey = 0 THEN 'REDACTED' ELSE n_name END AS name2
      |FROM nation
      |ORDER BY nk""".stripMargin

  val all: Seq[Q] = Seq(
    Q("jdbc_roundtrip", jdbcRoundtrip, Some(jdbcRoundtripOracle)),
    Q("http_get_echo", httpGetEcho, Some(httpGetEchoOracle)),
    Q("http_post_status", httpPostStatus, Some(httpPostStatusOracle)),
    Q("http_post_partition", httpPostPartition, Some(httpPostPartitionOracle)),
    Q("kv_get_enrich", kvGetEnrich, Some(kvGetEnrichOracle)),
    Q("kv_set_semantics", kvSetSemantics, Some(kvSetSemanticsOracle)),
    Q("kv_lifecycle", kvLifecycle, Some(kvLifecycleOracle)),
    Q("zk_tree_roundtrip", zkTreeRoundtrip, Some(zkTreeRoundtripOracle)),
    Q("zk_tree_delete", zkTreeDelete, Some(zkTreeDeleteOracle)),
    Q("zk_write_oldvals", zkWriteOldvals, Some(zkWriteOldvalsOracle)),
    Q("kf_pull_window", kfPullWindow, Some(kfPullWindowOracle)),
    Q("kf_topics", kfTopics, Some(kfTopicsOracle)),
    Q("kf_push_roundtrip", kfPushRoundtrip, Some(kfPushRoundtripOracle))
  )
}
