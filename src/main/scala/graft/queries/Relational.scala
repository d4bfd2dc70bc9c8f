package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The delegated relational surface (SURVEY.md §2B): scans, joins, aggregates,
  * windows, rollup, set ops, string/date/JSON functions, explode — all Spark
  * built-ins, declared as DataFrame plans so Catalyst handles pushdown,
  * partial aggregation and join strategy.
  *
  * Determinism contract for the DuckDB oracle:
  *  - money/quantity arithmetic goes through DECIMAL casts (exact in both
  *    engines), converted to DOUBLE only at the end;
  *  - timestamps leave the query as DATE or epoch integers (never raw
  *    timestamps — engines disagree on tz adjustment metadata);
  *  - every result is fully ordered with a unique tiebreak.
  */
object Relational {

  private val dec = "decimal(12,2)"
  private val dec4 = "decimal(4,2)"

  /** TPC-H Q1-style pricing summary. Single scan, partial agg map-side. */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec4) - col("l_discount").cast(dec4))).cast("double").as("sum_disc_price"),
        sum(col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec4) - col("l_discount").cast(dec4)) *
          (lit(1).cast(dec4) + col("l_tax").cast(dec4))).cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast(dec)).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q5-style revenue by nation: 6-way join with broadcast dims.
    * region/nation are tiny → broadcast; customer/supplier co-partition on
    * nationkey only after the fact-side shuffle on orderkey — at 100 TB the
    * lineitem⋈orders join shuffles on orderkey once and AQE handles skew.
    */
  def q02RevenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val o = T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val c = T(s, dir, "customer")
    val sup = T(s, dir, "supplier")
    val n = T(s, dir, "nation")
    val r = T(s, dir, "region").filter(col("r_name") === "ASIA")

    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec4) - col("l_discount").cast(dec4))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q02Oracle: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q3-style top-10 orders by revenue (TakeOrderedAndProject top-k). */
  def q03TopOrders(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer").filter(col("c_mktsegment") === "FURNITURE")
    val o = T(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1999-06-01").cast("timestamp"))
    val li = T(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1999-06-01").cast("timestamp"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec4) - col("l_discount").cast(dec4))).cast("double").as("revenue"))
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q03Oracle: String =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'FURNITURE'
      |  AND o_orderdate < TIMESTAMP '1999-06-01'
      |  AND l_shipdate > TIMESTAMP '1999-06-01'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q4-style: order priority counts with EXISTS (left-semi join). */
  def q04OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q04Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Window functions: per-customer order rank + running total (decimal-exact). */
  def q05WindowRank(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(byPrice).as("rn"),
        sum(col("o_totalprice").cast(dec)).over(byDate).cast("double").as("running_spend"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q05Oracle: String =
    """SELECT o_custkey, o_orderkey, rn, running_spend FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** ROLLUP over region/nation with grouping level. */
  def q06Rollup(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val n = T(s, dir, "nation")
    val r = T(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        sum(col("c_acctbal").cast(dec)).cast("double").as("total_bal"),
        count(lit(1)).as("n_cust"),
        (grouping(col("r_name")) * 2 + grouping(col("n_name"))).cast("int").as("lvl"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("total_bal"), col("n_cust"), col("lvl"))
      .orderBy(col("lvl"), col("region"), col("nation"))
  }

  val q06Oracle: String =
    """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal,
      |  COUNT(*) AS n_cust,
      |  CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INTEGER) AS lvl
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY lvl, region, nation""".stripMargin

  /** Set operations: which nations have customers vs suppliers. */
  def q07SetOps(s: SparkSession, dir: String): DataFrame = {
    val cn = T(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct()
    val sn = T(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct()
    val both = cn.intersect(sn).withColumn("tag", lit("both"))
    val custOnly = cn.except(sn).withColumn("tag", lit("cust_only"))
    val supOnly = sn.except(cn).withColumn("tag", lit("supp_only"))
    both.unionAll(custOnly).unionAll(supOnly)
      .select(col("nk").cast("int").as("nk"), col("tag"))
      .orderBy(col("tag"), col("nk"))
  }

  val q07Oracle: String =
    """WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
      |     sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
      |SELECT CAST(nk AS INTEGER) AS nk, tag FROM (
      |  SELECT nk, 'both' AS tag FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
      |  UNION ALL
      |  SELECT nk, 'cust_only' FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
      |  UNION ALL
      |  SELECT nk, 'supp_only' FROM (SELECT nk FROM sn EXCEPT SELECT nk FROM cn)) t
      |ORDER BY tag, nk""".stripMargin

  /** JSON extraction + aggregation over the events table. */
  def q08JsonEvents(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events")
    e.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val q08Oracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** String function battery: split/element_at, format_string, case ops. */
  def q09StringFns(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    c.select(
        element_at(split(col("c_name"), "#"), 2).cast("long").as("key_num"),
        format_string("%s|%s", upper(substring(col("c_mktsegment"), 1, 4)),
          lower(col("c_name"))).as("label"),
        regexp_replace(col("c_name"), "Customer", "Cust").as("short_name"),
        length(col("c_name")).cast("int").as("name_len"))
      .filter(col("key_num") < 200)
      .orderBy(col("key_num"))
  }

  val q09Oracle: String =
    """SELECT CAST(string_split(c_name, '#')[2] AS BIGINT) AS key_num,
      |  printf('%s|%s', upper(substring(c_mktsegment, 1, 4)), lower(c_name)) AS label,
      |  replace(c_name, 'Customer', 'Cust') AS short_name,
      |  CAST(length(c_name) AS INTEGER) AS name_len
      |FROM customer
      |WHERE CAST(string_split(c_name, '#')[2] AS BIGINT) < 200
      |ORDER BY key_num""".stripMargin

  /** Date/time functions: truncation, extraction, epoch arithmetic. */
  def q10DateFns(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    o.select(
        year(col("o_orderdate")).cast("int").as("yr"),
        month(col("o_orderdate")).cast("int").as("mon"),
        trunc(col("o_orderdate").cast("date"), "MM").as("month_start"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        col("o_totalprice"))
      .groupBy(col("yr"), col("mon"), col("month_start"))
      .agg(count(lit(1)).as("n"),
        min(col("days_since")).as("min_days"),
        max(col("epoch_s")).as("max_epoch"))
      .orderBy(col("yr"), col("mon"))
  }

  val q10Oracle: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  CAST(month(o_orderdate) AS INTEGER) AS mon,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  COUNT(*) AS n,
      |  MIN(CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)) AS min_days,
      |  MAX(CAST(epoch(o_orderdate) AS BIGINT)) AS max_epoch
      |FROM orders
      |GROUP BY 1, 2, 3
      |ORDER BY yr, mon""".stripMargin

  /** Explode / lateral view: word counts over documents (generator op). */
  def q11WordCount(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    d.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)
  }

  val q11Oracle: String =
    """SELECT word, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE length(word) > 0
      |GROUP BY word
      |ORDER BY n DESC, word
      |LIMIT 20""".stripMargin

  /** max_with / argmax (reference UDAF #13) via our registered SQL function:
    * richest customer per nation, struct-ordered with unique tiebreak.
    */
  def q12MaxWith(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val n = T(s, dir, "nation")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        expr("max_with(named_struct('bal', c_acctbal, 'ck', c_custkey), c_name)")
          .as("richest"),
        max(col("c_acctbal")).as("max_bal"))
      .orderBy(col("n_name"))
  }

  val q12Oracle: String =
    """SELECT n_name, richest, max_bal FROM (
      |  SELECT n_name, c_name AS richest,
      |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey DESC) AS rk,
      |    MAX(c_acctbal) OVER (PARTITION BY n_name) AS max_bal
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey) t
      |WHERE rk = 1
      |ORDER BY n_name""".stripMargin

  /** m_add map-union (reference UDF #11) with LAST_WIN overwrite, exploded. */
  def q13MapAdd(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events").filter(col("event_id") < 100)
    e.select(col("event_id"),
        map(lit("type"), col("event_type")).as("m1"),
        map(lit("k"), get_json_object(col("props"), "$.k"),
          lit("type"), upper(col("event_type"))).as("m2"))
      .select(col("event_id"), expr("m_add(m1, m2)").as("merged"))
      .select(col("event_id"), explode(col("merged")).as(Seq("key", "value")))
      .orderBy(col("event_id"), col("key"))
  }

  val q13Oracle: String =
    """WITH e AS (SELECT event_id, event_type, json_extract_string(props, '$.k') AS k
      |           FROM events WHERE event_id < 100)
      |SELECT event_id, key, value FROM (
      |  SELECT event_id, 'type' AS key, upper(event_type) AS value FROM e
      |  UNION ALL
      |  SELECT event_id, 'k', k FROM e) t
      |ORDER BY event_id, key""".stripMargin

  /** Sessionization: 30-minute-gap sessions per user via lag window. */
  def q14Sessionize(s: SparkSession, dir: String): DataFrame = {
    // T.events normalizes ts to BIGINT nanoseconds whichever physical type
    // the file carries; integer-divide to microseconds to match DuckDB's
    // epoch_us truncation.
    val e = T.events(s, dir)
    e.select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("new_session")).as("n_sessions"),
        min(col("us")).as("first_us"),
        max(col("us")).as("last_us"))
      .orderBy(col("user_id"))
  }

  val q14Oracle: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  MIN(us) AS first_us, MAX(us) AS last_us
      |FROM t
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Ordered funnel view → click → purchase over the events table
    * ([[graft.operators.EventAnalytics.funnel]]): greedy strict-ordering
    * chain per user, counts per step. The oracle replays the equivalent
    * sequential min-chain (min ts of each step strictly after the
    * previous step's min).
    */
  def funnelReport(s: SparkSession, dir: String): DataFrame = {
    val e = T.events(s, dir)
    graft.operators.EventAnalytics.funnel(e, col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"))
      .orderBy(col("step"))
  }

  /** A/B experiment readout ([[graft.operators.EventAnalytics.abTestZ]]):
    * variants by user-id parity, conversion = a HIGH-VALUE purchase
    * (value > 180 — a plain 'any purchase' converts every synthetic
    * user, making the pooled rate 1.0 and the z-denominator 0, which
    * ANSI mode rightly refuses to divide by) — one row with per-variant
    * counts/rates, absolute lift, and the pooled two-proportion z.
    * Counts are exact integers; the rate/lift/z chain is fixed-order
    * two-operand IEEE arithmetic (sqrt is correctly rounded), so the
    * oracle replays it bit-for-bit.
    */
  def abTestReportQ(s: SparkSession, dir: String): DataFrame = {
    val e = T.events(s, dir)
    graft.operators.EventAnalytics.abTestZ(e, col("user_id"),
      pmod(col("user_id"), lit(2L)),
      col("event_type") === "purchase" && col("value") > 180.0,
      a = "0", b = "1")
  }

  val abTestReportOracle: String =
    """WITH u AS (
      |  SELECT user_id, user_id % 2 AS variant,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 180
      |        THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1, 2),
      |v AS (
      |  SELECT variant, COUNT(*) AS n_users,
      |    CAST(SUM(conv) AS BIGINT) AS n_converted
      |  FROM u GROUP BY 1),
      |a AS (SELECT n_users AS n_a, n_converted AS conv_a,
      |        CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) AS cvr_a
      |      FROM v WHERE variant = 0),
      |b AS (SELECT n_users AS n_b, n_converted AS conv_b,
      |        CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) AS cvr_b
      |      FROM v WHERE variant = 1)
      |SELECT a.n_a, a.conv_a, a.cvr_a, b.n_b, b.conv_b, b.cvr_b,
      |  a.cvr_a - b.cvr_b AS lift,
      |  (a.cvr_a - b.cvr_b) / sqrt(
      |    (CAST(a.conv_a + b.conv_b AS DOUBLE) / CAST(a.n_a + b.n_b AS DOUBLE))
      |    * (1.0 - (CAST(a.conv_a + b.conv_b AS DOUBLE)
      |              / CAST(a.n_a + b.n_b AS DOUBLE)))
      |    * (1.0 / CAST(a.n_a AS DOUBLE) + 1.0 / CAST(b.n_b AS DOUBLE))) AS z
      |FROM a, b""".stripMargin

  val funnelReportOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) * 1000 AS tsn, event_type AS et
      |  FROM events),
      |t1 AS (SELECT user_id, MIN(tsn) AS t FROM e WHERE et = 'view' GROUP BY 1),
      |t2 AS (
      |  SELECT e.user_id, MIN(tsn) AS t FROM e
      |  JOIN t1 ON e.user_id = t1.user_id
      |  WHERE et = 'click' AND tsn > t1.t GROUP BY 1),
      |t3 AS (
      |  SELECT e.user_id, MIN(tsn) AS t FROM e
      |  JOIN t2 ON e.user_id = t2.user_id
      |  WHERE et = 'purchase' AND tsn > t2.t GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 1 AS step, 'view' AS step_name,
      |    (SELECT COUNT(*) FROM t1) AS users_reached
      |  UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM t2)
      |  UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM t3))
      |ORDER BY step""".stripMargin

  /** Retention cohorts by first-active epoch day, offsets 0..7
    * ([[graft.operators.EventAnalytics.retentionCohorts]]); day arithmetic
    * is exact integral division of the nanosecond timestamps.
    */
  def retentionCohortsQ(s: SparkSession, dir: String): DataFrame = {
    val e = T.events(s, dir)
    graft.operators.EventAnalytics.retentionCohorts(
        e, col("user_id"), col("ts"), maxOffset = 7)
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val retentionCohortsOracle: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id,
      |    (epoch_us(ts) * 1000) // 86400000000000 AS day
      |  FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1)
      |SELECT c.cohort_day, CAST(d.day - c.cohort_day AS INTEGER) AS day_offset,
      |  COUNT(*) AS users
      |FROM d JOIN c ON d.user_id = c.user_id
      |WHERE d.day - c.cohort_day <= 7
      |GROUP BY 1, 2
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Funnel latency ([[graft.operators.EventAnalytics.funnelLatency]]):
    * per funnel step, how many users reached it and the exact discrete
    * p50/p90 of the time from their step-1 match — the "how long does
    * conversion take" readout. The oracle replays the sequential
    * min-chain (provably the greedy chain) and quantile_disc.
    */
  def funnelLatencyQ(s: SparkSession, dir: String): DataFrame = {
    val e = T.events(s, dir)
    graft.operators.EventAnalytics.funnelLatency(e, col("user_id"),
        col("ts"), col("event_type"), Seq("view", "click", "purchase"))
      .orderBy(col("step"))
  }

  val funnelLatencyOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) * 1000 AS tsn, event_type AS et
      |  FROM events),
      |t1 AS (SELECT user_id, MIN(tsn) AS t FROM e WHERE et = 'view' GROUP BY 1),
      |t2 AS (
      |  SELECT e.user_id, MIN(tsn) AS t FROM e
      |  JOIN t1 ON e.user_id = t1.user_id
      |  WHERE et = 'click' AND tsn > t1.t GROUP BY 1),
      |t3 AS (
      |  SELECT e.user_id, MIN(tsn) AS t FROM e
      |  JOIN t2 ON e.user_id = t2.user_id
      |  WHERE et = 'purchase' AND tsn > t2.t GROUP BY 1),
      |lat AS (
      |  SELECT 1 AS step, 'view' AS step_name, 0::BIGINT AS lat FROM t1
      |  UNION ALL
      |  SELECT 2, 'click', t2.t - t1.t FROM t2
      |  JOIN t1 ON t1.user_id = t2.user_id
      |  UNION ALL
      |  SELECT 3, 'purchase', t3.t - t1.t FROM t3
      |  JOIN t1 ON t1.user_id = t3.user_id)
      |SELECT step, step_name, COUNT(*) AS users_reached,
      |  quantile_disc(lat, 0.5) AS p50_nanos,
      |  quantile_disc(lat, 0.9) AS p90_nanos
      |FROM lat GROUP BY 1, 2
      |ORDER BY step""".stripMargin

  /** RFM segmentation ([[graft.operators.EventAnalytics.rfmSegments]]):
    * purchases only, monetary as an exact DECIMAL(18,2) sum, quintile
    * scores via NTILE over (metric, user_id). The oracle replays the
    * day math, the decimal sum, and all three NTILEs.
    */
  def rfmSegmentsQ(s: SparkSession, dir: String): DataFrame = {
    val e = T.events(s, dir)
    graft.operators.EventAnalytics.rfmSegments(e, col("user_id"),
        col("ts"), col("event_type") === "purchase", col("value"))
      // gate emits the money sum as DOUBLE (the q01 convention): a raw
      // DECIMAL column reaches the driver's pandas hash as Decimal
      // objects vs the oracle's float64 (burned in CORRECTNESS_r13);
      // the NTILE ranks upstream stay over the exact decimal
      .withColumn("monetary", col("monetary").cast("double"))
      .orderBy(col("user_id"))
  }

  val rfmSegmentsOracle: String =
    """WITH e AS (
      |  SELECT user_id, (epoch_us(ts) * 1000) // 86400000000000 AS day,
      |    event_type, CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |ao AS (SELECT MAX(day) AS as_of FROM e),
      |pu AS (
      |  SELECT user_id, MAX(day) AS last_day, COUNT(*) AS frequency,
      |    SUM(v) AS monetary
      |  FROM e WHERE event_type = 'purchase' GROUP BY 1),
      |base AS (
      |  SELECT user_id,
      |    CAST(ao.as_of - pu.last_day AS INTEGER) AS recency_days,
      |    frequency, monetary
      |  FROM pu CROSS JOIN ao),
      |scored AS (
      |  SELECT user_id, recency_days, frequency, monetary,
      |    CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id)
      |      AS INTEGER) AS r_score,
      |    CAST(NTILE(5) OVER (ORDER BY frequency, user_id)
      |      AS INTEGER) AS f_score,
      |    CAST(NTILE(5) OVER (ORDER BY monetary, user_id)
      |      AS INTEGER) AS m_score
      |  FROM base)
      |SELECT user_id, recency_days, frequency,
      |  CAST(monetary AS DOUBLE) AS monetary,
      |  r_score, f_score, m_score,
      |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
      |    || CAST(m_score AS VARCHAR) AS segment
      |FROM scored
      |ORDER BY user_id""".stripMargin

  /** Session-aware transition counts
    * ([[graft.operators.EventAnalytics.eventTransitions]]): the
    * Markov/Sankey source table — (from_type → to_type) counts over
    * consecutive same-user events within the 30-minute session gap,
    * event_id as the equal-timestamp tiebreak. Pure counts; the oracle
    * replays the same LAG chain.
    */
  def eventTransitionsQ(s: SparkSession, dir: String): DataFrame = {
    val e = T.events(s, dir)
    graft.operators.EventAnalytics.eventTransitions(
        e, col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val eventTransitionsOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) * 1000 AS tsn,
      |    event_type AS et
      |  FROM events),
      |t AS (
      |  SELECT user_id, et, tsn,
      |    LAG(et) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS pet,
      |    LAG(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS ptsn
      |  FROM e),
      |tr AS (
      |  SELECT user_id, pet AS from_type, et AS to_type FROM t
      |  WHERE pet IS NOT NULL AND tsn - ptsn <= 1800000000000),
      |g AS (
      |  SELECT from_type, to_type, user_id, COUNT(*) AS c
      |  FROM tr GROUP BY 1, 2, 3)
      |SELECT from_type, to_type, CAST(SUM(c) AS BIGINT) AS n_transitions,
      |  COUNT(*) AS n_users
      |FROM g GROUP BY 1, 2
      |ORDER BY from_type, to_type""".stripMargin

  /** CUBE over region × market segment with grouping id (q06 covers ROLLUP). */
  def q15Cube(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val n = T(s, dir, "nation")
    val r = T(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        (grouping(col("r_name")) * 2 + grouping(col("c_mktsegment"))).cast("int").as("lvl"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("n_cust"), col("lvl"))
      .orderBy(col("lvl"), col("region"), col("segment"))
  }

  val q15Oracle: String =
    """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(c_mktsegment, 'ALL') AS segment,
      |  COUNT(*) AS n_cust,
      |  CAST(GROUPING(r_name) * 2 + GROUPING(c_mktsegment) AS INTEGER) AS lvl
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE(r_name, c_mktsegment)
      |ORDER BY lvl, region, segment""".stripMargin

  /** Pivot: order counts per year × order status (dynamic-to-wide). */
  def q16Pivot(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "orders")
      .select(year(col("o_orderdate")).cast("int").as("yr"), col("o_orderstatus"))
      .groupBy(col("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("yr"), col("F").as("f"), col("O").as("o"), col("P").as("p"))
      .orderBy(col("yr"))
  }

  val q16Oracle: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS f,
      |  COUNT(*) FILTER (o_orderstatus = 'O') AS o,
      |  COUNT(*) FILTER (o_orderstatus = 'P') AS p
      |FROM orders
      |GROUP BY 1
      |ORDER BY yr""".stripMargin

  /** Anti join: customers with no URGENT order, counted per nation. */
  def q17AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val o = T(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val n = T(s, dir, "nation")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_no_urgent"))
      .orderBy(col("n_name"))
  }

  val q17Oracle: String =
    """SELECT n_name, COUNT(*) AS n_no_urgent
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** Array/map function battery: per-order quantity arrays (sorted for
    * determinism), slicing, membership, map construction + lookup.
    */
  def q18ArrayMap(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").filter(col("l_orderkey") <= 500)
    // linenumbers repeat in this synthetic data — reduce to (order, line) ->
    // min qty first so the map keys are unique in any engine
    val perLine = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_quantity").cast("int")).as("qty"))
    perLine.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("qty"))).as("qties"),
        map_from_entries(sort_array(collect_list(
          struct(col("l_linenumber"), col("qty"))))).as("by_line"))
      // arrays stringified in the output: value-exact and unambiguous for
      // any row-hash comparer
      .select(col("l_orderkey"),
        size(col("qties")).cast("int").as("n_lines"),
        element_at(col("qties"), 1).as("min_qty"),
        concat_ws(",", slice(col("qties"), 1, 2)).as("first2"),
        array_contains(col("qties"), 25).as("has25"),
        element_at(col("by_line"), 1).as("line1_qty"))
      .orderBy(col("l_orderkey"))
  }

  val q18Oracle: String =
    """SELECT l_orderkey,
      |  CAST(len(qties) AS INTEGER) AS n_lines,
      |  qties[1] AS min_qty,
      |  array_to_string(qties[1:2], ',') AS first2,
      |  list_contains(qties, 25) AS has25,
      |  map_extract(by_line, 1)[1] AS line1_qty
      |FROM (
      |  SELECT l_orderkey,
      |    list_sort(list(qty)) AS qties,
      |    map_from_entries(list_sort(list({'k': l_linenumber, 'v': qty}))) AS by_line
      |  FROM (
      |    SELECT l_orderkey, l_linenumber, MIN(CAST(l_quantity AS INTEGER)) AS qty
      |    FROM lineitem
      |    WHERE l_orderkey <= 500
      |    GROUP BY 1, 2)
      |  GROUP BY l_orderkey)
      |ORDER BY l_orderkey""".stripMargin

  /** As-of join: each order paired with the same customer's previous order
    * (strictly earlier date). Orders deduped to one per (customer, date)
    * first so the as-of pick is deterministic; the oracle is DuckDB's
    * native ASOF JOIN.
    */
  def q19AsofPrevOrder(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("ok"))
      .select(col("o_custkey"), unix_timestamp(col("o_orderdate")).as("od"), col("ok"))
    graft.operators.Joins.asofJoin(
        o, o, key = "o_custkey", leftTime = "od", rightTime = "od",
        rightValue = "ok", strict = true, out = "prev_ok")
      .select(col("o_custkey"), col("od"), col("ok"), col("prev_ok"))
      .orderBy(col("o_custkey"), col("od"))
  }

  val q19Oracle: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) AS od, MAX(o_orderkey) AS ok
      |  FROM orders
      |  GROUP BY 1, 2)
      |SELECT l.o_custkey, l.od, l.ok, r.ok AS prev_ok
      |FROM o l ASOF LEFT JOIN o r
      |  ON l.o_custkey = r.o_custkey AND l.od > r.od
      |ORDER BY l.o_custkey, l.od""".stripMargin

  /** Bucketized range join: lineitems matched to 7-day order windows
    * (shipdate ∈ [orderdate, orderdate+7d]); per lineitem, how many windows
    * cover it and the max covering order.
    */
  def q20RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val day = 86400L
    val li = T(s, dir, "lineitem").filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        unix_timestamp(col("l_shipdate")).as("ship"))
    val win = T(s, dir, "orders").filter(col("o_orderkey") <= 400)
      .select(col("o_orderkey").as("win_ok"),
        unix_timestamp(col("o_orderdate")).as("lo"),
        (unix_timestamp(col("o_orderdate")) + 7 * day).as("hi"))
    graft.operators.Joins.rangeJoin(li, win, "ship", "lo", "hi", bucketWidth = 7 * day)
      .groupBy(col("l_orderkey"), col("l_linenumber"), col("ship"))
      .agg(count(lit(1)).as("n_windows"), max(col("win_ok")).as("max_win"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("ship"))
  }

  val q20Oracle: String =
    """SELECT l_orderkey, l_linenumber, ship, COUNT(*) AS n_windows, MAX(win_ok) AS max_win
      |FROM (SELECT l_orderkey, l_linenumber, CAST(epoch(l_shipdate) AS BIGINT) AS ship
      |      FROM lineitem WHERE l_orderkey <= 100) l
      |JOIN (SELECT o_orderkey AS win_ok, CAST(epoch(o_orderdate) AS BIGINT) AS lo,
      |             CAST(epoch(o_orderdate) AS BIGINT) + 7 * 86400 AS hi
      |      FROM orders WHERE o_orderkey <= 400) w
      |  ON l.ship >= w.lo AND l.ship <= w.hi
      |GROUP BY 1, 2, 3
      |ORDER BY l_orderkey, l_linenumber, ship""".stripMargin

  /** Window-function battery: rank/dense_rank, lead/lag, first/last value,
    * ntile — per-customer order analytics in one pass.
    */
  def q21WindowBattery(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").filter(col("o_custkey") <= 100)
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byDateFull = byDate.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.select(col("o_custkey"), col("o_orderkey"),
        rank().over(byPrice).cast("int").as("price_rank"),
        dense_rank().over(byPrice).cast("int").as("price_dense_rank"),
        ntile(4).over(byPrice).cast("int").as("price_quartile"),
        lead(col("o_orderkey"), 1).over(byDate).as("next_ok"),
        lag(col("o_orderkey"), 1).over(byDate).as("prev_ok"),
        first(col("o_orderkey")).over(byDateFull).as("first_ok"),
        last(col("o_orderkey")).over(byDateFull).as("last_ok"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q21Oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(RANK() OVER wp AS INTEGER) AS price_rank,
      |  CAST(DENSE_RANK() OVER wp AS INTEGER) AS price_dense_rank,
      |  CAST(NTILE(4) OVER wp AS INTEGER) AS price_quartile,
      |  LEAD(o_orderkey, 1) OVER wd AS next_ok,
      |  LAG(o_orderkey, 1) OVER wd AS prev_ok,
      |  FIRST_VALUE(o_orderkey) OVER wdf AS first_ok,
      |  LAST_VALUE(o_orderkey) OVER wdf AS last_ok
      |FROM orders
      |WHERE o_custkey <= 100
      |WINDOW
      |  wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
      |  wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  wdf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Exact discrete percentiles (values drawn from the data, so bit-exact
    * across engines — interpolated percentiles are deliberately avoided).
    *
    * Computed via [[graft.operators.Quantiles.discPicks]] (distributed
    * per-value counts + ordered cumulative pick) instead of the
    * `percentile_disc` aggregate, whose final merge holds a group's entire
    * distinct-value set in one task's OpenHashMap with no spill path — the
    * one OOM-at-100TB shape the round-20 plan audit flagged. QuantilesSpec
    * proves the pick bit-equal to percentile_disc on adversarial (n, p)
    * pairs; the row count rides the same single pass (rowCountCol), so the
    * whole query stays one scan like the aggregate it replaced.
    */
  def q22Percentiles(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
    graft.operators.Quantiles.discPicks(base, Seq("l_returnflag"),
        Seq(("p50_qty", "l_quantity", 0.5), ("p90_qty", "l_quantity", 0.9),
          ("p99_price", "l_extendedprice", 0.99)),
        rowCountCol = Some("n"))
      .select(col("l_returnflag"), col("p50_qty"), col("p90_qty"),
        col("p99_price"), col("n"))
      .orderBy(col("l_returnflag"))
  }

  val q22Oracle: String =
    """SELECT l_returnflag,
      |  quantile_disc(l_quantity, 0.5) AS p50_qty,
      |  quantile_disc(l_quantity, 0.9) AS p90_qty,
      |  quantile_disc(l_extendedprice, 0.99) AS p99_price,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q01_pricing_summary", q01PricingSummary, Some(q01Oracle)),
    Q("q02_revenue_by_nation", q02RevenueByNation, Some(q02Oracle)),
    Q("q03_top_orders", q03TopOrders, Some(q03Oracle)),
    Q("q04_order_priority", q04OrderPriority, Some(q04Oracle)),
    Q("q05_window_rank", q05WindowRank, Some(q05Oracle)),
    Q("q06_rollup", q06Rollup, Some(q06Oracle)),
    Q("q07_setops", q07SetOps, Some(q07Oracle)),
    Q("q08_json_events", q08JsonEvents, Some(q08Oracle)),
    Q("q09_string_fns", q09StringFns, Some(q09Oracle)),
    Q("q10_date_fns", q10DateFns, Some(q10Oracle)),
    Q("q11_word_count", q11WordCount, Some(q11Oracle)),
    Q("q12_max_with", q12MaxWith, Some(q12Oracle)),
    Q("q13_m_add", q13MapAdd, Some(q13Oracle)),
    Q("q14_sessionize", q14Sessionize, Some(q14Oracle)),
    Q("funnel_report", funnelReport, Some(funnelReportOracle)),
    Q("ab_test_report", abTestReportQ, Some(abTestReportOracle)),
    Q("retention_cohorts", retentionCohortsQ, Some(retentionCohortsOracle)),
    Q("event_transitions", eventTransitionsQ, Some(eventTransitionsOracle)),
    Q("funnel_latency", funnelLatencyQ, Some(funnelLatencyOracle)),
    Q("rfm_segments", rfmSegmentsQ, Some(rfmSegmentsOracle)),
    Q("q15_cube", q15Cube, Some(q15Oracle)),
    Q("q16_pivot", q16Pivot, Some(q16Oracle)),
    Q("q17_anti_join", q17AntiJoin, Some(q17Oracle)),
    Q("q18_array_map", q18ArrayMap, Some(q18Oracle)),
    Q("q19_asof_prev_order", q19AsofPrevOrder, Some(q19Oracle)),
    Q("q20_range_join", q20RangeJoin, Some(q20Oracle)),
    Q("q21_window_battery", q21WindowBattery, Some(q21Oracle)),
    Q("q22_percentiles", q22Percentiles, Some(q22Oracle))
  )
}
