package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, Explode, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
import graft.connectors.{Http, HttpResult}

/** SQL-callable function surface mirroring the reference's registered names
  * (reference: data-process/hive-udfs/src/main/resources/setup.sql), rebuilt as
  * Catalyst expression builders — not Scala UDFs — so every call stays inside
  * whole-stage codegen.
  *
  * Built-in coverage (no registration needed, Spark ships the exact name):
  *  - `url_encode` / `url_decode` (reference: hive-udfs/.../http/UDFUrlEncoder.java:26)
  *    are native Spark SQL functions since 3.4.
  */
object GraftFunctions {

  /** Reference defaults for Kafka clients, as plain config maps.
    * (reference: hive-udfs/.../kafka/KafkaHelper.java:81-115 — consumer:
    * auto-commit off, earliest reset, 1000-record polls; producer: gzip.)
    */
  val kafkaConsumerDefaults: Map[String, String] = Map(
    "enable.auto.commit" -> "false",
    "auto.offset.reset" -> "earliest",
    "max.poll.records" -> "1000",
    "max.partition.fetch.bytes" -> (2 * 1024 * 1024).toString
  )
  val kafkaProducerDefaults: Map[String, String] = Map(
    "compression.type" -> "gzip",
    "acks" -> "all",
    "request.timeout.ms" -> "1000"
  )

  private def constMap(m: Map[String, String]): Expression =
    Literal.create(m, MapType(StringType, StringType))

  // One registration per session: createOrReplaceTempFunction logs a WARN on
  // every replace, and Verify/Bench call configure() once per query.
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Registers the reference-surface SQL functions on `spark`. Idempotent. */
  def registerAll(spark: SparkSession): Unit = {
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) != null) return
    val reg = spark.sessionState.functionRegistry

    // m_add(map, map, ...) — map union, later args overwrite earlier keys
    // (reference: hive-udfs/.../commons/UDFMapAdd.java:45-62 silently
    // last-wins). Native MapUnionLastWin so the semantics hold regardless
    // of spark.sql.mapKeyDedupPolicy — GraftSession pins LAST_WIN, but the
    // extension-injection deploy path doesn't.
    reg.createOrReplaceTempFunction("m_add",
      exprs => org.apache.spark.sql.graft.MapUnionLastWin(exprs), "built-in")

    // max_with(sortKey, data) — argmax, i.e. built-in max_by with swapped args
    // (reference: hive-udfs/.../commons/UDAFCmpBase.java:27-223 — 224 lines of
    // partial/final UDAF machinery collapse into the MaxBy expression, which
    // already does partial aggregation map-side).
    reg.createOrReplaceTempFunction(
      "max_with",
      exprs => MaxBy(exprs(1), exprs(0)),
      "built-in")

    // cfgs([regex]) — session-conf lookup as map<string,string>
    // (reference: hive-udfs/.../commons/UDFCfgs.java:24 — a stub there; real here).
    // The regex must be a literal, mirroring the reference's
    // ConstantObjectInspector enforcement (UDFHelper.java:247-266).
    reg.createOrReplaceTempFunction(
      "cfgs",
      exprs => {
        val re = exprs.headOption.map { e =>
          require(e.foldable, "cfgs() pattern must be a constant")
          String.valueOf(e.eval())
        }.getOrElse(".*")
        val snapshot = spark.conf.getAll.filter { case (k, _) => k.matches(re) }
        constMap(snapshot)
      },
      "built-in")

    // kf_consumer_cfgs() / kf_producer_cfgs() — constant default config maps
    // (reference: hive-udfs/.../kafka/UDFKafkaDefaultConsumerCfgs.java:17,
    //  UDFKafkaDefaultProducerCfgs.java:17).
    reg.createOrReplaceTempFunction(
      "kf_consumer_cfgs", _ => constMap(kafkaConsumerDefaults), "built-in")
    reg.createOrReplaceTempFunction(
      "kf_producer_cfgs", _ => constMap(kafkaProducerDefaults), "built-in")

    // cosine_sim(array<float>, array<float>) — native codegen'd expression
    // (graft extension surface; see org.apache.spark.sql.graft.CosineSimilarity).
    reg.createOrReplaceTempFunction(
      "cosine_sim",
      exprs => org.apache.spark.sql.graft.CosineSimilarity(exprs(0), exprs(1)),
      "built-in")

    // text-pipeline natives for SQL users (same expressions the Scala
    // operators compose): per-language evidence + heuristic language id,
    // positional shingle hashes, and content-defined chunking. Int args
    // must be literals (they parameterize the compiled kernel).
    def litInt(e: Expression, what: String): Int = {
      require(e.foldable, s"$what must be a constant")
      String.valueOf(e.eval()).toInt
    }
    def arity(exprs: Seq[Expression], n: Int, sig: String): Unit =
      require(exprs.length == n,
        s"$sig expects $n arguments, got ${exprs.length}")
    reg.createOrReplaceTempFunction("lang_scores", exprs => {
      arity(exprs, 1, "lang_scores(text)")
      org.apache.spark.sql.graft.LangScores(exprs.head)
    }, "built-in")
    reg.createOrReplaceTempFunction("shingle_fps32", exprs => {
      arity(exprs, 2, "shingle_fps32(tokens, k)")
      org.apache.spark.sql.graft.ShingleFps(exprs(0),
        litInt(exprs(1), "shingle_fps32 k"), 32)
    }, "built-in")
    reg.createOrReplaceTempFunction("cdc_chunks", exprs => {
      arity(exprs, 3, "cdc_chunks(tokens, k, maskBits)")
      org.apache.spark.sql.graft.CdcChunks(exprs(0),
        litInt(exprs(1), "cdc_chunks k"),
        litInt(exprs(2), "cdc_chunks maskBits"))
    }, "built-in")
    reg.createOrReplaceTempFunction("windowed_lang_labels", exprs => {
      arity(exprs, 2, "windowed_lang_labels(tokens, window)")
      org.apache.spark.sql.graft.WindowedLangLabels(exprs(0),
        litInt(exprs(1), "windowed_lang_labels window"))
    }, "built-in")
    // string args that parameterize a compiled kernel must be literals too
    def litStr(e: Expression, what: String): String = {
      require(e.foldable, s"$what must be a constant")
      String.valueOf(e.eval())
    }
    reg.createOrReplaceTempFunction("multi_pattern_hits", exprs => {
      require(exprs.length >= 2,
        "multi_pattern_hits(text, pattern, ...) needs >= 1 pattern")
      org.apache.spark.sql.graft.MultiPatternHits(exprs.head,
        exprs.tail.zipWithIndex.map { case (e, i) =>
          litStr(e, s"multi_pattern_hits pattern ${i + 1}") })
    }, "built-in")
    reg.createOrReplaceTempFunction("word_dropout_keep", exprs => {
      arity(exprs, 4, "word_dropout_keep(tokens, id, seed, rate)")
      org.apache.spark.sql.graft.WordDropoutKeep(exprs(0), exprs(1),
        litStr(exprs(2), "word_dropout_keep seed"),
        litInt(exprs(3), "word_dropout_keep rate"))
    }, "built-in")
    reg.createOrReplaceTempFunction("span_corrupt", exprs => {
      arity(exprs, 5, "span_corrupt(tokens, id, seed, rate, spanLen)")
      org.apache.spark.sql.graft.SpanCorrupt(exprs(0), exprs(1),
        litStr(exprs(2), "span_corrupt seed"),
        litInt(exprs(3), "span_corrupt rate"),
        litInt(exprs(4), "span_corrupt spanLen"))
    }, "built-in")
    reg.createOrReplaceTempFunction("char_ngram_dim_counts", exprs => {
      arity(exprs, 3, "char_ngram_dim_counts(text, n, dims)")
      org.apache.spark.sql.graft.CharNgramDimCounts(exprs(0),
        litInt(exprs(1), "char_ngram_dim_counts n"),
        litInt(exprs(2), "char_ngram_dim_counts dims"))
    }, "built-in")
    reg.createOrReplaceTempFunction("prefix_cosines", exprs => {
      require(exprs.length >= 3,
        "prefix_cosines(a, b, dim, ...) needs >= 1 prefix dim")
      org.apache.spark.sql.graft.PrefixCosines(exprs(0), exprs(1),
        exprs.drop(2).zipWithIndex.map { case (e, i) =>
          litInt(e, s"prefix_cosines dim ${i + 1}") })
    }, "built-in")

    // http_get(url [, timeoutMs [, headers]]) / http_post(url, content |
    // url, timeoutMs, headers, content) → struct<code,headers,content>.
    // Nondeterministic scalar UDFs (Catalyst must not reorder/dedupe them —
    // the reference's @UDFType(deterministic=false), SURVEY §2A flags); the
    // partition-level fast path is graft.connectors.Http.withGet/withPost.
    // Optional-arg handling mirrors the reference's signatures
    // (hive-udfs/.../http/UDFHttpGet.java:40-78, UDFHttpPost.java:39).
    val defaultTimeout: Expression = Literal(Http.DefaultTimeoutMs)
    def emptyHeaders: Expression = constMap(Map.empty)
    def asInt(e: Expression): Expression = Cast(e, IntegerType)
    reg.createOrReplaceTempFunction("http_get", exprs => {
      val url = exprs.head
      val timeout = exprs.lift(1).map(asInt).getOrElse(defaultTimeout)
      val headers = exprs.lift(2).getOrElse(emptyHeaders)
      Bridge.scalaUdf(httpGetUdf, Seq(url, timeout, headers))
    }, "built-in")
    reg.createOrReplaceTempFunction("http_post", exprs => {
      val (url, timeout, headers, content) = exprs match {
        case Seq(u, c) => (u, defaultTimeout, emptyHeaders, c)
        case Seq(u, t, h, c) => (u, asInt(t), h, c)
        case _ => throw new IllegalArgumentException(
          "http_post(url, content) or http_post(url, timeoutMs, headers, content)")
      }
      Bridge.scalaUdf(httpPostUdf, Seq(url, timeout, headers, content))
    }, "built-in")

    // graft_probe / udf_test / gudf_tests (any...) — execution-site
    // introspection (reference debug UDFs, SURVEY §2A #26-27): where and with
    // what did this row evaluate. Registered under the reference names too.
    val probeBuilder: Seq[Expression] => Expression = exprs => {
      val asStrings = CreateArray(exprs.map(e => Cast(e, StringType)))
      Bridge.scalaUdf(probeUdf, Seq(asStrings))
    }
    reg.createOrReplaceTempFunction("graft_probe", probeBuilder, "built-in")
    reg.createOrReplaceTempFunction("udf_test", probeBuilder, "built-in")
    reg.createOrReplaceTempFunction("gudf_tests", probeBuilder, "built-in")

    // udtf_tests(any...) — the table-function probe (§2A #28): a generator
    // emitting one row per argument, stringified — the reference UDTF's
    // forward-per-arg shape as a native Explode (stays codegen-compatible).
    reg.createOrReplaceTempFunction("udtf_tests",
      exprs => Explode(CreateArray(exprs.map(e => Cast(e, StringType)))), "built-in")
  }

  /** Introspection probe (reference's udf_test / gudf_tests / udtf_tests in
    * hive-udfs tests package): echoes evaluation-site host + thread + arg
    * rendering from inside query execution. Nondeterministic by nature.
    */
  private val probeUdf = udf((args: Seq[String]) => {
    val host = java.net.InetAddress.getLocalHost.getHostName
    s"host=$host thread=${Thread.currentThread().getName} args=${args.mkString("[", ",", "]")}"
  }).asNondeterministic()

  private val httpGetUdf =
    udf((url: String, timeoutMs: Int, headers: Map[String, String]) =>
      if (url == null) HttpResult(-1, null, "null url")
      else Http.fetchResult(url, timeoutMs, Option(headers).getOrElse(Map.empty)))
      .asNondeterministic()

  private val httpPostUdf =
    udf((url: String, timeoutMs: Int, headers: Map[String, String], content: String) =>
      if (url == null) HttpResult(-1, null, "null url")
      else Http.fetchResult(url, timeoutMs, Option(headers).getOrElse(Map.empty),
        postBody = Some(Option(content).getOrElse(""))))
      .asNondeterministic()
}
