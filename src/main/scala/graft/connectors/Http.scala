package graft.connectors

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HTTP reach-out for SQL/DataFrame pipelines.
  *
  * Reference surface: `http_get` / `http_post` scalar UDFs and the
  * `t_http_get` / `t_http_post` one-client-per-operator UDTFs
  * (reference: data-process/hive-udfs/src/main/java/com/thenetcircle/service/data/hive/udf/http/UDFHttpGet.java:31,
  * UDTFHttpGet.java:29; result struct + error contract HttpHelper.java:41-59).
  *
  * Spark-native restatement:
  *  - result is a `struct<code:int, headers:map<string,string>, content:string>`
  *    column appended to the input row (the reference's trailing-`ctx` protocol
  *    dissolves — input columns simply survive);
  *  - failures never kill the job: error rows are `(-1, null, message)`;
  *  - the client is cached per executor JVM (JDK HttpClient is thread-safe and
  *    has no close()), which is the reference's one-client-per-operator
  *    rationale (reference: README.md:96-105) taken one step further;
  *  - everything is `asNondeterministic`-style: these run once per surviving
  *    row, and Spark must not reorder/duplicate them past filters.
  *
  * At-least-once caveat for effectful calls (POST): Spark retries failed
  * tasks, so side effects may repeat — same contract as the reference, which
  * runs under Hive task retries; disable speculation on sink stages.
  *
  * [[Http.withGet]]/[[Http.withPost]] call once per row per materialization
  * of the returned frame: their output goes through [[PartitionAppend]],
  * whose lazy local checkpoint lets a downstream sort's sampling job and
  * its shuffle read one set of responses. The scalar `http_get` /
  * `http_post` SQL functions are expressions and get no such checkpoint:
  * under a downstream range-partitioned sort they call again in the
  * second job.
  */
/** `struct<code, headers, content>` result row; error rows are
  * `(-1, null, message)` (reference: hive-udfs/.../http/HttpHelper.java:41-59).
  */
case class HttpResult(code: Int, headers: Map[String, String], content: String)

/** Retry policy for HTTP calls. `retryOn` decides from the status code
  * (−1 = transport error); the delay is exponential from `baseDelayMs`
  * doubling per attempt, capped at `maxDelayMs`, and a server-provided
  * `Retry-After: <seconds>` header overrides the computed delay (still
  * capped). Deliberately jitter-free: deterministic behavior is worth
  * more to the engine's test contract than decorrelation, and at
  * partition-level concurrency the per-task phase differences decorrelate
  * the fleet anyway. The default retries transport errors, 429, and 5xx —
  * the transient class; 4xx (except 429) are NEVER transient.
  *
  * POST caveat: retrying an effectful call is at-least-once ON TOP of
  * Spark's own task retries — only enable a POST policy when the endpoint
  * is idempotent (the same stance the at-least-once note above takes).
  */
case class HttpRetryPolicy(maxAttempts: Int = 3, baseDelayMs: Long = 200,
    maxDelayMs: Long = 5000) {
  require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
  require(baseDelayMs >= 0 && maxDelayMs >= baseDelayMs,
    s"bad delays: base=$baseDelayMs max=$maxDelayMs")
  def retryOn(code: Int): Boolean =
    code == -1 || code == 429 || (code >= 500 && code <= 599)

  /** Delay before retry number `attempt` (1-based count of attempts
    * already made), given an optional server `Retry-After: <seconds>`.
    * Total: clamp both sources BEFORE any arithmetic that could
    * overflow — a large attempt count would shift past 63 bits and a
    * hostile Retry-After near Long.MaxValue/1000 would wrap the ×1000;
    * either way a negative "delay" would become a sleepless hot loop
    * against an already-failing server. Result is always in
    * [0, maxDelayMs].
    */
  def delayMs(attempt: Int, retryAfterSec: Option[Long]): Long = {
    val fromHeader = retryAfterSec.filter(_ >= 0).map(sec =>
      if (sec > maxDelayMs / 1000L) maxDelayMs else sec * 1000L)
    val k = attempt - 1
    val backoff =
      if (k >= 40 || baseDelayMs > (Long.MaxValue >> math.max(k, 0)))
        maxDelayMs
      else math.min(baseDelayMs << k, maxDelayMs)
    math.min(fromHeader.getOrElse(backoff), maxDelayMs)
  }
}

object HttpRetryPolicy {
  /** Single attempt — the default everywhere (no behavior change). */
  val None: HttpRetryPolicy = HttpRetryPolicy(maxAttempts = 1)
}

/** Minimum-interval rate limiter: at most `permitsPerSec` acquisitions per
  * second for whoever shares the instance, enforced by spacing consecutive
  * calls `1000/permitsPerSec` ms apart (token-bucket with burst 1 — the
  * shape that never bursts past a polite endpoint's limit). One instance
  * per PARTITION in [[Http.withGet]]/[[Http.withPost]], so the cluster-wide
  * rate is `permitsPerSec × partitions`: size the partition count times the
  * per-task rate to the endpoint's budget — a global cluster limiter would
  * serialize through one coordinator, which is exactly what a partitioned
  * reach-out exists to avoid.
  */
final class RateLimiter(permitsPerSec: Double) {
  require(permitsPerSec > 0, s"permitsPerSec must be > 0, got $permitsPerSec")
  private val intervalNanos = (1e9 / permitsPerSec).toLong
  // nanoTime's origin is arbitrary (may be negative per its contract) — a
  // zero init would compare against it and could sleep for decades on the
  // first acquire; starting at construction time admits the first call
  // immediately on every platform
  private var nextFree = System.nanoTime()
  // reserve the slot under the lock, sleep OUTSIDE it — concurrent callers
  // on a shared instance each compute their own slot instead of queueing
  // behind a sleeping lock-holder (where a task-cancel interrupt would
  // surface from inside the monitor)
  def acquire(): Unit = {
    val waitNs = synchronized {
      val now = System.nanoTime()
      if (now < nextFree) {
        val slot = nextFree
        nextFree += intervalNanos
        slot - now
      } else { nextFree = now + intervalNanos; 0L }
    }
    if (waitNs > 0L)
      Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
  }
}

object Http {

  val resultType: StructType = StructType(Seq(
    StructField("code", IntegerType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("content", StringType)))

  /** Default connect+request timeout, reference's 3000 ms
    * (reference: hive-udfs/.../http/UDFHttpGet.java:34).
    */
  val DefaultTimeoutMs = 3000

  // One client per (JVM, timeout): thread-safe, shared by all partitions.
  @transient private lazy val clients =
    new java.util.concurrent.ConcurrentHashMap[Int, HttpClient]()

  private def client(timeoutMs: Int): HttpClient =
    clients.computeIfAbsent(timeoutMs, t =>
      HttpClient.newBuilder()
        .connectTimeout(Duration.ofMillis(t.toLong))
        .followRedirects(HttpClient.Redirect.NORMAL)
        .build())

  private def request(url: String, timeoutMs: Int, headers: Map[String, String],
      post: Option[String]): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(timeoutMs.toLong))
    headers.foreach { case (k, v) => b.header(k, v) }
    post.fold(b.GET())(body => b.POST(HttpRequest.BodyPublishers.ofString(body)))
    b.build()
  }

  /** GET/POST one URL; never throws — error rows are (-1, null, message)
    * (reference error contract: hive-udfs/.../http/HttpHelper.java:53-59).
    */
  def fetchResult(url: String, timeoutMs: Int = DefaultTimeoutMs,
      headers: Map[String, String] = Map.empty,
      postBody: Option[String] = None): HttpResult =
    try {
      val resp = client(timeoutMs).send(
        request(url, timeoutMs, headers, postBody),
        HttpResponse.BodyHandlers.ofString())
      val hs = resp.headers().map().asScala.map { case (k, vs) =>
        k -> vs.asScala.mkString(",")
      }.toMap
      HttpResult(resp.statusCode(), hs, resp.body())
    } catch {
      case e: Exception => HttpResult(-1, null, String.valueOf(e.getMessage))
    }

  /** [[fetchResult]] under a retry policy: re-issues the request while
    * `policy.retryOn(code)` holds, sleeping the policy's (Retry-After-
    * aware) backoff between attempts, and returns the LAST response
    * either way — the caller still sees the terminal failure's code/body.
    */
  def fetchResultRetry(url: String, policy: HttpRetryPolicy,
      timeoutMs: Int = DefaultTimeoutMs,
      headers: Map[String, String] = Map.empty,
      postBody: Option[String] = None,
      beforeAttempt: () => Unit = () => ()): HttpResult = {
    var attempt = 1
    beforeAttempt()
    var last = fetchResult(url, timeoutMs, headers, postBody)
    while (attempt < policy.maxAttempts && policy.retryOn(last.code)) {
      val retryAfterSec = Option(last.headers).flatMap(_.collectFirst {
        case (k, v) if k.equalsIgnoreCase("retry-after") =>
          v.trim.toLongOption
      }.flatten)
      val delay = policy.delayMs(attempt, retryAfterSec)
      if (delay > 0) Thread.sleep(delay)
      beforeAttempt()
      last = fetchResult(url, timeoutMs, headers, postBody)
      attempt += 1
    }
    last
  }

  def fetch(url: String, timeoutMs: Int = DefaultTimeoutMs,
      headers: Map[String, String] = Map.empty,
      postBody: Option[String] = None,
      retry: HttpRetryPolicy = HttpRetryPolicy.None,
      beforeAttempt: () => Unit = () => ()): Row = {
    // maxAttempts = 1 degenerates to exactly one fetchResult call inside
    // fetchResultRetry — one code path, no special case
    val r = fetchResultRetry(url, retry, timeoutMs, headers, postBody,
      beforeAttempt)
    Row(r.code, r.headers, r.content)
  }

  /** Appends `resp: struct<code,headers,content>` with the GET response
    * for `url` evaluated per row, once per row per materialization
    * ([[PartitionAppend]]): rows stream through one shared client, no
    * collect, scales with the number of partitions.
    */
  def withGet(df: DataFrame, url: Column, timeoutMs: Int = DefaultTimeoutMs,
      headers: Map[String, String] = Map.empty,
      retry: HttpRetryPolicy = HttpRetryPolicy.None,
      maxRequestsPerSecond: Double = 0): DataFrame =
    withFetch(df, url, lit(null).cast("string"), timeoutMs, headers,
      post = false, retry, maxRequestsPerSecond)

  /** POST variant: `body` is evaluated per row and sent as a string entity. */
  def withPost(df: DataFrame, url: Column, body: Column,
      timeoutMs: Int = DefaultTimeoutMs,
      headers: Map[String, String] = Map.empty,
      retry: HttpRetryPolicy = HttpRetryPolicy.None,
      maxRequestsPerSecond: Double = 0): DataFrame =
    withFetch(df, url, body, timeoutMs, headers, post = true, retry,
      maxRequestsPerSecond)

  private def withFetch(df: DataFrame, url: Column, body: Column, timeoutMs: Int,
      headers: Map[String, String], post: Boolean,
      retry: HttpRetryPolicy = HttpRetryPolicy.None,
      maxRequestsPerSecond: Double = 0): DataFrame = {
    // HTTP is latency-bound: concurrency = partition count, and the rows
    // must be SPREAD across those partitions (a prior filter can leave a
    // "wide" input with all rows in one partition, serializing the fetch).
    // So: always round-robin repartition — it rebalances skew — to
    // max(default parallelism, current width), which never NARROWS a
    // deliberately wide input (its width is the caller's requested
    // concurrency). The `df.rdd` partition-count probe materializes the
    // physical plan (under AQE it may run upstream exchanges), a one-time
    // cost that is noise next to per-row network round-trips.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val widened = df.repartition(math.max(par, df.rdd.getNumPartitions))
    PartitionAppend(widened, Seq(url, body), StructField("resp", resultType)) { () =>
      // per-PARTITION limiter: cluster-wide rate = rps x partitions
      val limiter =
        if (maxRequestsPerSecond > 0) Some(new RateLimiter(maxRequestsPerSecond))
        else scala.None
      // the limiter gates every ATTEMPT, not every row — a retrying row
      // must not fire maxAttempts back-to-back requests on one permit
      // (that would multiply the configured rate exactly while the
      // endpoint is signaling overload)
      val gate: () => Unit = () => limiter.foreach(_.acquire())
      (args => {
        val u = args(0).asInstanceOf[String]
        val postBody =
          if (post) Some(Option(args(1).asInstanceOf[String]).getOrElse("")) else None
        if (u == null) Row(-1, null, "null url")
        else fetch(u, timeoutMs, headers, postBody, retry, gate)
      }, () => ())
    }
  }
}
