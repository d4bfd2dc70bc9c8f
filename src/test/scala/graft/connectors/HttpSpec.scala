package graft.connectors

import org.apache.spark.sql.functions._
import graft.SparkSpec

class HttpSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = LocalHttpServer.base

  test("withGet appends result struct; server echoes query string") {
    val out = Http.withGet(
        Seq(1, 2).toDF("id"),
        concat(lit(s"$base/echo?id="), col("id")))
      .select($"id", $"resp.code", $"resp.content")
      .orderBy("id").as[(Int, Int, String)].collect()
    assert(out === Array((1, 200, "id=1"), (2, 200, "id=2")))
  }

  test("withPost sends the body; server reports its length") {
    val out = Http.withPost(
        Seq(("a", "hello"), ("b", "worlds!")).toDF("id", "body"),
        lit(s"$base/echo"), col("body"))
      .select($"id", $"resp.content").orderBy("id").as[(String, String)].collect()
    assert(out === Array(("a", "blen=5"), ("b", "blen=7")))
  }

  test("non-2xx statuses pass through; headers map populated") {
    val r = Http.withGet(Seq(1).toDF("id"), lit(s"$base/status/503"))
      .select($"resp").head().getStruct(0)
    assert(r.getInt(0) === 503)
    assert(r.getString(2) === "503")
    assert(r.getMap[String, String](1).size > 0) // Content-type etc.
  }

  test("connection failure yields (-1, null, message), never throws") {
    val r = Http.withGet(Seq(1).toDF("id"),
        lit("http://127.0.0.1:1/unreachable"), timeoutMs = 300)
      .select($"resp").head().getStruct(0)
    assert(r.getInt(0) === -1)
    assert(r.isNullAt(1))
    assert(r.getString(2) != null)
  }

  test("null url yields (-1, null, 'null url')") {
    val r = Http.withGet(Seq(1).toDF("id"), lit(null).cast("string"))
      .select($"resp").head().getStruct(0)
    assert(r.getInt(0) === -1)
  }

  test("http_get SQL function with optional timeout arg") {
    val r = spark.sql(s"SELECT http_get('$base/echo?x=1').content AS c, " +
        s"http_get('$base/echo?x=2', 1000).content AS c2")
      .as[(String, String)].head()
    assert(r === (("x=1", "x=2")))
  }

  test("retry policy: transient 503s are retried to success (honoring " +
      "Retry-After: 0), exhaustion returns the LAST failure, and " +
      "non-transient 4xx are never retried") {
    // 2 failures then success; 3 attempts suffice
    val ok = Http.fetchResultRetry(s"$base/flaky/2/rt-ok",
      graft.connectors.HttpRetryPolicy(maxAttempts = 3, baseDelayMs = 1))
    assert(ok.code === 200 && ok.content === "ok-rt-ok")
    // 5 failures, only 3 attempts: terminal response is the 3rd failure
    val exhausted = Http.fetchResultRetry(s"$base/flaky/5/rt-exh",
      graft.connectors.HttpRetryPolicy(maxAttempts = 3, baseDelayMs = 1))
    assert(exhausted.code === 503 && exhausted.content === "try-3")
    // 404 is not transient: single attempt even with retries allowed
    val nf = Http.fetchResultRetry(s"$base/status/404",
      graft.connectors.HttpRetryPolicy(maxAttempts = 5, baseDelayMs = 1))
    assert(nf.code === 404)
    // the partition operator path: each row's URL recovers independently
    val df = Seq("a", "b").toDF("k")
      .withColumn("url", concat(lit(s"$base/flaky/1/rt-df-"), $"k"))
    val out = Http.withGet(df, $"url",
        retry = graft.connectors.HttpRetryPolicy(maxAttempts = 2, baseDelayMs = 1))
      .select($"k", $"resp.code", $"resp.content")
      .as[(String, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(("a", 200, "ok-rt-df-a"), ("b", 200, "ok-rt-df-b")))
  }

  test("RateLimiter: n acquisitions at r permits/sec take at least " +
      "(n-1)/r seconds; an idle limiter admits the first call immediately") {
    val rl = new graft.connectors.RateLimiter(permitsPerSec = 100.0)
    val t0 = System.nanoTime()
    (1 to 6).foreach(_ => rl.acquire())
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(elapsedMs >= 50, s"6 acquires at 100/s must span >= 50 ms: $elapsedMs")
    // fresh limiter: first acquire returns without sleeping. The bound is
    // a full interval (1000 ms) rather than a tight one — a GC/scheduler
    // pause between construction and acquire must not flake the assert;
    // what matters is that it does NOT wait the interval it would have
    // waited had the slot been taken (a second acquire would sleep ~1 s).
    val rl2 = new graft.connectors.RateLimiter(permitsPerSec = 1.0)
    val t1 = System.nanoTime()
    rl2.acquire()
    assert((System.nanoTime() - t1) / 1000000L < 1000)
  }

  test("withGet under a downstream sort fetches each row once: a fresh " +
      "/flaky/1 key answers 503 to its first hit") {
    val run = java.util.UUID.randomUUID()
    val out = Http.withGet((1 to 12).toDF("id"),
        concat(lit(s"$base/flaky/1/once-$run-"), col("id")))
      .select($"id", $"resp.code").orderBy($"id").as[(Int, Int)].collect()
    assert(out.toSeq === (1 to 12).map(i => (i, 503)))
  }

  test("the stand-in answers sequential requests without a Nagle stall: " +
      "median of 20 /echo round trips under 20 ms") {
    // a client of its own: one fresh keep-alive connection
    val client = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    val ms = (1 to 20).map { i =>
      val t0 = System.nanoTime()
      val r = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/echo?i=$i")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200 && r.body() === s"i=$i")
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val median = (ms(9) + ms(10)) / 2
    assert(median < 20.0, s"median ${median} ms over ${ms.mkString(", ")}")
  }
}
