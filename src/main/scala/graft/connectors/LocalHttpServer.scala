package graft.connectors

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Deterministic local HTTP stand-in (FIXTURES.md §4): lets the HTTP
  * connector be oracle-tested with zero egress. Runs in-process on an
  * ephemeral port, daemon threads, stopped on JVM exit.
  *
  * Endpoints:
  *  - `/echo?a=1&b=2` → 200, body = the raw query string (deterministic pure
  *    function of the URL, so a SQL oracle can reconstruct it from columns);
  *  - `/status/404` → responds with that status code, body = the code;
  *  - `/events?city=NAME` → 200, a deterministic JSON event feed for the
  *    reference's README ETL example shape: `{"results":[{...},{...}]}`
  *    with `length(NAME) % 3 + 2` events of
  *    `{"timestamp":"2024-03-0i T0i:1i","type":"ev<(len+i)%2>"}`;
  *  - `/flaky/<n>/<key>` → 503 (`Retry-After: 0`) for the FIRST n hits of
  *    `<key>`, then 200 `ok-<key>` — the only STATEFUL endpoint (per-key
  *    counters live for the JVM), so retry tests must use fresh keys;
  *  - anything else → 404 "not found".
  */
object LocalHttpServer {

  @volatile private var server: HttpServer = _

  // per-key hit counters for /flaky — lets retry policies be tested
  // deterministically (first n hits fail, then success)
  private val flakyCounts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Base URL, e.g. `http://127.0.0.1:PORT` — starts the server on first use. */
  lazy val base: String = synchronized {
    if (server == null) {
      // the JDK server writes headers and body as two segments; without
      // TCP_NODELAY Nagle holds the body until the client's delayed ACK,
      // ~40 ms per request. Read once, when the server classes load.
      System.setProperty("sun.net.httpserver.nodelay", "true")
      server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      server.setExecutor(Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "graft-local-http"); t.setDaemon(true); t
      }))
      server.createContext("/", (x: HttpExchange) => {
        val path = x.getRequestURI.getPath
        val reqBody = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val (code, body) =
          if (path == "/echo") {
            val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
            // POST appends the body length so the posted entity is observable
            if (x.getRequestMethod == "POST")
              (200, q + (if (q.isEmpty) "" else "&") + s"blen=${reqBody.length}")
            else (200, q)
          } else if (path.startsWith("/status/") &&
              path.stripPrefix("/status/").toIntOption.exists(_ >= 100)) {
            // non-numeric (or sub-100, which sendResponseHeaders rejects)
            // codes fall through to 404 instead of killing the connection
            val c = path.stripPrefix("/status/").toInt
            (c, c.toString)
          } else if (path == "/events") {
            val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
            val city = q.split("&").collectFirst {
              case kv if kv.startsWith("city=") =>
                java.net.URLDecoder.decode(kv.stripPrefix("city="), "UTF-8")
            }.getOrElse("")
            val n = city.length % 3 + 2
            val events = (1 to n).map { i =>
              s"""{"timestamp":"2024-03-0${i}T0$i:1$i","type":"ev${(city.length + i) % 2}"}"""
            }
            (200, s"""{"results":[${events.mkString(",")}]}""")
          } else if (path.startsWith("/flaky/")) {
            // /flaky/<n>/<key>: 503 (with Retry-After: 0) for the first n
            // hits of <key>, then 200 "ok-<key>" — the retry-policy fixture
            val parts = path.stripPrefix("/flaky/").split("/", 2)
            parts(0).toIntOption match {
              case None =>
                // malformed <n> responds 404 instead of throwing inside
                // the handler (which would abort the connection)
                (404, "not found")
              case Some(n) =>
                val key = if (parts.length > 1) parts(1) else ""
                val c: Int = flakyCounts.merge(key, Integer.valueOf(1),
                  (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
                if (c <= n) {
                  x.getResponseHeaders.set("Retry-After", "0")
                  (503, s"try-$c")
                } else (200, s"ok-$key")
            }
          } else (404, "not found")
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        x.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
        x.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
        if (bytes.nonEmpty) x.getResponseBody.write(bytes)
        x.close()
      })
      // start() spawns the HTTP-Dispatcher thread, which inherits daemon
      // status from its creator — start from a daemon thread so a finished
      // driver JVM can exit.
      val starter = new Thread(() => server.start(), "graft-local-http-starter")
      starter.setDaemon(true)
      starter.start()
      starter.join()
      sys.addShutdownHook { if (server != null) server.stop(0) }
    }
    s"http://127.0.0.1:${server.getAddress.getPort}"
  }
}
