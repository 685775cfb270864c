package graft.api

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dashboard HTTP surface — the reference's main user surface
  * (`waddle serve` → Starlette app, /root/reference/waddle/_server.py:33-124)
  * re-expressed over the Parquet store:
  *
  *   GET    /                         dashboard client (single-file HTML/JS)
  *   GET    /api/runs                 run list (?project=&status=&sort=&order=&limit=&offset=)
  *   GET    /api/runs/{id}            run detail: run + params + tags + artifacts + metric keys
  *   GET    /api/runs/{id}/metrics    metric series (?key=&limit=)
  *   DELETE /api/runs/{id}            tombstone delete
  *   POST   /api/compare              {"run_ids": [...]} → runs + param pivot + latest metrics
  *   GET    /api/metric-keys          global metric key list (system/ excluded)
  *   GET    /api/metric-summary       leaderboard for one key (?key=&limit=)
  *   GET    /api/events               live update stream (Server-Sent Events)
  *
  * Design: every response body is rendered ENGINE-SIDE — each route builds
  * a LIMIT-capped DataFrame view on [[WaddleStore]] and serializes it with
  * `Json.responseBody` (codegen'd `to_json`, canonical sorted keys); the
  * driver only concatenates the capped rows. The composite routes (run
  * detail, compare) render their independent sections concurrently on
  * the handler pool, so a route waits for its slowest section rather than
  * the sum of them: at dashboard scale each section is a few small files
  * and its cost is the fixed per-action overhead (analysis, planning, job
  * scheduling), which overlaps. The JDK's built-in
  * `com.sun.net.httpserver` serves them — zero added dependencies.
  *
  * The client at `/` is an ORIGINAL single-file page (resource
  * `graft/dashboard.html`) giving the reference dashboard's views — run
  * list + search, run detail, metric line chart, multi-run compare —
  * over the routes above (reference client:
  * /root/reference/waddle/static/index.html, served at _server.py:82-86).
  *
  * Live updates: the reference broadcasts each metric INSERT over
  * WebSocket (/root/reference/waddle/_server.py:88-97,115-124). Here the
  * engine-side analog is [[graft.streaming.Streams.fanout]] (500 ms
  * micro-batches ≈ the client debounce), and [[attachLive]] bridges it to
  * `/api/events` as Server-Sent Events — one-directional push is exactly
  * SSE's shape, and it needs no protocol upgrade on the JDK server.
  */
final class DashboardServer(spark: SparkSession, root: String, port: Int = 0) {
  private val store = new WaddleStore(spark, root)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // SSE holds exchanges open indefinitely; a cached pool keeps long-lived
  // event streams from starving the JSON routes (the default executor runs
  // every handler on one dispatcher thread). The composite routes render
  // their sections on the same pool — unbounded, so a handler waiting on
  // its sections can never starve them of a thread
  private[graft] val handlers = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-dashboard"); t.setDaemon(true); t
  }
  server.setExecutor(handlers)
  private val sseClients = new ConcurrentLinkedQueue[OutputStream]()
  // keepalive: a periodic SSE comment frame so idle proxies don't reap the
  // stream, and — since the write failing is the only disconnect signal —
  // dead clients get detected and removed even when nothing publishes
  // (previously a client that disconnected during a quiet period held its
  // OutputStream in sseClients forever)
  private val keepalive = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graft-sse-keepalive"); t.setDaemon(true); t
  }
  private[graft] var keepaliveSeconds = 15L
  private[graft] def sseClientCount: Int = sseClients.size
  private def nowSec(): Double = System.currentTimeMillis() / 1000.0

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = {
    server.createContext("/", handle _)
    server.start()
    keepalive.scheduleAtFixedRate(() => writeAll(": ping\n\n"),
      keepaliveSeconds, keepaliveSeconds, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
  def stop(): Unit = {
    keepalive.shutdownNow()
    sseClients.forEach(os => try os.close() catch { case _: Exception => () })
    sseClients.clear()
    server.stop(0)
    handlers.shutdown()
  }

  // ---- live push --------------------------------------------------------

  /** Push one SSE message to every connected `/api/events` client; dead
    * connections are dropped. Driver-side work is O(clients) tiny writes —
    * the payload is a batch SUMMARY, never the rows.
    * Honest limit: writes are synchronous, so a live-but-stalled client
    * (full TCP window) can delay delivery to later clients until its
    * buffer drains or the connection dies — acceptable for refresh HINTS
    * on a dashboard's client count; a public deployment would put a
    * bounded per-client queue + writer thread in front.
    */
  def publish(json: String): Unit = writeAll(s"data: $json\n\n")

  // writes hold the stream's lock: publish, the keepalive and the
  // subscribe hello run on different threads and must not interleave bytes
  private def writeAll(frame: String): Unit = {
    val it = sseClients.iterator()
    while (it.hasNext) {
      val os = it.next()
      try os.synchronized { os.write(frame.getBytes(UTF_8)); os.flush() }
      catch { case _: Exception => it.remove() }
    }
  }

  /** Bridge a streaming metrics frame to the SSE endpoint: each micro-batch
    * publishes `{"type":"metrics","batch":id,"rows":n}` — a refresh HINT,
    * matching the reference's best-effort WS broadcast (clients re-fetch
    * through the JSON routes; the hint carries no row data, so a dropped
    * event costs one poll interval, not correctness).
    * Scale: the only driver-side values are the batch id and a count the
    * executors already computed; fan-out cost is independent of batch size.
    */
  def attachLive(metricsStream: DataFrame, checkpointDir: String) =
    graft.streaming.Streams.fanout(metricsStream, checkpointDir) { (batch, id) =>
      val n = batch.count()
      if (n > 0) publish(s"""{"type":"metrics","batch":$id,"rows":$n}""")
    }.start()

  /** Default live wiring for `serve`: watch the store's own metrics table
    * (file-source stream over the append log — new parquet files ARE the
    * events) and push hints to `/api/events`. Checkpoint lives inside the
    * store so a restarted server resumes instead of replaying.
    */
  def attachLiveFromStore(): org.apache.spark.sql.streaming.StreamingQuery = {
    val metricsDir = new org.apache.hadoop.fs.Path(s"$root/metrics")
    val fs = metricsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metricsDir)) fs.mkdirs(metricsDir) // file source needs the dir
    attachLive(
      spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[WaddleSchema.MetricRow].schema)
        // metrics append under metric_date= partition dirs (WaddleSession
        // .flush); recursive lookup finds new files there while keeping
        // the flat declared schema (the partition column is derived, not
        // part of the metric row)
        .option("recursiveFileLookup", "true")
        .parquet(s"$root/metrics"),
      s"$root/.live-checkpoint")
  }

  // ---- request plumbing ----------------------------------------------

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Extract `"run_ids": [...]` from a compare POST body. Deliberately a
    * single-field extractor, not a JSON parser — the route accepts exactly
    * one shape and the repo takes no dependencies for the rest.
    */
  private[api] def parseRunIds(body: String): Seq[String] = {
    val arr = "\"run_ids\"\\s*:\\s*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(body).map(_.group(1)).getOrElse("")
    "\"([^\"]*)\"".r.findAllMatchIn(arr).map(_.group(1)).toSeq
  }

  // ---- routes ---------------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    try {
      (method, path.stripSuffix("/").split("/").toList.drop(1)) match {
        case ("GET", Nil) | ("GET", List("static", "dashboard.html")) =>
          respond(ex, 200, DashboardServer.clientHtml, "text/html")
        case ("GET", "static" :: rest) if rest.nonEmpty =>
          serveStatic(ex, rest)
        case ("GET", List("api", "events")) => subscribe(ex)
        case ("GET", List("api", "runs")) => listRuns(ex)
        case ("GET", List("api", "runs", id)) => getRun(ex, id)
        case ("DELETE", List("api", "runs", id)) =>
          store.deleteRun(id); respond(ex, 200, """{"ok":true}""")
        case ("GET", List("api", "runs", id, "metrics")) => getMetrics(ex, id)
        case ("POST", List("api", "compare")) => compare(ex)
        case ("GET", List("api", "metric-keys")) =>
          respond(ex, 200, Json.responseBody(store.metricKeys()))
        case ("GET", List("api", "metric-summary")) =>
          val q = query(ex)
          respond(ex, 200, Json.responseBody(store.metricLeaderboard(
            q.getOrElse("key", ""), nowSec(), q.getOrElse("limit", "20").toInt)))
        case _ => respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      // NumberFormatException IS-A IllegalArgumentException: malformed
      // numeric params (limit/offset) are client errors, not 500s
      case e: IllegalArgumentException =>
        respond(ex, 400, Json.jsonObject(Seq("error" -> e.getMessage)))
      case e: Throwable =>
        respond(ex, 500, Json.jsonObject(Seq("error" -> String.valueOf(e.getMessage))))
    }
  }

  /** Generic `/static/{path}` route (the reference's `_server.py:108`
    * `Route("/static/{path:path}", static_file)`): serves classpath
    * resources under `graft/` so a deployment can bundle extra assets
    * (plugin JS, icons) next to the dashboard page. Traversal-proof by
    * construction — each segment is validated, so no `..`, absolute, or
    * empty segment can escape the resource prefix; unknown files are the
    * reference's 404 JSON.
    */
  private def serveStatic(ex: HttpExchange, segments: List[String]): Unit = {
    val ok = segments.forall(s =>
      s.nonEmpty && s != ".." && s != "." && !s.contains('\\') && !s.contains(':'))
    // asset-extension whitelist: the graft/ resource prefix is also the
    // application's package root, so without this the route would serve
    // the engine's own .class files (and any other jar resource) to
    // anyone holding the dashboard port
    val servable = Set(".html", ".js", ".css", ".json", ".svg", ".png", ".ico")
    val okType = segments.lastOption.exists(n =>
      servable.exists(n.toLowerCase.endsWith(_)))
    val resource = s"graft/${segments.mkString("/")}"
    val stream =
      if (!ok || !okType) None
      else Option(getClass.getClassLoader.getResourceAsStream(resource))
    stream match {
      case None => respond(ex, 404, """{"error":"not found"}""")
      case Some(is) =>
        val bytes = try is.readAllBytes() finally is.close()
        // lowercase like the whitelist check above — THEME.CSS passes the
        // whitelist case-insensitively and must not fall through to
        // octet-stream (a stylesheet served as octet-stream is ignored)
        val ct = segments.last.toLowerCase.takeRight(5) match {
          case s if s.endsWith(".html") => "text/html"
          case s if s.endsWith(".js")   => "application/javascript"
          case s if s.endsWith(".css")  => "text/css"
          case s if s.endsWith(".json") => "application/json"
          case s if s.endsWith(".svg")  => "image/svg+xml"
          case s if s.endsWith(".png")  => "image/png"
          case s if s.endsWith(".ico")  => "image/x-icon"
          case _ => "application/octet-stream"
        }
        ex.getResponseHeaders.set("Content-Type", ct)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
    }
  }

  /** SSE subscription: flip the exchange to a chunked event stream and park
    * it on the client list; [[publish]] writes events, the write failing is
    * the disconnect signal. The handler thread returns immediately — the
    * open response body costs a queue slot, not a thread.
    */
  private def subscribe(ex: HttpExchange): Unit = {
    ex.getResponseHeaders.set("Content-Type", "text/event-stream")
    ex.getResponseHeaders.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0L) // length 0 = chunked, stream stays open
    val os = ex.getResponseBody
    // register BEFORE the hello, under the stream's lock: a client that has
    // read the hello is already subscribed, so a publish sent right after it
    // connects reaches it, and a publish that finds the stream first waits
    // until the hello is out
    os.synchronized {
      sseClients.add(os)
      os.write(": connected\n\n".getBytes(UTF_8)) // SSE comment = hello/keepalive
      os.flush()
    }
  }

  private def listRuns(ex: HttpExchange): Unit = {
    val q = query(ex)
    val df = store.listRuns(
      nowSec(),
      project = q.get("project"),
      status = q.get("status"),
      sortBy = q.getOrElse("sort", "started_at"),
      descending = q.getOrElse("order", "desc") == "desc",
      limit = q.getOrElse("limit", "200").toInt,
      offset = q.getOrElse("offset", "0").toInt)
    respond(ex, 200, Json.responseBody(df))
  }

  /** Build and render independent response sections concurrently on the
    * handler pool, one `Json.responseBody` action each, results in
    * argument order. A failing section rethrows its own cause, so
    * [[handle]] answers with the status code it would have given the
    * serial render (a 400 stays a 400).
    */
  private def renderAll(views: (() => DataFrame)*): Seq[String] = {
    val pending = views.map(v =>
      handlers.submit((() => Json.responseBody(v())): Callable[String]))
    try pending.map(_.get())
    catch { case e: ExecutionException => throw e.getCause }
  }

  /** Composite run detail (reference get_run,
    * /root/reference/waddle/_dashboard_api.py:74-130): each section is its
    * own capped engine query; sections render concurrently; the driver
    * assembles the envelope. An unknown (or deleted) id renders an empty
    * run section, which is the 404 — no separate existence probe.
    */
  private def getRun(ex: HttpExchange, id: String): Unit = {
    val now = nowSec()
    val Seq(run, params, tags, arts, keys) = renderAll(
      () => store.runs(now).where(col("id") === id),
      () => store.latestKv("param").where(col("run_id") === id).orderBy("key"),
      () => store.latestKv("tag").where(col("run_id") === id).orderBy("key"),
      () => store.artifacts(id).orderBy("name"),
      () => store.metrics(id).select("key").distinct().orderBy("key"))
    if (run == "[]") respond(ex, 404, """{"error":"not found"}""")
    else respond(ex, 200,
      s"""{"run":${run.stripPrefix("[").stripSuffix("]")},""" +
        s""""params":$params,"tags":$tags,"artifacts":$arts,"metric_keys":$keys}""")
  }

  private def getMetrics(ex: HttpExchange, id: String): Unit = {
    val q = query(ex)
    var df = store.metrics(id)
    q.get("key").foreach(k => df = df.where(col("key") === k))
    respond(ex, 200,
      Json.responseBody(df, limit = q.getOrElse("limit", "5000").toInt))
  }

  private def compare(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val ids = parseRunIds(body)
    if (ids.isEmpty) { respond(ex, 400, """{"error":"run_ids required"}"""); return }
    val now = nowSec()
    val Seq(runs, params, summary) = renderAll(
      () => store.runs(now).where(col("id").isin(ids: _*)).orderBy("id"),
      () => store.compareParams(ids),
      () => store.metricSummary(ids))
    respond(ex, 200, s"""{"runs":$runs,"params":$params,"summary":$summary}""")
  }
}

object DashboardServer {
  /** The dashboard client page, loaded once from the classpath (resource
    * `graft/dashboard.html`); a missing resource degrades to the JSON-only
    * index rather than failing the server.
    */
  lazy val clientHtml: String =
    Option(getClass.getClassLoader.getResourceAsStream("graft/dashboard.html"))
      .map { in => try new String(in.readAllBytes(), UTF_8) finally in.close() }
      .getOrElse("<h1>graft dashboard</h1><p>JSON API under /api</p>")
}

/** `waddle serve` analog (/root/reference/waddle/cli.py:80-124).
  * Usage: runMain graft.api.Serve <storeRoot> [port]
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(sys.error("usage: Serve <storeRoot> [port]"))
    val port = args.lift(1).map(_.toInt).getOrElse(8350)
    val spark = graft.GraftSession.create()
    val srv = new DashboardServer(spark, root, port)
    srv.start()
    srv.attachLiveFromStore()
    println(s"graft dashboard listening on 127.0.0.1:${srv.boundPort} over $root")
    Thread.currentThread().join()
  }
}
