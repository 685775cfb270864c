package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api.{DashboardServer, Json, WaddleSession, WaddleStore}

/** End-to-end dashboard API test: start the HTTP server on an ephemeral
  * port, populate a store through the write façade, and drive the same
  * routes the reference dashboard calls
  * (/root/reference/waddle/_server.py:97-110).
  */
class ServerSpec extends SparkSpec {

  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def send(port: Int, path: String, method: String, body: String = ""): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("dashboard routes serve canonical JSON end-to-end") {
    val root = Files.createTempDirectory("waddle-srv").toString
    val sess = new WaddleSession(spark, root, project = "projS")
    val r1 = sess.initRun("alpha", Map("lr" -> "0.1"))
    sess.log(r1, Map("loss" -> 1.0)); sess.log(r1, Map("loss" -> 0.25))
    sess.logTag(r1, "model", "cnn")
    sess.finishRun(r1, "completed")
    val r2 = sess.initRun("beta", Map("lr" -> "0.2"))
    sess.log(r2, Map("loss" -> 0.9))
    sess.finishRun(r2, "failed")

    val srv = new DashboardServer(spark, root, port = 0)
    srv.start()
    try {
      val port = srv.boundPort

      // index
      assert(get(port, "/").body().contains("graft dashboard"))

      // run list + filters
      val runs = get(port, "/api/runs")
      assert(runs.statusCode() == 200)
      assert(runs.body().contains(s""""id":"$r1"""") && runs.body().contains(s""""id":"$r2""""))
      assert(get(port, "/api/runs?status=failed").body().contains("beta"))
      assert(!get(port, "/api/runs?status=failed").body().contains("alpha"))
      assert(get(port, "/api/runs?sort=nope;DROP").statusCode() == 400)
      assert(get(port, "/api/runs?limit=abc").statusCode() == 400,
        "malformed numeric param is a client error, not a 500")

      // run detail envelope
      val detail = get(port, s"/api/runs/$r1").body()
      assert(detail.contains(""""run":{"""))
      assert(detail.contains(""""key":"lr"""") && detail.contains(""""value":"0.1""""))
      assert(detail.contains(""""model"""") && detail.contains("cnn"))
      assert(detail.contains(""""metric_keys":[{"key":"loss"}]"""))
      assert(get(port, "/api/runs/doesnotexist").statusCode() == 404)

      // metric series, key-filtered and capped
      val series = get(port, s"/api/runs/$r1/metrics?key=loss&limit=1").body()
      assert(series.contains(""""key":"loss"""") && series.contains(""""step":0"""))
      assert(!series.contains(""""step":1"""), "limit=1 must cap the series")

      // global keys + leaderboard
      assert(get(port, "/api/metric-keys").body() == """[{"key":"loss"}]""")
      val lb = get(port, "/api/metric-summary?key=loss").body()
      assert(lb.contains(""""value":0.25""") && lb.contains(""""name":"alpha""""))

      // compare
      val cmp = send(port, "/api/compare", "POST",
        s"""{"run_ids": ["$r1", "$r2"]}""").body()
      assert(cmp.contains(""""runs":[""") && cmp.contains(""""params":["""))
      assert(cmp.contains(s""""$r1":"0.1"""") && cmp.contains(s""""$r2":"0.2""""))
      assert(send(port, "/api/compare", "POST", "{}").statusCode() == 400)

      // tombstone delete cascades through every view
      assert(send(port, s"/api/runs/$r1", "DELETE").body() == """{"ok":true}""")
      val afterList = get(port, "/api/runs").body()
      assert(!afterList.contains("alpha") && afterList.contains("beta"))
      assert(get(port, s"/api/runs/$r1").statusCode() == 404)
      assert(get(port, s"/api/runs/$r1/metrics").body() == "[]")
      assert(get(port, "/api/metric-summary?key=loss").body().contains(""""value":0.9"""))
    } finally srv.stop()
  }

  /** A finished two-run store: params, a tag, an artifact and two metric
    * keys on the first run. */
  private def twoRunStore(prefix: String): (String, String, String) = {
    val root = Files.createTempDirectory(prefix).toString
    val sess = new WaddleSession(spark, root, project = "conc")
    val r1 = sess.initRun("alpha", Map("lr" -> "0.1", "bs" -> "32"))
    sess.log(r1, Map("loss" -> 1.0, "acc" -> 0.5)); sess.log(r1, Map("loss" -> 0.25, "acc" -> 0.75))
    sess.logTag(r1, "model", "cnn")
    sess.logArtifact(r1, "w.bin", "weights".getBytes)
    sess.finishRun(r1, "completed")
    val r2 = sess.initRun("beta", Map("lr" -> "0.2"))
    sess.log(r2, Map("loss" -> 0.9))
    sess.finishRun(r2, "failed")
    (root, r1, r2)
  }

  test("run detail and compare bodies equal the serial renders of their views, under concurrent GETs") {
    val (root, r1, r2) = twoRunStore("waddle-conc")
    val store = new WaddleStore(spark, root)
    // finished runs: the staleness clock cannot change their rows
    val now = System.currentTimeMillis() / 1000.0
    def body(df: DataFrame) = Json.responseBody(df)
    val wantDetail =
      s"""{"run":${body(store.runs(now).where(col("id") === r1)).stripPrefix("[").stripSuffix("]")},""" +
        s""""params":${body(store.latestKv("param").where(col("run_id") === r1).orderBy("key"))},""" +
        s""""tags":${body(store.latestKv("tag").where(col("run_id") === r1).orderBy("key"))},""" +
        s""""artifacts":${body(store.artifacts(r1).orderBy("name"))},""" +
        s""""metric_keys":${body(store.metrics(r1).select("key").distinct().orderBy("key"))}}"""
    val ids = Seq(r1, r2)
    val wantCompare =
      s"""{"runs":${body(store.runs(now).where(col("id").isin(ids: _*)).orderBy("id"))},""" +
        s""""params":${body(store.compareParams(ids))},""" +
        s""""summary":${body(store.metricSummary(ids))}}"""

    val srv = new DashboardServer(spark, root, port = 0)
    srv.start()
    val clients = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val port = srv.boundPort
      assert(get(port, s"/api/runs/$r1").body() == wantDetail)
      assert(send(port, "/api/compare", "POST", s"""{"run_ids": ["$r1", "$r2"]}""").body() ==
        wantCompare)
      val calls = java.util.Collections.nCopies(8,
        (() => get(port, s"/api/runs/$r1")): java.util.concurrent.Callable[HttpResponse[String]])
      val replies = clients.invokeAll(calls).toArray.toSeq
        .map(_.asInstanceOf[java.util.concurrent.Future[HttpResponse[String]]].get())
      assert(replies.forall(_.statusCode() == 200))
      assert(replies.map(_.body()).distinct == Seq(wantDetail))
    } finally { clients.shutdown(); srv.stop() }
  }

  test("run detail is five SQL actions, an unknown id still 404s, and stop() shuts the handler pool") {
    val (root, r1, _) = twoRunStore("waddle-acts")
    // actions that read this store only: other suites' leftovers never count
    def readsStore(qe: QueryExecution): Boolean = qe.analyzed.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case r: HadoopFsRelation => r.location.rootPaths.exists(_.toString.contains(root))
        case _ => false
      }
      case _ => false
    }
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (readsStore(qe)) actions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (readsStore(qe)) actions.incrementAndGet()
    }
    val srv = new DashboardServer(spark, root, port = 0)
    srv.start()
    try {
      val port = srv.boundPort
      assert(get(port, "/api/runs/doesnotexist").statusCode() == 404)
      spark.listenerManager.register(listener)
      try {
        assert(get(port, s"/api/runs/$r1").statusCode() == 200)
        // every action posted its end event before the reply was sent;
        // draining the async bus delivers all of them, so a sixth (the old
        // separate existence probe) is counted whenever it arrived
        org.apache.spark.GraftBus.drain(spark.sparkContext)
        assert(actions.get == 5, s"run detail ran ${actions.get} SQL actions")
      } finally spark.listenerManager.unregister(listener)
    } finally srv.stop()
    assert(srv.handlers.isShutdown, "stop() must shut the handler pool down")
  }

  test("flushes dropping the compacted catalog table never turn concurrent reads into 500s") {
    val root = Files.createTempDirectory("waddle-race").toString
    val sess = new WaddleSession(spark, root, project = "race")
    val live = sess.initRun("live", Map("lr" -> "0.1"))
    (0 until 5).foreach(i => sess.log(live, Map("loss" -> 1.0 / (i + 1))))
    sess.flush()
    new WaddleStore(spark, root).compact()
    assert(spark.catalog.tableExists(WaddleStore.metricsTableName(root)))

    val srv = new DashboardServer(spark, root, port = 0)
    srv.start()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      try (0 until 20).foreach { i => sess.log(live, Map("loss" -> 0.1 / (i + 1))); sess.flush() }
      catch { case e: Throwable => failures.add(s"flush: $e") }
      finally done.set(true)
    })
    try {
      val port = srv.boundPort
      writer.start()
      var reads = 0
      while (!done.get || reads == 0) {
        for (path <- Seq("/api/runs", s"/api/runs/$live")) {
          val r = get(port, path)
          reads += 1
          if (r.statusCode() != 200) failures.add(s"$path -> ${r.statusCode()}: ${r.body()}")
        }
      }
      writer.join()
      assert(failures.isEmpty, failures.toArray.mkString("\n"))
      assert(!spark.catalog.tableExists(WaddleStore.metricsTableName(root)))
    } finally srv.stop()
  }

  test("dashboard client page serves at / and its three views hit live routes") {
    val root = Files.createTempDirectory("waddle-ui").toString
    val sess = new WaddleSession(spark, root, project = "ui")
    val r1 = sess.initRun("trial-a", Map("lr" -> "0.01"))
    sess.log(r1, Map("acc" -> 0.5)); sess.log(r1, Map("acc" -> 0.8))
    sess.finishRun(r1, "completed")
    val r2 = sess.initRun("trial-b", Map("lr" -> "0.05"))
    sess.log(r2, Map("acc" -> 0.6))
    sess.finishRun(r2, "completed")

    val srv = new DashboardServer(spark, root, port = 0)
    srv.start()
    try {
      val port = srv.boundPort
      // the real client page, not the JSON stub
      val page = get(port, "/")
      assert(page.statusCode() == 200)
      val html = page.body()
      assert(html.contains("<svg") || html.contains("lineChart"), "chart code present")
      // the page's three data dependencies, as the client calls them
      assert(html.contains("/api/runs") && html.contains("/api/compare")
        && html.contains("/api/events"))
      assert(get(port, "/static/dashboard.html").body() == html)

      // view 1 — run list: the page's first fetch
      val list = get(port, "/api/runs").body()
      assert(list.contains(""""name":"trial-a"""") && list.contains(""""name":"trial-b""""))
      // view 2 — metric series for the chart
      val series = get(port, s"/api/runs/$r1/metrics?key=acc&limit=5000").body()
      assert(series.contains(""""value":0.5""") && series.contains(""""value":0.8"""))
      // view 3 — compare: param pivot + latest-metric summary
      val cmp = send(port, "/api/compare", "POST",
        s"""{"run_ids": ["$r1", "$r2"]}""").body()
      assert(cmp.contains(s""""$r1":"0.01"""") && cmp.contains(s""""$r2":"0.05""""))
      assert(cmp.contains(""""last_value":0.8""") && cmp.contains(""""last_value":0.6"""))
    } finally srv.stop()
  }

  test("generic /static/{path} serves bundled resources, 404s unknown, blocks traversal") {
    val root = Files.createTempDirectory("waddle-static").toString
    val srv = new DashboardServer(spark, root, port = 0)
    srv.start()
    try {
      val port = srv.boundPort
      // the bundled client is reachable through the generic route too
      val page = get(port, "/static/dashboard.html")
      assert(page.statusCode() == 200)
      assert(page.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      // unknown asset → the reference's 404 JSON (_server.py:85-86)
      val missing = get(port, "/static/no-such-file.js")
      assert(missing.statusCode() == 404 && missing.body().contains("not found"))
      // traversal segments never escape the resource prefix
      assert(get(port, "/static/../graft/dashboard.html").statusCode() == 404)
      assert(get(port, "/static/..%2F..%2Fetc%2Fpasswd").statusCode() == 404)
      // the graft/ resource prefix is also the package root: compiled
      // classes must never be servable
      assert(get(port, "/static/GraftSession.class").statusCode() == 404)
      assert(get(port, "/static/api/DashboardServer.class").statusCode() == 404)
    } finally srv.stop()
  }

  test("SSE fan-out reaches every client and survives disconnects") {
    val root = Files.createTempDirectory("waddle-sse2").toString
    val srv = new DashboardServer(spark, root, port = 0)
    srv.start()
    // the live watcher pre-creates an EMPTY metrics dir on a fresh store;
    // every route must read it as an empty table, not die in parquet
    // schema inference (declared-schema regression guard)
    val watcher = srv.attachLiveFromStore()
    try {
      val port = srv.boundPort
      assert(get(port, "/api/runs").statusCode() == 200)
      assert(get(port, "/api/runs").body() == "[]")
      assert(get(port, "/api/metric-keys").statusCode() == 200)
      watcher.stop()
      def connect() = {
        val conn = java.net.URI.create(s"http://127.0.0.1:$port/api/events")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setReadTimeout(15000)
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(conn.getInputStream))
        assert(r.readLine() == ": connected")
        (conn, r)
      }
      val (c1, r1) = connect()
      val (c2, r2) = connect()
      srv.publish("""{"n":1}""")
      def nextData(r: java.io.BufferedReader) =
        Iterator.continually(r.readLine())
          .dropWhile(l => l != null && !l.startsWith("data:")).next()
      assert(nextData(r1) == """data: {"n":1}""")
      assert(nextData(r2) == """data: {"n":1}""")
      // drop client 1; the next publish must still reach client 2 and the
      // dead stream must not wedge the loop
      c1.disconnect()
      srv.publish("""{"n":2}""")
      srv.publish("""{"n":3}""") // second publish reaps the dead entry
      assert(nextData(r2) == """data: {"n":2}""")
      assert(nextData(r2) == """data: {"n":3}""")
      c2.disconnect()
    } finally srv.stop()
  }

  test("SSE keepalive pings idle streams and reaps dead clients without a publish") {
    val root = Files.createTempDirectory("waddle-sse3").toString
    val srv = new DashboardServer(spark, root, port = 0)
    srv.keepaliveSeconds = 1L // speed the 15 s production cadence up
    srv.start()
    try {
      val port = srv.boundPort
      val conn = java.net.URI.create(s"http://127.0.0.1:$port/api/events")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setReadTimeout(15000)
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream))
      assert(r.readLine() == ": connected")
      // no publish happens — the scheduled comment frame arrives anyway,
      // so idle proxies see traffic
      assert(Iterator.continually(r.readLine())
        .dropWhile(l => l != null && l.isEmpty).next() == ": ping")
      // a client that disconnects during a quiet period is reaped by the
      // keepalive write failing — no publish required
      assert(srv.sseClientCount == 1)
      conn.disconnect()
      val deadline = System.currentTimeMillis() + 10000
      while (srv.sseClientCount > 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(srv.sseClientCount == 0, "dead client must be reaped by keepalive")
    } finally srv.stop()
  }

  test("live SSE endpoint pushes an event when metrics stream in") {
    import org.apache.spark.sql.Encoders
    val root = Files.createTempDirectory("waddle-sse").toString
    val ckpt = Files.createTempDirectory("waddle-sse-ckpt").toString
    val sess = new WaddleSession(spark, root, project = "live")
    val r1 = sess.initRun("live-run")
    sess.log(r1, Map("loss" -> 1.0))
    sess.flush() // creates the metrics dir the file stream will watch

    val srv = new DashboardServer(spark, root, port = 0)
    srv.start()
    val query = srv.attachLive(
      spark.readStream
        .schema(Encoders.product[graft.api.WaddleSchema.MetricRow].schema)
        // metrics append under metric_date= partition dirs
        .option("recursiveFileLookup", "true")
        .parquet(s"$root/metrics"),
      ckpt)
    try {
      val port = srv.boundPort
      val conn = java.net.URI.create(s"http://127.0.0.1:$port/api/events")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setReadTimeout(30000)
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream))
      assert(reader.readLine() == ": connected")

      // append through the write façade; the stream picks the files up and
      // the foreachBatch hint must arrive on the open SSE connection
      sess.log(r1, Map("loss" -> 0.5))
      sess.flush()
      query.processAllAvailable()
      val dataLine = Iterator.continually(reader.readLine())
        .dropWhile(l => l != null && !l.startsWith("data:")).next()
      assert(dataLine != null && dataLine.contains(""""type":"metrics""""),
        s"expected a metrics hint, got: $dataLine")
      assert(dataLine.contains(""""rows":"""))
    } finally {
      query.stop()
      srv.stop()
    }
  }
}
