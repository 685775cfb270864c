package graft

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col

import graft.api.{DashboardServer, WaddleSession, WaddleStore}

/** The `tracking` workload: the waddleml product path.
  *
  * Setup seeds a store through [[WaddleSession]]: `HistoryRuns` finished
  * runs with params, tags, one artifact and `Keys` x `HistorySteps` metrics
  * each, logged in lockstep and flushed every `HistoryFlushSteps` steps,
  * then finished one by one (a flush each), plus `LiveRuns` live runs. It
  * starts [[DashboardServer]] with `attachLiveFromStore` and subscribes to
  * `/api/events`. The timed phase runs one writer (`log` + `flush` on the
  * live runs), two closed-loop readers that each make `Passes` dashboard
  * sessions (see [[visit]]), and one `compact()` once every reader is
  * `CompactAfterPasses` sessions in. Compaction runs in a maintenance
  * window: the writer finishes its flush in flight and waits, the readers
  * wait; the writer goes on once compaction returns, the readers once the
  * writer's next flush has dropped the bucketed catalog table compaction
  * registered. The store fails operations that overlap either step
  * (perfbench/README.md, "Findings"). The window is left out of the read
  * and ingest rates. Afterwards the store is read back:
  * every acknowledged metric row, final status and latest param must be
  * there.
  */
object PerfTracking {
  val Keys = Seq("loss", "acc", "grad_norm", "lr", "val_loss", "val_acc", "throughput", "mem_gb")
  val HistoryRuns = 16
  val HistorySteps = 100
  val HistoryFlushSteps = 100
  val LiveRuns = 2
  val BlockSteps = 20
  val Readers = 2
  val Routes = Seq("runs", "run", "metrics", "compare", "metric_summary", "metric_keys")
  /** Live refreshes per session while a run view is open. */
  val LiveRefreshes = 1
  /** Runs picked for a compare. */
  val ComparePicks = 2
  /** Sessions per reader: fixed work, so every run samples the same
    * requests at the same points of the store's life.
    */
  val Passes = 2
  /** Compaction starts once every reader has finished this many sessions. */
  val CompactAfterPasses = 1

  private val mapper = new ObjectMapper()

  /** `wrong`: a 2xx reply whose content failed its check. */
  final case class Read(route: String, reader: Int, startS: Double, ms: Double, ok: Boolean,
      wrong: Boolean, err: String) {
    def toJson: Map[String, Any] = Map("route" -> route, "reader" -> reader, "start_s" -> startS,
      "ms" -> (if (ok) ms else Double.NaN), "ok" -> ok, "wrong" -> wrong, "err" -> err)
  }
  final case class Flush(endNs: Long, rows: Int, ms: Double, ok: Boolean, err: String)

  /** Rows acknowledged by a returned flush, by (run, key): step -> value. */
  final class Acked {
    private val rows = new ConcurrentHashMap[(String, String), ConcurrentHashMap[Int, Double]]()
    def add(run: String, key: String, step: Int, v: Double): Unit =
      rows.computeIfAbsent((run, key), _ => new ConcurrentHashMap()).put(step, v)
    def count(run: String, key: String): Int =
      Option(rows.get((run, key))).map(_.size).getOrElse(0)
    def total: Long = rows.values.asScala.map(_.size.toLong).sum
    def of(run: String): Map[(String, Int), Double] =
      rows.asScala.toSeq.filter(_._1._1 == run).flatMap { case ((_, k), m) =>
        m.asScala.map { case (s, v) => (k, s) -> v } }.toMap
  }

  def run(ctx: PerfBench.Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val o = ctx.opts
    val rng = new scala.util.Random(o.seed)
    val root = o.out.resolve("store")
    val session = new WaddleSession(spark, root.toString)
    val acked = new Acked
    // rows of a flush that threw: they may or may not have been stored
    val unacked = new Acked
    val params = new ConcurrentHashMap[(String, String), String]()
    val statuses = mutable.Map.empty[String, String]
    val runIds = mutable.ArrayBuffer.empty[String]
    val notes = mutable.ArrayBuffer.empty[String]

    val logNs = new AtomicLong()
    val logCalls = new AtomicLong()

    /** One writer step block: log, flush, then mark the rows acknowledged. */
    def block(ids: Seq[String], fromStep: Int, steps: Int, r: scala.util.Random): Int = {
      val pending = mutable.ArrayBuffer.empty[(String, String, Int, Double)]
      ids.foreach { id =>
        (fromStep until fromStep + steps).foreach { s =>
          val m = Keys.map(k => k -> math.rint(r.nextGaussian() * 1e6) / 1e6).toMap
          val l0 = System.nanoTime()
          session.log(id, m, Some(s))
          logNs.addAndGet(System.nanoTime() - l0); logCalls.incrementAndGet()
          m.foreach { case (k, v) => pending += ((id, k, s, v)) }
        }
        val lr = f"${r.nextDouble() * 0.1}%.6f"
        session.logParam(id, "lr", lr)
        params.put((id, "lr"), lr)
      }
      try session.flush()
      catch { case e: Exception =>
        pending.foreach { case (id, k, s, v) => unacked.add(id, k, s, v) }
        throw e
      }
      pending.foreach { case (id, k, s, v) => acked.add(id, k, s, v) }
      pending.size
    }

    ctx.spans.span(0, "workload:tracking") { rootSpan =>
      // ---- setup: seeded history, live runs, server, live stream, subscriber
      ctx.spans.span(rootSpan, "seed_store") { _ =>
        (0 until HistoryRuns + LiveRuns).foreach { i =>
          val cfg = Map("lr" -> f"${0.001 * (1 + rng.nextInt(100))}%.4f",
            "batch" -> (16 << rng.nextInt(4)).toString, "optimizer" -> Seq("adam", "sgd")(rng.nextInt(2)))
          val id = session.initRun(s"run-$i", cfg)
          runIds += id
          cfg.foreach { case (k, v) => params.put((id, k), v) }
          session.logTag(id, "model", Seq("resnet", "vit", "mlp")(rng.nextInt(3)))
          session.logArtifact(id, "weights.bin", Array.fill(2048)(rng.nextInt(256).toByte))
          statuses(id) = "running"
        }
        // the history runs log in lockstep, one flush per HistoryFlushSteps
        // steps, then finish one by one
        val history = runIds.take(HistoryRuns).toSeq
        (0 until HistorySteps by HistoryFlushSteps).foreach { from =>
          block(history, from, math.min(HistoryFlushSteps, HistorySteps - from), rng)
        }
        history.foreach { id =>
          val st = if (rng.nextDouble() < 0.8) "completed" else "failed"
          session.finishRun(id, st)
          statuses(id) = st
        }
      }
      val live = runIds.drop(HistoryRuns).toSeq
      val liveStep = mutable.Map.from(live.map(_ -> 0))

      val server = new DashboardServer(spark, root.toString)
      server.start()
      val stream = server.attachLiveFromStore()
      val base = s"http://127.0.0.1:${server.boundPort}"
      val hints = new ConcurrentLinkedQueue[(Long, Long)]() // (arrival ns, rows)
      val published = new AtomicLong()
      val sse = new Thread(() => {
        try {
          val c = new java.net.URL(s"$base/api/events").openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          val in = new BufferedReader(new InputStreamReader(c.getInputStream, UTF_8))
          var line = in.readLine()
          while (line != null) {
            if (line.startsWith("data: ")) {
              val n = mapper.readTree(line.drop(6)).path("rows").asLong(0)
              hints.add((System.nanoTime(), published.addAndGet(n)))
            }
            line = in.readLine()
          }
        } catch { case _: Exception => () }
      }, "perfbench-sse")
      sse.setDaemon(true)
      sse.start()

      def awaitPublished(target: Long, timeoutS: Double): Boolean = {
        val end = System.nanoTime() + (timeoutS * 1e9).toLong
        while (published.get() < target && System.nanoTime() < end) Thread.sleep(20)
        published.get() >= target
      }
      val clients = (0 until Readers).map(_ => HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build())
      // warm-up: one writer block and one request per route, then the
      // stream must have caught up with every acknowledged row
      ctx.spans.span(rootSpan, "warmup") { _ =>
        live.foreach(id => liveStep(id) += BlockSteps)
        block(live, 0, BlockSteps, rng)
        Seq(Req("runs"), Req("run", live.head), Req("metrics", live.head, Keys.head),
          Req("compare", compareIds = runIds.take(ComparePicks).toSeq),
          Req("metric_summary", key = Keys.head), Req("metric_keys"))
          .foreach(q => request(clients(0), base, q, acked, runIds.size))
        if (!awaitPublished(acked.total, 60))
          notes += s"live stream published ${published.get()} of ${acked.total} rows before the timed phase"
      }
      val setupS = (System.currentTimeMillis() - ctx.processStartMs) / 1000.0

      // ---- timed phase
      val host = new PerfHost.Window
      val agg0 = ctx.layerTotals()
      val baseline = published.get()
      val reads = new ConcurrentLinkedQueue[Read]()
      val passes = new ConcurrentLinkedQueue[(Double, Boolean)]()
      val flushes = new ConcurrentLinkedQueue[Flush]()
      val (logNs0, logCalls0) = (logNs.get(), logCalls.get())
      val t0 = System.nanoTime()
      // the window is fixed work; three times --seconds caps it
      val deadline = t0 + (3 * o.seconds * 1e9).toLong
      val compactGate = new java.util.concurrent.CountDownLatch(Readers)
      // released by the writer's first flush after the compaction (see the
      // object comment)
      val compactDone = new java.util.concurrent.CountDownLatch(1)
      val compacted = new java.util.concurrent.atomic.AtomicBoolean(false)
      // held by the writer for each flush block and by the compaction for
      // its whole run; fair, so the compaction gets it after the block in
      // flight
      val quiet = new java.util.concurrent.locks.ReentrantLock(true)
      val readersDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val writerRng = new scala.util.Random(rng.nextLong())
      val writer = new Thread(() => {
        spark.sparkContext.setJobGroup("flush", "writer")
        var ackedRows = 0L
        while (!readersDone.get()) {
          quiet.lock()
          try {
            val f0 = System.nanoTime()
            val from = liveStep(live.head)
            val f = ctx.spans.span(rootSpan, "flush") { _ =>
              try {
                val n = block(live, from, BlockSteps, writerRng)
                Flush(System.nanoTime(), n, 0, ok = true, "")
              } catch { case e: Exception => Flush(System.nanoTime(), 0, 0, ok = false, e.toString) }
            }
            live.foreach(id => liveStep(id) = from + BlockSteps)
            ackedRows += f.rows
            flushes.add(f.copy(ms = (f.endNs - f0) / 1e6, rows = ackedRows.toInt))
          } finally quiet.unlock()
          if (compacted.get()) compactDone.countDown()
        }
      }, "perfbench-writer")
      val readers = (0 until Readers).map { r =>
        val rr = new scala.util.Random(o.seed * 31 + r)
        new Thread(() => {
          var pass = 0
          while (pass < Passes && System.nanoTime() < deadline) {
            val p0 = System.nanoTime()
            var passOk = true
            ctx.spans.span(rootSpan, "request_pass", Map("reader" -> r)) { pid =>
              visit(runIds.toSeq, live, rr, { q =>
                val q0 = System.nanoTime()
                val (ok, wrong, err, body) = request(clients(r), base, q, acked, runIds.size)
                val q1 = System.nanoTime()
                ctx.spans.record(pid, "request", q0, q1, Map("route" -> q.route, "ok" -> ok))
                reads.add(Read(q.route, r, (q0 - t0) / 1e9, (q1 - q0) / 1e6, ok, wrong, err))
                passOk &&= ok
                body
              })
            }
            passes.add(((System.nanoTime() - p0) / 1e9, passOk))
            pass += 1
            if (pass == CompactAfterPasses) { compactGate.countDown(); compactDone.await() }
          }
          if (pass < CompactAfterPasses) compactGate.countDown()
        }, s"perfbench-reader-$r")
      }
      (writer +: readers).foreach { t => t.setDaemon(true); t.start() }

      // compaction partway through, in a window with no read or flush
      compactGate.await()
      val q0 = System.nanoTime()
      quiet.lock()
      val w0 = System.nanoTime()
      val filesBefore = storeFiles(root)
      val c0 = System.nanoTime()
      val compactErr = try {
        spark.sparkContext.setJobGroup("compact", "compact")
        ctx.spans.span(rootSpan, "compact")(_ => new WaddleStore(spark, root.toString).compact())
        ""
      } catch { case e: Exception => e.toString }
      finally spark.sparkContext.clearJobGroup()
      val c1 = System.nanoTime()
      val filesAfter = storeFiles(root)
      compacted.set(true)
      quiet.unlock()
      // the writer was held from w0, the readers from q0 until its next flush
      val writerHeldS = (System.nanoTime() - w0) / 1e9
      compactDone.await()
      val quietS = (System.nanoTime() - q0) / 1e9

      readers.foreach(_.join())
      val windowS = (System.nanoTime() - t0) / 1e9 - quietS
      readersDone.set(true)
      val d0 = System.nanoTime()
      writer.join()
      val hostRec = host.close()
      val flushList = flushes.asScala.toSeq
      val ackedTimed = flushList.lastOption.map(_.rows.toLong).getOrElse(0L)
      ctx.spans.record(rootSpan, "drain", d0, System.nanoTime())
      val aggEnd = ctx.layerTotals()

      // live lag: a flush is hinted once the published row count covers it;
      // only flushes hinted before compaction count, since compaction
      // republishes the rewritten files through the same stream
      val hintList = hints.asScala.toSeq
      val lags = flushList.filter(f => f.ok && f.endNs < c0).flatMap { f =>
        hintList.find { case (t, cum) => cum - baseline >= f.rows && t < c0 }
          .map { case (t, _) => math.max(0.0, (t - f.endNs) / 1e6) }
      }
      val progress = stream.recentProgress.toSeq
      val (nowNs, nowMs) = (System.nanoTime(), System.currentTimeMillis())
      progress.foreach { p =>
        // a progress timestamp is the batch's wall-clock start
        val startNs = nowNs - (nowMs - java.time.Instant.parse(p.timestamp).toEpochMilli) * 1000000L
        val ms = p.durationMs.getOrDefault("triggerExecution", 0L).longValue
        ctx.spans.record(rootSpan, "stream_batch", startNs, startNs + ms * 1000000L,
          Map("batch" -> p.batchId, "rows" -> p.numInputRows))
      }
      ctx.spans.span(rootSpan, "stop") { _ =>
        stream.stop()
        server.stop()
        sse.join(5000)
      }

      // ---- read back: every acknowledged row, final status, latest param
      val checks = ctx.spans.span(rootSpan, "read_back") { _ =>
        live.foreach { id =>
          val st = if (rng.nextDouble() < 0.5) "completed" else "failed"
          session.finishRun(id, st)
          statuses(id) = st
        }
        readBack(spark, root.toString, runIds.toSeq, acked, unacked, statuses.toMap,
          params.asScala.toMap)
      }
      val storeRows = acked.total

      val routeMs = (r: String) => PerfStats.median(reads.asScala.filter(x => x.ok && x.route == r).map(_.ms).toSeq)
      val layers: Map[String, Any] =
        if (!o.trace) Map.empty
        else {
          val d = aggEnd.map { case (k, v) => k -> v.minus(agg0.getOrElse(k, new PerfAgg)) }
          val streamGroup = stream.runId.toString
          val route = d.filter { case (k, _) => k != "flush" && k != "compact" && k != streamGroup }
            .values.foldLeft(new PerfAgg)(_ += _)
          // the compaction's tasks ran outside the window
          val all = d.filter(_._1 != "compact").values.foldLeft(new PerfAgg)(_ += _)
          val nReads = math.max(1, reads.size).toDouble
          val flushMs = flushList.filter(_.ok).map(_.ms)
          val tEnd = System.nanoTime()
          val routeActions = ctx.qe.toSeq.flatMap(_.events.asScala)
            .filter { case (t, f, _) => t >= t0 && t <= tEnd && (f == "collect" || f == "isEmpty") }
          def phase(k: String) = PerfStats.mean(routeActions.map(_._3.getOrElse(k, 0.0)))
          Map(
            "spark.analysis_ms" -> phase("analysis"),
            "spark.optimization_ms" -> phase("optimization"),
            "spark.planning_ms" -> phase("planning"),
            "spark.jobs" -> route.jobs / nReads,
            "spark.stages" -> route.stages / nReads,
            "spark.tasks" -> route.tasks / nReads,
            "spark.tasks_per_stage" -> (if (route.stages == 0) 0.0 else route.tasks.toDouble / route.stages),
            "spark.core_busy_ratio" -> all.runMs / (windowS * 1000.0 * ctx.cpus),
            "spark.executor_run_ms" -> route.runMs / nReads,
            "spark.executor_cpu_ms" -> route.cpuNs / 1e6 / nReads,
            "spark.gc_ms" -> route.gcMs / nReads,
            "spark.shuffle_write_bytes" -> route.shuffleWriteBytes / nReads,
            "spark.shuffle_records" -> route.shuffleRecords / nReads,
            "spark.spill_bytes" -> route.spillBytes / nReads,
            "spark.input_bytes" -> route.inputBytes / nReads,
            "spark.input_records" -> route.inputRecords / nReads,
            "spark.result_bytes" -> route.resultBytes / nReads,
            "api.flush_p50_ms" -> PerfStats.median(flushMs),
            "api.flush_p95_ms" -> PerfStats.pct(flushMs, 0.95),
            "api.flushes" -> flushList.size,
            "api.log_us" -> (logNs.get() - logNs0) / 1e3 / math.max(1L, logCalls.get() - logCalls0),
            "api.store_files_before_compact" -> filesBefore,
            "api.store_files_after_compact" -> filesAfter,
            // bytes written by compaction's own tasks (its job group), so the
            // writer's concurrent flushes are not counted
            "api.compact_rewritten_mb" ->
              d.get("compact").map(_.outputBytes / 1048576.0).getOrElse(0.0),
            "sources.pinned_mb" -> PerfRegistry.pinnedMb(spark),
            "streaming.batches" -> progress.count(_.numInputRows > 0),
            "streaming.batch_ms" -> PerfStats.mean(progress.filter(_.numInputRows > 0)
              .map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble)),
            "streaming.input_rows" -> progress.map(_.numInputRows).sum) ++
            Routes.map(r => s"api.route.${r}_ms" -> routeMs(r))
        }
      Map(
        "kind" -> "tracking",
        "setup_s" -> setupS,
        "window_s" -> windowS,
        "reads" -> reads.asScala.toSeq.map(_.toJson),
        "passes" -> passes.asScala.toSeq.map { case (s, ok) => Map("wall_s" -> s, "ok" -> ok) },
        "flushes" -> flushList.map(f => Map("ms" -> f.ms, "ok" -> f.ok, "err" -> f.err)),
        "compact" -> Map("s" -> (c1 - c0) / 1e9, "start_s" -> (c0 - t0) / 1e9,
          "ok" -> compactErr.isEmpty, "err" -> compactErr),
        "checks" -> checks,
        "tracking" -> Map(
          "ingest_rows_per_s" -> ackedTimed /
            flushList.lastOption.map(f => (f.endNs - t0) / 1e9 - (if (f.endNs > c1) writerHeldS else 0.0))
              .getOrElse(windowS),
          "live_lag_ms" -> PerfStats.median(lags),
          "live_lag_samples" -> lags.size,
          "compact_s" -> (c1 - c0) / 1e9,
          "store_bytes_per_row" -> PerfBench.dirBytes(root).toDouble / math.max(1L, storeRows),
          "stream_rows_published" -> (published.get() - baseline),
          "rows_acked_timed" -> ackedTimed),
        "host" -> hostRec,
        "layers" -> layers,
        "notes" -> notes.toSeq)
    }
  }

  final case class Req(route: String, id: String = "", key: String = "",
      compareIds: Seq[String] = Nil)

  /** One dashboard session, request for request as `dashboard.html`
    * issues them: page load (`loadRuns`: the run list); open a live run
    * (`openRun`: its detail, then `plotCurrent`: the series of the detail's
    * first metric key); `LiveRefreshes` live refreshes (the SSE handler:
    * the run list and the open series again); a compare of `ComparePicks`
    * runs (`/api/compare`, then the overlay: one series per picked run for
    * the first key of the compare summary). The dashboard never calls
    * `/api/metric-summary` or `/api/metric-keys`; as API-client routes they
    * get one request each per session (2 of 10), one after the run view and
    * one after the compare, in a seeded order. The browser fires a live
    * refresh's two requests together; a closed-loop reader sends them one
    * after the other. `call` sends one request and returns its body, or
    * None when it failed; a failed request's follow-ups still go out, with
    * the first key as fallback, so every session is the same work.
    */
  def visit(runIds: Seq[String], live: Seq[String], r: scala.util.Random,
      call: Req => Option[JsonNode]): Unit = {
    val extras = r.shuffle(Seq(Req("metric_summary", key = Keys(r.nextInt(Keys.size))),
      Req("metric_keys")))
    def firstKey(n: Option[JsonNode], field: String): String =
      n.map(_.path(field).elements().asScala.map(_.path("key").asText()).toSeq)
        .filter(_.nonEmpty).map(_.head).getOrElse(Keys.head)
    call(Req("runs"))
    val id = live(r.nextInt(live.size))
    val key = firstKey(call(Req("run", id)), "metric_keys")
    call(Req("metrics", id, key))
    call(extras(0))
    (1 to LiveRefreshes).foreach { _ =>
      call(Req("runs"))
      call(Req("metrics", id, key))
    }
    val picked = r.shuffle(runIds).take(ComparePicks)
    val cmp = call(Req("compare", compareIds = picked))
    val cmpKey = cmp.map(_.path("summary").elements().asScala.map(_.path("key").asText()).toSeq.sorted)
      .filter(_.nonEmpty).map(_.head).getOrElse(Keys.sorted.head)
    picked.foreach(p => call(Req("metrics", p, cmpKey)))
    call(extras(1))
  }

  /** One dashboard request, checked against what the writer had already
    * acknowledged when it was sent. Returns (ok, wrong answer, error, the
    * body when ok).
    */
  def request(client: HttpClient, base: String, q: Req, acked: Acked,
      nRuns: Int): (Boolean, Boolean, String, Option[JsonNode]) = {
    val Req(route, id, key, compareIds) = q
    val minRows = acked.count(id, key)
    val req = route match {
      case "runs" => HttpRequest.newBuilder(URI.create(s"$base/api/runs")).GET()
      case "run" => HttpRequest.newBuilder(URI.create(s"$base/api/runs/$id")).GET()
      case "metrics" =>
        HttpRequest.newBuilder(URI.create(s"$base/api/runs/$id/metrics?key=$key&limit=5000")).GET()
      case "compare" => HttpRequest.newBuilder(URI.create(s"$base/api/compare"))
        .POST(HttpRequest.BodyPublishers.ofString(
          compareIds.map(i => "\"" + i + "\"").mkString("""{"run_ids":[""", ",", "]}")))
      case "metric_summary" => HttpRequest.newBuilder(URI.create(s"$base/api/metric-summary?key=$key")).GET()
      case "metric_keys" => HttpRequest.newBuilder(URI.create(s"$base/api/metric-keys")).GET()
    }
    try {
      val resp = client.send(req.build(), HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode / 100 != 2)
        return (false, false, s"HTTP ${resp.statusCode}: ${resp.body.take(300)}", None)
      val body = mapper.readTree(resp.body())
      def texts(n: JsonNode, f: String) = n.elements().asScala.map(_.path(f).asText()).toSeq
      val err = route match {
        case "runs" =>
          if (body.size >= nRuns) "" else s"${body.size} runs listed of $nRuns"
        case "run" =>
          if (body.path("run").path("id").asText() == id) "" else "run detail lacks the run"
        case "metrics" =>
          val ks = texts(body, "key"); val rs = texts(body, "run_id")
          if (ks.exists(_ != key) || rs.exists(_ != id)) "series holds foreign rows"
          else if (ks.size < minRows) s"series has ${ks.size} rows, $minRows acknowledged"
          else ""
        case "compare" =>
          if (texts(body.path("runs"), "id").sorted == compareIds.sorted) "" else "compare lacks runs"
        case "metric_summary" =>
          if (body.size > 0 && body.elements().asScala.forall(_.has("value"))) "" else "empty leaderboard"
        case "metric_keys" =>
          if (Keys.forall(texts(body, "key").toSet)) "" else "metric keys missing"
      }
      (err.isEmpty, err.nonEmpty, err, if (err.isEmpty) Some(body) else None)
    } catch { case e: Exception => (false, false, e.toString, None) }
  }

  /** Data files of the store's tables (checkpoint and checksum files aside). */
  def storeFiles(root: Path): Int =
    PerfBench.files(root).count { case (p, _) =>
      p.getFileName.toString.endsWith(".parquet") &&
        !root.relativize(p).toString.startsWith(".live-checkpoint") }

  /** Reads the finished store back through [[WaddleStore]]; one check per
    * run (its metric rows), plus the status and param checks.
    */
  def readBack(spark: org.apache.spark.sql.SparkSession, root: String, runIds: Seq[String],
      acked: Acked, unacked: Acked, statuses: Map[String, String],
      params: Map[(String, String), String]): Seq[Map[String, Any]] = {
    val store = new WaddleStore(spark, root)
    // one read per run, four at a time: the check is outside every timing
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val reads = try runIds.map(id => id -> pool.submit(() =>
      store.metrics(id).select("key", "step", "value").collect())).map { case (id, f) => id -> f.get() }
    finally pool.shutdown()
    val metricChecks = reads.map { case (id, got) =>
      val want = acked.of(id)
      val maybe = unacked.of(id)
      val gotMap = got.map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val missing = want.count { case (k, v) => !gotMap.get(k).contains(v) }
      val foreign = gotMap.count { case (k, v) => !want.contains(k) && !maybe.get(k).contains(v) }
      val err =
        if (missing > 0) s"$missing acknowledged rows missing or changed"
        else if (gotMap.size != got.length) s"${got.length - gotMap.size} duplicated rows"
        else if (foreign > 0) s"$foreign rows stored that no flush wrote"
        else ""
      Map("check" -> s"metrics:$id", "ok" -> err.isEmpty, "err" -> err)
    }
    val now = System.currentTimeMillis() / 1000.0
    val gotStatus = store.runs(now).select("id", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val statusErr = statuses.collect { case (id, st) if !gotStatus.get(id).contains(st) =>
      s"$id: ${gotStatus.getOrElse(id, "absent")} != $st" }
    val gotParams = store.latestKv("param").where(col("run_id").isin(runIds: _*)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val paramErr = params.collect { case (k, v) if !gotParams.get(k).contains(v) =>
      s"$k: ${gotParams.getOrElse(k, "absent")} != $v" }
    metricChecks ++ Seq(
      Map("check" -> "statuses", "ok" -> statusErr.isEmpty, "err" -> statusErr.take(3).mkString("; ")),
      Map("check" -> "params", "ok" -> paramErr.isEmpty, "err" -> paramErr.take(3).mkString("; ")))
  }
}
