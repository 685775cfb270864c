package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.api.{WaddleSession, WaddleStore}

/** End-to-end façade round trip, mirroring the reference's API tests
  * (/root/reference/tests/test_api.py:56-72 — init→log→finish then verify
  * by direct query).
  */
class WaddleApiSpec extends SparkSpec {

  test("init -> log -> finish round trip") {
    val root = Files.createTempDirectory("waddle").toString
    val sess = new WaddleSession(spark, root, project = "proj1")

    val run = sess.initRun("exp-1", Map("lr" -> "0.01", "epochs" -> "100"))
    sess.log(run, Map("loss" -> 0.5, "acc" -> 0.7))        // step 0
    sess.log(run, Map("loss" -> 0.4, "acc" -> 0.8))        // step 1
    sess.log(run, Map("loss" -> 0.35), step = Some(10))    // explicit step
    sess.logParam(run, "lr", "0.02")                       // upsert wins
    sess.logTag(run, "model", "resnet")
    sess.logArtifact(run, "weights.bin", "model weights".getBytes)
    sess.finishRun(run, "completed")

    val store = new WaddleStore(spark, root)
    val now = System.currentTimeMillis() / 1000.0

    val runRow = store.runs(now).where(col("id") === run).head()
    assert(runRow.getAs[String]("status") == "completed")
    assert(runRow.getAs[String]("project") == "proj1")
    // env is captured as canonical sorted-keys JSON (reference
    // json.dumps(..., sort_keys=True)); notes column exists and is null
    val env = runRow.getAs[String]("env")
    assert(env.startsWith("{\"java\":") && env.contains("\"os\":") &&
      env.contains("\"scala\":"))
    assert(runRow.isNullAt(runRow.fieldIndex("notes")))

    val m = store.metrics(run).collect()
    assert(m.length == 5)
    val lossSteps = m.filter(_.getAs[String]("key") == "loss").map(_.getAs[Int]("step"))
    assert(lossSteps.sorted.sameElements(Array(0, 1, 10)))

    // keep-latest upsert: lr was set at init then overwritten
    val params = store.latestKv("param").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(params("lr") == "0.02" && params("epochs") == "100")
    assert(store.latestKv("tag").head().getAs[String]("value") == "resnet")

    // artifact: sha256 of the exact bytes (reference test_api.py:146-160)
    val art = store.artifacts(run).head()
    val wantSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest("model weights".getBytes).map("%02x".format(_)).mkString
    assert(art.getAs[String]("sha256") == wantSha)
    assert(art.getAs[Long]("size_bytes") == "model weights".getBytes.length.toLong)
  }

  test("finish after an intermediate flush still records the final status") {
    val root = Files.createTempDirectory("waddle-ff").toString
    val sess = new WaddleSession(spark, root)
    val run = sess.initRun("long-run")
    sess.log(run, Map("loss" -> 1.0))
    sess.flush() // "running" row is now on disk
    sess.log(run, Map("loss" -> 0.5))
    sess.finishRun(run, "completed")

    val store = new WaddleStore(spark, root)
    val now = System.currentTimeMillis() / 1000.0
    val row = store.runs(now).where(col("id") === run).collect()
    assert(row.length == 1, "keep-latest must collapse the two run rows")
    assert(row.head.getAs[String]("status") == "completed")
    assert(!row.head.isNullAt(row.head.fieldIndex("ended_at")))
  }

  test("a flush writes one file per table and metric_date partition; views match a many-file layout") {
    val root = Files.createTempDirectory("waddle-1f").toString
    val cores = spark.sparkContext.defaultParallelism
    // more rows than cores in every table, so the uncoalesced local scan
    // would slice each buffer into `cores` files
    assume(cores > 1, "needs a multi-core session to tell the layouts apart")
    val n = 4 * cores
    val sess = new WaddleSession(spark, root, project = "onefile")
    val runIds = (0 until n).map(i => sess.initRun(s"r$i", Map("lr" -> s"0.$i")))
    runIds.zipWithIndex.foreach { case (r, i) =>
      (0 until 3).foreach(st => sess.log(r, Map("loss" -> (i + 1.0) / (st + 1), "acc" -> st * 0.1)))
      sess.logTag(r, "model", s"m${i % 3}")
      sess.logArtifact(r, "w.bin", s"weights-$i".getBytes)
    }
    sess.flush()

    def dataFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.filter(f => f.isFile && f.getName.endsWith(".parquet"))
    for (t <- Seq("runs", "kv", "artifacts"))
      assert(dataFiles(new java.io.File(s"$root/$t")).size == 1, s"$t: one file per flush")
    val dateDirs = new java.io.File(s"$root/metrics").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("metric_date=")).toSeq
    assert(dateDirs.nonEmpty)
    dateDirs.foreach(d => assert(dataFiles(d).size == 1, s"${d.getName}: one file per flush"))

    // the same rows split across `cores` files per table — the layout the
    // uncoalesced flush wrote — must read as identical views
    val split = Files.createTempDirectory("waddle-nf").toString
    for (t <- Seq("runs", "kv", "artifacts"))
      spark.read.parquet(s"$root/$t").repartition(cores).write.parquet(s"$split/$t")
    spark.read.parquet(s"$root/metrics").repartition(cores)
      .write.partitionBy("metric_date").parquet(s"$split/metrics")
    assert(dataFiles(new java.io.File(s"$split/runs")).size > 1)

    val now = System.currentTimeMillis() / 1000.0
    def views(store: WaddleStore) = Seq(
      store.runs(now).orderBy("id"),
      store.metrics(runIds.head),
      store.latestKv("param").orderBy("run_id", "key"),
      store.latestKv("tag").orderBy("run_id", "key"),
      store.artifacts(runIds.last),
      store.metricKeys(),
      store.metricLeaderboard("loss", now, limit = n),
      store.metricSummary(runIds.take(3))).map(_.collect().toSeq)
    val one = views(new WaddleStore(spark, root))
    assert(one.forall(_.nonEmpty))
    assert(one.head.size == n && one(1).size == 6)
    assert(views(new WaddleStore(spark, split)) == one)
  }

  test("compaction preserves every read view and empties the tombstones") {
    val root = Files.createTempDirectory("waddle-cmp").toString
    val sess = new WaddleSession(spark, root, project = "cmp")
    val keep = sess.initRun("keeper", Map("lr" -> "0.1"))
    sess.log(keep, Map("loss" -> 1.0)); sess.log(keep, Map("loss" -> 0.4))
    sess.logParam(keep, "lr", "0.2") // upsert: two kv rows for one key
    sess.logArtifact(keep, "w.bin", "bytes!".getBytes)
    sess.flush()
    sess.finishRun(keep, "completed") // second run row for keep
    val victim = sess.initRun("victim", Map("lr" -> "9"))
    sess.log(victim, Map("loss" -> 5.0))
    sess.finishRun(victim, "failed")

    val store = new WaddleStore(spark, root)
    store.deleteRun(victim)
    val now = System.currentTimeMillis() / 1000.0
    def snapshot() = (
      store.runs(now).orderBy("id").collect().toSeq,
      store.metrics(keep).collect().toSeq,
      store.latestKv("param").orderBy("run_id", "key").collect().toSeq,
      store.artifacts(keep).collect().toSeq)
    val before = snapshot()

    store.compact()

    assert(snapshot() == before, "views must be identical after compaction")
    // physical effects: tombstones applied + log collapsed
    assert(!new java.io.File(s"$root/deletes").exists())
    assert(spark.read.parquet(s"$root/runs").count() == 1) // victim gone, keep collapsed
    assert(spark.read.parquet(s"$root/kv").where(col("key") === "lr").count() == 1)
    assert(spark.read.parquet(s"$root/metrics")
      .where(col("run_id") === victim).count() == 0)
    // a second compaction is a no-op
    store.compact()
    assert(snapshot() == before)
  }

  test("dashboard endpoints: list, search, summary, compare, delete views") {
    val root = Files.createTempDirectory("waddle").toString
    val sess = new WaddleSession(spark, root, project = "projA")
    val r1 = sess.initRun("alpha", Map("lr" -> "0.1"))
    sess.log(r1, Map("loss" -> 1.0)); sess.log(r1, Map("loss" -> 0.5))
    sess.finishRun(r1, "completed")
    val r2 = sess.initRun("beta", Map("lr" -> "0.2"))
    sess.log(r2, Map("loss" -> 0.9))
    sess.finishRun(r2, "failed")

    val store = new WaddleStore(spark, root)
    val now = System.currentTimeMillis() / 1000.0

    val listed = store.listRuns(now, project = Some("projA")).collect()
    assert(listed.length == 2)
    assert(store.listRuns(now, status = Some("failed")).count() == 1)
    intercept[IllegalArgumentException] {
      store.listRuns(now, sortBy = "id; DROP TABLE runs")
    }

    assert(store.searchRuns(now, "alph").count() == 1)
    assert(store.searchRuns(now, "projA").count() == 2)

    val summary = store.metricSummary(Seq(r1, r2)).collect()
    val r1Loss = summary.find(r => r.getString(0) == r1).get
    assert(r1Loss.getAs[Int]("last_step") == 1)
    assert(r1Loss.getAs[Double]("last_value") == 0.5)

    val cmp = store.compareParams(Seq(r1, r2)).collect()
    assert(cmp.length == 1) // one key: lr
    assert(cmp.head.getAs[String](r1) == "0.1" && cmp.head.getAs[String](r2) == "0.2")

    val after = store.deleteRuns(Seq(r1))
    assert(after("runs").count() == 1)
    assert(after("metrics").where(col("run_id") === r1).count() == 0)
  }

  test("module-level API: active-run lifecycle mirrors the reference") {
    import graft.api.Graft
    Graft.resetForTest()
    // log without init errors (reference test_api.py:163-166)
    intercept[IllegalStateException] { Graft.log(Map("loss" -> 1.0)) }

    val root = Files.createTempDirectory("waddle").toString
    // context-manager success -> completed (test_api.py:100-113)
    Graft.withRun(spark, root, name = "ctx-ok") { _ =>
      Graft.log(Map("loss" -> 0.5, "acc" -> 0.9))
      Graft.logParam("lr", "0.01")
    }
    // context-manager failure -> failed, exception propagates (:115-127)
    intercept[RuntimeException] {
      Graft.withRun(spark, root, name = "ctx-boom") { _ =>
        Graft.log(Map("loss" -> 9.9))
        throw new RuntimeException("boom")
      }
    }
    // after finish, no active run remains
    intercept[IllegalStateException] { Graft.log(Map("x" -> 1.0)) }

    val store = new WaddleStore(spark, root)
    val now = System.currentTimeMillis() / 1000.0
    val statuses = store.runs(now).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("status")).toMap
    assert(statuses("ctx-ok") == "completed")
    assert(statuses("ctx-boom") == "failed")
    // metrics round-trip with approx float compare (test_api.py:71-72)
    val okId = store.runs(now).where(col("name") === "ctx-ok").head().getAs[String]("id")
    val loss = store.metrics(okId).where(col("key") === "loss").head().getAs[Double]("value")
    assert(math.abs(loss - 0.5) < 1e-9)
  }

  test("process death with an active run: the shutdown hook flushes and marks it aborted") {
    import graft.api.Graft
    Graft.resetForTest()
    val root = Files.createTempDirectory("waddle-abort").toString
    Graft.init(spark, root, name = "doomed")
    Graft.log(Map("loss" -> 3.0)) // buffered, never explicitly flushed
    // simulated process death: the registered shutdown hook's body
    // (reference atexit semantics, _run.py:71-83)
    Graft.abortActive()

    val store = new WaddleStore(spark, root)
    val now = System.currentTimeMillis() / 1000.0
    val row = store.runs(now).where(col("name") === "doomed").head()
    assert(row.getAs[String]("status") == "aborted")
    assert(!row.isNullAt(row.fieldIndex("ended_at")),
      "abort stamps the end time")
    // the buffered metric made it to disk through the abort flush
    assert(store.metrics(row.getAs[String]("id")).count() == 1)
    // hook is idempotent and leaves no active run
    Graft.abortActive()
    intercept[IllegalStateException] { Graft.log(Map("x" -> 1.0)) }
  }

  test("git provenance: repo + commit rows link to the run") {
    import scala.sys.process._
    val repoDir = Files.createTempDirectory("gitrepo").toFile
    Process(Seq("git", "init", "-q"), repoDir).!
    Process(Seq("git", "config", "user.email", "t@t"), repoDir).!
    Process(Seq("git", "config", "user.name", "t"), repoDir).!
    Files.write(repoDir.toPath.resolve("f.txt"), "hello".getBytes)
    Process(Seq("git", "add", "."), repoDir).!
    Process(Seq("git", "commit", "-qm", "initial"), repoDir).!

    val info = graft.api.GitInfo.detect(repoDir.toString)
    assert(info.isDefined)
    assert(info.get.commitSha.length == 40)
    assert(info.get.commitMessage == "initial")
    assert(!info.get.dirty)

    val root = Files.createTempDirectory("waddle").toString
    val sess = new WaddleSession(spark, root)
    val run = sess.initRun("with-git", repo = info)
    sess.finishRun(run)

    val store = new WaddleStore(spark, root)
    val now = System.currentTimeMillis() / 1000.0
    val prov = store.runsWithProvenance(now).where(col("id") === run).head()
    assert(prov.getAs[String]("commit_sha") == info.get.commitSha)
    assert(prov.getAs[String]("message") == "initial")
    assert(store.repos().count() == 1 && store.commits().count() == 1)

    // re-running from the same repo does not duplicate repo/commit rows
    val run2 = sess.initRun("again", repo = info)
    sess.finishRun(run2)
    assert(store.repos().count() == 1 && store.commits().count() == 1)

    // a clean tree stores no patch artifact
    assert(store.artifacts(run).where(col("kind") === "git_patch").count() == 0)

    // dirty the tree: the uncommitted delta is captured as a run artifact
    // (git apply-able), and the repo itself gains no commits or refs
    Files.write(repoDir.toPath.resolve("f.txt"), "changed".getBytes)
    val dirtyInfo = graft.api.GitInfo.detect(repoDir.toString)
    assert(dirtyInfo.get.dirty)
    val run3 = sess.initRun("dirty-run", repo = dirtyInfo)
    sess.finishRun(run3)
    val patchRow = store.artifacts(run3).where(col("kind") === "git_patch").head()
    assert(patchRow.getAs[String]("name") == "__dirty.patch")
    val patchBytes = spark.read.parquet(s"$root/artifacts")
      .where(col("run_id") === run3 && col("kind") === "git_patch")
      .head().getAs[Array[Byte]]("inline_bytes")
    val patch = new String(patchBytes, "UTF-8")
    assert(patch.contains("diff --git") && patch.contains("+changed"))
    // read-only capture: HEAD unmoved, no extra refs
    assert(graft.api.GitInfo.detect(repoDir.toString).get.commitSha
      == info.get.commitSha)
    assert(Process(Seq("git", "rev-list", "--count", "--all"), repoDir)
      .!!.trim == "1")
  }

  test("no-git mode: runs proceed with null provenance") {
    val root = Files.createTempDirectory("waddle").toString
    val sess = new WaddleSession(spark, root)
    val run = sess.initRun("plain")
    sess.finishRun(run)
    val store = new WaddleStore(spark, root)
    val now = System.currentTimeMillis() / 1000.0
    val row = store.runs(now).head()
    assert(row.isNullAt(row.fieldIndex("repo_id")))
    assert(store.runsWithProvenance(now).count() == 1)
  }

  test("cli init bootstraps the store and discovery walks up from a nested dir") {
    import graft.api.Cli
    val project = Files.createTempDirectory("proj").toString
    val store = Cli.init(project)
    assert(store == new java.io.File(project, Cli.StoreRel).getAbsolutePath)
    assert(new java.io.File(store).isDirectory)
    // gitignore gains the .waddle/ line exactly once (idempotent)
    Cli.init(project)
    val gi = Files.readString(java.nio.file.Paths.get(project, ".gitignore"))
    assert(gi.linesIterator.count(_ == ".waddle/") == 1)

    // discovery from a deeply nested working directory finds the ancestor store
    val nested = Files.createDirectories(
      java.nio.file.Paths.get(project, "a", "b", "c", "d")).toString
    assert(Cli.discoverStore(cwd = nested).contains(store))
    // an explicit existing path wins; a bare temp dir with no store finds nothing
    assert(Cli.discoverStore(explicit = Some(project)).contains(
      new java.io.File(project).getAbsolutePath))
    val bare = Files.createTempDirectory("empty").toString
    assert(Cli.discoverStore(cwd = bare).isEmpty)
  }

  test("system monitor samples system/ metrics on its own thread") {
    val root = Files.createTempDirectory("waddle").toString
    val sess = new WaddleSession(spark, root)
    val run = sess.initRun("monitored")
    val mon = new graft.api.SystemMonitor(sess, run, intervalMillis = 50L).start()
    Thread.sleep(300L)
    mon.stop()
    sess.finishRun(run)
    val store = new WaddleStore(spark, root)
    val sys = store.metrics(run).where(col("key").startsWith("system/"))
    assert(sys.count() >= 4) // at least one full sample of 4 keys
    val keys = sys.select("key").distinct().collect().map(_.getString(0)).toSet
    assert(keys.contains("system/cpu.load_avg"))
    assert(keys.contains("system/mem.heap_used_mb"))
  }

  test("system monitor emits per-device gpu keys when the probe binary is present, none otherwise") {
    // fake nvidia-smi: two devices, reference CSV shape (util %, MiB, °C)
    val fake = Files.createTempFile("fake-nvidia-smi", ".sh")
    Files.writeString(fake,
      "#!/bin/sh\necho '45, 2048, 61'\necho '12, 1024, 50'\n")
    fake.toFile.setExecutable(true)

    val root = Files.createTempDirectory("waddle").toString
    val sess = new WaddleSession(spark, root)
    val run = sess.initRun("gpu-monitored")
    val mon = new graft.api.SystemMonitor(sess, run, intervalMillis = 50L,
      gpuCommand = Seq(fake.toString)).start()
    Thread.sleep(300L)
    mon.stop()
    sess.finishRun(run)
    val store = new WaddleStore(spark, root)
    val rows = store.metrics(run).where(col("key").startsWith("system/gpu"))
      .select("key", "value").collect()
      .groupBy(_.getString(0)).view.mapValues(_.head.getDouble(1)).toMap
    // reference key scheme: system/gpu{i}_util_percent / _memory_used_gb /
    // _temp_c (/root/reference/waddle/_sysmetrics.py:92-95)
    assert(rows("system/gpu0_util_percent") == 45.0)
    assert(math.abs(rows("system/gpu0_memory_used_gb") - 2.0) < 1e-9)
    assert(rows("system/gpu0_temp_c") == 61.0)
    assert(rows("system/gpu1_util_percent") == 12.0)
    assert(rows.keySet.size == 6, s"exactly two devices × three keys: $rows")

    // absent binary → capability probe fails once → zero gpu keys, no error
    val run2 = sess.initRun("gpu-less")
    val mon2 = new graft.api.SystemMonitor(sess, run2, intervalMillis = 50L,
      gpuCommand = Seq("/nonexistent/nvidia-smi")).start()
    Thread.sleep(150L)
    mon2.stop()
    sess.finishRun(run2)
    val gone = new WaddleStore(spark, root).metrics(run2)
      .where(col("key").startsWith("system/gpu")).count()
    assert(gone == 0L, "no gpu keys on a host without the probe binary")
  }

  test("running run with stale metrics shows aborted at read time") {
    val root = Files.createTempDirectory("waddle").toString
    val sess = new WaddleSession(spark, root)
    val run = sess.initRun("stale-run")
    sess.log(run, Map("loss" -> 1.0))
    sess.flush() // still 'running'

    val store = new WaddleStore(spark, root)
    val farFuture = System.currentTimeMillis() / 1000.0 + 10_000
    assert(store.runs(farFuture).head().getAs[String]("status") == "aborted")
    // within the threshold it is still running
    val now = System.currentTimeMillis() / 1000.0
    assert(store.runs(now, staleAfterSec = 10_000).head()
      .getAs[String]("status") == "running")
  }
}
