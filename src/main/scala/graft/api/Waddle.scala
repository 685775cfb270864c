package graft.api

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** wandb-style run-tracking façade over Parquet storage (SURVEY.md §7.3
  * step 5) — the write-side semantics of the reference
  * (/root/reference/waddle/_api.py, _run.py, _db.py) re-expressed for an
  * immutable columnar store.
  *
  * Key departures from the reference, by design:
  *  - the reference INSERTs one row per metric under a global lock
  *    (/root/reference/waddle/_run.py:121-125, _db.py:30,52-56); here
  *    writes buffer in the session and flush as batched Parquet appends —
  *    single-writer append needs no lock and readers see immutable files;
  *  - upsert (`ON CONFLICT DO UPDATE`, _run.py:140-141) becomes
  *    keep-latest-per-key views over the append log ([[WaddleStore]]);
  *  - delete-run (_dashboard_api.py:237-249) becomes an anti-join view.
  *
  * Scale: each table is an append-only Parquet directory; at 100 TB
  * `metrics` partitions by project/date and buckets by run_id, and the
  * views below are the same code.
  */
final class WaddleSession(spark: SparkSession, root: String, project: String = "default") {
  import WaddleSchema._

  Files.createDirectories(Paths.get(root))

  private val runBuf = mutable.ArrayBuffer.empty[RunRow]
  // every run row this session created, flushed or not: finishRun must be
  // able to emit an updated row even after an intermediate flush already
  // wrote the "running" row (the store reads runs keep-latest per id)
  private val runRows = mutable.Map.empty[String, RunRow]
  private val repoBuf = mutable.ArrayBuffer.empty[RepoRow]
  private val commitBuf = mutable.ArrayBuffer.empty[CommitRow]
  private val metricBuf = mutable.ArrayBuffer.empty[MetricRow]
  private val kvBuf = mutable.ArrayBuffer.empty[KvRow]
  private val artifactBuf = mutable.ArrayBuffer.empty[ArtifactRow]
  private val steps = mutable.Map.empty[String, Int]
  private var seq = 0L

  private def nextSeq(): Long = { seq += 1; seq }
  private def nowSec(): Double = System.currentTimeMillis() / 1000.0

  /** Start a run (reference `waddle.init`, _api.py:14-70). Optionally links
    * git provenance (repo + commit rows, nullable on the run — the
    * reference's repos/commits tables, _schema.py:4-21, upserted at
    * _db.py:76-134). Returns run id.
    */
  def initRun(
      name: String,
      config: Map[String, String] = Map.empty,
      repo: Option[GitInfo.RepoInfo] = None,
      notes: Option[String] = None): String = synchronized {
    val id = UUID.randomUUID().toString.replace("-", "")
    val repoId = repo.map(r => java.util.UUID.nameUUIDFromBytes(
      r.root.getBytes("UTF-8")).toString.replace("-", ""))
    repo.foreach { r =>
      repoBuf += RepoRow(repoId.get, r.name, r.root, r.originUrl, r.branch, nowSec())
      commitBuf += CommitRow(repoId.get, r.commitSha, r.commitAuthor,
        nowSec(), r.commitMessage)
    }
    // env capture: sorted-key canonical JSON, the reference's
    // `json.dumps(env, sort_keys=True)` (/root/reference/waddle/_run.py:46-47)
    val env = Json.jsonObject(Seq(
      "java" -> sys.props.getOrElse("java.version", ""),
      "os" -> sys.props.getOrElse("os.name", ""),
      "scala" -> util.Properties.versionNumberString).sortBy(_._1))
    val row = RunRow(id, project, name, "running", nowSec(), None,
      repoId, repo.map(_.commitSha), Some(env), notes)
    runBuf += row
    runRows(id) = row
    config.foreach { case (k, v) =>
      kvBuf += KvRow(id, "param", k, v, nextSeq())
    }
    // dirty-tree capture WITHOUT the reference's repo mutation
    // (_git.py:81-89 auto-commits a snapshot ref): the uncommitted delta is
    // stored as a content-addressed artifact on the run — reproducible via
    // `git apply`, and the user's repo gains no objects or refs
    repo.filter(_.dirty).foreach { r =>
      GitInfo.dirtyPatch(r.root).foreach { patch =>
        logArtifact(id, "__dirty.patch", patch.getBytes("UTF-8"), kind = "git_patch")
      }
    }
    id
  }

  /** Log metrics; step auto-increments per run when not given
    * (reference `Run.log`, _run.py:114-126).
    */
  def log(runId: String, metrics: Map[String, Double], step: Option[Int] = None): Unit = synchronized {
    val s = step.getOrElse(steps.getOrElse(runId, -1) + 1)
    steps(runId) = s
    val ts = nowSec()
    metrics.foreach { case (k, v) => metricBuf += MetricRow(runId, k, s, ts, v) }
  }

  /** Upsert-semantics key/value (reference params/tags, _run.py:138-152). */
  def logParam(runId: String, key: String, value: String): Unit = synchronized {
    kvBuf += KvRow(runId, "param", key, value, nextSeq())
  }
  def logTag(runId: String, key: String, value: String): Unit = synchronized {
    kvBuf += KvRow(runId, "tag", key, value, nextSeq())
  }

  /** Content-addressed artifact capture (reference _run.py:160-188). */
  def logArtifact(runId: String, name: String, bytes: Array[Byte],
      kind: String = "file"): Unit = synchronized {
    val sha = MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString
    artifactBuf += ArtifactRow(
      UUID.randomUUID().toString.replace("-", ""), runId, name, kind,
      nowSec(), sha, bytes.length.toLong, bytes)
  }

  /** Finish the run and flush all buffers as batched appends
    * (reference `Run.finish`, _run.py:190-209; statuses: completed /
    * failed / aborted, _schema.py:29 + _run.py:83).
    *
    * Upsert on an append log: if the run row is still buffered it is
    * rewritten in place; if an earlier flush already wrote the "running"
    * row, an UPDATED row is appended and the store's keep-latest view
    * resolves it (the previous in-buffer-only transform silently lost the
    * final status in that case).
    */
  def finishRun(runId: String, status: String = "completed"): Unit = synchronized {
    val updated = runRows.get(runId)
      .map(_.copy(status = status, ended_at = Some(nowSec())))
      .getOrElse(sys.error(s"unknown run: $runId"))
    runRows(runId) = updated
    val i = runBuf.indexWhere(_.id == runId)
    if (i >= 0) runBuf(i) = updated else runBuf += updated
    flush()
  }

  /** Batched append of everything buffered — the micro-batch that replaces
    * the reference's row-at-a-time INSERTs.
    *
    * Metrics append in the production layout's partition scheme
    * (`metric_date` derived from ts, the date-pruning story of
    * `sources/Layout.scala`); appends are NOT bucketed (bucketing needs a
    * catalog write), so any bucketed catalog table a previous [[WaddleStore.compact]]
    * registered is dropped here — the zero-shuffle guarantee holds only for
    * a fully-compacted store and is re-established by the next compaction.
    *
    * One file per table (per `metric_date` partition for metrics) per
    * flush: the buffers are driver-local, so `toDF()` plans a
    * `LocalTableScan` that slices them into `min(rows, defaultParallelism)`
    * partitions — 4 metrics files for a 320-row flush at `local[4]`, about
    * one file per row on a cluster with hundreds of cores. Every reader,
    * the live file-source stream and [[WaddleStore.compact]] then pay a
    * file open per slice. A flush's rows are bounded by the flush cadence,
    * not the cluster, so `coalesce(1)` (no shuffle) writes them as one
    * task whatever the parallelism.
    */
  def flush(): Unit = synchronized {
    import spark.implicits._
    val dirty = runBuf.nonEmpty || repoBuf.nonEmpty || commitBuf.nonEmpty ||
      metricBuf.nonEmpty || kvBuf.nonEmpty || artifactBuf.nonEmpty
    // managed-store contract: every mutation advances the O(1) version
    // marker. Bumped BOTH sides of the writes: the pre-bump makes a crash
    // mid-append safe (a reader after the crash sees a version unlike any
    // it cached against, even though the completion bump never ran — the
    // failure the listing fallback used to catch for free), the
    // finally-bump re-invalidates readers that fingerprinted between the
    // pre-bump and the files becoming visible.
    if (dirty) graft.sources.StoreVersion.bump(spark, root)
    try {
      def append[T <: Product : org.apache.spark.sql.Encoder](
          rows: Seq[T], table: String): Unit =
        if (rows.nonEmpty)
          rows.toDF().coalesce(1).write.mode("append").parquet(s"$root/$table")
      append(runBuf.toSeq, "runs"); runBuf.clear()
      append(repoBuf.toSeq, "repos"); repoBuf.clear()
      append(commitBuf.toSeq, "commits"); commitBuf.clear()
      if (metricBuf.nonEmpty) {
        WaddleStore.dropMetricsCatalog(spark, root)
        metricBuf.toSeq.toDF().coalesce(1)
          .withColumn("metric_date", to_date(from_unixtime(col("ts").cast("long"))))
          .write.mode("append").partitionBy("metric_date").parquet(s"$root/metrics")
        spark.catalog.refreshByPath(s"$root/metrics")
      }
      metricBuf.clear()
      append(kvBuf.toSeq, "kv"); kvBuf.clear()
      append(artifactBuf.toSeq, "artifacts"); artifactBuf.clear()
    } finally {
      if (dirty) graft.sources.StoreVersion.bump(spark, root)
    }
  }
}

/** Read-side views over a [[WaddleSession]] store. */
final class WaddleStore(spark: SparkSession, root: String) {
  import org.apache.spark.sql.{Encoders, Row}
  import WaddleSchema._

  private val schemas = Map(
    "runs" -> Encoders.product[RunRow].schema,
    "repos" -> Encoders.product[RepoRow].schema,
    "commits" -> Encoders.product[CommitRow].schema,
    "metrics" -> Encoders.product[MetricRow].schema,
    "kv" -> Encoders.product[KvRow].schema,
    "artifacts" -> Encoders.product[ArtifactRow].schema,
    "deletes" -> Encoders.product[DeleteRow].schema)

  /** A table nobody has written yet reads as empty with its declared
    * schema (the reference's DDL bootstrap creates empty tables up front —
    * /root/reference/waddle/_schema.py; on a file store absence IS empty).
    *
    * Metrics prefer the bucketed catalog table a completed [[compact]]
    * registered (zero-shuffle per-run reads); otherwise the directory is
    * read with `recursiveFileLookup` so both the flat legacy layout and
    * the `metric_date=`-partitioned layout (whose partition column is
    * derived, not part of the view) read as the same declared schema.
    * If the current dir is missing mid-compaction-crash (between the two
    * swap renames), the table is read from its `.compact-old` backup —
    * a read-only fallback; [[compact]]'s recovery restores it for real.
    *
    * A flush may drop the catalog table at any moment, so it is resolved
    * directly rather than probed first (a `tableExists` check followed by
    * `spark.table` let the drop land in between — an HTTP 500
    * `TABLE_OR_VIEW_NOT_FOUND` on the dashboard), and its absence is the
    * signal to read the directory; see [[compactedMetrics]] for the
    * action-time half of the race.
    */
  private def tbl(name: String): DataFrame = {
    if (name == "metrics")
      try return compactedMetrics()
        .select(schemas(name).fieldNames.map(col).toSeq: _*)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" => ()
      }
    // Hadoop-FS existence probe, not java.io.File: the store root may be
    // hdfs:// or s3a:// in the 100 TB deployment. The declared schema is
    // passed unconditionally — an existing-but-empty directory (e.g. the
    // metrics dir the live-stream watcher pre-creates) must read as an
    // empty table, not die in schema inference.
    val p = new org.apache.hadoop.fs.Path(s"$root/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new org.apache.hadoop.fs.Path(s"$root/.compact-old/$name")
    val src =
      if (fs.exists(p)) Some(p)
      else if (fs.exists(backup)) Some(backup)
      else None
    src match {
      case Some(path) =>
        spark.read.schema(schemas(name))
          .option("recursiveFileLookup", "true")
          .parquet(path.toString)
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemas(name))
    }
  }

  /** The bucketed table a completed [[compact]] registered, with its
    * partition listing taken now. A catalog relation re-reads its
    * partitions from the catalog when the query is planned, so a flush
    * dropping the table between building a view and running it failed
    * the read; with the listing pinned the frame no longer touches the
    * catalog entry (the table is EXTERNAL — the files stay). Bucketing
    * rides on the relation, so per-run reads stay shuffle-free.
    */
  private def compactedMetrics(): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{
      CatalogFileIndex, HadoopFsRelation, LogicalRelation}
    val df = spark.table(WaddleStore.metricsTableName(root))
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRelation => lr.relation } match {
      case Some(r @ HadoopFsRelation(idx: CatalogFileIndex, _, _, _, _, _)) =>
        spark.baseRelationToDataFrame(r.copy(location = idx.filterPartitions(Nil))(spark))
      case _ => df
    }
  }

  /** Run deletion on an immutable store: an append-only TOMBSTONE row, not
    * an in-place rewrite (the reference DELETEs rows in four tables under a
    * lock, /root/reference/waddle/_dashboard_api.py:237-249). Every read
    * view anti-joins the tiny tombstone table — same observable cascade,
    * no reader/writer race, and compaction can apply tombstones lazily.
    */
  def deleteRun(runId: String): Unit = {
    import spark.implicits._
    // both-sides bump, same discipline as WaddleSession.flush: the
    // pre-bump covers a crash mid-append (partial tombstone file visible
    // under a version nobody cached against), the post-bump re-invalidates
    // readers that fingerprinted in between
    graft.sources.StoreVersion.bump(spark, root)
    try Seq(WaddleSchema.DeleteRow(runId, System.currentTimeMillis() / 1000.0))
      .toDF().write.mode("append").parquet(s"$root/deletes")
    finally graft.sources.StoreVersion.bump(spark, root)
  }

  /** Anti-join the tombstones: deletes are few, so broadcast. No distinct —
    * left_anti is insensitive to duplicate build keys, and dropping it
    * keeps the build side exchange-free (a repeat tombstone is rare
    * anyway).
    */
  private def alive(df: DataFrame, idCol: String): DataFrame =
    df.join(broadcast(tbl("deletes").select(col("run_id").as(idCol))),
      Seq(idCol), "left_anti")

  /** Keep-latest run row per id over the append log: finishing a run whose
    * "running" row was already flushed appends an updated row, and the
    * finished row (non-null ended_at, latest wins) shadows it here.
    */
  private def latestRuns(): DataFrame = {
    val w = Window.partitionBy("id")
      .orderBy(col("ended_at").desc_nulls_last, desc("started_at"))
    tbl("runs").withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }

  /** Runs with read-time staleness inference: running runs whose last
    * metric is older than `staleAfterSec` before `nowSec` show as aborted
    * (reference N+1 loop /root/reference/waddle/_dashboard_api.py:60-68,
    * rewritten as one aggregate + join).
    */
  def runs(nowSec: Double, staleAfterSec: Double = 300.0): DataFrame = {
    val lastTs = tbl("metrics").groupBy(col("run_id").as("id"))
      .agg(max("ts").as("last_ts"))
    alive(latestRuns(), "id")
      .join(broadcast(lastTs), Seq("id"), "left_outer")
      .withColumn("status",
        when(col("status") === "running" &&
          (col("last_ts").isNull || col("last_ts") < nowSec - staleAfterSec),
          "aborted").otherwise(col("status")))
      .drop("last_ts")
  }

  def metrics(runId: String): DataFrame =
    alive(tbl("metrics"), "run_id")
      .where(col("run_id") === runId).orderBy("key", "step")

  /** Keep-latest upsert view over the param/tag append log. */
  def latestKv(kind: String): DataFrame = {
    val w = Window.partitionBy("run_id", "key").orderBy(desc("seq"))
    alive(tbl("kv"), "run_id").where(col("kind") === kind)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("run_id", "key", "value")
  }

  def artifacts(runId: String): DataFrame =
    alive(tbl("artifacts"), "run_id").where(col("run_id") === runId)
      .select("id", "name", "kind", "sha256", "size_bytes")

  /** Repos with insert-if-absent semantics over the append log: the first
    * row per id wins (reference upsert, /root/reference/waddle/_db.py:76-99).
    */
  def repos(): DataFrame = {
    val w = Window.partitionBy("id").orderBy(asc("created_at"))
    tbl("repos").withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }

  /** Commits, first-write-wins per (repo_id, commit_sha)
    * (reference ON CONFLICT DO NOTHING, /root/reference/waddle/_db.py:109-134).
    */
  def commits(): DataFrame = {
    val w = Window.partitionBy("repo_id", "commit_sha").orderBy(asc("author_time"))
    tbl("commits").withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }

  /** Runs joined to their git provenance (FK walk runs→commits→repos,
    * /root/reference/waddle/_schema.py:14,26-27).
    */
  def runsWithProvenance(nowSec: Double): DataFrame =
    runs(nowSec)
      .join(broadcast(commits().select(
        col("repo_id").as("c_repo_id"), col("commit_sha").as("c_sha"),
        col("author"), col("message"))),
        col("repo_id") === col("c_repo_id") && col("commit_sha") === col("c_sha"),
        "left_outer")
      .join(broadcast(repos().select(
        col("id").as("r_id"), col("name").as("repo_name"), col("origin_url"))),
        col("repo_id") === col("r_id"), "left_outer")
      .drop("c_repo_id", "c_sha", "r_id")

  /** Dashboard run list: optional equality filters, whitelist-validated
    * sort column, limit/offset — the reference's `list_runs`
    * (/root/reference/waddle/_dashboard_api.py:22-51) including its
    * injection-guard whitelist (moot on a typed API, kept as contract).
    */
  def listRuns(
      nowSec: Double,
      project: Option[String] = None,
      status: Option[String] = None,
      sortBy: String = "started_at",
      descending: Boolean = true,
      limit: Int = 200,
      offset: Int = 0): DataFrame = {
    val sortable = Set("started_at", "ended_at", "name", "status", "project")
    require(sortable.contains(sortBy), s"unsortable column: $sortBy")
    var df = runs(nowSec)
    project.foreach(p => df = df.where(col("project") === p))
    status.foreach(s => df = df.where(col("status") === s))
    val key = if (descending) desc(sortBy) else asc(sortBy)
    df.orderBy(key, asc("id")).offset(offset).limit(limit)
  }

  /** Substring search over name+project+status, the dashboard's client-side
    * filter (/root/reference/waddle/static/index.html:185-191) engine-side.
    */
  def searchRuns(nowSec: Double, term: String): DataFrame =
    runs(nowSec).where(
      lower(concat_ws(" ", col("name"), col("project"), col("status")))
        .contains(term.toLowerCase))

  /** Global metric-key list, system/ metrics excluded (reference
    * /root/reference/waddle/_dashboard_api.py:208-216).
    */
  def metricKeys(): DataFrame =
    alive(tbl("metrics"), "run_id")
      .where(!col("key").startsWith("system/"))
      .select("key").distinct().orderBy("key")

  /** Leaderboard for one metric key: each run's latest value + run name
    * (reference's correlated MAX(step) subquery,
    * /root/reference/waddle/_dashboard_api.py:218-235, as one max_by
    * aggregate + broadcast name join).
    */
  def metricLeaderboard(key: String, nowSec: Double, limit: Int = 20): DataFrame =
    alive(tbl("metrics"), "run_id")
      .where(col("key") === key)
      .groupBy("run_id")
      .agg(max_by(col("value"), col("step")).as("value"),
        max("step").as("last_step"))
      .join(broadcast(runs(nowSec).select(col("id").as("run_id"), col("name"))),
        Seq("run_id"), "left_outer")
      .orderBy(desc("value"), asc("run_id"))
      .limit(limit)

  /** Metric summary: latest value per (run, key), the reference's
    * correlated-subquery argmax (/root/reference/waddle/_dashboard_api.py:218-235)
    * as one `max_by` aggregate.
    */
  def metricSummary(runIds: Seq[String]): DataFrame =
    alive(tbl("metrics"), "run_id")
      .where(col("run_id").isin(runIds: _*))
      .groupBy("run_id", "key")
      .agg(max("step").as("last_step"),
        max_by(col("value"), col("step")).as("last_value"))
      .orderBy("run_id", "key")

  /** Param-diff pivot across runs: one wide row per param key, one column
    * per run (/root/reference/waddle/static/index.html:373-389 engine-side).
    */
  def compareParams(runIds: Seq[String]): DataFrame =
    latestKv("param")
      .where(col("run_id").isin(runIds: _*))
      .groupBy("key")
      .pivot("run_id", runIds)
      .agg(first("value"))
      .orderBy("key")

  /** Per-run metric profile — the aggregate shape the bucketed compacted
    * layout exists for: over a freshly compacted store the grouping key is
    * the bucket key, so the plan has NO shuffle exchange at all (pinned in
    * WaddleApiSpec, the store analog of `Layout.perUserStats`).
    */
  def perRunMetricStats(): DataFrame =
    alive(tbl("metrics"), "run_id")
      .groupBy("run_id")
      .agg(count(lit(1)).as("n_points"),
        max("step").as("last_step"),
        max("ts").as("last_ts"))

  /** Compaction: materialize the read views back into the store so a
    * long-lived append log's read cost stays bounded. Applies tombstones
    * (rows of deleted runs vanish physically), collapses run rows to
    * keep-latest, kv to latest-per-(run,kind,key), repos/commits to their
    * first-write-wins rows, and rewrites metrics into the PRODUCTION
    * LAYOUT: partitioned by `metric_date`, bucketed by `run_id`, sorted by
    * (key, step) — the store's own reads get `sources/Layout.scala`'s
    * pruning story, and per-run aggregates plan zero shuffle (the bucketed
    * table is registered in the session catalog; [[WaddleSession.flush]]
    * drops it on append since un-bucketed appends void the guarantee).
    * Every read view is IDENTICAL before and after — compaction changes
    * physical layout only.
    *
    * Protocol — crash-safe and safe against CONCURRENT WRITERS (a live
    * `serve` handling deletes, a session flushing) without locking them
    * out:
    *
    *  1. snapshot the tombstone file listing (only these files are deleted
    *     at the end — a tombstone appended mid-compaction survives and
    *     re-applies on the next pass, never resurrecting its run);
    *  2. stage every compacted table under `.compact/<t>` and record in a
    *     MANIFEST the exact input files each staged frame read (Spark's
    *     file index is captured at plan time, so `inputFiles` IS the read
    *     set) plus the staged output file names;
    *  3. swap each table (cur → `.compact-old/<t>` → staged into place;
    *     both renames checked);
    *  4. merge LATE files — files in the backup that were not manifest
    *     inputs, i.e. appended between staging and swap — into the new
    *     table, so no concurrent append is lost;
    *  5. delete the manifest: the COMMIT POINT. While the manifest exists,
    *     [[recoverCompaction]] can roll the whole store back losslessly
    *     (restore backups, return already-merged late files, drop staged
    *     output); after it, leftover staging/backup dirs are provably
    *     duplicates and are swept.
    *
    * Scale: each table compacts in one shuffle (its keep-latest window or
    * the bucket co-location) and streams to new files; the manifest is one
    * metadata file; nothing collects to the driver. Concurrent `compact()`
    * calls are serialized per store root within the JVM (the deployment
    * shape: one maintenance process per store); cross-process compactors
    * racing each other is out of scope — writers, as above, are safe.
    */
  def compact(): Unit = compact(_ => ())

  /** [[compact]] with a crash-injection hook for the recovery spec: the
    * hook is called at each named protocol point and may throw to simulate
    * a crash there.
    */
  private[graft] def compact(crashPoint: String => Unit): Unit =
    WaddleStore.lockFor(root).synchronized {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      recoverCompaction()
      val stagingRoot = s"$root/.compact"
      fs.delete(new org.apache.hadoop.fs.Path(stagingRoot), true)

      // 1. tombstone snapshot — strictly BEFORE the staged frames are
      // built: a frame may apply a newer tombstone than the snapshot
      // (harmless — its file survives and re-applies as a no-op) but a
      // snapshotted-yet-unapplied tombstone would resurrect its run.
      val deletesDir = new org.apache.hadoop.fs.Path(s"$root/deletes")
      val deletesSnapshot =
        if (fs.exists(deletesDir))
          fs.listStatus(deletesDir).map(_.getPath.getName)
            .filterNot(_.startsWith("_")).toSeq
        else Seq.empty[String]

      // 2. staged frames + manifest
      val wKv = Window.partitionBy("run_id", "kind", "key").orderBy(desc("seq"))
      val staged: Seq[(String, DataFrame)] = Seq(
        "runs" -> alive(latestRuns(), "id"),
        "metrics" -> alive(tbl("metrics"), "run_id"),
        "kv" -> alive(tbl("kv"), "run_id")
          .withColumn("rn", row_number().over(wKv))
          .where(col("rn") === 1).drop("rn"),
        "artifacts" -> alive(tbl("artifacts"), "run_id"),
        "repos" -> repos(),
        "commits" -> commits())
      val inputs = staged.map { case (t, df) =>
        val dirPath = fs.makeQualified(new org.apache.hadoop.fs.Path(s"$root/$t"))
          .toUri.getPath
        t -> df.inputFiles.toSeq
          .map(u => new org.apache.hadoop.fs.Path(u).toUri.getPath)
          .filter(_.startsWith(dirPath + "/"))
          .map(_.stripPrefix(dirPath + "/")).toSet
      }.toMap
      staged.foreach { case (t, df) =>
        if (t == "metrics") {
          // bucketed layout needs a catalog write; stage through a
          // throwaway EXTERNAL table whose files land in the staging dir
          val stagingTable = WaddleStore.metricsTableName(root) + "_staging"
          spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
          df.withColumn("metric_date",
              to_date(from_unixtime(col("ts").cast("long"))))
            // one shuffle co-locating each (date, bucket) cell in one task
            .repartition(col("metric_date"), col("run_id"))
            .write.mode("overwrite")
            .partitionBy("metric_date")
            .bucketBy(WaddleStore.MetricsBuckets, "run_id")
            .sortBy("key", "step")
            .option("path", s"$stagingRoot/metrics")
            .saveAsTable(stagingTable)
          spark.sql(s"DROP TABLE $stagingTable") // external: files stay
        } else
          df.write.mode("overwrite").parquet(s"$stagingRoot/$t")
      }
      val stagedFiles = staged.map { case (t, _) =>
        t -> listFilesRel(fs, new org.apache.hadoop.fs.Path(s"$stagingRoot/$t"))
      }.toMap
      crashPoint("staged")
      writeManifest(fs, deletesSnapshot, staged.map(_._1), inputs, stagedFiles)
      crashPoint("manifest")

      // 3. swaps. PRE-bump the store version before the first visible
      // mutation (the flush discipline): staging wrote only dot-dirs, but
      // from the first swap-out onward the store differs from anything a
      // reader cached against, and a crash anywhere in steps 3-5 must not
      // leave the marker claiming otherwise — the O(1) fingerprint
      // replaced the recursive listing that used to catch this for free.
      // The commit bump below then re-invalidates readers that
      // fingerprinted mid-swap, and recoverCompaction bumps after a
      // rollback for the same reason.
      graft.sources.StoreVersion.bump(spark, root)
      // (rename-rename: the old table survives in .compact-old
      // until its replacement is in place; both renames CHECKED)
      staged.foreach { case (t, _) =>
        val cur = new org.apache.hadoop.fs.Path(s"$root/$t")
        val bak = new org.apache.hadoop.fs.Path(s"$root/.compact-old/$t")
        fs.mkdirs(bak.getParent)
        if (fs.exists(cur))
          require(fs.rename(cur, bak), s"compaction swap-out failed: $cur")
        crashPoint(s"swapped-out:$t")
        require(fs.rename(new org.apache.hadoop.fs.Path(s"$stagingRoot/$t"), cur),
          s"compaction swap-in failed: $cur")
        crashPoint(s"swapped-in:$t")
      }

      // 4. late-file merge: anything a concurrent writer appended between
      // staging and swap-out sits in the backup but was not a staged input
      var lateMetrics = false
      staged.foreach { case (t, _) =>
        val bak = new org.apache.hadoop.fs.Path(s"$root/.compact-old/$t")
        if (fs.exists(bak)) {
          val late = listFilesRel(fs, bak) -- inputs(t)
          late.foreach { rel =>
            moveFile(fs, new org.apache.hadoop.fs.Path(bak, rel),
              new org.apache.hadoop.fs.Path(s"$root/$t/$rel"))
          }
          if (t == "metrics" && late.nonEmpty) lateMetrics = true
        }
      }
      crashPoint("merged")

      // 5. COMMIT: the manifest vanishes in one metadata op; everything
      // after is idempotent cleanup of provable duplicates
      fs.delete(manifestPath, false)
      // compaction rewrote table contents in place — advance the store
      // version so O(1) fingerprint probes see the new state
      graft.sources.StoreVersion.bump(spark, root)
      fs.delete(new org.apache.hadoop.fs.Path(stagingRoot), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/.compact-old"), true)
      deletesSnapshot.foreach { n =>
        fs.delete(new org.apache.hadoop.fs.Path(deletesDir, n), false)
      }
      if (fs.exists(deletesDir) &&
          fs.listStatus(deletesDir).forall(_.getPath.getName.startsWith("_")))
        fs.delete(deletesDir, true)

      // 6. bucketed catalog registration — only when no un-bucketed late
      // metrics files were merged in (they void the bucket guarantee; the
      // next compaction re-establishes it)
      WaddleStore.dropMetricsCatalog(spark, root)
      if (!lateMetrics) {
        val n = WaddleStore.metricsTableName(root)
        spark.sql(
          s"""CREATE TABLE $n (
             |  run_id STRING, `key` STRING, step INT, ts DOUBLE,
             |  value DOUBLE, metric_date DATE)
             |USING parquet
             |PARTITIONED BY (metric_date)
             |CLUSTERED BY (run_id) SORTED BY (`key`, step)
             |INTO ${WaddleStore.MetricsBuckets} BUCKETS
             |LOCATION '$root/metrics'""".stripMargin)
        spark.sql(s"MSCK REPAIR TABLE $n")
      }
      spark.catalog.refreshByPath(s"$root/metrics")
      ()
    }

  private def manifestPath =
    new org.apache.hadoop.fs.Path(s"$root/.compact/_manifest.txt")

  /** Everything under `dir` as paths relative to it, metadata files
    * (`_SUCCESS` etc.) excluded.
    */
  private def listFilesRel(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Set[String] = {
    if (!fs.exists(dir)) return Set.empty
    val base = fs.makeQualified(dir).toUri.getPath
    val out = scala.collection.mutable.Set.empty[String]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      if (!st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        out += st.getPath.toUri.getPath.stripPrefix(base + "/")
    }
    out.toSet
  }

  private def moveFile(fs: org.apache.hadoop.fs.FileSystem,
      from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit = {
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to), s"file move failed: $from -> $to")
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      deletesSnapshot: Seq[String], tables: Seq[String],
      inputs: Map[String, Set[String]],
      stagedFiles: Map[String, Set[String]]): Unit = {
    val sb = new StringBuilder("v1\n")
    deletesSnapshot.foreach(n => sb.append(s"deletes\t$n\n"))
    tables.foreach { t =>
      sb.append(s"table\t$t\n")
      inputs(t).toSeq.sorted.foreach(r => sb.append(s"input\t$t\t$r\n"))
      stagedFiles(t).toSeq.sorted.foreach(r => sb.append(s"staged\t$t\t$r\n"))
    }
    val tmp = new org.apache.hadoop.fs.Path(s"$root/.compact/_manifest.tmp")
    val os = fs.create(tmp, true)
    os.write(sb.toString.getBytes("UTF-8")); os.close()
    require(fs.rename(tmp, manifestPath), "manifest publish failed")
  }

  /** Roll back an interrupted compaction. While the manifest exists the
    * protocol has not committed: every table is restored to its
    * pre-compaction content — backups renamed back, late files that were
    * already merged into the new table returned to the backup first (they
    * are exactly the current files that are not staged outputs), staged
    * output discarded. Tombstones were untouched before commit, so views
    * after rollback are identical to before the crashed compaction.
    * Without a manifest, leftover staging/backup dirs are post-commit
    * duplicates and are swept. Idempotent — a crash during recovery
    * re-runs to the same state.
    */
  private[graft] def recoverCompaction(): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldRoot = new org.apache.hadoop.fs.Path(s"$root/.compact-old")
    if (!fs.exists(manifestPath)) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/.compact"), true)
      fs.delete(oldRoot, true)
      return
    }
    val lines = {
      val is = fs.open(manifestPath)
      val s = scala.io.Source.fromInputStream(is, "UTF-8").getLines().toList
      is.close(); s
    }
    val tables = lines.collect { case l if l.startsWith("table\t") => l.split('\t')(1) }
    def fileSet(kind: String, t: String): Set[String] =
      lines.collect {
        case l if l.startsWith(s"$kind\t$t\t") => l.split('\t')(2)
      }.toSet
    tables.foreach { t =>
      val cur = new org.apache.hadoop.fs.Path(s"$root/$t")
      val bak = new org.apache.hadoop.fs.Path(s"$root/.compact-old/$t")
      val stagedNames = fileSet("staged", t)
      (fs.exists(cur), fs.exists(bak)) match {
        case (false, true) => // crashed between swap-out and swap-in
          require(fs.rename(bak, cur), s"recovery rename failed: $cur")
        case (true, true) =>
          // swap-in done (cur = staged output, possibly plus merged late
          // files and/or post-swap appends): return every non-staged file
          // to the backup, drop the staged output, restore the backup
          listFilesRel(fs, cur).foreach { rel =>
            if (!stagedNames.contains(rel))
              moveFile(fs, new org.apache.hadoop.fs.Path(cur, rel),
                new org.apache.hadoop.fs.Path(bak, rel))
          }
          fs.delete(cur, true)
          require(fs.rename(bak, cur), s"recovery rename failed: $cur")
        case (true, false) =>
          // either the swap never reached this table (cur is the
          // original — staged names absent, nothing to do) or the table
          // had no pre-compaction dir and swap-in created it: drop the
          // staged files, keep any post-swap appends
          val present = listFilesRel(fs, cur)
          present.intersect(stagedNames).foreach { rel =>
            fs.delete(new org.apache.hadoop.fs.Path(cur, rel), false)
          }
          if (present.nonEmpty && present.subsetOf(stagedNames))
            fs.delete(cur, true)
        case (false, false) => // table absent throughout
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/.compact"), true)
    // refuse to delete a backup entry that was not restored
    if (fs.exists(oldRoot) && fs.listStatus(oldRoot).isEmpty)
      fs.delete(oldRoot, true)
    // the catalog table (if any) may describe a layout this rollback just
    // replaced — reads fall back to the directory until the next compact
    WaddleStore.dropMetricsCatalog(spark, root)
    spark.catalog.refreshByPath(s"$root/metrics")
    // rollback mutated the store (tables restored, staged files dropped):
    // advance the version so artifacts cached against the half-swapped
    // state can never validate as fresh after recovery
    graft.sources.StoreVersion.bump(spark, root)
    ()
  }

  /** Cascading run delete as anti-join views: returns each table minus the
    * victims (/root/reference/waddle/_dashboard_api.py:237-249). On
    * immutable storage the caller overwrites with these frames.
    */
  def deleteRuns(runIds: Seq[String]): Map[String, DataFrame] = {
    val victims = runIds
    Map(
      "runs" -> tbl("runs").where(!col("id").isin(victims: _*)),
      "metrics" -> tbl("metrics").where(!col("run_id").isin(victims: _*)),
      "kv" -> tbl("kv").where(!col("run_id").isin(victims: _*)),
      "artifacts" -> tbl("artifacts").where(!col("run_id").isin(victims: _*)))
  }
}

object WaddleStore {
  /** Bucket count for the compacted metrics layout. Test-scale value; the
    * 100 TB deployment sizes buckets so one (date, bucket) cell fits an
    * executor read (SCALING.md).
    */
  val MetricsBuckets = 8

  // compact() serialization per store root within this JVM — the
  // deployment shape is one maintenance process per store; concurrent
  // WRITERS need no lock (the manifest protocol preserves their files)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def lockFor(root: String): Object =
    locks.computeIfAbsent(root, _ => new Object)

  /** Session-catalog name of the bucketed compacted-metrics table for a
    * store root (hex hash — no separator chars a table name can't hold).
    */
  private[graft] def metricsTableName(root: String): String =
    s"waddle_metrics_${Integer.toHexString(root.hashCode)}"

  /** Appends void the bucket guarantee: drop the catalog entry (EXTERNAL —
    * the files stay) so reads fall back to the plain directory scan. The
    * probe skips the command when there is nothing to drop; `IF EXISTS`
    * keeps a concurrent drop from failing this one.
    */
  private[graft] def dropMetricsCatalog(spark: SparkSession, root: String): Unit =
    if (spark.catalog.tableExists(metricsTableName(root)))
      spark.sql(s"DROP TABLE IF EXISTS ${metricsTableName(root)}")
}

object WaddleSchema {
  case class RunRow(
      id: String, project: String, name: String, status: String,
      started_at: Double, ended_at: Option[Double],
      repo_id: Option[String] = None, commit_sha: Option[String] = None,
      env: Option[String] = None, notes: Option[String] = None)
  case class RepoRow(
      id: String, name: String, path: String, origin_url: Option[String],
      default_branch: String, created_at: Double)
  case class CommitRow(
      repo_id: String, commit_sha: String, author: String,
      author_time: Double, message: String)
  case class MetricRow(
      run_id: String, key: String, step: Int, ts: Double, value: Double)
  case class KvRow(run_id: String, kind: String, key: String, value: String, seq: Long)
  case class DeleteRow(run_id: String, deleted_at: Double)
  case class ArtifactRow(
      id: String, run_id: String, name: String, kind: String,
      created_at: Double, sha256: String, size_bytes: Long,
      inline_bytes: Array[Byte])
}
