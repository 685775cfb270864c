package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 100 TB physical layout, as a write path (SCALING.md "Data layout").
  *
  * Reference analog: the reference's only layout decision is one DuckDB
  * file plus the `idx_metrics_run_key(run_id,key,step)` index
  * (/root/reference/waddle/_schema.py:59). At cluster scale the same access
  * patterns come from physical layout instead of an index:
  *
  *  - date partitions → partition pruning kills whole days before any I/O
  *    (the analog of a ts range scan);
  *  - bucketing by the entity key → per-run reads touch one bucket, and
  *    every run-keyed join/aggregate is ZERO-shuffle (proved in
  *    LayoutSpec/PlanSpec);
  *  - sort within buckets by (key, ts) → parquet row-group stats give the
  *    index's (run_id, key, step) probe order.
  *
  * Writes go through `saveAsTable` because bucketing metadata lives in the
  * catalog; plain parquet directories cannot carry it.
  */
object Layout {

  /** Per-write opt-in to the v2 (task-parallel) output commit algorithm,
    * for writes whose destination is a STAGING directory published by one
    * atomic rename (AnnIndex.ensureBuilt builds) or swapped file-by-file
    * after the job succeeds ([[compactPartitions]]'s unpartitioned path).
    * There v2's failure mode — task-committed partial files visible in
    * the output dir on a mid-job crash — is harmless (the staging tree is
    * never promoted), and v1's driver-sequential commitJob renames are
    * the measured bottleneck (~14 ms/file; 57 s of the r17 two-level LSH
    * build's 57 s at 4,090 bucket dirs). NEVER apply this to a write that
    * appends into a served layout: the ledgered sinks
    * ([[appendPartitionedIdempotent]]/[[appendBatchIdempotent]]) rely on
    * v1's nothing-visible-until-commitJob to make batch replay exact.
    * Session default is v1 (see [[graft.GraftSession]]).
    */
  val CommitterV2: Map[String, String] =
    Map("mapreduce.fileoutputcommitter.algorithm.version" -> "2")

  /** Write the events fact in production layout: partitioned by event date,
    * bucketed by user_id, sorted within each bucket by (event_type, ts).
    * Scale: the writer shuffles once (by bucket key) and writes
    * days × buckets files; appends land in new date partitions without
    * touching old ones.
    */
  def writeEvents(
      spark: SparkSession,
      dir: String,
      table: String = "events_layout",
      buckets: Int = 8): Unit =
    layoutWriter(Tables.events(spark, dir), buckets)
      .mode("overwrite")
      .saveAsTable(table)

  /** THE layout spec — date partitions, user buckets, in-bucket sort —
    * shared by the batch writer ([[writeEvents]]) and the streaming append
    * ([[appendBatchIdempotent]]), so batch-written and stream-appended
    * data can never drift out of bucket compatibility (the zero-shuffle
    * property LayoutSpec/PlanSpec pin rests on both paths writing the
    * identical spec). The repartition co-locates rows with their target
    * bucket so each (date, bucket) pair is written by exactly one task
    * instead of every task appending a sliver to every bucket file.
    */
  private def layoutWriter(df: DataFrame, buckets: Int) =
    df.withColumn("event_date", to_date(col("ts")))
      .repartition(col("event_date"), col("user_id"))
      .write
      .partitionBy("event_date")
      .bucketBy(buckets, "user_id")
      .sortBy("event_type", "ts")

  /** Per-entity series aggregate over the layed-out table — the shape that
    * must be zero-shuffle: grouping key == bucket key means every group is
    * wholly inside one bucket, so the aggregate has no exchange at all.
    */
  def perUserStats(spark: SparkSession, table: String = "events_layout"): DataFrame =
    spark.table(table)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("ts").as("last_ts"))

  /** Keep-latest over the layed-out table — [[graft.operators.Tracking
    * .upsertLatest]]'s plan with the window's exchange REMOVED by layout:
    * the window clusters on (user_id, event_type) and the bucketed scan
    * already delivers HashPartitioning(user_id), a SUBSET of the window
    * keys, so every (user, type) group is wholly inside one bucket and
    * Spark plans Window over a bucket-local sort with NO Exchange
    * (LayoutSpec pins it). On unmanaged parquet the same operator
    * shuffles the full fact table per evaluation — the honest cost
    * SCALING.md's r17 before/after measures (the q_upsert_latest 2.60×
    * 10×-grower was exactly that window exchange); on the managed store
    * the shuffle happens ONCE, at layout write, and every keep-latest /
    * last-per-group / per-entity aggregate after it is exchange-free.
    */
  def upsertLatest(spark: SparkSession, table: String = "events_layout"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("event_id").desc)
    // no presentation orderBy: a global sort's range-sampling pass would
    // re-execute the exchange-free child TWICE (nothing materializes
    // between sample and sort without the window's exchange) and add the
    // one shuffle the layout exists to remove — callers wanting a total
    // order sort the survivor-sized result themselves
    spark.table(table)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("rn") === 1)
      .select("user_id", "event_type", "ts", "value", "props")
  }

  /** Last-value-per-entity over the layed-out table — the max_by plan
    * ([[graft.operators.Relational.lastPerGroup]]'s shape) with the
    * aggregate's exchange removed for the same subset-of-bucket-keys
    * reason as [[upsertLatest]]: partial and final aggregation fuse over
    * the bucket-local rows.
    */
  def lastPerGroup(spark: SparkSession, table: String = "events_layout"): DataFrame =
    spark.table(table)
      .groupBy("user_id", "event_type")
      .agg(expr("max_by(value, event_id)").as("last_value"),
        max("event_id").as("last_event_id"))

  /** Streaming sink into the production layout: each micro-batch appends
    * into the bucketed/partitioned table via foreachBatch (DataStreamWriter
    * cannot declare buckets itself; the batch writer inside can). New days
    * create new partitions; every batch keeps the bucket spec, so the
    * zero-shuffle properties hold over data that arrived live.
    *
    * Idempotence: foreachBatch alone is at-least-once — a batch retried
    * after a partial append would double rows. A batch-id LEDGER (marker
    * files next to the checkpoint) makes retries no-ops: a batch already
    * recorded is skipped. The residual window is a crash BETWEEN the
    * append and the ledger write (exactly-once needs a transactional
    * table format); the window is one metadata write wide and a retry
    * after it duplicates at most one batch — vs. every retry without it.
    * Scale: one small shuffle per micro-batch (bucket co-location), bounded
    * by trigger size; partitions touched = days present in the batch; the
    * ledger probe is ONE fs.exists per batch (see ledgerCommitted).
    */
  def streamIntoLayout(
      events: DataFrame,
      table: String,
      checkpointDir: String,
      buckets: Int = 8) =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatchIdempotent(batch, batchId, table,
          s"$checkpointDir/graft_batch_ledger", buckets)
        ()
      }

  /** The foreachBatch body, exposed for direct testing: append `batch`
    * into the layout table unless `batchId` is already in the ledger.
    * Returns true when the batch was written, false when skipped as a
    * duplicate delivery.
    */
  // The ledger is a directory of zero-byte `_batch-<id>` MARKER files
  // (underscore prefix: Spark data-source listings ignore `_*`/`.*` names):
  // commit = create the marker, probe = one fs.exists by exact name —
  // O(1) per trigger, no listing, no parquet scan, no Spark job. The
  // previous one-parquet-row-per-batch ledger re-listed and re-SCANNED
  // the whole directory every trigger: at a 500 ms cadence that is ~172k
  // files/day with O(total-batches) probe work — the exact small-file
  // pathology compactPartitions exists to fix. Everything goes through
  // the Hadoop FileSystem API: a java.io.File check is local-FS only —
  // on hdfs:///s3a:// (the 100 TB deployment) it would always be false
  // and idempotence would be silently disabled.
  //
  // Marker-count bound: every 1024th commit prunes markers older than
  // 1024 batches (one listing per ~9 min at the 500 ms trigger).
  // Structured Streaming replays only the tail of unacknowledged batches
  // after recovery — a 1024-deep retention is orders of magnitude past
  // any replay horizon, so pruning can never re-admit a duplicate.
  //
  // The retired parquet ledger is REFUSED, not read: its batch ids are
  // invisible to the marker probe, so appending over it would re-deliver
  // every batch it recorded. Spark's parquet committer stamps `_SUCCESS`
  // and the marker scheme never writes one, so a marker miss pays one
  // fs.exists for it — the only listing happens on a ledger about to be
  // refused.
  private def ledgerCommitted(
      spark: SparkSession, ledger: String, batchId: Long): Boolean = {
    val ledgerPath = new org.apache.hadoop.fs.Path(ledger)
    val fs = ledgerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(ledgerPath, s"_batch-$batchId"))) true
    else if (fs.exists(new org.apache.hadoop.fs.Path(ledgerPath, "_SUCCESS")) &&
        fs.listStatus(ledgerPath).exists { st =>
          val n = st.getPath.getName
          n.startsWith("part-") && n.endsWith(".parquet")
        })
      throw new IllegalStateException(
        s"batch ledger at $ledger holds part-*.parquet files of the retired " +
          "parquet ledger format, whose batch ids this version does not read " +
          "— appending would re-deliver every batch it recorded. Rebuild " +
          "the layout under a fresh checkpoint and ledger directory.")
    else false
  }

  private def ledgerCommit(
      spark: SparkSession, ledger: String, batchId: Long): Unit = {
    val ledgerPath = new org.apache.hadoop.fs.Path(ledger)
    val fs = ledgerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(ledgerPath)
    fs.create(new org.apache.hadoop.fs.Path(ledgerPath, s"_batch-$batchId"), true)
      .close()
    if (batchId > 0 && batchId % 1024 == 0) {
      fs.listStatus(ledgerPath).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("_batch-"))
          n.stripPrefix("_batch-").toLongOption.foreach { id =>
            if (id < batchId - 1024) fs.delete(st.getPath, false)
          }
      }
    }
  }

  /** foreachBatch body for the layout-growing streaming sinks (ANN
    * indexes, dedup band store, shard tail): append `batch` into the
    * partitioned directory unless `batchId` is already in the ledger.
    *
    * WHY foreachBatch and not the streaming parquet sink: that sink owns
    * its directory through a `_spark_metadata` commit log, and batch
    * reads of such a directory resolve through the log EXCLUSIVELY —
    * files written by a batch index build or a compaction rewrite of the
    * SAME layout become invisible (and compacted-away files dangle, so
    * reads throw FILE_NOT_EXIST). These layouts are shared with batch
    * builders and [[compactPartitions]] by design, so the sink must
    * append plain listable files; idempotence comes from the same
    * batch-id ledger as [[appendBatchIdempotent]], and each batch is
    * repartitioned by the partition columns so a trigger writes one file
    * per touched directory (bounded small shuffle), not one per task.
    */
  def appendPartitionedIdempotent(
      batch: DataFrame,
      batchId: Long,
      path: String,
      ledger: String,
      partCols: Seq[String]): Boolean = {
    val spark = batch.sparkSession
    val committed = ledgerCommitted(spark, ledger, batchId)
    if (!committed) {
      // unpartitioned layouts append coalesced (one file per batch)
      // rather than hitting repartition()'s empty-column error
      val co = if (partCols.isEmpty) batch.coalesce(1)
        else batch.repartition(partCols.map(col): _*)
      co.write.mode("append").partitionBy(partCols: _*).parquet(path)
      ledgerCommit(spark, ledger, batchId)
    }
    !committed
  }

  def appendBatchIdempotent(
      batch: DataFrame,
      batchId: Long,
      table: String,
      ledger: String,
      buckets: Int = 8): Boolean = {
    val spark = batch.sparkSession
    val committed = ledgerCommitted(spark, ledger, batchId)
    if (!committed) {
      layoutWriter(batch, buckets).mode("append").saveAsTable(table)
      ledgerCommit(spark, ledger, batchId)
    }
    !committed
  }

  /** Collapse the small-file accretion of a grow-in-place partition layout.
    *
    * Every streaming sink that appends into a partitioned directory — the
    * ANN ingesters ([[graft.streaming.Streams.annIngestSink]] /
    * `lshIngestSink`), the dedup band store (`dedupBandIngestSink`), the
    * training-shard tail — writes at least one file per touched partition
    * per micro-batch: a day of 500 ms triggers is ~170 k files per hot
    * bucket, and at 100 TB the object-store LISTING (not the data) becomes
    * every probe's bottleneck — the same failure mode as round 7's 2,003
    * × 513 B LSH build, but unbounded in time instead of one bad write.
    * This is the maintenance pass that keeps those layouts probe-shaped.
    *
    * Incremental by construction: ONE recursive listing finds the leaf
    * directories holding more than `maxFilesPerDir` data files; only those
    * partitions are read (by explicit leaf path — the scan never opens a
    * healthy directory) and rewritten through DYNAMIC partition overwrite,
    * repartitioned by the partition columns so each rewritten directory
    * commits exactly one file. Cost is O(overfull partitions), never
    * O(index) — a quiet layout is a listing and a no-op. UNPARTITIONED
    * layouts (the int8 ingest sink's) compact too: the root is the single
    * leaf, rewritten to [[CompactTargetBytes]]-sized files through a
    * hidden staging dir + data-file swap (dynamic overwrite has no
    * partitions to swap there).
    *
    * Concurrency: run from the layout's OWN maintenance turn (e.g. every
    * N-th `foreachBatch` of the sink that owns it, where no concurrent
    * append can race the same partitions — the division of labor the
    * shard ingester documents). Input files outlive task reads (dynamic
    * overwrite deletes replaced partitions only at job commit, after all
    * tasks finish), so the rewrite itself never reads deleted data; a
    * crash mid-commit can leave a replaced partition half-swapped, which
    * is acceptable ONLY because these layouts are derived artifacts,
    * rebuildable from their corpus (the Waddle store, which holds primary
    * data, gets the manifest + recovery machinery instead).
    *
    * Returns the card a maintenance job records: one row per compacted
    * partition (relative dir, files/bytes before, files after). Resolved
    * ANN frames for `path` are invalidated so same-JVM probes re-list.
    */
  /** Target output-file size for the unpartitioned compaction branch —
    * the partitioned branch sizes by one-file-per-partition instead.
    */
  private val CompactTargetBytes: Double = (128L << 20).toDouble

  def compactPartitions(
      spark: SparkSession,
      path: String,
      maxFilesPerDir: Int = 4): DataFrame = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a directory owned by the STREAMING parquet sink resolves reads
    // through its _spark_metadata log, not the listing — rewriting files
    // under it would leave every reader chasing deleted paths (the
    // layout sinks use appendPartitionedIdempotent to avoid the log)
    require(!fs.exists(new org.apache.hadoop.fs.Path(root, "_spark_metadata")),
      s"$path is owned by a streaming-sink _spark_metadata log; " +
        "compaction would invalidate it")
    def isData(n: String): Boolean =
      !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
    // one recursive walk: leaf dir -> (file count, bytes)
    val leaves = scala.collection.mutable.Map.empty[String, (Int, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && isData(st.getPath.getName)) {
        val dir = st.getPath.getParent.toString
        val (c, b) = leaves.getOrElse(dir, (0, 0L))
        leaves(dir) = (c + 1, b + st.getLen)
      }
    }
    val rootStr = fs.makeQualified(root).toString
    val overfull = leaves.filter(_._2._1 > maxFilesPerDir).toSeq.sortBy(_._1)
    if (overfull.nonEmpty) {
      // partition columns from the first overfull dir's k=v segments —
      // uniform across the layout by construction of partitionBy writes
      val partCols = overfull.head._1.stripPrefix(rootStr).split('/')
        .filter(_.contains('=')).map(_.takeWhile(_ != '=')).toSeq
      if (partCols.isEmpty) {
        // UNPARTITIONED layout (the int8 ingest sink): the root is the
        // single leaf, dynamic overwrite has nothing to swap, and a plain
        // self-overwrite cannot read and replace the same path — so
        // compact through a hidden staging dir and swap the data files
        // in. A crash mid-swap can leave the layout half-swapped, which
        // is acceptable for exactly the partitioned path's reason: these
        // are DERIVED artifacts, rebuildable from their corpus.
        require(overfull.forall(_._1 == rootStr),
          s"$path holds data files in unpartitioned subdirectories — " +
            "not a layout this compactor understands")
        val staging =
          new org.apache.hadoop.fs.Path(root, "_graft_compact_staging")
        fs.delete(staging, true)
        val inputs = fs.listStatus(root)
          .filter(st => st.isFile && isData(st.getPath.getName))
          .map(_.getPath)
        val nOut = math.max(1L, math.ceil(
          overfull.head._2._2.toDouble / CompactTargetBytes).toLong).toInt
        spark.read.parquet(inputs.toIndexedSeq.map(_.toString): _*)
          .coalesce(nOut)
          .write.mode("overwrite").options(CommitterV2)
          .parquet(staging.toString)
        inputs.foreach(f => fs.delete(f, false))
        fs.listStatus(staging)
          .filter(st => st.isFile && isData(st.getPath.getName))
          .foreach(st => fs.rename(st.getPath,
            new org.apache.hadoop.fs.Path(root, st.getPath.getName)))
        fs.delete(staging, true)
      } else {
        val slice = spark.read
          .option("basePath", rootStr)
          .parquet(overfull.map(_._1): _*)
        slice
          .repartition(partCols.map(col): _*)
          .write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*)
          .parquet(rootStr)
      }
      refreshRewrittenLayout(spark, path)
    }
    overfull.map { case (dir, (c, b)) =>
      val after = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .count(st => st.isFile && isData(st.getPath.getName))
      (dir.stripPrefix(rootStr).stripPrefix("/"), c, b, after)
    }.toDF("partition", "files_before", "bytes_before", "files_after")
  }

  /** Drop every cached view of a layout whose FILES were just replaced
    * in place by [[compactPartitions]].
    * refreshByPath recaches DATASETS only; the process-wide shared
    * FileStatusCache still holds the replaced dirs' listings, and a
    * later read of the layout would chase deleted part files.
    * `getOrCreate(spark).invalidateAll()` does NOT clear it — it mints
    * a NEW client and clears that client's zero entries (verified
    * against the shipped jar); `resetForTesting()` is the only public
    * entry that drops the shared cache. Cost: other paths re-list once.
    * It is an internal Spark API verified against the PINNED 4.1 jars;
    * the reflective guard degrades a future Spark bump to a loud
    * warning (stale-listing reads surface as FILE_NOT_EXIST with a
    * self-explanatory refresh hint) instead of an AbstractMethodError
    * on every compaction.
    */
  private[graft] def refreshRewrittenLayout(
      spark: SparkSession, path: String): Unit = {
    graft.operators.AnnIndex.invalidateResolved(path)
    spark.catalog.refreshByPath(path)
    try org.apache.spark.sql.execution.datasources.FileStatusCache
      .resetForTesting()
    catch { case e: LinkageError =>
      System.err.println("[graft] FileStatusCache.resetForTesting " +
        s"missing on Spark ${org.apache.spark.SPARK_VERSION}: stale " +
        "shared listings of rewritten dirs may surface as " +
        s"FILE_NOT_EXIST until re-listed — $e")
    }
  }

  /** One day's slice — must prune to a single date partition at plan time. */
  def daySlice(
      spark: SparkSession,
      day: String,
      table: String = "events_layout"): DataFrame =
    spark.table(table).where(col("event_date") === lit(day))
}
