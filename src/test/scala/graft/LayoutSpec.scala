package graft

import org.apache.spark.sql.functions._
import graft.sources.{Layout, Tables}

/** The production layout's promises, checked at the plan level: partition
  * pruning, zero-shuffle bucketed aggregation, and row preservation.
  */
class LayoutSpec extends SparkSpec {

  private def withLayout(f: => Unit): Unit = {
    Layout.writeEvents(spark, sf, table = "events_layout_test", buckets = 4)
    try f finally spark.sql("DROP TABLE IF EXISTS events_layout_test")
  }

  test("layout write preserves every event and its columns") {
    withLayout {
      val n = Tables.events(spark, sf).count()
      assert(spark.table("events_layout_test").count() == n)
      val cols = spark.table("events_layout_test").columns.toSet
      assert(Set("event_id", "ts", "user_id", "event_type", "value",
        "event_date").subsetOf(cols))
    }
  }

  test("per-user aggregate over the bucketed table has no exchange") {
    withLayout {
      val agg = Layout.perUserStats(spark, "events_layout_test")
      val p = agg.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed groupBy(user_id) must not shuffle:\n${p.take(1500)}")
      // and it is still correct
      val direct = Tables.events(spark, sf).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      val viaLayout = agg.select("user_id", "n_events")
      assert(viaLayout.exceptAll(direct).isEmpty &&
        direct.exceptAll(viaLayout).isEmpty)
    }
  }

  test("keep-latest and last-per-group over the bucketed table lose the window exchange") {
    withLayout {
      // the r17 verdict item: q_upsert_latest's honest cost on unmanaged
      // parquet is a full fact-table shuffle per evaluation (the 2.60×
      // 10×-grower); on the layout store the bucketed scan's
      // HashPartitioning(user_id) is a SUBSET of the window keys
      // (user_id, event_type), so the window runs bucket-local — the
      // shuffle was paid ONCE at layout write
      val up = graft.sources.Layout.upsertLatest(spark, "events_layout_test")
      val p = up.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed keep-latest must have NO exchange at all:\n${p.take(1500)}")
      // and it is still exactly the unmanaged operator's answer
      val direct = graft.operators.Tracking.upsertLatest(spark, sf)
      assert(up.exceptAll(direct).isEmpty && direct.exceptAll(up).isEmpty,
        "layout keep-latest must equal the unmanaged keep-latest")
      val lp = graft.sources.Layout.lastPerGroup(spark, "events_layout_test")
      val p2 = lp.queryExecution.executedPlan.toString
      assert(!p2.contains("Exchange"),
        s"bucketed last-per-group must aggregate bucket-local:\n${p2.take(1500)}")
      val lpDirect = graft.sources.Tables.events(spark, sf)
        .groupBy("user_id", "event_type")
        .agg(expr("max_by(value, event_id)").as("last_value"),
          max("event_id").as("last_event_id"))
      assert(lp.exceptAll(lpDirect).isEmpty && lpDirect.exceptAll(lp).isEmpty,
        "layout last-per-group must equal the unmanaged aggregate")
    }
  }

  test("streaming appends land in the bucketed layout and keep its properties") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams.Event
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Layout.writeEvents(spark, sf, table = "events_layout_stream", buckets = 4)
    val before = spark.table("events_layout_stream").count()
    val mem = MemoryStream[Event]
    val ck = java.nio.file.Files.createTempDirectory("layout_ck").toString
    val q = Layout.streamIntoLayout(
      mem.toDF().withColumn("props", lit(null).cast("string")),
      "events_layout_stream", ck, buckets = 4)
      .start()
    try {
      mem.addData(
        Event(9000001L, new Timestamp(1706745600000L), 7L, "click", 1.0),
        Event(9000002L, new Timestamp(1706745660000L), 8L, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("events_layout_stream").count() == before + 2)
      // the zero-shuffle bucketed aggregate still holds over mixed
      // batch + streamed data
      val agg = Layout.perUserStats(spark, "events_layout_stream")
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS events_layout_stream")
    }
  }

  test("a redelivered micro-batch is skipped by the batch-id ledger") {
    import java.sql.Timestamp
    import spark.implicits._
    val ledger = java.nio.file.Files.createTempDirectory("graft_ledger").toString + "/l"
    val batch = Seq(
      (9100001L, new Timestamp(1706745600000L), 7L, "click", 1.0, null: String))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    try {
      assert(Layout.appendBatchIdempotent(batch, 0L, "events_layout_idem", ledger, buckets = 2))
      assert(spark.table("events_layout_idem").count() == 1)
      // the retry: same batch id delivered again must be a no-op
      assert(!Layout.appendBatchIdempotent(batch, 0L, "events_layout_idem", ledger, buckets = 2))
      assert(spark.table("events_layout_idem").count() == 1)
      // a NEW batch id still appends
      assert(Layout.appendBatchIdempotent(batch, 1L, "events_layout_idem", ledger, buckets = 2))
      assert(spark.table("events_layout_idem").count() == 2)
    } finally spark.sql("DROP TABLE IF EXISTS events_layout_idem")
  }

  test("a redelivered partitioned-layout batch is skipped by its ledger") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lay_idem").toString
    val ledger = s"$root/.ledger"
    val out = s"$root/layout"
    val batch = Seq((1L, 0, 3L), (2L, 1, 5L))
      .toDF("vec_id", "band_id", "band_key")
    assert(Layout.appendPartitionedIdempotent(
      batch, 0L, out, ledger, Seq("band_id", "band_key")))
    assert(spark.read.parquet(out).count() == 2)
    // the retry: same batch id delivered again must be a no-op
    assert(!Layout.appendPartitionedIdempotent(
      batch, 0L, out, ledger, Seq("band_id", "band_key")))
    assert(spark.read.parquet(out).count() == 2)
    // a NEW batch id still appends, into the same partition dirs
    assert(Layout.appendPartitionedIdempotent(
      batch, 1L, out, ledger, Seq("band_id", "band_key")))
    assert(spark.read.parquet(out).count() == 4)
    // the layout never grows a _spark_metadata log (that is the point)
    assert(!new java.io.File(s"$out/_spark_metadata").exists())
  }

  test("a legacy parquet ledger is refused") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lay_legacy").toString
    val ledger = s"$root/.ledger"
    val out = s"$root/layout"
    val batch = Seq((1L, 0, 3L)).toDF("vec_id", "band_id", "band_key")
    // a ledger written by the pre-marker scheme: parquet batch_id rows.
    // Its ids are invisible to the marker probe, so batch 0 would be
    // re-appended — the sink must refuse instead, before writing anything
    Seq(0L, 5000L).toDF("batch_id").write.parquet(ledger)
    val ledgerFiles = new java.io.File(ledger).listFiles().map(_.getName).toSet
    val e = intercept[IllegalStateException] {
      Layout.appendPartitionedIdempotent(
        batch, 0L, out, ledger, Seq("band_id", "band_key"))
    }
    assert(e.getMessage.contains(ledger) && e.getMessage.contains("Rebuild"),
      s"must name the ledger and the rebuild remedy, got: ${e.getMessage}")
    assert(!new java.io.File(out).exists(), "a refused batch must not be appended")
    assert(new java.io.File(ledger).listFiles().map(_.getName).toSet == ledgerFiles,
      "a refused ledger must be left as it was")
  }

  test("markers bound the ledger size") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lay_markers").toString
    val ledger = s"$root/.ledger"
    val out = s"$root/layout"
    val batch = Seq((1L, 0, 3L)).toDF("vec_id", "band_id", "band_key")
    // new commits write markers, and old markers are pruned at the 1024
    // boundary (replay never reaches back past the retention window)
    assert(Layout.appendPartitionedIdempotent(
      batch, 1L, out, ledger, Seq("band_id", "band_key")))
    assert(Layout.appendPartitionedIdempotent(
      batch, 2048L, out, ledger, Seq("band_id", "band_key")))
    val markers = new java.io.File(ledger).listFiles()
      .map(_.getName).filter(_.startsWith("_batch-")).toSet
    assert(markers.contains("_batch-2048"))
    assert(!markers.contains("_batch-1"), "marker below the retention window must be pruned")
  }

  test("a crash-orphaned empty ledger dir does not poison the retry path") {
    import java.sql.Timestamp
    import spark.implicits._
    // simulate a crash between mkdir and the parquet footer write: the
    // ledger DIRECTORY exists but holds no complete part file — the probe
    // must treat it as "no ledger yet" instead of failing the parquet read
    val ledger = java.nio.file.Files.createTempDirectory("graft_ledger2").toString + "/l"
    // a real interrupted committer leaves _temporary/ as a directory tree
    java.nio.file.Files.createDirectories(
      java.nio.file.Path.of(ledger, "_temporary", "0"))
    val batch = Seq(
      (9200001L, new Timestamp(1706745600000L), 3L, "view", 2.0, null: String))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    try {
      assert(Layout.appendBatchIdempotent(batch, 0L, "events_layout_orphan", ledger, buckets = 2))
      assert(spark.table("events_layout_orphan").count() == 1)
      // and the ledger works from then on
      assert(!Layout.appendBatchIdempotent(batch, 0L, "events_layout_orphan", ledger, buckets = 2))
    } finally spark.sql("DROP TABLE IF EXISTS events_layout_orphan")
  }

  test("day slice prunes to one date partition at plan time") {
    withLayout {
      val day = Tables.events(spark, sf)
        .select(to_date(col("ts")).as("d")).orderBy("d").head().getDate(0)
      val slice = Layout.daySlice(spark, day.toString, "events_layout_test")
      val p = slice.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters") &&
        p.contains("event_date"), s"expected partition filter:\n${p.take(1500)}")
      // the slice row count matches a direct ts-range filter
      val expect = Tables.events(spark, sf)
        .where(to_date(col("ts")) === lit(day)).count()
      assert(slice.count() == expect)
    }
  }

  test("output committer: session default v1, v2 scoped to staged writes only") {
    // session-wide v2 broke the exactly-once contract of the ledgered
    // append sinks (r17 ADVICE): v2 commits files at TASK commit, so a
    // mid-batch failure leaves partial files visible in the served layout
    // and the ledger replay of that batchId duplicates them permanently.
    // The session must stay on the Hadoop default (v1: nothing listable
    // until commitJob) and v2 rides only as a per-write option on writes
    // whose destination is staging promoted by rename.
    val v = spark.sparkContext.hadoopConfiguration
      .get("mapreduce.fileoutputcommitter.algorithm.version", "1")
    assert(v == "1", s"session-wide committer must be v1, got $v")
    assert(graft.sources.Layout.CommitterV2(
      "mapreduce.fileoutputcommitter.algorithm.version") == "2")
  }

  test("compactPartitions collapses overfull dirs, preserves rows, no-ops when quiet") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lay_cmp").toString
    // simulate a streamed LSH-style layout: 6 micro-batch appends, each
    // repartitioned wide so every (band_id, band_key) dir accretes files
    (0 until 6).foreach { b =>
      (0 until 40).map(i => (b * 40L + i, i % 2, (i % 4).toLong))
        .toDF("vec_id", "band_id", "band_key")
        .repartition(8)
        .write.mode("append").partitionBy("band_id", "band_key")
        .parquet(root)
    }
    // partition-discovered columns infer as int: normalize types for compare
    def snap(): Array[(Long, Int, Long)] = spark.read.parquet(root)
      .select(col("vec_id").cast("long"), col("band_id").cast("int"),
        col("band_key").cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val before = snap()
    def fileCounts(): Map[String, Int] = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val m = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
          n.endsWith(".parquet"))
          m(st.getPath.getParent.toString) += 1
      }
      m.toMap
    }
    assert(fileCounts().values.exists(_ > 4), "setup must accrete small files")
    val report = Layout.compactPartitions(spark, root).collect()
    assert(report.nonEmpty)
    // every previously-overfull dir is now a single file
    val after = fileCounts()
    assert(after.values.forall(_ == 1), s"expected 1 file/dir, got $after")
    report.foreach { r =>
      assert(r.getAs[Int]("files_before") > 4)
      assert(r.getAs[Int]("files_after") == 1)
    }
    // not one row lost or duplicated, partition values intact
    assert(snap().sameElements(before))
    // quiet layout → listing only, empty card, files untouched
    assert(Layout.compactPartitions(spark, root).isEmpty)
    assert(fileCounts() == after)
  }

  test("compactPartitions collapses an unpartitioned streamed layout (int8 sink shape)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lay_cmp_flat").toString
    // simulate the int8 ingest sink: N micro-batches, one file each,
    // landing at the layout ROOT (no partition dirs)
    (0 until 6).foreach { b =>
      (0 until 10).map(i =>
        (b * 10L + i, 0.01 * (b + 1), Seq.fill(4)((i % 5).toByte)))
        .toDF("vec_id", "scale", "qv")
        .coalesce(1)
        .write.mode("append").parquet(root)
    }
    def dataFiles(): Array[String] = new java.io.File(root).listFiles()
      .map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".") &&
        n.endsWith(".parquet"))
    def snap(): Array[(Long, Double, Seq[Byte])] = spark.read.parquet(root)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("scale"),
        r.getAs[Seq[Byte]]("qv").toList: Seq[Byte]))
      .sortBy(_._1)
    val before = snap()
    assert(dataFiles().length == 6, "setup must accrete one file per batch")
    val report = Layout.compactPartitions(spark, root).collect()
    assert(report.length == 1 && report.head.getAs[String]("partition") == "")
    assert(report.head.getAs[Int]("files_before") == 6)
    assert(report.head.getAs[Int]("files_after") == 1)
    assert(dataFiles().length == 1)
    // no staging residue, not one row lost or duplicated
    assert(!new java.io.File(root, "_graft_compact_staging").exists)
    assert(snap().sameElements(before))
    // quiet layout → no-op
    assert(Layout.compactPartitions(spark, root).isEmpty)
  }
}
