package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams
import graft.streaming.Streams.Event

class StreamingSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("windowedCounts aggregates per tumbling hour with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append()).start()
    try {
      val h0 = 1704067200L // 2024-01-01 00:00:00 UTC
      mem.addData(
        Event(1, ts(h0 + 60), 1, "click", 1.0),
        Event(2, ts(h0 + 120), 2, "click", 2.0),
        Event(3, ts(h0 + 3660), 1, "view", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first windows
      mem.addData(Event(4, ts(h0 + 3600 * 3), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n_events, total_value FROM wc ORDER BY event_type")
        .collect()
      val click = rows.find(_.getString(0) == "click").get
      assert(click.getLong(1) == 2L && click.getDouble(2) == 3.0)
      val view = rows.find(_.getString(0) == "view").get
      assert(view.getLong(1) == 1L && view.getDouble(2) == 5.0)
    } finally q.stop()
  }

  test("streamStreamJoin attributes clicks to signups within the hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val signups = MemoryStream[Event]
    val q = Streams.streamStreamJoin(clicks.toDF(), signups.toDF())
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      val h0 = 1704067200L
      signups.addData(Event(100, ts(h0), 1, "signup", 0.0))
      clicks.addData(
        Event(1, ts(h0 + 600), 1, "click", 1.0),   // within the hour → joins
        Event(2, ts(h0 + 7200), 1, "click", 1.0),  // 2h later → no join
        Event(3, ts(h0 + 300), 2, "click", 1.0))   // other user → no join
      q.processAllAvailable()
      val rows = spark.table("ssj").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("click_id") == 1L)
      assert(rows.head.getAs[Long]("signup_id") == 100L)
    } finally q.stop()
  }

  test("sessionWindows merges events within 30min gaps, splits beyond") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionWindows(mem.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      val t0 = 1704067200L
      mem.addData(
        Event(1, ts(t0), 7, "a", 1.0),
        Event(2, ts(t0 + 600), 7, "b", 2.0),   // same session (10 min gap)
        Event(3, ts(t0 + 60 * 60 * 2), 7, "c", 3.0)) // new session (2h later)
      q.processAllAvailable()
      // push watermark far ahead so both sessions close
      mem.addData(Event(4, ts(t0 + 60 * 60 * 10), 8, "d", 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM sessions WHERE user_id = 7")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(rows.sameElements(Array((1L, 3.0), (2L, 3.0))))
    } finally q.stop()
  }

  test("sessionWindows replayed out-of-order converges to the batch sessionize card") {
    // the q_sessionize twin pin: the SAME events, replayed through the
    // stream in two shuffled micro-batches, must close exactly the
    // sessions the batch operator derives — same per-(user, start) event
    // counts, with session_window's end = batch end + the 30-min gap
    // (end-exclusive window vs the batch max(ts); gaps of exactly 30 min
    // split in the stream and merge in batch by construction, so the
    // fixture stays off that boundary).
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1704067200L
    // three users, planted irregular sessions (gap <30m merges, >30m splits)
    val planted = Seq(
      // user 1: [t0, t0+1700] ×3, then [t0+4000, t0+4200] ×2
      Event(10, ts(t0), 1, "a", 1.0),
      Event(11, ts(t0 + 900), 1, "b", 1.0),
      Event(12, ts(t0 + 1700), 1, "c", 1.0),
      Event(13, ts(t0 + 4000), 1, "d", 1.0),
      Event(14, ts(t0 + 4200), 1, "e", 1.0),
      // user 2: one lone event
      Event(20, ts(t0 + 120), 2, "a", 1.0),
      // user 3: two sessions split by a 31-min gap
      Event(30, ts(t0 + 60), 3, "a", 1.0),
      Event(31, ts(t0 + 60 + 1860), 3, "b", 1.0))
    val mem = MemoryStream[Event]
    val q = Streams.sessionWindows(mem.toDF())
      .writeStream.format("memory").queryName("sess_conv")
      .outputMode(OutputMode.Append()).start()
    try {
      // shuffled within each micro-batch (out-of-order arrival inside the
      // watermark), early half then late half across batches
      val (early, late) = planted.partition(_.ts.getTime / 1000L < t0 + 2000)
      mem.addData(scala.util.Random.shuffle(early): _*)
      q.processAllAvailable()
      mem.addData(scala.util.Random.shuffle(late): _*)
      q.processAllAvailable()
      // sentinel far ahead pushes the watermark so every session closes
      mem.addData(Event(99, ts(t0 + 86400), 9, "z", 0.0))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM sess_conv " +
          "WHERE user_id < 9")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L) ->
          (r.getTimestamp(2).getTime / 1000L, r.getLong(3))).toMap
      // batch card over the identical rows
      val tmp = java.nio.file.Files.createTempDirectory("graft_sessconv").toString
      planted.map(e => (e.event_id, e.ts.getTime / 1000L, e.user_id,
          e.event_type, e.value))
        .toDF("event_id", "ep", "user_id", "event_type", "value")
        .select(col("event_id"), timestamp_seconds(col("ep")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      try {
        val batch = graft.operators.Temporal.sessionize(spark, tmp).collect()
          .map(r => (r.getLong(0), r.getTimestamp(3).getTime / 1000L) ->
            (r.getTimestamp(4).getTime / 1000L, r.getLong(2))).toMap
        assert(streamed.keySet == batch.keySet,
          s"same (user, session_start) set; streamed=$streamed batch=$batch")
        batch.foreach { case (k, (bEnd, bN)) =>
          val (sEnd, sN) = streamed(k)
          assert(sN == bN, s"$k: event count $sN != batch $bN")
          assert(sEnd == bEnd + 1800L,
            s"$k: stream end $sEnd != batch end $bEnd + 30min")
        }
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
    } finally q.stop()
  }

  test("streamingDedup drops repeated event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.streamingDedup(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      val t0 = 1704067200L
      mem.addData(
        Event(1, ts(t0), 1, "a", 1.0),
        Event(1, ts(t0), 1, "a", 1.0), // exact dup in-batch
        Event(2, ts(t0 + 5), 2, "b", 2.0))
      q.processAllAvailable()
      mem.addData(Event(1, ts(t0 + 10), 1, "a", 1.0)) // dup across batches
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup").collect().map(_.getLong(0))
      assert(ids.sorted.sameElements(Array(1L, 2L)))
    } finally q.stop()
  }

  test("staleDetector times out idle runs as aborted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.staleDetector(spark, mem.toDS(), timeoutSecs = 300L)
      .writeStream.format("memory").queryName("stale")
      .outputMode(OutputMode.Append()).start()
    try {
      val t0 = 1704067200L
      mem.addData(Event(1, ts(t0), 7, "click", 1.0))
      q.processAllAvailable()
      // another user far in the future pushes the watermark past 7's timeout
      mem.addData(Event(2, ts(t0 + 1000), 8, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(t0 + 2000), 8, "view", 1.0))
      q.processAllAvailable()
      val statuses = spark.sql("SELECT user_id, status FROM stale").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(statuses.contains((7L, "running")))
      assert(statuses.contains((7L, "aborted")))
      assert(statuses.contains((8L, "running")))
      assert(!statuses.contains((8L, "aborted")))
    } finally q.stop()
  }

  test("trendTracker's running slope converges to the batch metricTrend card") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.trendTracker(spark, mem.toDS())
      .writeStream.format("memory").queryName("trend")
      .outputMode(OutputMode.Update()).start()
    try {
      val t0 = 1704067200L
      val day = 86400L
      // y = 2 + 3·d split across two micro-batches: state must MERGE,
      // not restart — the mid-stream emission sees only days 0-4
      mem.addData((0 until 5).map(d =>
        Event(d.toLong, ts(t0 + d * day), 1L, "loss", 2.0 + 3.0 * d)): _*)
      q.processAllAvailable()
      mem.addData((5 until 10).map(d =>
        Event(d.toLong, ts(t0 + d * day), 1L, "loss", 2.0 + 3.0 * d)): _*)
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT n, slope_per_day, r2 FROM trend WHERE user_id = 1").collect()
      val byN = rows.map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
      assert(byN.keySet == Set(5L, 10L), "one emission per micro-batch")
      // both emissions already sit on the planted line
      assert(math.abs(byN(10L)._1 - 3.0) < 1e-9 &&
        math.abs(byN(10L)._2 - 1.0) < 1e-9)
      assert(math.abs(byN(5L)._1 - 3.0) < 1e-9)
      // and the final state equals the batch card over the same rows
      val tmp = java.nio.file.Files.createTempDirectory("graft_trs").toString
      (0 until 10).map(d =>
          (d.toLong, t0 + d * day, 1L, "loss", 2.0 + 3.0 * d))
        .toDF("event_id", "ep", "user_id", "event_type", "value")
        .select(col("event_id"), timestamp_seconds(col("ep")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      try {
        val card = graft.operators.Tracking.metricTrend(spark, tmp).collect()(0)
        // batch card rounds to 6; streaming emits raw doubles
        assert(math.abs(card.getAs[Double]("slope_per_day") - byN(10L)._1) < 1e-6)
        assert(math.abs(card.getAs[Double]("r2") - byN(10L)._2) < 1e-6)
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
    } finally q.stop()
  }

  test("trendTracker converges identically under shuffled out-of-order arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the reference accepts backwards steps (_run.py:118-119): the same
    // planted series arrives once in order and once shuffled across three
    // micro-batches (seeded — deterministic), including late points that
    // time-travel behind already-processed ones; the final emission must
    // be identical because the state is pure sufficient statistics
    val t0 = 1704067200L
    val pts = (0 until 12).map(d =>
      (d.toLong, t0 + d * 86400L, 2.0 + 3.0 * d + (if (d % 3 == 0) 0.5 else -0.5)))
    val shuffled = new scala.util.Random(7L).shuffle(pts)

    def runOnce(name: String, order: Seq[(Long, Long, Double)]): (Long, Double, Double) = {
      val mem = MemoryStream[Event]
      val q = Streams.trendTracker(spark, mem.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        order.grouped(4).foreach { batch =>
          mem.addData(batch.map { case (id, ep, v) =>
            Event(id, ts(ep), 9L, "loss", v) }: _*)
          q.processAllAvailable()
        }
        val r = spark.sql(
          s"SELECT n, slope_per_day, r2 FROM $name WHERE user_id = 9 ORDER BY n DESC")
          .collect().head
        (r.getLong(0), r.getDouble(1), r.getDouble(2))
      } finally q.stop()
    }
    val (nA, sA, rA) = runOnce("trend_inorder", pts)
    val (nB, sB, rB) = runOnce("trend_shuffled", shuffled)
    assert(nA == 12L && nB == 12L)
    assert(math.abs(sA - sB) < 1e-9 && math.abs(rA - rB) < 1e-9,
      s"shuffled arrival must converge to the in-order trend: ($sA,$rA) vs ($sB,$rB)")
  }

  test("windowed aggregates flow to a durable parquet sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = java.nio.file.Files.createTempDirectory("stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val q = Streams.windowedCounts(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try {
      val h0 = 1704067200L
      mem.addData(Event(1, ts(h0 + 60), 1, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(2, ts(h0 + 3600 * 3), 1, "view", 1.0)) // closes window
      q.processAllAvailable()
      val persisted = spark.read.parquet(out)
      assert(persisted.count() >= 1)
      assert(persisted.columns.toSet ==
        Set("window_start", "event_type", "n_events", "total_value"))
    } finally q.stop()
  }

  test("streaming ANN ingest assigns the same cells as the batch argmax") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // codebook: 3 axis-aligned pivots (one row, sorted struct array) — the
    // same shape Similarity.simAnnIvf broadcasts
    val pivots = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)), (2L, Seq(0.0, 0.0, 1.0)))
      .toDF("pivot_id", "pv")
    val codebook = pivots.groupBy()
      .agg(array_sort(collect_list(struct(col("pivot_id"), col("pv")))).as("pvs"))

    val mem = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("ann_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ann_ckpt").toString
    val q = Streams.annIngestSink(
      mem.toDF().toDF("vec_id", "v"), codebook, out, ckpt).start()
    try {
      mem.addData(
        (10L, Seq(0.9, 0.1, 0.0)),  // → cell 0
        (11L, Seq(0.1, 0.8, 0.2)),  // → cell 1
        (12L, Seq(0.0, 0.2, 0.9))) // → cell 2
      q.processAllAvailable()
      mem.addData((13L, Seq(0.7, 0.6, 0.0))) // later batch, → cell 0
      q.processAllAvailable()

      val index = spark.read.parquet(out)
      val cells = index.collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
      assert(cells == Map(10L -> 0L, 11L -> 1L, 12L -> 2L, 13L -> 0L))
      // the partition layout IS the inverted file
      val parts = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("cluster=")).map(_.getName).sorted
      assert(parts.sameElements(Array("cluster=0", "cluster=1", "cluster=2")))
    } finally q.stop()
  }

  test("maintained PARTITIONED sink compacts hot cells between appends") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val pivots = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("pivot_id", "pv")
    val codebook = pivots.groupBy()
      .agg(array_sort(collect_list(struct(col("pivot_id"), col("pv")))).as("pvs"))
    val mem = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("ann_mnt_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ann_mnt_ckpt").toString
    val q = Streams.annIngestSink(
      mem.toDF().toDF("vec_id", "v"), codebook, out, ckpt,
      maintainEvery = 1).start()
    def cellFiles(): Int = new java.io.File(out, "cluster=0").listFiles()
      .count(f => !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        f.getName.endsWith(".parquet"))
    try {
      // every batch hits cell 0 → 1 file per batch there; the turn
      // compacts the dir once it exceeds the default maxFilesPerDir=4
      (0 until 6).foreach { i =>
        mem.addData((100L + i, Seq(0.9, 0.1 * (i % 3))))
        q.processAllAvailable()
      }
      assert(cellFiles() == 2,
        s"expected cell 0 compacted to 2 files after 6 maintained appends, got ${cellFiles()}")
      val rows = spark.read.parquet(out).collect()
      assert(rows.map(_.getAs[Long]("vec_id")).sorted.toSeq ==
        (100L until 106L), "maintenance must not lose or duplicate a row")
      // discovery may re-infer the partition column's width after the
      // compaction rewrite — compare numerically, not by boxed type
      assert(rows.forall(_.getAs[Number]("cluster").longValue == 0L))
    } finally q.stop()
  }

  test("streaming PQ ingest encodes and cells exactly like the batch build would") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.PqIndex
    implicit val sqlCtx = spark.sqlContext
    // 8-dim vectors (dsub=1 at M=8); flat 2-pivot coarse codebook
    val pivots = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
      .toDF("pivot_id", "pv")
    val codebook = pivots.groupBy()
      .agg(array_sort(collect_list(struct(col("pivot_id"), col("pv")))).as("pvs"))
    val rnd = new scala.util.Random(59)
    val vecs = (0 until 12).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian())))
    // PQ codebooks trained on the same vectors — what the batch build of
    // this layout's corpus version would have trained
    val pqcbs = PqIndex.train(vecs.map(_._2.clone()).toArray)

    val mem = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("pq_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pq_ckpt").toString
    val q = Streams.pqIngestSink(
      mem.toDF().toDF("vec_id", "v"), codebook, pqcbs, out, ckpt).start()
    try {
      mem.addData(vecs.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Array[Byte]]("codes").toSeq, r.getAs[Long]("cluster"))))
        .toMap
      // batch reference: same encode + same coarse assignment
      val cb = Seq(Tuple1(pqcbs.toSeq)).toDF("cbs")
      val batch = graft.operators.AnnIndex.assign(
        vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v"), codebook)
        .crossJoin(broadcast(cb))
        .select(col("vec_id"),
          expr(s"pq_encode(v, cbs, ${PqIndex.M}, ${PqIndex.Ksub})").as("codes"),
          col("cluster"))
        .collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Array[Byte]]("codes").toSeq, r.getAs[Long]("cluster"))))
        .toMap
      assert(streamed == batch,
        "streamed (codes, cell) must equal the batch encode + assignment")
      // the partition layout IS the PQ-coded inverted file
      val parts = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("cluster=")).map(_.getName)
      assert(parts.nonEmpty)
    } finally q.stop()
  }

  test("streaming int8 ingest quantizes exactly like the batch store build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(61)
    val vecs = (0 until 10).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian()))) :+
      (10L, Array.fill(8)(0.0)) // all-zero row: scale must land at 1
    val mem = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("int8_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("int8_ckpt").toString
    val q = Streams.int8IngestSink(
      mem.toDF().toDF("vec_id", "v"), out, ckpt).start()
    try {
      mem.addData(vecs.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      def asMap(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Double]("scale"), r.getAs[Seq[Byte]]("qv").toList)))
        .toMap
      val streamed = asMap(spark.read.parquet(out).collect())
      val batch = asMap(graft.operators.AnnIndex.int8Quantize(
        vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v"))
        .collect())
      assert(streamed == batch,
        "streamed (scale, qv) must equal the batch quantization")
      assert(streamed(10L)._1 == 1.0)
    } finally q.stop()
  }

  test("maintainEvery runs the compaction turn between appends; rows survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("int8_mnt_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("int8_mnt_ckpt").toString
    val q = Streams.int8IngestSink(
      mem.toDF().toDF("vec_id", "v"), out, ckpt, maintainEvery = 1).start()
    def dataFiles(): Int = new java.io.File(out).listFiles()
      .count(f => !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        f.getName.endsWith(".parquet"))
    try {
      // 6 micro-batches, one file each; the turn fires after every
      // committed append and compacts once the root exceeds the default
      // maxFilesPerDir=4: b0..b3 accrete 1..4 files (no-op turns), b4's
      // append makes 5 -> its turn collapses to 1, b5 appends -> 2
      (0 until 6).foreach { i =>
        mem.addData((i.toLong, Seq.fill(4)(i * 0.1)))
        q.processAllAvailable()
      }
      assert(dataFiles() == 2,
        s"expected compacted 2 files after 6 maintained appends, got ${dataFiles()}")
      val rows = spark.read.parquet(out).collect()
      assert(rows.map(_.getAs[Long]("vec_id")).sorted.toSeq == (0L until 6L),
        "maintenance must not lose or duplicate a row")
    } finally q.stop()
  }

  test("streaming ANN ingest dispatches two-level for a hierarchical codebook, matching batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.AnnIndex
    implicit val sqlCtx = spark.sqlContext
    // clustered pivots (4 centers × 4 jittered copies): the codebook shape
    // a deployment past TwoLevelMinPivots streams against; the sink must
    // detect the `groups` column and assign two-level, landing every
    // vector in the cell the batch dispatch would pick
    val rnd = new scala.util.Random(47)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Seq.fill(4)(unit(Array.fill(8)(rnd.nextGaussian())))
    val cents = new scala.util.Random(48).shuffle(centers.flatMap(c =>
      Seq.fill(4)(unit(c.map(_ + 0.05 * rnd.nextGaussian())))))
    val hier = AnnIndex.hierCodebookOf(spark, cents)
    val vecs = (0 until 40).map(i =>
      (i.toLong, cents(i % cents.size).map(_ + 0.02 * rnd.nextGaussian()).toSeq))

    val mem = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("ann_hier_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ann_hier_ckpt").toString
    val q = Streams.annIngestSink(
      mem.toDF().toDF("vec_id", "v"), hier, out, ckpt).start()
    try {
      mem.addData(vecs: _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
      // reference: the default dispatch is the bounded-cost probes mode
      val batch = AnnIndex.assignTwo(
        vecs.toDF("vec_id", "v"), hier, AnnIndex.DefaultGroupProbes)
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
      assert(streamed == batch,
        "streamed cells must equal the batch two-level assignment")
    } finally q.stop()
  }

  test("streaming passage ingest matches the batch store transform") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def toks(seed: Int, n: Int) =
      (0 until n).map(i => s"w${(i * 7 + seed * 13) % 97}x$seed").mkString(" ")
    val shared = (0 until 50).map(i => s"boiler$i").mkString(" ")
    val docs = Seq(
      (11L, "sa", s"$shared ${toks(1, 70)}"),
      (12L, "sb", s"$shared ${toks(2, 70)}"),
      (13L, "sb", toks(3, 130)),
      (14L, "sa", "short doc under fifty tokens"))
    val mem = MemoryStream[(Long, String, String)]
    val out = java.nio.file.Files.createTempDirectory("psg_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("psg_ckpt").toString
    val q = Streams.passageIngestSink(
      mem.toDF().toDF("doc_id", "source", "text"), out, ckpt).start()
    try {
      mem.addData(docs.take(2): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(2): _*) // later batch appends into the store
      q.processAllAvailable()
      val streamed = spark.read
        .schema(graft.operators.PassageStore.RowsSchema).parquet(out)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
      val batch = graft.operators.PassageStore.passageRows(
          docs.toDF("doc_id", "source", "text"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
      assert(streamed == batch,
        "streamed docs must shingle exactly as the batch store build")
      // the shared 50-token passage is one hash across both its docs —
      // what the boilerplate card aggregates on
      assert(streamed.groupBy(_._1).exists(_._2.map(_._3).toSet == Set(11L, 12L)))
      // the sub-50-token doc contributes nothing (full windows only)
      assert(!streamed.exists(_._3 == 14L))
    } finally q.stop()
  }

  test("streaming dedup-band ingest matches the batch banding transform") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight nine"),
      (102L, "alpha beta gamma delta epsilon zeta eta theta"))

    val mem = MemoryStream[(Long, String)]
    val out = java.nio.file.Files.createTempDirectory("band_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("band_ckpt").toString
    val q = Streams.dedupBandIngestSink(
      mem.toDF().toDF("doc_id", "text"), out, ckpt).start()
    try {
      mem.addData(docs.take(1): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(1): _*) // later batch appends into the same store
      q.processAllAvailable()

      val streamed = spark.read
        .schema("doc_id BIGINT, band_id INT, band_hash BIGINT").parquet(out)
        .select("doc_id", "band_id", "band_hash")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val batch = graft.operators.Dedup
        .bandDocs(docs.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed == batch,
        "streamed docs must band exactly as the batch store build")
      assert(streamed.size == docs.size * 16, "16 bands per doc")
      // identical texts agree on every band — the store must catch them
      val byDoc = streamed.groupBy(_._1)
      assert(byDoc(100L).map(t => (t._2, t._3)) == byDoc(102L).map(t => (t._2, t._3)))
      val parts = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("band_id=")).map(_.getName)
      assert(parts.nonEmpty)

      // end-to-end: the sink's directory IS a probe-ready band store — a
      // new batch holding a copy of doc 100's text must be flagged
      val store = spark.read
        .schema("doc_id BIGINT, band_id INT, band_hash BIGINT").parquet(out)
      val arriving = Seq((999L, docs.head._2), (998L, "fresh unseen words only"))
        .toDF("doc_id", "text")
      val verdicts = graft.operators.Dedup
        .incrementalVerdicts(arriving, store, docs.toDF("doc_id", "text"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(verdicts(999L).getAs[Boolean]("is_dup"))
      assert(verdicts(999L).getAs[Double]("jaccard") == 1.0)
      assert(!verdicts(998L).getAs[Boolean]("is_dup"))
    } finally q.stop()
  }

  test("streaming LSH ingest lands rows in the same buckets as a batch build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vecs = Seq(
      (10L, Seq(0.9, 0.1, -0.3, 0.4)),
      (11L, Seq(-0.2, 0.8, 0.2, -0.5)),
      (12L, Seq(0.1, -0.2, 0.9, 0.3)))

    val mem = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("lsh_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lsh_ckpt").toString
    val q = Streams.lshIngestSink(mem.toDF().toDF("vec_id", "v"), out, ckpt).start()
    try {
      mem.addData(vecs.take(2): _*)
      q.processAllAvailable()
      mem.addData(vecs.drop(2): _*) // later batch appends into the same layout
      q.processAllAvailable()

      // explicit schema like AnnIndex.lshBands: partition-column type
      // inference would narrow band_key to int on small values
      val streamed = spark.read
        .schema("vec_id BIGINT, band_key BIGINT, band_id INT, band_grp INT").parquet(out)
        .select("vec_id", "band_id", "band_key")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // a full BATCH REBUILD of the same vectors (ensureLsh over a corpus
      // dir holding them as embeddings.parquet) must land every row in the
      // same buckets — the two build paths are interchangeable
      val corpus = java.nio.file.Files.createTempDirectory("lsh_corpus").toString
      vecs.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
      val batch = graft.operators.AnnIndex.lshBands(spark, corpus)
        .select("vec_id", "band_id", "band_key")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed == batch,
        "streamed vectors must land in the same buckets as a batch rebuild")
      assert(streamed.size == vecs.size * graft.operators.AnnIndex.LshBands)
      // the partition layout IS the hash-bucket index
      val parts = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("band_id=")).map(_.getName)
      assert(parts.nonEmpty)

      // the SHARED-layout promise (why the sink is foreachBatch, not the
      // streaming parquet sink whose _spark_metadata log would hide
      // foreign files): a batch build appending into the SAME directory
      // must be visible in one read alongside the streamed rows
      val batchVecs = Seq((20L, Seq(0.5, -0.4, 0.2, 0.7)))
      graft.operators.AnnIndex.withBandGrp(
        graft.operators.AnnIndex.bandify(batchVecs.toDF("vec_id", "v")),
        graft.operators.AnnIndex.LshFloorGeom)
        .repartition(
          org.apache.spark.sql.functions.col("band_id"),
          org.apache.spark.sql.functions.col("band_grp"))
        .write.mode("append").partitionBy("band_id", "band_grp").parquet(out)
      val mixed = spark.read
        .schema("vec_id BIGINT, band_key BIGINT, band_id INT, band_grp INT").parquet(out)
        .select("vec_id", "band_id", "band_key")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val batchBands = graft.operators.AnnIndex
        .bandify(batchVecs.toDF("vec_id", "v"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(mixed == batch ++ batchBands,
        "batch-built rows in the shared layout must be visible with streamed ones")

      // maintenance round trip: per-trigger appends accreted multiple
      // files; compacting the layout must not move a single row out of
      // its bucket (threshold 0 forces every dir to rewrite)
      graft.sources.Layout.compactPartitions(spark, out, maxFilesPerDir = 0)
      val compacted = spark.read
        .schema("vec_id BIGINT, band_key BIGINT, band_id INT, band_grp INT").parquet(out)
        .select("vec_id", "band_id", "band_key")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(compacted == batch ++ batchBands,
        "compaction must preserve every (vec_id, band) assignment")

      // the geometry marker landed with the first append
      val marked = graft.operators.AnnIndex.readLshGeomMarker(spark, out)
      assert(marked.contains(graft.operators.AnnIndex.LshFloorGeom),
        s"sink must mark the layout with its banding geometry, got $marked")
    } finally q.stop()
  }

  test("LSH ingest under a mismatched geometry fails loudly at first append") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("lsh_geom_out").toString
    val ckpt1 = java.nio.file.Files.createTempDirectory("lsh_geom_c1").toString
    // band the layout at the floor geometry first
    val q1 = Streams.lshIngestSink(mem.toDF().toDF("vec_id", "v"), out, ckpt1).start()
    try {
      mem.addData((1L, Seq(0.5, -0.2, 0.8, 0.1)))
      q1.processAllAvailable()
    } finally q1.stop()
    // a restart under adaptive (wider) band bits must be REFUSED — before
    // r14 it silently appended floor-keyed rows into an adaptive index
    // (or vice versa): zero recall for the streamed slice
    val wider = graft.operators.AnnIndex.lshGeom(100000L)
    assert(wider != graft.operators.AnnIndex.LshFloorGeom)
    val mem2 = MemoryStream[(Long, Seq[Double])]
    val ckpt2 = java.nio.file.Files.createTempDirectory("lsh_geom_c2").toString
    val q2 = Streams.lshIngestSink(
      mem2.toDF().toDF("vec_id", "v"), out, ckpt2, wider).start()
    try {
      mem2.addData((2L, Seq(0.1, 0.9, -0.3, 0.2)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("banded under geometry")),
        s"mismatch must surface the geometry guard, got: ${messages(e)}")
    } finally q2.stop()
  }

  test("LSH ingest refuses to stamp an UNMARKED layout that already holds band data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.AnnIndex
    // a pre-r14 streamed layout: band data, no marker — the sink must NOT
    // silently stamp its own geometry over it (review finding: the
    // write-if-absent branch would have legitimized any restart geometry)
    val out = java.nio.file.Files.createTempDirectory("lsh_unmarked").toString
    Seq((5L, Seq(0.4, 0.1, -0.6, 0.2))).toDF("vec_id", "v")
      .transform(AnnIndex.bandify(_))
      .transform(AnnIndex.withBandGrp(_, AnnIndex.LshFloorGeom))
      .write.mode("append").partitionBy("band_id", "band_grp").parquet(out)
    val mem = MemoryStream[(Long, Seq[Double])]
    val ckpt = java.nio.file.Files.createTempDirectory("lsh_unmarked_c").toString
    val q = Streams.lshIngestSink(mem.toDF().toDF("vec_id", "v"), out, ckpt).start()
    val failed = try {
      mem.addData((6L, Seq(0.2, 0.7, 0.1, -0.4)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("no geometry marker")),
        s"unmarked non-empty layout must be refused, got: ${messages(e)}")
      true
    } finally q.stop()
    assert(failed)
    // the documented remedy: mark the known geometry explicitly, restart
    AnnIndex.markLshGeom(spark, out, AnnIndex.LshFloorGeom)
    val mem2 = MemoryStream[(Long, Seq[Double])]
    val ckpt2 = java.nio.file.Files.createTempDirectory("lsh_unmarked_c2").toString
    val q2 = Streams.lshIngestSink(mem2.toDF().toDF("vec_id", "v"), out, ckpt2).start()
    try {
      mem2.addData((6L, Seq(0.2, 0.7, 0.1, -0.4)))
      q2.processAllAvailable()
      val ids = spark.read
        .schema("vec_id BIGINT, band_key BIGINT, band_id INT, band_grp INT").parquet(out)
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      assert(ids == Set(5L, 6L), "marked layout accepts the matching-geometry append")
    } finally q2.stop()
  }

  test("streamed append onto a pre-v2 layout is refused untouched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.AnnIndex
    // a v1 dir-per-bucket layout is a store no current process writes:
    // the format guard refuses the streamed append with a rebuild message
    // instead of mixing partition grains, and touches no v1 file
    val g = AnnIndex.LshFloorGeom
    val out = java.nio.file.Files.createTempDirectory("lsh_v1_stream").toString
    val oldRows = Seq((5L, Seq(0.4, 0.1, -0.6, 0.2)))
    oldRows.toDF("vec_id", "v").transform(AnnIndex.bandify(_, g))
      .write.mode("append").partitionBy("band_id", "band_key").parquet(out)
    val mp = new org.apache.hadoop.fs.Path(out, "_graft_lsh_geom")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(mp, true)
    os.write(s"${g.bands} ${g.bandBits} ${g.seed}".getBytes("UTF-8")) // v1 marker
    os.close()
    def files(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(out)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString ->
          (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis)).toMap
      finally walk.close()
    }
    val before = files()
    val mem = MemoryStream[(Long, Seq[Double])]
    val ckpt = java.nio.file.Files.createTempDirectory("lsh_v1_stream_c").toString
    val q = Streams.lshIngestSink(mem.toDF().toDF("vec_id", "v"), out, ckpt).start()
    try {
      mem.addData((6L, Seq(0.2, 0.7, 0.1, -0.4)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(m => m.contains("rebuild") && m.contains(out)),
        s"the v1 layout must be refused with a rebuild message, got: ${messages(e)}")
    } finally q.stop()
    assert(files() == before, "a refused append must leave the v1 layout untouched")
    assert(AnnIndex.readLshMarkerFormat(spark, out).contains("v1"))
  }

  test("batch-built LSH index carries the geometry marker") {
    import spark.implicits._
    import graft.operators.AnnIndex
    val corpus = java.nio.file.Files.createTempDirectory("lsh_marked_corpus").toString
    (0L until 40L).map(i => (i, Seq.fill(4)(new scala.util.Random(i).nextGaussian())))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val ver = AnnIndex.corpusVersion(spark, corpus)
    val path = AnnIndex.ensureLsh(spark, corpus, ver)
    val expected = AnnIndex.lshGeom(spark, corpus, ver)
    assert(AnnIndex.readLshGeomMarker(spark, path).contains(expected),
      "ensureLsh must stamp its layout so streams pointed at it are guarded")
  }

  // ---------- r19 geometry-law parity: batch-built stores × streamed
  // ingesters under the r18 adaptive band law and the ann.pivots override
  // (r18 verdict #7: no silent geometry drift between batch-built and
  // stream-grown stores) ----------

  private def geomCorpus(label: String, n: Int = 2000, d: Int = 16): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    def unit(v: Array[Double]) = {
      val nn = math.sqrt(v.map(x => x * x).sum); v.map(_ / nn)
    }
    val centers = Seq.fill(40)(unit(Array.fill(d)(rnd.nextGaussian())))
    val corpus = java.nio.file.Files
      .createTempDirectory(s"geom_parity_$label").toString
    (0 until n).map { i =>
      (i.toLong, unit(centers(i % 40).map(_ + 0.1 * rnd.nextGaussian()))
        .map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    corpus
  }

  test("streamed LSH append bootstraps the batch store's ADAPTIVE-law marker; floor stream refused") {
    import spark.implicits._
    import graft.operators.AnnIndex
    implicit val sqlCtx = spark.sqlContext
    val corpus = geomCorpus("lsh")
    val root = java.nio.file.Files.createTempDirectory("geom_lsh_root").toString
    spark.conf.set("spark.graft.ann.indexRoot", s"$root/graft_ann")
    try {
      val ver = AnnIndex.corpusVersion(spark, corpus)
      val law = AnnIndex.lshGeom(spark, corpus, ver)
      assert(law.bandBits > AnnIndex.LshFloorGeom.bandBits,
        "fixture must band above the floor — the adaptive-law regime")
      val store = AnnIndex.ensureLsh(spark, corpus, ver)
      // restart protocol: the stream derives its geometry FROM THE MARKER
      // (not from a conf a deployment could get wrong)
      val marked = AnnIndex.readLshGeomMarker(spark, store)
      assert(marked.contains(law), s"batch store must carry the law marker, got $marked")
      val fresh = Seq((900001L, Seq.fill(16)(0.25)), (900002L, 0.1 +: Seq.fill(15)(-0.2)))
      val mem = MemoryStream[(Long, Seq[Double])]
      val ckpt = java.nio.file.Files.createTempDirectory("geom_lsh_c1").toString
      val q = Streams.lshIngestSink(
        mem.toDF().toDF("vec_id", "v"), store, ckpt, marked.get).start()
      try {
        mem.addData(fresh: _*)
        q.processAllAvailable()
      } finally q.stop()
      AnnIndex.invalidateResolved(store)
      // streamed rows landed in the buckets the LAW banding assigns —
      // probes of the grown store keep finding them
      val streamed = spark.read
        .schema("vec_id BIGINT, band_key BIGINT, band_id INT, band_grp INT")
        .parquet(store)
        .where(col("vec_id") >= 900000L)
        .select("vec_id", "band_id", "band_key")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val expected = AnnIndex.bandify(fresh.toDF("vec_id", "v"), law)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed == expected,
        "streamed rows must band under the marker's adaptive-law geometry")
      // a floor-geometry stream (the no-arg bootstrap default) on this
      // store must be REFUSED at first append — not silently band rows no
      // law-geometry probe can reach
      val mem2 = MemoryStream[(Long, Seq[Double])]
      val ckpt2 = java.nio.file.Files.createTempDirectory("geom_lsh_c2").toString
      val q2 = Streams.lshIngestSink(
        mem2.toDF().toDF("vec_id", "v"), store, ckpt2).start()
      try {
        mem2.addData((900003L, Seq.fill(16)(0.5)))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
        def messages(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
        assert(messages(e).exists(_.contains("banded under geometry")),
          s"floor stream on a law store must hit the marker guard: ${messages(e)}")
      } finally q2.stop()
    } finally {
      spark.conf.unset("spark.graft.ann.indexRoot")
    }
  }

  test("streamed IVF append at a non-default ann.pivots matches the batch store's cells; the override re-keys the store") {
    import spark.implicits._
    import graft.operators.AnnIndex
    import graft.sources.Tables
    implicit val sqlCtx = spark.sqlContext
    val corpus = geomCorpus("ivf")
    val root = java.nio.file.Files.createTempDirectory("geom_ivf_root").toString
    spark.conf.set("spark.graft.ann.indexRoot", s"$root/graft_ann")
    try {
      val ver = AnnIndex.corpusVersion(spark, corpus)
      val defaultStore = AnnIndex.ensureIvf(spark, corpus, ver)
      spark.conf.set("spark.graft.ann.pivots", "96")
      // 96 > TwoLevelMinPivots: the override pushes this corpus into the
      // two-level regime a default build never enters
      val store96 = AnnIndex.ensureIvf(spark, corpus, ver)
      assert(store96 != defaultStore,
        "the pivots override must re-key the store — THAT is the IVF " +
          "geometry guard (mismatched geometries cannot share a layout)")
      assert(AnnIndex.centroids(spark, corpus, ver).size == 96)
      // a restarted stream under the same override assigns fresh vectors
      // to exactly the cells the batch dispatch filed the corpus under
      val sample = Tables.embeddings(spark, corpus)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .where(col("vec_id") < 50).collect()
        .map(r => (r.getLong(0) + 900000L, r.getSeq[Double](1)))
      val mem = MemoryStream[(Long, Seq[Double])]
      val out = java.nio.file.Files.createTempDirectory("geom_ivf_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("geom_ivf_c").toString
      val q = Streams.annIngestSink(
        mem.toDF().toDF("vec_id", "v"),
        AnnIndex.hierCodebook(spark, corpus), out, ckpt).start()
      try {
        mem.addData(sample: _*)
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          r.getAs[Number]("cluster").longValue).toMap
      // the batch store's cells for the ORIGINAL twins of those vectors
      val batch = spark.read
        .schema("vec_id BIGINT, v ARRAY<DOUBLE>, cluster INT").parquet(store96)
        .where(col("vec_id") < 50).collect()
        .map(r => r.getLong(0) + 900000L -> r.getAs[Number]("cluster").longValue)
        .toMap
      assert(streamed == batch,
        "streamed cells under the override must equal the batch store's")
    } finally {
      spark.conf.unset("spark.graft.ann.pivots")
      spark.conf.unset("spark.graft.ann.indexRoot")
    }
  }

  test("int8 ingest is pivots-independent: same store path and bit-identical rows under the override") {
    import spark.implicits._
    import graft.operators.AnnIndex
    import graft.sources.Tables
    val corpus = geomCorpus("int8")
    val root = java.nio.file.Files.createTempDirectory("geom_int8_root").toString
    spark.conf.set("spark.graft.ann.indexRoot", s"$root/graft_ann")
    try {
      val ver = AnnIndex.corpusVersion(spark, corpus)
      val p1 = AnnIndex.ensureInt8(spark, corpus, ver)
      spark.conf.set("spark.graft.ann.pivots", "96")
      val p2 = AnnIndex.ensureInt8(spark, corpus, ver)
      // no trained state → no geometry to pin: the documented contract is
      // that ANY stream may append to ANY int8 layout, which is only safe
      // because the store identity ignores the codebook knobs entirely
      assert(p1 == p2, "int8 store identity must not fold the pivots knob")
      val vecs = Tables.embeddings(spark, corpus)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .where(col("vec_id") < 20)
      val rows = Streams.int8Ingest(vecs).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Byte](2))).toSet
      val batch = spark.read
        .schema("vec_id BIGINT, scale DOUBLE, qv ARRAY<TINYINT>").parquet(p1)
        .where(col("vec_id") < 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Byte](2))).toSet
      assert(rows == batch,
        "streamed int8 rows must be bit-identical to the batch store's")
    } finally {
      spark.conf.unset("spark.graft.ann.pivots")
      spark.conf.unset("spark.graft.ann.indexRoot")
    }
  }

  test("streaming shard ingest lands docs in the same shards as the batch writer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 40L).map(i => (i, s"doc $i body"))

    val mem = MemoryStream[(Long, String)]
    val out = java.nio.file.Files.createTempDirectory("shard_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("shard_ckpt").toString
    val q = Streams.shardIngestSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", out, ckpt).start()
    try {
      mem.addData(docs.take(25): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(25): _*) // later batch appends into the layout
      q.processAllAvailable()

      val streamed = spark.read
        .schema("doc_id BIGINT, text STRING, shard INT").parquet(out)
        .select("doc_id", "shard")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      // the batch assignment of the same docs must agree per doc — the
      // two ingestion paths grow one interchangeable layout
      val batch = graft.operators.Sampling
        .assignShards(docs.toDF("doc_id", "text"), "doc_id")
        .select("doc_id", "shard")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(streamed == batch,
        "streamed docs must land in the same shards as the batch writer")
      assert(streamed.size == docs.size)
      val parts = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("shard=")).map(_.getName)
      assert(parts.nonEmpty && parts.length <= graft.operators.Sampling.NShards)
    } finally q.stop()
  }

  test("enrichedStream labels events from the static runs dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val dim = Seq((7L, "exp-seven"), (8L, "exp-eight")).toDF("user_id", "run_name")
    val q = Streams.enrichedStream(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Event(1, ts(1704067200L), 7, "click", 1.0),
        Event(2, ts(1704067201L), 99, "view", 2.0)) // no dim row
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, run_name FROM enriched").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
      assert(rows(7L).contains("exp-seven"))
      assert(rows(99L).isEmpty) // left outer keeps unmatched events
    } finally q.stop()
  }

  test("fanout hands every micro-batch to the broadcast function") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val q = Streams.fanout(mem.toDF(), ckpt) { (batch, _) =>
      seen.addAndGet(batch.count())
    }.start()
    try {
      mem.addData(Event(1, ts(1704067200L), 1, "a", 1.0))
      q.processAllAvailable()
      mem.addData(Event(2, ts(1704067201L), 1, "b", 2.0),
        Event(3, ts(1704067202L), 2, "c", 3.0))
      q.processAllAvailable()
      assert(seen.get() == 3L)
    } finally q.stop()
  }

  test("stepAssigner numbers events per run in ts order across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.stepAssigner(spark, mem.toDS())
      .writeStream.format("memory").queryName("steps")
      .outputMode(OutputMode.Append()).start()
    try {
      val t0 = 1704067200L
      mem.addData(
        Event(10, ts(t0 + 5), 1, "a", 0.0),
        Event(11, ts(t0 + 1), 1, "b", 0.0),
        Event(20, ts(t0 + 2), 2, "c", 0.0))
      q.processAllAvailable()
      mem.addData(Event(12, ts(t0 + 9), 1, "d", 0.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, step FROM steps").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      // user 1: event 11 (earlier ts) -> 1, event 10 -> 2, then 12 -> 3
      assert(got(11L) == 1 && got(10L) == 2 && got(12L) == 3)
      // user 2 has its own counter
      assert(got(20L) == 1)
    } finally q.stop()
  }

  test("docFilterStream verdicts match the batch transform on the same docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "en", "short doc"), // under the 12-word floor
      (2L, "en", "the same gram the same gram the same gram the same gram " +
        "the same gram the same gram the same gram"), // repetitive
      (3L, "en", "a genuinely varied document with plenty of distinct words " +
        "covering many different topics and reaching past the length floor easily " +
        "because it keeps introducing fresh vocabulary throughout its span"))
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.docFilterStream(
        mem.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("docfilter")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM docfilter").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("reasons"), r.getAs[Boolean]("keep"))).toMap
      val batch = graft.operators.TextAnalysis.filterVerdicts(
          docs.toDF("doc_id", "lang", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("reasons"), r.getAs[Boolean]("keep"))).toMap
      assert(streamed == batch, "stream and batch must agree verdict-for-verdict")
      assert(!streamed(1L)._2 && streamed(1L)._1.contains("too_short"))
      assert(!streamed(2L)._2 && streamed(2L)._1.contains("repetitive"))
      assert(streamed(3L)._2, "the varied doc must be kept")
    } finally q.stop()
  }
}
