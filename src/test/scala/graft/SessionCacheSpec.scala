package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.operators.AnnIndex
import graft.sources.{PlanCache, SessionCache, Tables}

/** SessionCache contract: hit on unchanged data, rebuild when the input
  * directory's file listing changes (the ADVICE-flagged staleness hole),
  * eager drop via invalidate — and the one store's contract, table-driven
  * over the three kinds of entry it holds (a checkpointed frame, a driver
  * value, a prepared plan).
  */
class SessionCacheSpec extends SparkSpec {

  private val builds = TrieMap.empty[String, AtomicInteger]
  private def built(name: String): Int = builds.get(name).fold(0)(_.get)

  /** One kind of store entry: `touch(dir, name, inner)` memoizes a value
    * for `dir` under `name`, counting its builds and running `inner`
    * inside the build. */
  private case class Family(label: String, touch: (String, String, () => Unit) => Any)

  private def counted(name: String, inner: () => Unit): Unit = {
    builds.getOrElseUpdate(name, new AtomicInteger).incrementAndGet()
    inner()
  }

  private val families = Seq(
    Family("frame", (dir, name, inner) =>
      SessionCache.cached(spark, name, dir) {
        counted(name, inner); spark.read.parquet(s"$dir/t.parquet")
      }),
    Family("value", (dir, name, inner) =>
      SessionCache.memo(spark, dir, SessionCache.dirFingerprint(spark, dir), name) {
        counted(name, inner); 42L
      }),
    Family("plan", (dir, name, inner) =>
      PlanCache.cached(spark, name, dir) {
        counted(name, inner); spark.read.parquet(s"$dir/t.parquet").select("x")
      }))

  private def corpus(prefix: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(prefix).toString
    Seq(1, 2, 3).toDF("x").write.parquet(s"$dir/t.parquet")
    Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)), (2L, Seq(0.6f, 0.8f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("store: 8 concurrent first touches run the build once, for every family") {
    families.foreach { f =>
      val dir = corpus(s"sc-race-${f.label}")
      val name = s"sc_race_${f.label}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val calls = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[Any] {
        def call(): Any = f.touch(dir, name, () => Thread.sleep(50))
      }))
      pool.shutdown()
      calls.foreach(_.get())
      assert(built(name) == 1, s"${f.label}: build ran ${built(name)} times under 8-way first touch")
    }
  }

  test("store: a build may memo another name on the same dir, for every family") {
    families.foreach { f =>
      val dir = corpus(s"sc-nested-${f.label}")
      val outer = s"sc_outer_${f.label}"
      val inner = s"${outer}_inner"
      def innerValue(): Long = SessionCache.memo(
        spark, dir, SessionCache.dirFingerprint(spark, dir), inner) {
        counted(inner, () => ()); 7L
      }
      f.touch(dir, outer, () => assert(innerValue() == 7L))
      f.touch(dir, outer, () => ())
      assert(innerValue() == 7L)
      assert(built(outer) == 1 && built(inner) == 1,
        s"${f.label}: nested builds must each run once (outer=${built(outer)} inner=${built(inner)})")
    }
  }

  test("store: a new version replaces the entry and invalidates the catalog for that dir") {
    import spark.implicits._
    families.foreach { f =>
      val dir = corpus(s"sc-version-${f.label}")
      val name = s"sc_version_${f.label}"
      f.touch(dir, name, () => ())
      val resolved = Tables(spark, dir, "t")
      val size0 = SessionCache.size
      Seq(4).toDF("x").write.mode("append").parquet(s"$dir/t.parquet")
      f.touch(dir, name, () => ())
      assert(built(name) == 2, s"${f.label}: a new version must rebuild")
      assert(SessionCache.size == size0, s"${f.label}: the new version must REPLACE the entry")
      assert(Tables(spark, dir, "t") ne resolved,
        s"${f.label}: replacing a version must drop the catalog's pinned listing")
      assert(Tables(spark, dir, "t").count() == 4)
    }
  }

  test("store: the bound evicts the oldest entry, never the one just inserted") {
    families.foreach { f =>
      SessionCache.clear()
      val dir = corpus(s"sc-bound-${f.label}")
      val filler = s"$dir/filler"
      val (oldest, newest) = (s"sc_oldest_${f.label}", s"sc_newest_${f.label}")
      f.touch(dir, oldest, () => ())
      (1 until SessionCache.MaxEntries).foreach(i =>
        SessionCache.memo(spark, filler, "v", s"fill_$i")(i))
      assert(SessionCache.size == SessionCache.MaxEntries)
      f.touch(dir, newest, () => ())
      assert(SessionCache.size == SessionCache.MaxEntries, "the bound must hold")
      f.touch(dir, newest, () => ())
      assert(built(newest) == 1, s"${f.label}: the entry just inserted must survive the bound")
      assert(SessionCache.peek[Int](spark, "fill_1", filler, "v").contains(1))
      f.touch(dir, oldest, () => ())
      assert(built(oldest) == 2, s"${f.label}: the oldest entry must be the one evicted")
      SessionCache.invalidate(filler)
    }
  }

  test("store: invalidate(dir) releases every family, corpus counts and codebooks included") {
    val dir = corpus("sc-release")
    val ver = SessionCache.dirFingerprint(spark, dir)
    val jobs = new LongAdder
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()
    }
    spark.sparkContext.addSparkListener(listener)
    // jobs started by one call, read after draining the async bus
    def jobsOf(body: => Any): Long = {
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      val j0 = jobs.sum
      body
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      jobs.sum - j0
    }
    try {
      families.foreach(f => f.touch(dir, s"sc_release_${f.label}", () => ()))
      AnnIndex.centroids(spark, dir, ver)
      assert(jobsOf(AnnIndex.corpusCount(spark, dir, ver)) == 0, "warm count must hit")
      assert(AnnIndex.peekAssignTag(spark, dir, ver).isDefined)

      SessionCache.invalidate(dir)

      assert(jobsOf(AnnIndex.corpusCount(spark, dir, ver)) > 0,
        "invalidate must release the corpus count: the recount runs its job")
      assert(AnnIndex.peekAssignTag(spark, dir, ver).isEmpty,
        "invalidate must release the codebook")
      families.foreach { f =>
        val name = s"sc_release_${f.label}"
        f.touch(dir, name, () => ())
        assert(built(name) == 2, s"${f.label}: invalidate must release the entry")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("cache hits on unchanged data, rebuilds on append, drops on invalidate") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sc-spec").toString
    Seq(1, 2, 3).toDF("x").write.mode("overwrite").parquet(s"$dir/t")

    var builds = 0
    def artifact() = SessionCache.cached(spark, "sc_spec_artifact", dir) {
      builds += 1
      spark.read.parquet(s"$dir/t")
    }

    assert(artifact().count() == 3)
    assert(artifact().count() == 3)
    assert(builds == 1, "second probe of unchanged data must hit")

    // appending writes NEW files — the listing fingerprint changes even
    // within mtime resolution, so the stale artifact must not be served
    Seq(4, 5).toDF("x").write.mode("append").parquet(s"$dir/t")
    assert(artifact().count() == 5, "append must be visible after rebuild")
    assert(builds == 2, "changed data must rebuild")

    SessionCache.invalidate(dir)
    assert(artifact().count() == 5)
    assert(builds == 3, "invalidate must force the next probe to rebuild")
  }

  test("cachedBoundedBarrier: shared under the ceiling, transient past it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sc-barrier").toString
    Seq(1, 2, 3).toDF("x").write.mode("overwrite").parquet(s"$dir/t")
    val fp = SessionCache.dirFingerprint(spark, dir)
    var builds = 0
    def artifact(rows: Long) =
      SessionCache.cachedBoundedBarrier(spark, "sc_barrier_art", dir, fp, rows) {
        builds += 1
        spark.read.parquet(s"$dir/t")
      }
    try {
      spark.conf.set("spark.graft.artifact.maxRows", "10")
      // under the ceiling: registered — repeat probes share one build
      assert(artifact(rows = 3).count() == 3)
      assert(artifact(rows = 3).count() == 3)
      assert(builds == 1, "under-ceiling probes must share one registered build")
      // past the ceiling: each probe materializes its OWN transient
      // checkpoint (barrier holds: the returned frame is a leaf, the
      // build ran), and the previously registered generation is released
      val t = artifact(rows = 11)
      assert(builds == 2, "over-ceiling probe must run its own transient build")
      assert(t.count() == 3)
      assert(t.queryExecution.executedPlan.toString.contains("ExistingRDD"),
        "transient fallback must still be a checkpoint barrier")
      artifact(rows = 11)
      assert(builds == 3, "transient builds are per-probe, never registered")
      // dropping back under the ceiling re-registers
      assert(artifact(rows = 3).count() == 3)
      assert(artifact(rows = 3).count() == 3)
      assert(builds == 4, "returning under the ceiling must cache again")
    } finally spark.conf.unset("spark.graft.artifact.maxRows")
  }

  test("artifact builds may nest (a build probing another artifact)") {
    // the real dependency shape: nearDupLabels' build probes the
    // minhash-pair artifact inside its own build. Under the old
    // computeIfAbsent-wrapped build this pattern could throw
    // IllegalStateException("Recursive update") when the inner insert hit
    // a resizing bin; the get-then-putIfAbsent form must always succeed,
    // and both levels must cache. Many keys so at least one run crosses
    // the map's resize threshold.
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("sc-nest").toString
    Seq(1, 2, 3).toDF("x").write.mode("overwrite").parquet(s"$dir/t")
    var inner = 0
    var outer = 0
    (1 to 24).foreach { i =>
      def leaf() = SessionCache.cached(spark, s"sc_nest_leaf_$i", dir) {
        inner += 1
        spark.read.parquet(s"$dir/t")
      }
      val composed = SessionCache.cached(spark, s"sc_nest_outer_$i", dir) {
        outer += 1
        leaf().select(org.apache.spark.sql.functions.col("x") * 2 as "y")
      }
      assert(composed.count() == 3)
      assert(leaf().count() == 3)
    }
    assert(inner == 24 && outer == 24,
      s"each level must build exactly once per key (inner=$inner outer=$outer)")
  }

  test("sqlRef view names are collision-free across dirs (SHA suffix, not hashCode)") {
    // "Aa" and "BB" share a String.hashCode — under the old
    // Integer.toHexString(d.hashCode) suffix these two dirs mapped to the
    // SAME temp-view name, silently aliasing each other's corpus in one
    // session (the r11/r13 string-collision bug class).
    val base = java.nio.file.Files.createTempDirectory("graft_sqlref")
    val dirs = Seq("Aa", "BB").map { leaf =>
      val d = base.resolve(leaf)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sf, "region.parquet"),
        d.resolve("region.parquet"))
      d.toString
    }
    assert(dirs(0).hashCode == dirs(1).hashCode,
      "test premise: the two dirs must collide on String.hashCode")
    val views = dirs.map(d => graft.sources.Tables.sqlRef(spark, d, "region"))
    assert(views.distinct.size == 2,
      s"colliding dirs must get distinct view names, got $views")
    // and each view serves ITS dir's plan, not the other's
    views.foreach(v => assert(spark.table(v).count() == 5))
  }

  test("candidatePool: one compute under concurrent first touch; conf tag isolates; mutation evicts") {
    import graft.operators.AnnIndex
    val dir = java.nio.file.Files.createTempDirectory("pool_spec").toString
    // a real (tiny) corpus so Tables.invalidate on supersede has a target
    import spark.implicits._
    Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    def pool(tag: String, ver: String): Seq[(Long, Long)] =
      AnnIndex.candidatePool(spark, dir, tag, ver) {
        computes.incrementAndGet()
        Thread.sleep(50) // widen the first-touch race window
        Seq((0L, 1L))
      }
    // 8 threads race the same key: the lazy-holder latch must run the
    // compute exactly once (the capHistRows ADVICE class - and the
    // compute must NOT run under the map's bin lock, or unrelated keys
    // would serialize behind it)
    val pool8 = java.util.concurrent.Executors.newFixedThreadPool(8)
    val results = (1 to 8).map(_ => pool8.submit(
      new java.util.concurrent.Callable[Seq[(Long, Long)]] {
        def call(): Seq[(Long, Long)] = pool("t1", "v1")
      }))
    pool8.shutdown()
    assert(results.map(_.get()).forall(_ == Seq((0L, 1L))))
    assert(computes.get() == 1, s"compute ran ${computes.get()} times under 8-way first touch")
    // a different conf tag is a different pool
    pool("t2", "v1"); assert(computes.get() == 2)
    // a new corpus version supersedes the same tag's entry (rebuild), and
    // the superseded generation is gone - re-asking for v1 recomputes
    pool("t1", "v2"); assert(computes.get() == 3)
    pool("t1", "v2"); assert(computes.get() == 3, "same version must hit")
    pool("t1", "v1"); assert(computes.get() == 4,
      "superseded version must have been evicted, not served")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compacted: AQE-sized artifact exchange; no-op with AQE off (r22, ADVICE #3)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sc-compact").toString
    val par = spark.sparkContext.defaultParallelism
    // a map-only build inheriting a wide spread — the shape whose
    // checkpoint pins `par` blocks without compaction
    def build() = spark.range(0, 1000, 1, par).select(
      $"id".as("k"), ($"id" * 2).as("v"))
    val fp = "v1"
    val plain = SessionCache.cached(spark, "sc_cmp_plain", dir, fp)(build())
    assert(plain.rdd.getNumPartitions == par,
      s"uncompacted checkpoint must keep the $par input splits")
    val compact = SessionCache.cached(spark, "sc_cmp_keyed", dir, fp)(
      SessionCache.compacted(build(), Seq("k")))
    assert(compact.rdd.getNumPartitions < par,
      s"AQE must size the compacted exchange below $par at fixture bytes, " +
        s"got ${compact.rdd.getNumPartitions}")
    // identical rows either way — compaction is layout-only
    assert(compact.exceptAll(plain).isEmpty && plain.exceptAll(compact).isEmpty)
    // with AQE off the count-free repartition would fall back to
    // spark.sql.shuffle.partitions — compacted() must decline instead
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val declined = SessionCache.compacted(build(), Seq("k"))
      assert(!declined.queryExecution.logical.toString.contains("RepartitionByExpression"),
        "AQE off must return the build unchanged (no repartition node)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
