package graft

import java.nio.file.Files
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.sources.PlanCache

/** The prepared-plan cache's contract (r18): reuse the BUILT plan,
  * re-run the EXECUTION, rebuild on mutation or build-time conf change.
  */
class PlanCacheSpec extends SparkSpec {

  private def builds(prefix: String): Int = {
    import scala.jdk.CollectionConverters._
    PlanCache.buildLog.iterator().asScala.count(_.startsWith(prefix))
  }

  test("repeat calls reuse one build; execution stays per-call") {
    val dir = Files.createTempDirectory("plancache").toString
    import spark.implicits._
    (1L to 50L).map(i => (i, s"u$i")).toDF("id", "name")
      .write.parquet(s"$dir/events.parquet")
    val jobs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()
    })
    def q() = PlanCache.cached(spark, "qpc_reuse", dir) {
      spark.read.parquet(s"$dir/events.parquet").groupBy().count()
    }
    assert(q().head().getLong(0) == 50L)
    val b1 = builds("qpc_reuse|")
    // a cached call returns a FRESH Dataset (new QueryExecution — the
    // result-cache line: AQE materialized stages must not be served)
    val d1 = q(); val d2 = q()
    assert(d1 ne d2)
    assert(d1.queryExecution ne d2.queryExecution)
    assert(builds("qpc_reuse|") == b1, "no rebuild on repeat call")
    // and the repeat call still RUNS jobs — reused plan, real execution.
    // The listener bus is async: drain it deterministically before each
    // delta read (fixed sleeps flake on a loaded host — r18 ADVICE)
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    val j0 = jobs.sum
    assert(d2.head().getLong(0) == 50L)
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    assert(jobs.sum > j0, "a cache hit must still execute jobs")
  }

  test("external mutation rebuilds; conf flip keys a sibling plan without thrash") {
    val dir = Files.createTempDirectory("plancache_mut").toString
    import spark.implicits._
    (1L to 10L).map(i => (i, s"u$i")).toDF("id", "name")
      .write.parquet(s"$dir/events.parquet")
    def q() = PlanCache.cached(spark, "qpc_mut", dir) {
      spark.read.parquet(s"$dir/events.parquet").agg(count(lit(1)).as("n"))
    }
    assert(q().head().getLong(0) == 10L)
    // EXTERNAL append (no engine write path, no invalidate call): the
    // fingerprint key must detect it and the rebuilt plan must read the
    // post-mutation file set — the ArtifactMatrixSpec class of staleness
    (11L to 15L).map(i => (i, s"u$i")).toDF("id", "name")
      .write.mode("append").parquet(s"$dir/events.parquet")
    assert(q().head().getLong(0) == 15L, "mutated dir must serve fresh rows")
    // conf signature: a spark.graft.* flip serves a DIFFERENT plan slot;
    // flipping back reuses the original (no rebuild thrash)
    val before = builds("qpc_mut|")
    spark.conf.set("spark.graft.spec.knob", "a")
    try {
      q(); val afterA = builds("qpc_mut|")
      assert(afterA == before + 1, "conf flip keys a sibling plan")
      spark.conf.unset("spark.graft.spec.knob")
      q()
      assert(builds("qpc_mut|") == afterA, "flip-back reuses the resident plan")
      spark.conf.set("spark.graft.spec.knob", "a")
      q()
      assert(builds("qpc_mut|") == afterA, "both conf variants stay resident")
    } finally spark.conf.unset("spark.graft.spec.knob")
  }

  test("conf signature is collision-proof: equal-hashCode conf states build separately") {
    // "Aa" and "BB" have identical String.hashCode contributions at any
    // offset, so the two FULL conf strings below collide under the old
    // 32-bit signature (r18 ADVICE + verdict ask #6) — the string-keyed
    // signature must keep them apart
    assert("Aa".hashCode == "BB".hashCode, "fixture premise")
    val dir = Files.createTempDirectory("plancache_coll").toString
    import spark.implicits._
    Seq((1L, "x")).toDF("id", "name").write.parquet(s"$dir/events.parquet")
    def q() = PlanCache.cached(spark, "qpc_coll", dir) {
      spark.read.parquet(s"$dir/events.parquet").select("id")
    }
    try {
      spark.conf.set("spark.graft.spec.knob", "Aa")
      q(); val afterAa = builds("qpc_coll|")
      spark.conf.set("spark.graft.spec.knob", "BB")
      q()
      assert(builds("qpc_coll|") == afterAa + 1,
        "equal-hashCode conf states must key separate plans")
    } finally spark.conf.unset("spark.graft.spec.knob")
  }

  test("conf signature is injective: a ';k=v' smuggled inside a value keys apart") {
    // Under a naive `k=v` join with ';', state A {a -> "1;...b=2"} and
    // state B {a -> "1", b -> "2"} render the SAME signature string —
    // the r19 ADVICE hole. Length-prefixed pairs must keep them apart.
    val dir = Files.createTempDirectory("plancache_inj").toString
    import spark.implicits._
    Seq((1L, "x")).toDF("id", "name").write.parquet(s"$dir/events.parquet")
    def q() = PlanCache.cached(spark, "qpc_inj", dir) {
      spark.read.parquet(s"$dir/events.parquet").select("id")
    }
    try {
      spark.conf.set("spark.graft.spec.a", "1;spark.graft.spec.b=2")
      q(); val afterSmuggled = builds("qpc_inj|")
      spark.conf.unset("spark.graft.spec.a")
      spark.conf.set("spark.graft.spec.a", "1")
      spark.conf.set("spark.graft.spec.b", "2")
      q()
      assert(builds("qpc_inj|") == afterSmuggled + 1,
        "a value embedding ';k=v' must not collide with the split conf state")
    } finally {
      spark.conf.unset("spark.graft.spec.a")
      spark.conf.unset("spark.graft.spec.b")
    }
  }

  test("analysis-time SQL confs key the plan: a timezone flip rebuilds") {
    // Catalyst's ResolveTimeZone stamps spark.sql.session.timeZone into
    // the ANALYZED plan, which is exactly what this cache stores — a
    // mid-session flip must serve a re-analyzed plan, not stale
    // semantics (r18 ADVICE medium; q_sessionize/q_asof_align class)
    val dir = Files.createTempDirectory("plancache_tz").toString
    import spark.implicits._
    Seq((1L, "2024-01-01 00:30:00")).toDF("id", "ts_s")
      .write.parquet(s"$dir/events.parquet")
    def q() = PlanCache.cached(spark, "qpc_tz", dir) {
      spark.read.parquet(s"$dir/events.parquet")
        .select(hour(to_timestamp(col("ts_s"))).as("h"))
    }
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(q().head().getInt(0) == 0)
      val b = builds("qpc_tz|")
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // the flipped-tz call must BUILD a sibling plan and parse the wall
      // string in the new zone (hour is zone-stable for a wall-clock
      // parse; the rebuild itself is the semantics gate)
      assert(q().head().getInt(0) == 0)
      assert(builds("qpc_tz|") == b + 1, "timezone flip must re-analyze")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      q()
      assert(builds("qpc_tz|") == b + 1, "flip-back reuses the resident plan")
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
  }

  test("spark.graft.planCache=false bypasses the cache") {
    val dir = Files.createTempDirectory("plancache_off").toString
    import spark.implicits._
    Seq((1L, "x")).toDF("id", "name").write.parquet(s"$dir/events.parquet")
    spark.conf.set("spark.graft.planCache", "false")
    try {
      def q() = PlanCache.cached(spark, "qpc_off", dir) {
        spark.read.parquet(s"$dir/events.parquet").select("id")
      }
      q(); q()
      assert(builds("qpc_off|") == 0, "disabled cache must not log builds")
    } finally spark.conf.unset("spark.graft.planCache")
  }

  test("registry round-trip: a mutated corpus serves fresh results through queries()") {
    // end-to-end through SparkEntry (the wrapper every driver surface
    // uses): q_filter_eq over a scratch copy, then append matching rows
    // — the cached plan must NOT pin the old listing
    val tmp = Files.createTempDirectory("plancache_reg").toString
    // q_filter_eq reads ORDERS — that is the table whose mutation must
    // surface through the cached plan
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    src.write.parquet(s"$tmp/orders.parquet")
    graft.sources.Tables.all.filterNot(_ == "orders").foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .write.parquet(s"$tmp/$t.parquet")
    }
    val fn = SparkEntry.queries("q_filter_eq")
    val n1 = fn(spark, tmp).count()
    // duplicate the whole table: the deterministic filter must match
    // exactly twice as many rows through the post-mutation plan
    src.write.mode("append").parquet(s"$tmp/orders.parquet")
    val n2 = fn(spark, tmp).count()
    assert(n1 > 0 && n2 == 2 * n1,
      s"appended rows invisible through the plan cache: $n1 -> $n2")
  }
}
