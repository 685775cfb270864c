package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped PREPARED-PLAN cache for the query registry (r17
  * verdict #1, "session-level plan reuse"): ~13% of the warm suite wall
  * is per-call DataFrame construction + analysis (DevFloorDecomp r18:
  * build 1.47 s + physical 0.74 s of a 17.0 s contended pass — the same
  * split a service pays on every request for a query it has served
  * before). A real engine prepares a statement once; this is that, with
  * Spark-native staleness semantics.
  *
  * What is reused: the BUILT, ANALYZED DataFrame — the query method's
  * Scala plan assembly, artifact-cache probes, driver-math literal
  * derivation (probe predicates, codebook LUTs), and Catalyst analysis.
  *
  * What is NOT reused — the honesty line: every call returns
  * `cached.select("*")`, a NEW Dataset over the cached logical plan, so
  * optimization, physical planning, AQE, and EXECUTION run fresh — new
  * exchange instances, new shuffle IDs, no materialized-stage reuse. A
  * bench lap over the cache measures real execution, not a result
  * cache. (Re-executing the SAME Dataset object would silently serve
  * AQE's materialized shuffle stages — measured in DevJobFloor as the
  * "reused-frame" row — which is a result cache and is exactly what
  * this class exists to avoid.)
  *
  * Staleness, same contract as [[Tables]] (Spark's REFRESH TABLE
  * semantics) but DETECTED, not declared: the key folds in
  *  - the corpus-dir fingerprint ([[SessionCache.dirFingerprint]] —
  *    one metadata listing, measured 0.7–0.9 ms on local FS; on an
  *    object store this is the same class of listing any staleness
  *    check pays), so external appends/overwrites rebuild the plan,
  *    and a superseded fingerprint invalidates [[Tables]]' pinned
  *    listings for the dir;
  *  - a conf signature over every `spark.graft.*` entry plus the
  *    spark.sql confs that bind BEFORE execution: at build time
  *    (`spark.sql.autoBroadcastJoinThreshold`, read by
  *    `Present.fitsBroadcast`) or at ANALYSIS time — Catalyst resolves
  *    `spark.sql.session.timeZone` (ResolveTimeZone stamps it into
  *    timestamp expressions), `spark.sql.ansi.enabled`, and
  *    `spark.sql.caseSensitive` into the analyzed plan, so a cached
  *    plan pins them; folding them into the key means a mid-session
  *    flip serves the other plan, never stale semantics (r18 ADVICE:
  *    q_sessionize/q_asof_align are timezone-sensitive). Optimizer/
  *    AQE confs bind at execution and need no key: execution is fresh.
  *    The signature is the FULL sorted conf string, not a hash — a
  *    32-bit hashCode collision between two conf states would silently
  *    serve the wrong plan (the same reason AnnIndex.dirFamily rejects
  *    String.hashCode for key identity); keys are bounded by the
  *    store's [[SessionCache.MaxEntries]], so the longer string costs
  *    nothing that matters.
  *
  * An entry of the [[SessionCache.memo]] store, named by the query and
  * the conf signature and versioned by the corpus fingerprint: keyed by
  * session identity, built once under concurrency, replaced (with the
  * catalog's listings invalidated) when the fingerprint moves. Disable
  * with `spark.graft.planCache=false` (the A/B lever — BASELINE.md
  * carries the measured delta).
  */
object PlanCache {
  /** Diagnostic build counter (specs): builds, not hits. */
  private[graft] val buildLog = ConcurrentHashMap.newKeySet[String]()

  /** Injective pair encoding: length-prefix both key and value so no
    * value containing ';'/'=' can make two distinct conf states collide
    * (escaping would work too; length prefixes are simpler to prove).
    */
  private def pair(k: String, v: String): String =
    s"${k.length}:$k=${v.length}:$v"

  private def confSignature(spark: SparkSession): String = {
    val graft = spark.conf.getAll.iterator
      .filter { case (k, _) => k.startsWith("spark.graft.") }
      .toSeq.sortBy(_._1).map { case (k, v) => pair(k, v) }
    val sqlState = spark.sessionState.conf
    // build-time + analysis-time SQL confs the cached plan pins (see
    // scaladoc); full string, never a hash — collisions must be impossible
    (graft :+
      pair("bc", sqlState.autoBroadcastJoinThreshold.toString) :+
      pair("tz", sqlState.sessionLocalTimeZone) :+
      pair("ansi", sqlState.ansiEnabled.toString) :+
      pair("case", sqlState.caseSensitiveAnalysis.toString)).mkString(";")
  }

  def enabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.planCache", "true").toBoolean

  def cached(spark: SparkSession, name: String, dir: String)
      (build: => DataFrame): DataFrame = {
    if (!enabled(spark)) return build
    val fp = SessionCache.dirFingerprint(spark, dir)
    // Same-fingerprint plans under OTHER conf signatures are other names,
    // so they stay resident: a knob flip-flop (a spec A/B, a service
    // serving both profile modes) must not thrash the cache.
    val sig = confSignature(spark)
    SessionCache.memo(spark, dir, fp, s"plan|$name|$sig") {
      if (buildLog.size > 16384) buildLog.clear()
      buildLog.add(s"$name|$dir|$fp|$sig") // conf-variant builds count apart
      build
    }.select("*") // fresh Dataset per call: reuse the PLAN, re-run the EXECUTION
  }
}
