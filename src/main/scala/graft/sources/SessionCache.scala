package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped materialized intermediates (SURVEY.md §6 — exchange
  * reuse across *queries*, which Spark's per-plan ReuseExchange cannot do).
  *
  * Some artifacts are derived once per corpus and probed by many queries:
  * language-ID bigram profiles, the verified near-dup edge set shared by
  * `q_dedup_minhash` and `q_dedup_clusters`, the simhash fingerprint frame.
  * Recomputing them per call multiplies the dominant stage of each query.
  *
  * ONE store holds every derived value of the engine ([[memo]]): these
  * checkpointed frames, the prepared plans ([[PlanCache]]), and the
  * driver values the operators derive per corpus version (row counts,
  * codebooks, pivot groups, query bands/vectors, candidate pools,
  * on-disk index ensures and their resolved frames). One key, one
  * supersession rule, one bound, one lifecycle listener.
  *
  * Frame artifacts ([[cached]]) are materialized with an eager
  * `localCheckpoint`:
  *   - truncates lineage, so iterative consumers (label propagation) don't
  *     re-trigger the producing job — and acts as a PUSHDOWN BARRIER:
  *     nothing downstream can be rewritten below the artifact's compute;
  *   - stores blocks on the executors — no driver collect, no local-FS
  *     checkpoint dir needed;
  *   - is session-tied, which the key mirrors, so a new session never sees
  *     another session's blocks.
  *
  * Staleness: each entry carries the version it was derived from — for
  * artifacts a fingerprint of the input directory's file listing (paths,
  * sizes, mtimes — one metadata listing, no data I/O), so data appended
  * to the same dir within a session gets a fresh artifact instead of
  * silently serving stale dedup/langid results. `invalidate` drops a
  * dir's entries eagerly for write paths that want to reclaim the blocks
  * immediately. Lifecycle: a SparkListener evicts a session's entries on
  * application end, and [[MaxEntries]] bounds the store under session
  * churn.
  *
  * On a long-lived 1000-executor service this is the "profile store": train
  * once, serve many. Size discipline: only frames that are orders of
  * magnitude smaller than the corpus (profiles, edge lists, fingerprints)
  * belong here.
  */
object SessionCache {
  /** Lazy build holder: the store publishes the UNEVALUATED holder, so
    * exactly one thread (the first `get` caller) runs the build — outside
    * any map lock, which keeps NESTED builds legal (the near-dup label
    * artifact builds the minhash-pair artifact inside its own build;
    * `computeIfAbsent` forbids that reentrant insert) and keeps a Spark
    * job from holding a map bin lock for its whole length, while closing
    * the first-touch race where two concurrent queries both ran the build
    * and the loser's eager checkpoint blocks stayed pinned until GC +
    * ContextCleaner. `ready` lets [[peek]] stay non-building.
    */
  private final class Memo(build: () => Any) {
    @volatile private[this] var ready = false
    lazy val get: Any = { val v = build(); ready = true; v }
    def peek: Option[Any] = if (ready) Some(get) else None
  }

  /** One store entry: the version its value was derived from, its
    * insertion tick (the bound's eviction order), and the holder. */
  private final class Entry(val version: String, val tick: Long, val memo: Memo)

  /** (session identity, dir, name). Session identity is applicationId +
    * identityHashCode of the session object: localCheckpoint blocks live
    * on the session's executors, so a different/new session must never
    * hit. Known trade-off (here and in Tables.resolved): identityHashCode
    * is 32-bit and could in principle collide between a live session and
    * a GC'd one under the same applicationId — accepted because a
    * collision needs both hash equality AND appId equality.
    */
  private type Key = (String, String, String)

  private val store = new ConcurrentHashMap[Key, Entry]()
  private val ticks = new java.util.concurrent.atomic.AtomicLong()
  private val hooked = ConcurrentHashMap.newKeySet[String]()

  /** The store's one size bound: past it the OLDEST entry (lowest
    * insertion tick) is evicted, never the one just inserted. An evicted
    * entry costs one rebuild on its next touch, never a wrong answer.
    * A cold pass over all 64 curation queries at sf0.1 leaves 122
    * entries (64 of them plans), so the benchmark never evicts.
    */
  private[graft] val MaxEntries = 4096

  /** Diagnostic ledger of artifact BUILDS (not hits): one
    * `artifact|dir|fingerprint` entry per executed [[cached]] build.
    * Powers the table-driven mutation-pin matrix (ArtifactMatrixSpec):
    * after a corpus mutation, every inventoried artifact family must log
    * a build under the NEW fingerprint, and every logged name must match
    * an inventoried family — a new `cached` call site without a
    * SCALING.md row + matrix pin fails the spec loudly. Bounded: one
    * small string per build; cleared when it outgrows any plausible
    * session (builds are once per corpus version per artifact).
    */
  private[graft] val buildLog = ConcurrentHashMap.newKeySet[String]()

  private def sessionKey(spark: SparkSession): String =
    s"${spark.sparkContext.applicationId}/${System.identityHashCode(spark)}"

  /** The session memo every derived artifact goes through: one entry per
    * (session, `dir`, `name`) holding the value derived from `dir` at
    * `version` (a corpus fingerprint, an index version). Variants of one
    * family — a conf signature, k, a tag, a vec id — go into `name`.
    *  - hit (same version): the stored value, no scan;
    *  - miss or new version: the entry is REPLACED, and replacing another
    *    version means the directory mutated, so the catalog's pinned file
    *    listing for it is invalidated ([[Tables.invalidate]]) before the
    *    build can read it;
    *  - the build runs once, outside every map lock (see [[Memo]]).
    * Dropping the map reference is the release mechanism for
    * checkpointed frames: Spark's ContextCleaner unpersists RDD blocks
    * whose references are garbage-collected.
    */
  def memo[T](spark: SparkSession, dir: String, version: String, name: String)
      (build: => T): T =
    entry(spark, dir, version, name)(build).memo.get.asInstanceOf[T]

  private def entry(spark: SparkSession, dir: String, version: String,
                    name: String)(build: => Any): Entry = {
    val key = (sessionKey(spark), dir, name)
    val cur = store.get(key)
    if (cur != null && cur.version == version) cur
    else {
      hook(spark)
      var inserted = false
      // the remapping function only constructs the unevaluated holder
      // (and drops a pinned listing), so no build ever runs under the lock
      val e = store.compute(key, (_, old) =>
        if (old != null && old.version == version) old
        else {
          if (old != null) Tables.invalidate(dir)
          inserted = true
          new Entry(version, ticks.incrementAndGet(), new Memo(() => build))
        })
      if (inserted && store.size > MaxEntries) evictOldest(key)
      e
    }
  }

  /** As [[memo]] for a SET of names whose misses are fetched together:
    * every miss is registered (and any superseded version invalidated)
    * first, then the first holder evaluated runs `fetch` ONCE over all
    * the misses — one bounded job instead of one per name.
    */
  private[graft] def memoAll[T](
      spark: SparkSession, dir: String, version: String, names: Seq[String])(
      fetch: Seq[String] => Map[String, T]): Map[String, T] = {
    val distinct = names.distinct
    val missing = distinct.filterNot(n => peek[T](spark, n, dir, version).isDefined)
    lazy val fetched = fetch(missing)
    val entries = distinct.map(n => n -> entry(spark, dir, version, n)(fetched(n)))
    entries.map { case (n, e) => n -> e.memo.get.asInstanceOf[T] }.toMap
  }

  private def evictOldest(keep: Key): Unit =
    while (store.size > MaxEntries) {
      var oldest: java.util.Map.Entry[Key, Entry] = null
      store.entrySet.forEach { e =>
        if (e.getKey != keep && (oldest == null || e.getValue.tick < oldest.getValue.tick))
          oldest = e
      }
      if (oldest == null) return
      store.remove(oldest.getKey, oldest.getValue)
    }

  // ONE listener per application: a per-session listener on the shared
  // bus would accumulate without bound under newSession() churn
  private def hook(spark: SparkSession): Unit = {
    val appId = spark.sparkContext.applicationId
    if (hooked.add(appId)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          store.keySet.removeIf(_._1.startsWith(appId + "/"))
          hooked.remove(appId)
          ()
        }
      })
    }
  }

  /** Non-building probe: the value stored under `name` for this (session,
    * dir, version) if it is ALREADY built, else None — nothing is built.
    * For consumers that reconcile with a measurement that happens to
    * exist and must know the current conf's exact key (tierAdvisor × the
    * ann_recall card: the advisor must never trigger the five store
    * builds the card's own build needs, and must read the card measured
    * under the CURRENT geometry, never another one the session holds).
    */
  def peek[T](spark: SparkSession, name: String,
              dir: String, version: String): Option[T] =
    Option(store.get((sessionKey(spark), dir, name)))
      .filter(_.version == version)
      .flatMap(_.memo.peek).map(_.asInstanceOf[T])

  /** Names of this process's live entries (all sessions) — spec seam. */
  private[graft] def names: Set[String] = {
    import scala.jdk.CollectionConverters._
    store.keySet.asScala.map(_._3).toSet
  }

  /** Live entry count (all sessions) — spec seam and bound evidence. */
  private[graft] def size: Int = store.size

  /** A checkpointed frame artifact: a [[memo]] entry named `artifact`,
    * versioned by the directory's fingerprint, logged in [[buildLog]]. */
  def cached(spark: SparkSession, artifact: String, dir: String)
      (build: => DataFrame): DataFrame =
    cached(spark, artifact, dir, dirFingerprint(spark, dir))(build)

  /** As [[cached]] with the corpus fingerprint precomputed by the caller —
    * the same resolve-once-and-thread discipline as AnnIndex's
    * corpusVersion: a fingerprint is ONE metadata listing on an unmanaged
    * store (~34 ms on the sf0.1 testdata), so a query touching several
    * artifacts/probes must not pay it per artifact (the r13
    * q_dedup_incremental regression was exactly one extra listing).
    */
  def cached(spark: SparkSession, artifact: String, dir: String, fp: String)
      (build: => DataFrame): DataFrame =
    memo(spark, dir, fp, artifact) {
      if (buildLog.size > 16384) buildLog.clear()
      buildLog.add(s"$artifact|$dir|$fp")
      build.localCheckpoint(eager = true)
    }

  /** Default ceiling for CORPUS-ROW-SIZED artifacts (one slim row per
    * document — langid scores, LM scores, filter verdicts): ~10⁹ rows is
    * the documented ~100 GB-of-aggregate-executor-storage envelope
    * (SCALING.md "Session-level artifacts"). Override with
    * `spark.graft.artifact.maxRows`; 0 disables the gate.
    */
  val DefaultArtifactMaxRows = 1000000000L

  /** [[cached]] gated on corpus size — for artifacts whose row count is
    * O(corpus rows), not O(cells). Past the configured ceiling the build
    * is returned INLINE (lazy, uncached, no checkpoint): consumers score
    * per query instead of pinning O(corpus) executor storage for the
    * session lifetime. `rows` is the corpus row count (callers pass the
    * cached [[Tables.cachedCount]] — one count job per corpus version,
    * no job at all on repeat probes).
    */
  def cachedBounded(
      spark: SparkSession, artifact: String, dir: String, fp: String,
      rows: => Long)(
      build: => DataFrame): DataFrame =
    cachedBounded(spark, artifact, dir, fp, rows, Nil)(build)

  /** As [[cachedBounded]] with an artifact-compaction key (r21): a MAP-ONLY
    * build inherits its scan-spread partitioning (defaultParallelism
    * splits), so the checkpoint pins that many blocks and every steady
    * probe pays that many task floors — measured 32 blocks × ~6 ms ≈
    * 200 ms/probe on the sf0.1 langid card vs ~40 ms over the 1-block
    * lm_scores artifact (whose build ends in an AQE-coalesced aggregate).
    * A `repartition(compactBy)` WITHOUT an explicit partition count lets
    * AQE size the exchange from the artifact's bytes (advisory 64 MB —
    * 1 block at local SFs, thousands at 100 TB), so the fix is
    * scale-adaptive, not a local constant. Applied ONLY on the cached
    * path: the once-per-version build pays one skinny exchange; the
    * past-ceiling inline path keeps the pre-r21 plan (an extra exchange
    * per query is exactly what that regime avoids).
    */
  def cachedBounded(
      spark: SparkSession, artifact: String, dir: String, fp: String,
      rows: => Long, compactBy: Seq[String])(
      build: => DataFrame): DataFrame = {
    val max = spark.conf.get(
      "spark.graft.artifact.maxRows", DefaultArtifactMaxRows.toString).toLong
    if (max > 0 && rows > max) {
      // crossing the ceiling mid-session (append past maxRows, or the
      // conf lowered) must RELEASE any previously cached generation —
      // only cached() runs the superseded-prefix drop, and skipping it
      // here would leave the old O(corpus)-row checkpoint pinned for the
      // application lifetime: the exact pinning the gate exists to stop
      store.remove((sessionKey(spark), dir, artifact))
      build
    } else cached(spark, artifact, dir, fp)(compacted(build, compactBy))
  }

  /** The r21/r22 artifact-compaction exchange, centralized: a
    * `repartition(cols)` with NO explicit count, sized by AQE from the
    * artifact's bytes (1 block at local SFs, thousands at 100 TB).
    * Two measured preconditions (r22):
    *   - AQE must be ON — with it off the count-free repartition falls
    *     back to spark.sql.shuffle.partitions (200 on a stock session),
    *     making the checkpoint WORSE than the splits it replaces, so the
    *     compaction is skipped entirely in that regime (r21 ADVICE #3);
    *   - the key must NOT equal the build's existing output partitioning —
    *     the optimizer elides a repartition its child already satisfies
    *     (measured on the embed pair build: repartition(id_a) over the
    *     id_a-partitioned join output was a no-op; the full pair key
    *     forces a fresh sizable exchange — DevR22CompactWhy).
    */
  private[graft] def compacted(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty ||
      !df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true").toBoolean) df
    else df.repartition(cols.map(org.apache.spark.sql.functions.col): _*)

  /** As [[cachedBounded]] for artifacts whose checkpoint is ALSO a
    * pushdown/recompute BARRIER the consumers' plan shape depends on
    * (simhash fingerprints — the fold must never push into the scan;
    * near-dup labels — iterative propagation must not re-trigger; the
    * incremental band store — the corpus must never re-shingle). Past the
    * ceiling the build still materializes through an eager
    * `localCheckpoint`, but PER QUERY and unregistered: the barrier and
    * the plan pins hold, no session-lifetime executor storage is pinned —
    * the blocks are released by ContextCleaner when the query's
    * references are collected, which is the documented trade at that
    * scale (compute once per query, pin nothing).
    */
  def cachedBoundedBarrier(
      spark: SparkSession, artifact: String, dir: String, fp: String,
      rows: => Long)(
      build: => DataFrame): DataFrame =
    cachedBoundedBarrier(spark, artifact, dir, fp, rows, Nil)(build)

  /** As [[cachedBoundedBarrier]] with the [[compacted]] artifact key —
    * applied ONLY on the cached path, exactly like [[cachedBounded]]'s
    * compactBy: the past-ceiling regime materializes per query, where an
    * extra exchange per query is what that regime exists to avoid.
    */
  def cachedBoundedBarrier(
      spark: SparkSession, artifact: String, dir: String, fp: String,
      rows: => Long, compactBy: Seq[String])(
      build: => DataFrame): DataFrame = {
    val max = spark.conf.get(
      "spark.graft.artifact.maxRows", DefaultArtifactMaxRows.toString).toLong
    if (max > 0 && rows > max) {
      // same release discipline as cachedBounded's gate crossing: drop any
      // previously cached generation so the old session-pinned checkpoint
      // does not outlive the ceiling
      store.remove((sessionKey(spark), dir, artifact))
      build.localCheckpoint(true)
    } else cached(spark, artifact, dir, fp)(compacted(build, compactBy))
  }

  /** Drop every entry derived from `dir` (all sessions, every family:
    * artifacts, plans, counts, codebooks, pools, index ensures): write
    * paths call this after mutating a directory; the dropped references
    * let ContextCleaner reclaim the checkpoint blocks on the next GC
    * rather than waiting for the fingerprint to age them out.
    */
  def invalidate(dir: String): Unit = {
    store.keySet.removeIf(_._2 == dir)
    Tables.invalidate(dir)
  }

  /** Drop every entry whose (name, version) matches — for releases keyed
    * by what an entry points at rather than by its source dir (a
    * resolved index frame over a path rewritten in place). */
  private[graft] def invalidateWhere(p: (String, String) => Boolean): Unit = {
    store.entrySet.removeIf(e => p(e.getKey._3, e.getValue.version))
    ()
  }

  /** Listing-fallback counter, exposed for the StoreVersionSpec assertion
    * that marker-carrying stores are probed WITHOUT recursive listings.
    */
  private[graft] val fallbackListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Cheap change detector. A managed store (one carrying a
    * [[StoreVersion]] marker) resolves in O(1): one read of the marker
    * file, no listing — the write paths bump the marker on every mutation.
    * Anything else falls back to a hash of the recursive file listing
    * (path, size, mtime): one namenode/metadata listing per cache probe,
    * no data reads — correct for external corpora whose writers know
    * nothing about the marker protocol, O(files) round trips on an object
    * store. Goes through the Hadoop FileSystem API so both probes are
    * correct on hdfs:// and s3a:// paths, not just local disk.
    * `private[graft]`: [[graft.operators.AnnIndex]] keys its on-disk
    * inverted file by the same corpus fingerprint.
    */
  private[graft] def dirFingerprint(spark: SparkSession, dir: String): String = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) "absent"
    else StoreVersion.read(fs, path).getOrElse {
      fallbackListings.incrementAndGet()
      fs match {
        // LOCAL fast path: Hadoop's RawLocalFileSystem materializes each
        // FileStatus's permission bits by FORKING `ls -ld` per file
        // (DeprecatedRawLocalFileStatus.loadPermissionInfo) — measured
        // ~34 ms for a 10-file listing, paid once per query by every
        // artifact-probing operator. A java.nio sorted walk reads the
        // same (path, size, mtime) triples in ~0.3 ms. Deterministic
        // (sorted traversal) so concurrent JVMs sharing an index root
        // derive identical fingerprints; extra sensitivity to .crc
        // sidecars is harmless (they mutate with their data file).
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem =>
          val root = java.nio.file.Paths.get(path.toUri.getPath)
          var h = 1125899906842597L
          // FOLLOW_LINKS: the Hadoop listing this replaces traversed
          // symlinked subdirs (java.io.File semantics), and Spark's scan
          // follows them too — a mutation behind a link must change the
          // fingerprint. A link cycle throws FileSystemLoopException
          // (loudly), which the File-based walk would have spun on.
          val s = java.nio.file.Files.walk(
            root, java.nio.file.FileVisitOption.FOLLOW_LINKS)
          try {
            val it = s.sorted().iterator()
            while (it.hasNext) {
              val p = it.next()
              val attrs = java.nio.file.Files.readAttributes(
                p, classOf[java.nio.file.attribute.BasicFileAttributes])
              if (attrs.isRegularFile) {
                // FULL path, not base name: a partition-dir rename that
                // preserves file names, sizes, and mtimes must still
                // change the fingerprint
                h = h * 31 + p.toString.hashCode
                h = h * 31 + attrs.size()
                h = h * 31 + attrs.lastModifiedTime().toMillis
              }
            }
          } finally s.close()
          java.lang.Long.toHexString(h)
        case _ =>
          // remote stores (hdfs://, s3a://): one namenode/metadata listing
          // per cache probe, no data reads
          var h = 1125899906842597L
          val it = fs.listFiles(path, true)
          while (it.hasNext) {
            val st = it.next()
            h = h * 31 + st.getPath.toString.hashCode
            h = h * 31 + st.getLen
            h = h * 31 + st.getModificationTime
          }
          java.lang.Long.toHexString(h)
      }
    }
  }

  /** Tests only: drop everything (e.g. between suites sharing a session). */
  private[graft] def clear(): Unit = store.clear()
}
