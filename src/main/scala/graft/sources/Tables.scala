package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table catalog over the driver-generated Parquet testdata (TESTDATA.md).
  *
  * Reference analog: the DuckDB file open + DDL bootstrap in
  * `/root/reference/waddle/_db.py:27-48` (SURVEY.md §2.1 S1/S2). On Spark the
  * schema is self-describing Parquet and readers are immutable DataFrames, so
  * the reference's lock-serialized connection machinery has no equivalent.
  *
  * Scale notes (100 TB): each table is a plain `spark.read.parquet(dir)` —
  * partition discovery, predicate pushdown and column pruning are handled by
  * the Parquet datasource; at cluster scale the same call points at a
  * partitioned directory tree (e.g. `metrics/project=…/date=…`) and Catalyst
  * prunes partitions from the query predicates. Nothing here collects to the
  * driver.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-table cache: `spark.read.parquet` re-lists the path and
    * re-reads footers on every call — a real engine resolves a table once
    * per catalog. Keyed by session so plans never leak across sessions.
    * (This caches the immutable logical plan, NOT data.)
    */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), DataFrame]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    resolved.computeIfAbsent(
      // applicationId + identity: identityHashCode alone could collide with
      // a GC'd stopped session's address; the app id disambiguates contexts
      (spark.sparkContext.applicationId + "/" + System.identityHashCode(spark),
        dir, name),
      _ => normalizeNtz(spark.read.parquet(s"$dir/$name.parquet")))

  /** Drop every resolved plan under `dir` (all sessions). A resolved
    * DataFrame pins its file-listing snapshot (Spark semantics: external
    * appends need REFRESH TABLE) — so the staleness detectors call this
    * when they see a directory's fingerprint change
    * ([[SessionCache.memo]]'s superseded-version replace,
    * [[SessionCache.invalidate]]): without it an
    * artifact rebuild triggered by the mutation would re-read the OLD
    * listing and rebuild an identical stale artifact.
    */
  def invalidate(dir: String): Unit = {
    resolved.keySet.removeIf(_._2 == dir)
    ()
  }

  /** Cached row count of one table, one count job per (session, dir,
    * table, corpus version) — what the corpus-row-sized-artifact gate
    * ([[SessionCache.cachedBounded]]) and both index geometries (IVF
    * pivot count, LSH and embed-dedup band bits) size against. A
    * [[SessionCache.memo]] entry: a fingerprint change replaces it AND
    * invalidates the pinned resolved plan, so the recount sees the
    * post-mutation file set.
    */
  def cachedCount(spark: SparkSession, dir: String, name: String): Long =
    cachedCount(spark, dir, name, SessionCache.dirFingerprint(spark, dir))

  /** As [[cachedCount]] with the fingerprint precomputed by the caller
    * (the resolve-once-per-query discipline — see
    * [[SessionCache.cached]]). */
  def cachedCount(
      spark: SparkSession, dir: String, name: String, fp: String): Long =
    SessionCache.memo(spark, dir, fp, s"count|$name")(apply(spark, dir, name).count())

  /** Scan-spread, made adaptive: repartition ONLY when the input arrives
    * in fewer partitions than cores. The single-file local testdata gives
    * Spark one split, so compute-heavy map stages (shingling, simhash,
    * gram hashing, codebook assignment) would run single-threaded without
    * a spread — but an unconditional `repartition(N)` is NEVER a no-op: it
    * round-robin-shuffles every row, which on a real multi-thousand-file
    * corpus re-moves the whole corpus for parallelism the scan already
    * has. The partition probe plans the subtree (no execution) and keeps
    * the spread exactly where it pays.
    *
    * CONTRACT: call only on scan-rooted frames (scan + filters/projections)
    * — under AQE, probing `.rdd` on a subtree containing exchanges would
    * materialize its query stages, executing real work just to count
    * partitions. ENFORCED, not just documented: the analyzed plan is
    * walked for shuffle-introducing operators before the probe, so a
    * future caller handing in a post-exchange frame fails loudly at plan
    * time instead of silently executing query stages (the walk is
    * O(plan nodes), free next to the probe itself).
    */
  def spread(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed.foreach {
      case n @ (_: org.apache.spark.sql.catalyst.plans.logical.Repartition |
                _: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression |
                _: org.apache.spark.sql.catalyst.plans.logical.Join |
                _: org.apache.spark.sql.catalyst.plans.logical.Aggregate |
                _: org.apache.spark.sql.catalyst.plans.logical.Window |
                _: org.apache.spark.sql.catalyst.plans.logical.Sort |
                _: org.apache.spark.sql.catalyst.plans.logical.Distinct |
                _: org.apache.spark.sql.catalyst.plans.logical.Deduplicate |
                _: org.apache.spark.sql.catalyst.plans.logical.RebalancePartitions) =>
        throw new IllegalArgumentException(
          "Tables.spread: input must be scan-rooted (scan + filters/" +
            s"projections); found ${n.nodeName} — the .rdd partition probe " +
            "would materialize this subtree's query stages under AQE")
      case _ => ()
    }
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Cast every TIMESTAMP_NTZ column to session-zoned `TimestampType` at
    * the catalog boundary. The testdata generator is not stable about the
    * `isAdjustedToUTC` parquet flag (events/orders/lineitem all currently
    * ship `=0`, which Spark 4.1 surfaces as NTZ), and NTZ rejects the
    * unix-time function family — one regeneration away from breaking any
    * timestamp-consuming operator (it broke `q_metric_trend` for two
    * rounds). The session timezone is pinned UTC ([[graft.GraftSession]]),
    * so the cast preserves every wall-clock field and oracle hashes cannot
    * move. Map-only, fused into the scan's projection by codegen — no
    * extra pass.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  /** Register every table as a temp view so `spark.sql` / catalog
    * introspection work over the star schema (SURVEY.md §2.11 — the
    * reference's `information_schema.tables` probe,
    * /root/reference/tests/test_waddle.py:58-60, maps to
    * `spark.catalog.listTables`).
    */
  def registerAll(s: SparkSession, d: String): Unit =
    all.foreach(n => apply(s, d, n).createOrReplaceTempView(n))

  /** Dir-scoped temp-view name for `name`, registered over the SAME cached
    * plan the DataFrame accessors serve (events' timestamp-encoding
    * normalization included) — the `spark.sql` operators reference tables
    * through this instead of inline `parquet.`path``, which re-lists the
    * directory and re-reads footers on EVERY query build (measured
    * 0.16–0.21 s of pure analysis per build on the subquery operators at
    * sf0.1 — the single largest term in their bench floor). The view is
    * (re)registered on each call: registration over the already-resolved
    * plan is a catalog-map put (µs), and unconditional re-registration
    * means a [[invalidate]]d dir (corpus mutation) can never leave the
    * view pinned to a stale listing.
    */
  def sqlRef(s: SparkSession, d: String, name: String): String = {
    val view = s"graft_${name}_${dirTag(d)}"
    val df = if (name == "events") events(s, d) else apply(s, d, name)
    df.createOrReplaceTempView(view)
    view
  }

  /** Collision-free dir suffix for [[sqlRef]] view names: 12 hex chars of
    * SHA-256 over the path — the same discipline as the on-disk index
    * version ids. `String.hashCode` (32-bit, trivially collidable) here
    * would let two distinct sf dirs in one session silently alias each
    * other's temp views — the string-collision bug class that bit the
    * index-family naming (r11) and the cache-prefix eviction (r13).
    * Memoized: sqlRef runs once per `spark.sql` query BUILD, so the digest
    * (µs-scale) is off the per-build path after the first call per dir.
    */
  private val dirTags = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dirTag(d: String): String =
    dirTags.computeIfAbsent(d, dir =>
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(6).map(b => f"$b%02x").mkString)

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` has shipped in three parquet encodings across testdata
    * regenerations; every operator downstream must see one type,
    * session-zoned `TimestampType`:
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; sessions set
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (see
    *    [[graft.GraftSession]]), so it arrives as Long nanos — floor-divide
    *    to micros (integer `div`; a double division would lose precision at
    *    1e18) and rebuild, matching DuckDB's nanos→micros truncation.
    *  - TIMESTAMP_MICROS `isAdjustedToUTC=0` (NTZ): handled for ALL tables
    *    by [[normalizeNtz]] in [[apply]].
    *  - TIMESTAMP_MICROS UTC-adjusted: already `TimestampType`; pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
