package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.sources.{SessionCache, Tables}

/** Deduplication family over the `documents` / `embeddings` tables (driver
  * extension: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
  * near-dup).
  *
  * Reference analog: the only dedup primitive in waddleml is the sha256
  * content address on artifacts (/root/reference/waddle/_run.py:177,
  * SURVEY.md §2.4 A4); the near-dup operators are the scale extension a
  * training-data pipeline needs.
  *
  * Design rule for 100 TB: never materialize O(n²) pairs. Every near-dup
  * operator blocks first (LSH bands / blocking keys), compares only within
  * buckets, and all hashing is seeded + plan-time-literal so results are
  * deterministic across executors and rounds.
  */
object Dedup {

  /** A4 — exact dedup via content-hash grouping.
    * Keep the smallest doc_id of each distinct text; n_copies counts the
    * collapsed duplicates.
    * Scale: groups by `md5(text)` — NOT the text itself — so the map-side
    * partial aggregation reduces each partition to (16-byte key, partial
    * min, partial count) rows and the exchange never carries document
    * payloads (measured by ShuffleAudit: the text-keyed form was the one
    * corpus-payload-linear row in the audit). md5 over a 128-bit space
    * makes a key collision (two DIFFERENT texts sharing a hash) vanishingly
    * improbable below ~2^64 documents; a paranoid 100 TB run would carry
    * sha2-256. md5 is chosen over xxhash64 deliberately: DuckDB has md5(),
    * so the oracle groups by the same key and the query stays in the
    * hash-matched set.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** Duplication-inflation accounting: the cluster-size histogram of exact
    * duplicates, with the doc and TOKEN surplus each size class carries —
    * the "what does dedup buy us" card. [[dedupExact]] lists the clusters;
    * this card answers the budget question a curation run starts from: if
    * 4% of tokens are surplus copies, exact dedup saves 4% of every
    * downstream pass (and of training compute). Cluster size 1 rows are the
    * unduplicated baseline; surplus = (size−1)·tokens_per_doc because every
    * member of an exact cluster is the SAME text.
    * Determinism: all columns are exact integer counts/sums — nothing to
    * round, the hash cannot wobble.
    * Scale: one groupBy(md5(text)) shuffle — 16-byte keys with map-side
    * partials, never document payloads (same key rationale as
    * [[dedupExact]]; `toks` rides as min() of a per-row long, exact
    * because every member of an exact cluster is the SAME text) — to
    * cluster-sized rows, then a histogram aggregate over DISTINCT cluster
    * sizes (card-sized: ≤ a few dozen groups) with map-side partials.
    */
  def dupInflation(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(col("text")).as("h"),
        size(split(col("text"), " ")).cast("long").as("toks0"))
      .groupBy("h")
      .agg(count(lit(1)).as("cluster_size"), min("toks0").as("toks"))
      .select("cluster_size", "toks")
      .groupBy("cluster_size")
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("cluster_size") - 1).as("n_surplus_docs"),
        sum((col("cluster_size") - 1) * col("toks")).as("surplus_tokens"))
      .transform(Present.cardSort(_, col("cluster_size")))

  // Shingle/gram hashing and MinHash signatures come from the native
  // Catalyst expressions graft.plans.{NGramHashes, MinHashSignature}
  // (`ngram_hashes`, `minhash_sig`), registered by GraftSession — tight
  // primitive loops instead of ~100 M interpreted HOF-lambda evaluations
  // at sf0.1.

  /** Near-dup candidates via MinHash + LSH banding, verified by exact
    * Jaccard; top-20 most similar pairs.
    *
    * 64-perm signature → 16 bands × 4 rows (S-curve threshold
    * (1/16)^(1/4) ≈ 0.5 — random same-vocabulary pairs almost never
    * collide, true near-dups almost always do); candidate pairs come from a
    * self-join on (band_id, band_hash); each candidate is then verified
    * with the exact shingle-set Jaccard.
    * Scale: the self-join shuffles (band_id, band_hash, doc_id, sig) only —
    * never text; exact verification joins the shingle arrays back for just
    * the candidate ids. A hot bucket (boilerplate text) is the skew risk —
    * AQE skew-join splits the exchange, and [[capBuckets]]
    * (`spark.graft.dedup.bucketCap`) bounds the pair blowup itself at
    * O(cap²). No O(n²) stage exists at any cardinality.
    */
  /** All LSH-candidate pairs with their exact Jaccard (no limit) — shared
    * by [[dedupMinhash]] (top-20 view) and [[dedupClusters]] (edge set).
    * A SessionCache artifact: shingling + banding + verification is the
    * dominant stage of BOTH consumers, and the verified pair list is tiny
    * (24 B/row), so it's computed once per (session, corpus) and every
    * later dedup query starts from the materialized edges.
    */
  private def minhashPairs(
      spark: SparkSession, dir: String, fp: String): DataFrame =
    // the effective cap folds into the key like the simhash/ngram pair
    // artifacts: a mid-session `spark.graft.dedup.bucketCap` change must
    // build fresh pairs, not serve the other cap's set (r13 ADVICE)
    SessionCache.cached(
      spark, s"minhash_pairs_c${textBucketCap(spark)}", dir, fp) {
      minhashPairsBuild(spark, dir)
    }

  /** Skew guard for every banded candidate generator: cap LSH/blocking
    * bucket membership at `cap` rows, so a pathological bucket (identical
    * boilerplate hashing every member into one (band, hash) cell) generates
    * O(cap²) candidate pairs instead of O(width²). Members are kept by
    * rank on (xxhash64(id), id) — a pure key function, so the sub-sample
    * is deterministic, partition-independent, and IDENTICAL across bands
    * for identical buckets (the same docs survive in every band, keeping
    * the distinct-pair set cap-sized, not band-multiplied).
    *
    * Trade-off, stated plainly: capping is lossy — pairs involving a
    * dropped member of an over-wide bucket are not generated from that
    * bucket. For exact-duplicate floods that is the RIGHT loss (the kept
    * members still link the cluster; [[dedupExact]] handles exact copies
    * anyway); for genuinely diverse hot buckets it bounds worst-case cost
    * at the price of recall. The text paths default to
    * [[DefaultTextBucketCap]] (measured: ≥95% planted-pair recall while
    * a 500-doc flood stays O(cap²) — DedupSimilaritySpec); a production
    * run re-tunes `spark.graft.dedup.bucketCap` to ~10× its expected
    * bucket width, or 0 to disable.
    *
    * Cost: one row_number window partitioned by the bucket key — the hot
    * bucket sorts O(width log width) in one reducer, which is the O(n)
    * scan we accept to avoid the O(n²) join blowup downstream.
    */
  private[graft] def capBuckets(
      df: DataFrame, bucketCols: Seq[String], idCol: String, cap: Int): DataFrame =
    if (cap <= 0) df
    else {
      val w = Window.partitionBy(bucketCols.map(col): _*)
        .orderBy(xxhash64(col(idCol)), col(idCol))
      df.withColumn("__rk", row_number().over(w))
        .where(col("__rk") <= cap)
        .drop("__rk")
    }

  /** The EXPLICITLY configured global bucket cap (0 = unset/uncapped) —
    * the raw conf, consumed by [[textBucketCap]] and [[embedBucketCap]],
    * each of which supplies its own measured default when it is unset.
    */
  private[graft] def bucketCap(spark: SparkSession): Int =
    spark.conf.get("spark.graft.dedup.bucketCap", "0").toInt

  /** Text-path bucket cap — ON by default, mirroring the embed path's
    * [[embedBucketCap]] (the r12 state had the embed default measured and
    * the text paths opt-in, which left the minhash/simhash/ngram pair
    * generators flood-bounded only when a deployment remembered the
    * conf). 64 is the same planted-flood-measured default: natural text
    * buckets are narrow (64-bit minhash band hashes collide only for
    * near-dups; ngram blocks are (lang, source, 32-char-band) — max
    * measured width 16 at sf0.1), so the cap touches ONLY flood buckets,
    * where the kept members still link the cluster. DedupSimilaritySpec
    * measures ≥95% planted-pair recall at this default against a 500-doc
    * boilerplate flood on all three generators. Set
    * `spark.graft.dedup.bucketCap` to re-tune, 0 to disable.
    */
  private[graft] val DefaultTextBucketCap = 64
  private[graft] def textBucketCap(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.dedup.bucketCap").map(_.toInt)
      .getOrElse(DefaultTextBucketCap)

  /** (doc_id, sh) → one (doc_id, band_id, band_hash) row per LSH band:
    * 16 bands × 4 minhash rows, each band hashed to one 8-byte key.
    * Shared by the whole-corpus pair search ([[minhashPairsBuild]]) and
    * the batch-vs-store probe ([[dedupIncremental]]) so the two sides of
    * an incremental join are banded bit-identically.
    */
  private def bandRows(sh: DataFrame): DataFrame =
    sh.withColumn("sig", expr("minhash_sig(sh)"))
      .select(
        col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(15)), b =>
          xxhash64(slice(col("sig"), b * 4 + 1, lit(4))))).as(Seq("band_id", "band_hash")))

  private def minhashPairsBuild(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(spark, Tables.spread(Tables.documents(spark, dir)))

  /** [[minhashPairsBuild]] over an explicit (doc_id, text) frame — the
    * seam the adversarial bucket-cap spec drives with a synthetic
    * boilerplate flood (DedupSimilaritySpec).
    */
  private[graft] def minhashPairsOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    // two-exchange shape: a round-robin repartition spreads the
    // single-split text rows so shingling runs in parallel; the hash
    // repartition ABOVE the computed arrays is the materialization point
    // all three consumers (banding + the two verification join-backs)
    // reuse via AQE's stage cache instead of re-shingling. (Round-robin
    // first on purpose: a same-key hash repartition below would make the
    // upper exchange "redundant" and Catalyst would elide it, putting the
    // shingling back above the only exchange — recomputed per consumer.)
    val par = spark.sparkContext.defaultParallelism
    val sh = docs
      .select(col("doc_id"), expr("ngram_hashes(text, 3, 'word')").as("sh"))
      .repartition(par, col("doc_id"))

    // bands carry ONLY (band, doc_id) — never the shingle arrays: the
    // candidate join must shuffle 24-byte rows, not kilobyte payloads;
    // capBuckets bounds a pathological bucket's width when configured
    val banded = capBuckets(
      bandRows(sh), Seq("band_id", "band_hash"), "doc_id", textBucketCap(spark))

    val pairs = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band_id", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()

    // exact-Jaccard verification, once per DISTINCT CONTENT pair — the
    // r19 500k decade finding: on an 8×-duplicated corpus the per-ID
    // verification shipped 1.75M shingle-ARRAY pairs (~2×1.6 KB each,
    // ~5.6 GB through two join exchanges — 135 s of a 150 s cold build;
    // the id-pair enumeration itself was 12 s). Identical texts have
    // identical shingle sets, so the Jaccard of an id pair IS the Jaccard
    // of its (content_a, content_b) pair: map ids to content keys (one
    // cheap md5 scan, no shingles), verify each distinct content pair
    // against one representative's arrays, and join the score back to the
    // id pairs — 24 B key rows everywhere except the content-pair-sized
    // verify. Output pair set and every jaccard value are bit-identical
    // to the per-id form (spec-pinned on a duplicated fixture); on a
    // fully-distinct corpus this adds only the hash scan and key joins.
    // sha2-256 rather than the repo's md5 convention: this key ASSERTS
    // content identity (a collision scores two different texts jaccard
    // 1.0), and chosen-prefix md5 collisions are practical to plant in an
    // adversarial corpus; no published sha-256 collision exists.
    val keyed = docs.select(col("doc_id"),
      coalesce(sha2(col("text"), 256), lit("∅")).as("ck"))
    val cpairs = pairs
      .join(keyed.select(col("doc_id").as("doc_a"), col("ck").as("ck_a")), Seq("doc_a"))
      .join(keyed.select(col("doc_id").as("doc_b"), col("ck").as("ck_b")), Seq("doc_b"))
    // one representative's shingles per content — from the SAME sh
    // materialization point the banding consumed (identical columns, so
    // AQE stage reuse holds and the corpus is still shingled once)
    val reps = keyed.groupBy("ck").agg(min("doc_id").as("doc_id"))
    val shRep = sh.join(reps, Seq("doc_id")).select(col("ck"), col("sh"))
    val verified = cpairs.select("ck_a", "ck_b").distinct()
      .join(shRep.select(col("ck").as("ck_a"), col("sh").as("sh_a")), Seq("ck_a"))
      .join(shRep.select(col("ck").as("ck_b"), col("sh").as("sh_b")), Seq("ck_b"))
      .withColumn("ca", size(array_distinct(col("sh_a"))).cast("double"))
      .withColumn("cb", size(array_distinct(col("sh_b"))).cast("double"))
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(col("c") / (col("ca") + col("cb") - col("c")), 6))
      .select("ck_a", "ck_b", "jaccard")
    cpairs
      .join(verified, Seq("ck_a", "ck_b"))
      .select("doc_a", "doc_b", "jaccard")
  }

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir, SessionCache.dirFingerprint(spark, dir))
      .orderBy(desc("jaccard"), asc("doc_a"), asc("doc_b"))
      .limit(20)

  /** Diagnostic: (iterations run, converged-before-bound) of the LAST
    * [[propagateLabels]] call in this JVM — the decade-bench observable
    * (r19 verdict #5: "does propagation still converge at 500k docs?"
    * needs a number, not a wall). Write-once per call, read by
    * ScaleBench's dedup mode; not part of any query result.
    */
  private[graft] val lastPropagation =
    new java.util.concurrent.atomic.AtomicReference[(Int, Boolean)]((0, true))

  /** Min-label propagation to fixpoint: nodes(doc_id) + undirected
    * edges(doc_a, doc_b) → (doc_id, label) where label = the component's
    * smallest doc_id — exact for any component whose diameter is below
    * `maxIters`, and the loop detects convergence and stops early; a
    * deeper component is split ([[componentLabels]] finishes it).
    *
    * Lineage discipline — the make-or-break of iterative DataFrame code:
    * each iteration references `edges` twice and the previous labels three
    * times, so WITHOUT materialization the upstream pipeline re-executes
    * O(3^iters) times (measured: 40 s for 5 iterations over the LSH edge
    * set at sf0.1; ~1 s materialized). `localCheckpoint` truncates lineage
    * into executor block storage; a cluster deployment with lossy executors
    * uses reliable `checkpoint` to the distributed FS instead.
    */
  def propagateLabels(nodes: DataFrame, edges: DataFrame, maxIters: Int = 20): DataFrame =
    propagateConverged(nodes, edges, maxIters)._1

  /** [[propagateLabels]] and whether it converged before `maxIters` —
    * read off the loop's own last change probe, so no extra action. */
  private[graft] def propagateConverged(
      nodes: DataFrame, edges: DataFrame, maxIters: Int = 20): (DataFrame, Boolean) = {
    val e = edges.localCheckpoint()
    var labels = nodes.select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val fromA = e.join(labels, e("doc_a") === labels("doc_id"))
        .select(col("doc_b").as("doc_id"), col("label").as("cand"))
      val fromB = e.join(labels, e("doc_b") === labels("doc_id"))
        .select(col("doc_a").as("doc_id"), col("label").as("cand"))
      // fold the change detection INTO the iteration: keeping the previous
      // label through the join lets `changed` ride the same frame, so the
      // convergence probe is a filter scan over the checkpointed result —
      // not the extra join-job per iteration the old next-vs-prev compare
      // cost (labels only ever decrease, so cand < label ⇔ a real change)
      val msgs = fromA.unionByName(fromB)
        .groupBy("doc_id").agg(min("cand").as("cand"))
      val next = labels.join(msgs, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("cand"), col("label"))).as("label"),
          (col("cand") < col("label")).as("changed"))
        .localCheckpoint()
      converged = next.where(col("changed")).isEmpty
      labels = next.select("doc_id", "label")
      it += 1
    }
    lastPropagation.set((it, converged))
    (labels, converged)
  }

  /** Alternating large-star/small-star connected components — the
    * deep-component option: O(log n) ROUNDS on any graph, vs O(diameter)
    * for [[propagateLabels]] (a 10⁶-hop boilerplate chain needs ~20
    * star rounds, not 10⁶ label passes). Algorithm from the public
    * MapReduce CC literature (Kiveris et al., SoCC'14 "Connected
    * Components in MapReduce and Beyond"):
    *   - large-star: every node attaches its LARGER neighbors to the
    *     minimum of its neighborhood (incl. itself);
    *   - small-star: every node attaches its smaller neighbors AND itself
    *     to its minimum neighbor.
    * Each round halves tree heights (pointer doubling); the fixpoint edge
    * set is exactly the star decomposition (node → component-min).
    * Cost per round: two key-only aggregates + joins over 16 B edge rows;
    * the same localCheckpoint lineage discipline as the label loop.
    * Returns (doc_id, label = component minimum) — identical output to
    * [[propagateLabels]] (property-tested); [[componentLabels]] runs it
    * when propagation hits its bound unconverged.
    */
  def starLabels(nodes: DataFrame, edges0: DataFrame, maxIters: Int = 30): DataFrame =
    starLabelsWithIters(nodes, edges0, maxIters)._1

  private[graft] def starLabelsWithIters(
      nodes: DataFrame, edges0: DataFrame, maxIters: Int = 30): (DataFrame, Int) = {
    // canonical directed form: u > v ("parent pointers point downward")
    var edges = edges0
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    var it = 0
    var done = edges.isEmpty
    while (!done && it < maxIters) {
      // large-star over the undirected neighborhood of every node
      val nbrs = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val minN = nbrs.groupBy("u")
        .agg(least(min("v"), first(col("u"))).as("m"))
      val large = nbrs.join(minN, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // m ≤ u < v keeps u > v
        .where(col("u") =!= col("v"))
        .distinct().localCheckpoint()
      // small-star over the directed (u > v) edges: v's AND u hook to min
      val minS = large.groupBy("u").agg(min("v").as("m"))
      val withM = large.join(minS, "u")
      val small = withM.select(col("v").as("u"), col("m").as("v"))
        .unionByName(withM.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct().localCheckpoint()
      // fixpoint: the edge set stopped changing (both sides materialized;
      // sizes first — the except only runs when counts already agree)
      done = small.count() == edges.count() && small.except(edges).isEmpty
      edges = small
      it += 1
    }
    // at the fixpoint every edge IS (node, component-min); isolated nodes
    // label themselves
    val labels = nodes.select(col("doc_id"))
      .join(edges.select(col("u").as("doc_id"), col("v").as("label")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("label"))
    (labels, it)
  }

  /** Connected-component labels (doc_id → component min): min-label
    * propagation, which converges in 2-3 passes on shallow near-dup
    * components; when it reaches its bound unconverged (a chain deeper
    * than `maxIters` — sliding boilerplate, shingle overlap) star
    * contraction relabels the same edges in O(log n) rounds. The engine
    * is chosen by observed convergence, and a converged run costs no
    * action beyond propagation's own.
    */
  private[graft] def componentLabels(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val (labels, converged) = propagateConverged(nodes, edges)
    if (converged) labels else starLabels(nodes, edges)
  }

  /** The verified near-dup edges (Jaccard ≥ 0.5) the clusters are the
    * connected components of. */
  private[graft] def nearDupEdges(spark: SparkSession, dir: String, fp: String): DataFrame =
    minhashPairs(spark, dir, fp)
      .where(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))

  /** The component-label frame ([[componentLabels]] over
    * [[nearDupEdges]]) as a SessionCache artifact — 16 B/row, consumed by
    * both [[dedupClusters]] and [[dedupKeep]], so the iterative label
    * computation runs once per (session, corpus).
    */
  private[graft] def nearDupLabels(spark: SparkSession, dir: String): DataFrame = {
    // ONE fingerprint resolution per query, shared with the nested
    // minhash-pair artifact (each resolution is a metadata listing).
    // The effective bucket cap folds into the key like the pair set it
    // derives from: a mid-session bucketCap change must rebuild the
    // labels, or dedupClusters would silently disagree with dedupMinhash
    // about the edge set (the r13 ADVICE bug class, one level up).
    val fp = SessionCache.dirFingerprint(spark, dir)
    // O(corpus rows) — one label per doc; barrier-preserving gate (the
    // iterative propagation must not re-trigger per consumer)
    SessionCache.cachedBoundedBarrier(
      spark, s"neardup_labels_c${textBucketCap(spark)}", dir, fp,
      Tables.cachedCount(spark, dir, "documents", fp)) {
      componentLabels(Tables.documents(spark, dir).select("doc_id"),
        nearDupEdges(spark, dir, fp))
    }
  }

  /** Near-dup CLUSTERS: connected components over the verified near-dup
    * edges (Jaccard ≥ 0.5) — [[nearDupLabels]] — emitted as one row per
    * multi-document cluster: representative (min doc_id), member count.
    * Near-dup clusters are shallow (dup groups, boilerplate families), so
    * label propagation converges in 2-3 passes; a chain deeper than its
    * bound (sliding boilerplate) is finished by star contraction, so the
    * clusters are exact at any depth, never silently split.
    * Scale: each propagation pass is two key-only joins + one aggregate
    * over 16 B (id, label) rows.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    nearDupLabels(spark, dir)
      .groupBy("label")
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > 1)
      .select(col("label").as("cluster_rep"), col("n_members"))
      .orderBy("cluster_rep")
  }

  /** The DEDUPLICATED CORPUS view — what a dedup pipeline actually ships:
    * one kept representative per near-dup cluster (the component's min
    * doc_id; singletons keep themselves), everything else dropped.
    * Emitted as the per-language keep/drop accounting (5 rows) — the
    * acceptance report a curation run logs; the kept-id frame is the
    * intermediate and would be the written output at scale.
    * Scale: reuses the SessionCache edge set and the label frame
    * (16 B rows); the accounting join is label-keyed, key-only. The kept
    * corpus itself is a semi-join of documents against kept ids — no
    * payload ever enters the label machinery.
    */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select("doc_id", "lang")
      .join(nearDupLabels(spark, dir), Seq("doc_id"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("doc_id") === col("label"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("n_dropped", col("n_total") - col("n_kept"))
      .transform(Present.cardSort(_, col("lang")))
  }

  /** SimHash-64 document fingerprint: tokens vote per bit with ±1 weighted
    * by their xxhash64 bits; the sign of each bit-sum is the fingerprint
    * bit. Near-dups differ in few bits (small Hamming distance).
    * Implemented entirely with higher-order functions — a per-doc fold over
    * token hashes, map-side, no shuffle, no UDF.
    * Scale: fingerprints are 8 bytes/doc; Hamming-≤k search blocks on
    * 4 × 16-bit segments (pigeonhole: k≤3 ⇒ one segment equal) — the same
    * band-join shape as MinHash, never all-pairs.
    */
  /** The SimHash-64 fingerprint as a HOF Column — the REFERENCE
    * formulation the native `simhash64` expression is spec-pinned against
    * (DedupSimilaritySpec); the shipped path uses the native expression.
    */
  private[graft] def simhash64Hof(): Column = {
    // literal per-bit masks: the Column API has no shift-by-Column, and a
    // lookup table keeps the whole fold branch-free 64-bit math
    val masks = typedlit(Seq.tabulate(64)(b => 1L << b))
    val tokens = split(col("text"), " ")
    val votes = aggregate(
      tokens,
      typedlit(Seq.fill(64)(0L)),
      (acc, t) => zip_with(acc,
        transform(sequence(lit(0), lit(63)), b =>
          when(xxhash64(t).bitwiseAND(element_at(masks, b + 1)) =!= 0L, 1L)
            .otherwise(-1L)),
        (x, y) => x + y))
    // votes appears as a HOF *argument* (evaluated once per row), never
    // inside a lambda body — lambda-body subtrees re-evaluate per element
    aggregate(
      zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Fingerprint frame (doc_id, fp) as a SessionCache artifact — shared by
    * [[dedupSimhash]] and [[dedupSimhashPairs]], mirroring [[minhashPairs]].
    * 16 B/row, computed once per (session, corpus).
    *
    * The materialization is ALSO a pushdown barrier, and that matters:
    * without it, a downstream `where(hamming <= 3)` lets
    * InferFiltersFromConstraints derive `isnotnull(fp)` and push the entire
    * 64-bit HOF fold into a Filter at the single-split parquet scan — the
    * most expensive expression in the pipeline, evaluated serially, then
    * again in the post-exchange Project, on both self-join subtrees
    * (measured 1.2 s → 3.3 s at sf0.1). localCheckpoint truncates the plan,
    * so consumers see a leaf RDD and nothing can be pushed below the
    * parallel fingerprint compute.
    */
  private def simhashFps(
      spark: SparkSession, dir: String, fp: String): DataFrame =
    // O(corpus rows) at 16 B/row — size-gated like the scored frames, but
    // through the BARRIER-preserving gate: past the ceiling the frame
    // still materializes per query (the pushdown barrier above is load-
    // bearing), it just stops pinning session storage
    // compactBy(doc_id) — r22 A/B (DevR22Compact, min-of-7 interleaved,
    // sf0.1): the r21 claim that this artifact's consumers "do real
    // per-row compute and want the parallel blocks" measured FALSE at
    // bench scale — the steady probe reads 33→2 tasks (75→53 ms) AND the
    // heavy banding consumer (simhashPairsOf) runs 1.171→0.566 s
    // (105→12 tasks): the per-task floors dominate the per-row banding
    // work. Scale-adaptive: AQE sizes the compacted checkpoint into
    // byte-proportional blocks at 100 TB, so the parallel compute
    // returns exactly when the data justifies it.
    SessionCache.cachedBoundedBarrier(spark, "simhash_fps", dir, fp,
      Tables.cachedCount(spark, dir, "documents", fp), Seq("doc_id")) {
      Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), expr("simhash64(text)").as("fp"))
    }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashFps(spark, dir, SessionCache.dirFingerprint(spark, dir))
      .select(col("doc_id"), col("fp").as("simhash64"))
      .orderBy("doc_id")

  /** SimHash near-dup PAIR search: pigeonhole-banded Hamming join. The
    * 64-bit fingerprint splits into 4 × 16-bit segments; any pair within
    * Hamming distance ≤ 3 must agree on at least one whole segment
    * (4 segments, ≤ 3 differing bits), so candidates come from a self-join
    * on (segment_id, segment_value) and are verified with the exact
    * popcount of the XOR. Output = the closest pairs AT RADIUS ≤ 3 — the
    * radius the pigeonhole bound makes complete — capped at 20; pairs
    * beyond 3 bits are excluded rather than reported best-effort (they
    * only surface when they happen to share a segment, so ranks past the
    * guaranteed radius would not be the true global order).
    * Scale: identical shape to [[dedupMinhash]] — the segment join shuffles
    * (seg_id, seg, doc_id, fp) rows (~28 B), never text; no O(n²) stage.
    * Larger radii use more/smaller segments.
    *
    * Cap trade, measured: unlike minhash band hashes (64-bit — collide
    * only for near-dups), 16-bit segment values are vocabulary-biased, so
    * REAL corpora grow wide segment buckets (widest 179 of 5 000 docs at
    * sf0.1) and the default [[textBucketCap]] engages there, bounding the
    * O(width²) candidate blowup segment banding otherwise develops with
    * corpus size. Since r14 the capped path carries a RECOVERY sub-band
    * (second-level pigeonhole over the wide buckets' other 48 bits — see
    * [[simhashPairsOf]]), so radius-≤3 completeness under the default cap
    * is 525/525 at sf0.1 (was 93% with bare truncation in r13); only an
    * exact-fingerprint flood wider than the cap can still drop pairs,
    * where kept members link the cluster. Conf 0 restores the unbanded
    * quadratic guarantee.
    */
  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // ONE fingerprint resolution per query, shared by the fingerprint
    // artifact, the skew probe, and the pair artifact (3 listings → 1;
    // each is ~34 ms of metadata round trips on an unmanaged sf0.1 store)
    val dfp = SessionCache.dirFingerprint(spark, dir)
    val fps = simhashFps(spark, dir, dfp)
    // skew probe over the cached 16 B/row fingerprint artifact — one
    // card-sized aggregate per (session, corpus version); a skew-free corpus
    // skips the cap window entirely
    val cap = skewAdaptiveTextCap(spark, dir, "simhash", dfp) {
      simhashSegs(fps).groupBy("seg_id", "seg").count()
        .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
    }
    // the verified pair set is a SessionCache artifact like
    // [[minhashPairs]] — 24 B/row, pair-count-sized (488 rows at sf0.1).
    // Matters since the default cap: on a corpus with real wide segment
    // buckets the engaged rank window costs ~0.4 s of exchange+sort per
    // evaluation, which a serve-many session should pay once per corpus
    // version, not per query. The effective cap folds into the artifact
    // key — a conf change mid-session must not serve the other cap's
    // pairs.
    SessionCache.cached(spark, s"simhash_pairs_c$cap", dir, dfp) {
      simhashPairsOf(spark, fps, cap)
    }
      .orderBy(asc("hamming"), asc("doc_a"), asc("doc_b"))
      .limit(20)
  }

  /** (doc_id, fp) → one row per 16-bit pigeonhole segment — shared by the
    * pair join and the skew-probe so both see identical buckets. */
  private def simhashSegs(fps: DataFrame): DataFrame =
    fps.select(
      col("doc_id"), col("fp"),
      posexplode(array(Seq.tabulate(4)(i =>
        shiftright(col("fp"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("seg_id", "seg")))

  /** The unlimited pair core of [[dedupSimhashPairs]] over an explicit
    * (doc_id, fp) frame — the seam the adversarial bucket-cap spec drives
    * with a synthetic boilerplate flood (DedupSimilaritySpec; no skew
    * probe — the spec decides capped vs uncapped via the conf).
    */
  private[graft] def simhashPairsOf(spark: SparkSession, fps: DataFrame): DataFrame =
    simhashPairsOf(spark, fps, textBucketCap(spark))

  private[graft] def simhashPairsOf(
      spark: SparkSession, fps: DataFrame, cap: Int): DataFrame = {
    val segs = simhashSegs(fps)
    def pairsOn(banded: DataFrame, keys: Seq[String]): DataFrame =
      banded.select((keys.map(col) :+ col("doc_id").as("doc_a") :+ col("fp").as("fp_a")): _*)
        .join(banded.select(
          (keys.map(col) :+ col("doc_id").as("doc_b") :+ col("fp").as("fp_b")): _*), keys)
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          expr("bit_count(fp_a ^ fp_b)").cast("long").as("hamming"))
        .where(col("hamming") <= 3) // the radius the banding makes complete
    if (cap <= 0) pairsOn(segs, Seq("seg_id", "seg")).distinct()
    else {
      // materialize the capped frame: the window's exchange+sort otherwise
      // re-plans the self-join below it into the SMJ regime (4 AQE jobs,
      // ~0.5 s of stage floor at sf0.1); checkpointed, the ≤ 4n-row key
      // frame broadcasts and the join keeps the window-free plan's shape
      val banded = capBuckets(segs, Seq("seg_id", "seg"), "doc_id", cap)
        .localCheckpoint(true)
      // RECOVERY band for the pairs the cap truncates (r13: 16-bit segment
      // values are vocabulary-biased, so REAL buckets outgrow the cap and
      // truncation was systematic — 93% radius-≤3 completeness at sf0.1).
      // Second-level pigeonhole: every member of a wide bucket already
      // agrees on segment i, and a radius-≤3 pair differs in ≤3 of the
      // OTHER 48 bits, so it must also agree on ≥1 of 4 12-bit
      // sub-segments of those bits. Sub-banding the FULL wide-bucket
      // membership on (seg, sub-segment) splits the width-179 bucket into
      // fine sub-buckets (28 shared bits) whose self-joins stay small,
      // and only an exact-fingerprint flood can widen a sub-bucket past
      // the cap — where the cap's loss is the right loss (kept members
      // still link the cluster; measured ≥95% planted recall incl. the
      // flood fixture, 100% on the vocabulary-biased one).
      val wide = segs.groupBy("seg_id", "seg").count()
        .where(col("count") > cap).select("seg_id", "seg")
      val rest48 =
        when(col("seg_id") === 0, shiftrightunsigned(col("fp"), 16))
          .when(col("seg_id") === 1,
            col("fp").bitwiseAND(lit(0xFFFFL))
              .bitwiseOR(shiftleft(shiftrightunsigned(col("fp"), 32), 16)))
          .when(col("seg_id") === 2,
            col("fp").bitwiseAND(lit(0xFFFFFFFFL))
              .bitwiseOR(shiftleft(shiftrightunsigned(col("fp"), 48), 32)))
          .otherwise(col("fp").bitwiseAND(lit(0xFFFFFFFFFFFFL)))
      val rec = capBuckets(
        segs.join(broadcast(wide), Seq("seg_id", "seg"))
          .withColumn("rest", rest48)
          .select(col("seg_id"), col("seg"), col("doc_id"), col("fp"),
            posexplode(array(Seq.tabulate(4)(j =>
              shiftright(col("rest"), j * 12).bitwiseAND(lit(0xFFFL))): _*))
              .as(Seq("sub_id", "sub"))),
        Seq("seg_id", "seg", "sub_id", "sub"), "doc_id", cap)
        .localCheckpoint(true)
      pairsOn(banded, Seq("seg_id", "seg"))
        .unionByName(pairsOn(rec, Seq("seg_id", "seg", "sub_id", "sub")))
        .distinct()
    }
  }

  /** Character n-gram Jaccard near-dup within blocking buckets.
    * Blocks on (lang, source) — the natural partition a corpus pipeline
    * already has — and compares char-3-gram sets only within a block;
    * top-20 most similar pairs between DISTINCT texts (exact duplicates
    * collapse to one representative before the build — see
    * [[ngramPairsOf]]; exact-duplicate pairs are [[dedupExact]]'s
    * domain by composition).
    * Scale: pair count is Σ blockᵢ² not n²; block width is bounded by the
    * (lang, source, length-band) key, and a boilerplate-flooded block is
    * additionally bounded by [[capBuckets]] at [[textBucketCap]] (on by
    * default). The gram sets shuffle once (hash join on the block key).
    */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame = {
    // skew probe over the 3 meta columns + content hash (no gram
    // hashing) — one card-sized aggregate per (session, corpus version).
    // Widths count DISTINCT texts per block because the build collapses
    // exact duplicates first: probing raw rows would engage the rank
    // window for floods the collapse already absorbs. Slack 2 because
    // the b side of the block join spans two length bands.
    val dfp = SessionCache.dirFingerprint(spark, dir)
    val cap = skewAdaptiveTextCap(spark, dir, "ngram", dfp, slack = 2) {
      Tables.documents(spark, dir)
        .groupBy(col("lang"), col("source"),
          (col("n_chars") / 32).cast("int").as("lband"))
        .agg(count_distinct(md5(col("text"))).as("w"))
        .agg(coalesce(max("w"), lit(0L))).head().getLong(0)
    }
    // verified pair set as a SessionCache artifact (24 B/row, pair-count-
    // sized) — the dominant stage is the gram-hash pass + blocked
    // verification (~0.8 s at sf0.1, decomposed in BASELINE.md), which a
    // serve-many session pays once per corpus version like the minhash
    // and simhash pair sets; the cap folds into the key
    SessionCache.cached(spark, s"ngram_pairs_c$cap", dir, dfp) {
      // compacted on the full pair key — r22 A/B (DevR22Compact): the
      // TakeOrdered steady probe fell 71→44 ms (33→1 tasks); the single
      // pair key would be elided against the build's existing output
      // partitioning (see SessionCache.compacted)
      SessionCache.compacted(
        ngramPairsOf(spark, Tables.spread(Tables.documents(spark, dir)), cap),
        Seq("doc_a", "doc_b"))
    }
      .orderBy(desc("jaccard"), asc("doc_a"), asc("doc_b"))
      .limit(20)
  }

  /** The unlimited pair core of [[dedupNgram]] over an explicit
    * (doc_id, lang, source, n_chars, text) frame — the seam the
    * adversarial bucket-cap spec drives with a synthetic boilerplate
    * flood (DedupSimilaritySpec; no skew probe — the spec decides capped
    * vs uncapped via the conf).
    */
  private[graft] def ngramPairsOf(spark: SparkSession, docsIn: DataFrame): DataFrame =
    ngramPairsOf(spark, docsIn, textBucketCap(spark))

  private[graft] def ngramPairsOf(
      spark: SparkSession, docsIn: DataFrame, cap: Int): DataFrame = {
    // char 3-grams hashed to longs natively: set ops compare 8-byte ints,
    // not strings, and hashing is one pass per row (plans.NGramHashes)
    val gramArr = expr("ngram_hashes(text, 3, 'char_distinct')")

    // EXACT-DEDUP-FIRST (r13 verdict #4): collapse md5-identical texts to
    // one representative (min doc_id) per (content, lang, source) BEFORE
    // gram hashing. An exact-duplicated corpus otherwise pays the whole
    // build per copy — gram hashing per copy, and candidate pairs growing
    // quadratically in the copy count while blocks sit below the cap
    // (the 8× adversarial re-measure showed 5.5× build cost; collapsed,
    // the build runs at distinct-corpus size + one cheap aggregate).
    // Exact-duplicate PAIRS are [[dedupExact]]'s domain by composition —
    // the near-dup card reports pairs between DISTINCT texts only. The
    // collapse groups on (16-byte md5, block meta) with map-side partial
    // min_by, so the exchange carries ≤ one text per distinct content per
    // partition, never the duplicated payload volume.
    val reps = docsIn
      .groupBy(md5(col("text")).as("h"), col("lang"), col("source"))
      .agg(min("doc_id").as("doc_id"), min("n_chars").as("n_chars"),
        expr("min_by(text, doc_id)").as("text"))
      .drop("h")

    // blocking key: (lang, source) — the partition a corpus pipeline already
    // has — plus a 32-char length band (each doc also probes the previous
    // band): a high-Jaccard pair can't differ much in length, so banding
    // bounds block width without losing near-dup pairs.
    // Two-exchange shape (explicit partition counts: AQE would happily
    // coalesce an unpinned ~40 MB repartition down to one partition and
    // serialize the pair join): spread the single-split text rows, hash in
    // parallel, then materialize the gram arrays once for both join sides.
    val par = spark.sparkContext.defaultParallelism
    val docs = reps
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        gramArr.as("grams"))
      .withColumn("n_grams", size(col("grams")))
      .repartition(par, col("doc_id"))
    // the block join shuffles ONLY (block key, doc_id) — the gram arrays
    // stay behind and join back for the distinct candidate pairs, reusing
    // the materialized exchange (the "shuffle only keys" rule; the
    // payload-through-the-join form shuffled every gram set 3×)
    val meta = docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    // capBuckets on each side bounds a boilerplate-flooded block at
    // ≤ 2·cap² candidate pairs (b probes two bands); on by default
    val blockCols = Seq("lang", "source", "lband")
    val a = capBuckets(
      meta.select(col("lang"), col("source"),
        (col("n_chars") / 32).cast("int").as("lband"),
        col("doc_id").as("doc_a")),
      blockCols, "doc_a", cap)
    val b = capBuckets(
      meta.select(col("lang"), col("source"),
        explode(array((col("n_chars") / 32).cast("int"),
          (col("n_chars") / 32).cast("int") - 1)).as("lband"),
        col("doc_id").as("doc_b")),
      blockCols, "doc_b", cap)
    val cand = a.join(b, Seq("lang", "source", "lband"))
      .where(col("doc_a") =!= col("doc_b"))
      .select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
    // |A∪B| = |A|+|B|−|A∩B|, with the intersection counted by a native
    // merge walk over the sorted gram sets (plans.IntersectCountSorted)
    cand
      .join(docs.select(col("doc_id").as("doc_a"),
        col("grams").as("g_a"), col("n_grams").as("sz_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"),
        col("grams").as("g_b"), col("n_grams").as("sz_b")), Seq("doc_b"))
      .withColumn("c", expr("intersect_count_sorted(g_a, g_b)").cast("double"))
      .withColumn("jaccard", round(
        col("c") / (col("sz_a") + col("sz_b") - col("c")), 6))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Collection-level overlap: estimated Jaccard similarity between SOURCES
    * (document collections), via the MinHash union property
    * sig(A∪B) = min(sig(A), sig(B)) — the custom TypedImperativeAggregate
    * `minhash_union` (graft.plans.MinHashUnion) merges per-doc signatures
    * into one 512-byte sketch per source; pairwise overlap then compares
    * sketches, never documents.
    * Scale: the aggregate is map-side partial + 512 B/group shuffle; the
    * pairwise stage is |sources|² over sketches (sources are bounded — for
    * unbounded grouping keys, band the sketches like [[dedupMinhash]]).
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // the per-source sketch card (512 B/source) is a session artifact —
    // its build is the whole-corpus shingle+minhash pass, and the card is
    // a pure function of the corpus version, so every overlap probe
    // shares one build and steady state is |sources|² over the
    // checkpointed card (the pair-artifact discipline, card-sized here).
    // Adaptive spread inside the build only: the shingle+minhash eval
    // runs map-side inside the partial aggregate, so the only exchange a
    // pre-split corpus needs is the 512 B/group sketch shuffle of the
    // groupBy itself
    val sketches = SessionCache.cached(spark, "source_sketches", dir,
      SessionCache.dirFingerprint(spark, dir)) {
      Tables.spread(Tables.documents(spark, dir))
        .select(col("source"),
          expr("minhash_sig(ngram_hashes(text, 3, 'word'))").as("sig"))
        .groupBy("source")
        .agg(expr("minhash_union(sig)").as("msig"))
    }

    val a = sketches.select(col("source").as("source_a"), col("msig").as("m_a"))
    val b = sketches.select(col("source").as("source_b"), col("msig").as("m_b"))
    a.crossJoin(b)
      .where(col("source_a") < col("source_b"))
      .withColumn("est_jaccard", round(
        aggregate(
          zip_with(col("m_a"), col("m_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / 64.0, 6))
      .select("source_a", "source_b", "est_jaccard")
      .orderBy(desc("est_jaccard"), asc("source_a"), asc("source_b"))
      .limit(20)
  }

  /** Embedding-banding geometry. Band COUNT is fixed (2 — the recall knob:
    * a pair is a candidate if it collides in either band); band BITS scale
    * with corpus size so expected bucket width stays ~[[EmbedTargetWidth]]
    * instead of ~n/256: a fixed 8-bit geometry that is fine at 2 k vectors
    * is a width-4M bucket (O(width²) pair blowup) at a billion. Clamped to
    * [8, 20]: below 8 the buckets are too coarse even for tiny corpora;
    * above 20 (1 M buckets/band) additional hyperplanes cost compute while
    * the residual width is better handled by [[embedBucketCap]].
    */
  private[graft] val EmbedBands = 2
  private[graft] val EmbedTargetWidth = 32
  private[graft] def embedBandBits(n: Long): Int = {
    val bits = math.ceil(
      math.log(math.max(n, 1L).toDouble / EmbedTargetWidth) / math.log(2.0)).toInt
    math.max(8, math.min(20, bits))
  }

  /** The embed path's bucket cap — ON by default (64 = 2× the target
    * width), unlike the text paths' opt-in [[bucketCap]]: adaptive band
    * bits keep the AVERAGE width ~[[EmbedTargetWidth]], so only a skewed
    * cluster (near-identical embeddings — exactly the boilerplate case)
    * can exceed 64, and there the cap's loss is the right loss (survivors
    * still link the cluster). DedupSimilaritySpec measures the recall
    * cost: ≥95% of planted near-dup pairs survive cap=64 on a corpus with
    * a 500-vector flood cluster. Set to 0 to disable; the global
    * `spark.graft.dedup.bucketCap` is honored if the embed conf is unset.
    */
  private[graft] def embedBucketCap(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.dedup.embedBucketCap").map(_.toInt)
      .getOrElse {
        val g = bucketCap(spark); if (g > 0) g else 64
      }

  /** Widest LSH bucket of the corpus under the adaptive geometry, one
    * [[SessionCache.memo]] entry per (session, corpus version, generator
    * family) — a superseded version is replaced with the catalog's
    * pinned listing invalidated, so the re-probe reads the post-mutation
    * file set. WHY a probe exists at all: [[capBuckets]]'s rank window
    * is the right SKEW guard but costs an exchange + per-bucket sort plus
    * the stage-floor of the SMJ regime it forces on the band self-join —
    * measured ~0.6 s of pure scheduling floor at sf0.1 where NO bucket
    * comes near the cap. The probe is one card-sized aggregate (≤
    * bands × 2^bandBits partial rows shuffle, never vectors) run once per
    * corpus version; when the widest bucket fits the cap, the cap
    * is a proven no-op and [[dedupEmbed]] plans the window-free join.
    */
  private def bucketWidth(
      spark: SparkSession, dir: String, family: String, version: String)(
      widest: => Long): Long =
    SessionCache.memo(spark, dir, version, s"dedup.width|$family")(widest)

  /** [[textBucketCap]] with the embed path's skew probe applied to a text
    * generator: pay the rank window only when `widest` — a card-sized
    * probe cached once per (session, corpus version, generator family) —
    * proves some bucket actually exceeds the cap; a skew-free corpus
    * plans the window-free join. `slack` scales the comparison for
    * generators whose join-side bucket is wider than the probed unit
    * (ngram's b side spans two length bands → slack 2). The minhash path
    * is the exception by design: its cap window runs INSIDE the
    * once-per-session SessionCache artifact build, where probing widths
    * first would cost an extra full shingle pass — more than the window
    * it would sometimes skip.
    */
  private def skewAdaptiveTextCap(
      spark: SparkSession, dir: String, family: String, fp: String,
      slack: Int = 1)(
      widest: => Long): Int = {
    val cap = textBucketCap(spark)
    if (cap <= 0) 0
    else {
      val w = bucketWidth(spark, dir, family, fp)(widest)
      if (w * slack <= cap) 0 else cap
    }
  }

  private def maxBucketWidth(
      spark: SparkSession, dir: String, bandBits: Int, fp: String): Long =
    // bandBits folds into the VERSION so a geometry change (corpus
    // crossing a band-bit boundary) also replaces the stale entry
    bucketWidth(spark, dir, "embed", s"$bandBits|$fp") {
      val planes = EmbedBands * bandBits
      Tables.embeddings(spark, dir)
        .select(posexplode(VectorOps.bandKeys(
          expr(s"hyperplane_bits(cast(embedding as array<double>), $planes, 1234)"),
          EmbedBands, bandBits)).as(Seq("band_id", "band_key")))
        .groupBy("band_id", "band_key").count()
        .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
    }

  /** Embedding-cosine near-dup: top-20 most similar vector pairs, candidates
    * from hyperplane-LSH band collisions (same 100 TB shape as
    * [[Similarity.simAnnLsh]] — the self-join streams band keys, never the
    * full O(n²) cross product).
    */
  def dedupEmbed(spark: SparkSession, dir: String): DataFrame = {
    // probes FIRST: a fingerprint change detected here invalidates the
    // catalog's resolved plan (stale file listing), so the vecs frame in
    // the build below must be resolved AFTER them to see the
    // post-mutation file set. ONE fingerprint resolution per query,
    // shared by both probes.
    val dfp = SessionCache.dirFingerprint(spark, dir)
    val effectiveCap = embedEffectiveCap(spark, dir, dfp)
    // the scored pair set is a SessionCache artifact like
    // [[dedupSimhashPairs]]'s / [[minhashPairs]] — pair-count-sized
    // (id_a, id_b, sim) rows; this was the LAST heavy pair search still
    // re-banding and re-joining the corpus per evaluation. The effective
    // cap folds into the FINGERPRINT segment, not the artifact name (a
    // conf change or a skew-probe flip must not serve the other regime's
    // pairs — and keying the NAME would leave the sibling regime's
    // checkpoint pinned until application end, since cached()'s
    // supersession eviction only matches the same artifact prefix; in
    // the fingerprint it is superseded like any stale generation); band
    // geometry is a pure function of n, which the corpus fingerprint
    // already covers. Side effect accepted: a cap flip on an unmutated
    // corpus also triggers cached()'s Tables.invalidate(dir) — one
    // redundant catalog re-listing, no correctness impact.
    SessionCache.cached(spark, "embed_pairs", dir, s"$dfp/c$effectiveCap") {
      // compacted on the full pair key — r22 A/B (DevR22Compact): steady
      // probe 89→57 ms (33→1 tasks); repartition(id_a) alone is a no-op
      // against the build's id_a-partitioned join output (DevR22CompactWhy)
      SessionCache.compacted(
        embedPairsBuild(spark, dir, dfp, effectiveCap), Seq("id_a", "id_b"))
    }
      .orderBy(desc("sim"), asc("id_a"), asc("id_b"))
      .limit(20)
  }

  /** Skew-adaptive embed cap: pay the rank window only when the cached
    * width probe proves some bucket actually exceeds the cap — a
    * skew-free corpus plans the window-free broadcast self-join. */
  private[graft] def embedEffectiveCap(
      spark: SparkSession, dir: String, dfp: String): Int = {
    val cap = embedBucketCap(spark)
    if (cap > 0 &&
      maxBucketWidth(spark, dir,
        embedBandBits(Tables.cachedCount(spark, dir, "embeddings", dfp)),
        dfp) <= cap) 0
    else cap
  }

  /** The uncached pair-set build behind [[dedupEmbed]]'s artifact — the
    * seam the cap-engagement plan specs drive (the Window decision is
    * invisible in the steady TakeOrdered-over-artifact plan). */
  private[graft] def embedPairsBuild(
      spark: SparkSession, dir: String, dfp: String, cap: Int): DataFrame = {
    val n = Tables.cachedCount(spark, dir, "embeddings", dfp)
    // cast below the exchange: the double arrays materialize once and the
    // three consumers (banding + two join-backs) reuse the exchange
    val vecs = Tables.embeddings(spark, dir)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
    embedPairsOf(spark, vecs, n, cap)
  }

  /** [[embedPairsOf]] with the cap from the session conf — the seam the
    * recall spec drives with planted near-dups (no width probe: the spec
    * decides capped vs uncapped explicitly).
    */
  private[graft] def embedPairsOf(
      spark: SparkSession, vecs: DataFrame, n: Long): DataFrame =
    embedPairsOf(spark, vecs, n, embedBucketCap(spark))

  /** The embed pair generator over an explicit (vec_id, v) frame with a
    * known corpus size and explicit bucket cap. Candidate join shuffles
    * ONLY (band, id) rows; the vectors join back for the distinct
    * candidate pairs afterwards.
    */
  private[graft] def embedPairsOf(
      spark: SparkSession, vecs: DataFrame, n: Long, cap: Int): DataFrame = {
    val bandBits = embedBandBits(n)
    val planes = EmbedBands * bandBits
    val banded = capBuckets(
      vecs.select(col("vec_id"),
        posexplode(VectorOps.bandKeys(
          expr(s"hyperplane_bits(v, $planes, 1234)"), EmbedBands, bandBits))
          .as(Seq("band_id", "band_key"))),
      Seq("band_id", "band_key"), "vec_id", cap)

    val pairs = banded.select(col("band_id"), col("band_key"), col("vec_id").as("id_a"))
      .join(banded.select(col("band_id"), col("band_key"), col("vec_id").as("id_b")),
        Seq("band_id", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    pairs
      .join(vecs.select(col("vec_id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("sim", round(expr("cosine_sim(v_a, v_b)"), 6))
      .select("id_a", "id_b", "sim")
  }

  /** The arriving-batch predicate for [[dedupIncremental]]: every 20th
    * doc plays the "today's crawl drop" (deterministic, ~5% of the
    * corpus); the rest is the established corpus.
    */
  private val IncrementMod = 20L

  /** The established corpus's persisted band store — (doc_id, band_id,
    * band_hash) for every non-batch doc, the artifact an incremental
    * dedup deployment keeps on disk and APPENDS to as batches are
    * admitted. Built once per (session, corpus version); key-only rows.
    */
  private def corpusBandStore(
      spark: SparkSession, dir: String, fp: String): DataFrame =
    // O(corpus rows × bands), key-only — barrier-preserving gate (the
    // corpus must never re-shingle per consumer; at production scale this
    // store is ON DISK, grown by the streaming ingester, and passed to
    // incrementalVerdicts directly — the gate covers the session-artifact
    // convenience wrapper only)
    SessionCache.cachedBoundedBarrier(spark, "inc_band_store", dir, fp,
      Tables.cachedCount(spark, dir, "documents", fp)) {
      bandDocs(Tables.spread(Tables.documents(spark, dir)
        .where(col("doc_id") % lit(IncrementMod) =!= 0L)))
    }

  /** (doc_id, text, …) → one (doc_id, band_id, band_hash) row per band:
    * shingle + minhash + band, all per-row map-side expressions (no
    * shuffle, no state). Shared VERBATIM by the batch store build above
    * and the streaming ingester ([[graft.streaming.Streams.dedupBandIngest]])
    * so a doc streamed into the store lands in exactly the buckets a
    * batch rebuild would assign it.
    */
  private[graft] def bandDocs(docs: DataFrame): DataFrame =
    bandRows(docs.select(col("doc_id"),
      expr("ngram_hashes(text, 3, 'word')").as("sh")))

  /** Incremental dedup — the production shape at 100 TB: a corpus that
    * size is deduplicated ONCE, and every later batch (a crawl drop, a
    * day's ingest) is checked against the persisted band store instead of
    * re-running the O(corpus²-candidate) pair search. Per batch doc:
    * how many corpus docs collided in ≥1 LSH band, the best match by
    * exact Jaccard, and the admit/reject verdict at the 0.5 threshold
    * (batch docs with no collisions pass with n_candidates = 0).
    *
    * Scale: the corpus side is ONLY the band store (never re-shingled —
    * plan-pinned); the batch (~5%) is shingled fresh and banded
    * map-side; the candidate join is key-only on (band_id, band_hash);
    * exact verification re-shingles just the candidate corpus docs
    * (a key-only semi-join selects them — at production this is the
    * doc-store point-fetch). Determinism: Jaccard rounded to 6; best
    * match ties break on match_id; verdict compares the rounded value.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBatch = col("doc_id") % lit(IncrementMod) === 0L
    // ONE fingerprint resolution per query, shared by the store artifact
    // and the skew probe — the r13 form resolved it twice, and the second
    // ~34 ms listing WAS the round's only >10% bench regression
    val dfp = SessionCache.dirFingerprint(spark, dir)
    val store = corpusBandStore(spark, dir, dfp)
    // skew probe over the cached 24 B/row band-store artifact — a
    // flood-free store skips the cap window on the store side
    val cap = skewAdaptiveTextCap(spark, dir, "inc_store", dfp) {
      store.groupBy("band_id", "band_hash").count()
        .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
    }
    incrementalVerdicts(docs.where(isBatch), store, docs.where(!isBatch), cap)
  }

  /** The store-agnostic core of [[dedupIncremental]] — also the probe a
    * deployment runs against an ON-DISK band store grown by
    * [[graft.streaming.Streams.dedupBandIngestSink]] (read the sink's
    * directory, pass it as `bandStore`): the session-artifact wrapper
    * above and the streamed layout are the same (doc_id, band_id,
    * band_hash) rows by construction ([[bandDocs]], shared verbatim;
    * StreamingSpec pins an end-to-end sink→probe round trip).
    * `corpusDocs` supplies (doc_id, text) for the exact-Jaccard
    * verification fetch of candidate docs.
    */
  private[graft] def incrementalVerdicts(
      batchDocs: DataFrame, bandStore: DataFrame,
      corpusDocs: DataFrame): DataFrame =
    incrementalVerdicts(batchDocs, bandStore, corpusDocs,
      textBucketCap(batchDocs.sparkSession))

  private[graft] def incrementalVerdicts(
      batchDocs: DataFrame, bandStore: DataFrame,
      corpusDocs: DataFrame, cap: Int): DataFrame = {
    val par = batchDocs.sparkSession.sparkContext.defaultParallelism
    // same two-exchange shape as minhashPairsBuild: the hash repartition
    // above the shingle arrays is the materialization point both
    // consumers (banding, verification join-back) reuse via AQE
    val batchSh = batchDocs
      .repartition(par)
      .select(col("doc_id"), expr("ngram_hashes(text, 3, 'word')").as("sh"))
      .repartition(par, col("doc_id"))
    // capBuckets on the STORE side: a boilerplate flood persisted in the
    // band store would otherwise hand every colliding batch doc the whole
    // hot bucket as candidates (O(batch × width)); capped it is O(batch × cap).
    // The store is pruned to the batch's TOUCHED buckets BEFORE the cap
    // window — the r19 500k-doc decade measured the unpruned form
    // shuffling the ENTIRE store through the window per probe (9M recs /
    // 531 MB steady-state: O(corpus), the exact scale-killer the shuffle
    // audit hunts, invisible at sf0.01 where the store is 7.6k rows).
    // Pruned, the window shuffles only touched-bucket rows — O(batch ×
    // width). The semi-join key frame is batch-band-sized (bands × drop
    // docs × 12 B — MBs for any real daily drop), and the broadcast is
    // FORCED: AQE's size estimate for the distinct-agg output read ~tens
    // of MB and kept the sort-merge plan, which re-shuffled the whole
    // store anyway (measured: the hinted form cut the 500k probe's
    // shuffle 535 MB → O(touched); a drop too large to broadcast is past
    // the point where per-batch probing beats re-running the batch pair
    // search — the documented envelope). Member sets WITHIN a touched
    // bucket are unchanged, so the capped candidate set is identical to
    // the unpruned form's.
    val batchBands = bandRows(batchSh)
    val touched = bandStore
      .select(col("band_id"), col("band_hash"), col("doc_id").as("match_id"))
      .join(broadcast(batchBands.select("band_id", "band_hash").distinct()),
        Seq("band_id", "band_hash"))
    // EAGERLY MATERIALIZED (r22, guide §3.3 / r21 verdict #4): the probe's
    // plan embedded this candidate subtree (banding + touched-bucket join
    // + cap window) once per downstream consumer — candK alone, then
    // verifiedC and the shC rep fetch each re-embed candK — multiplying
    // the tree to ~1,055 formatted lines and 0.22-0.43 s of PHYSICAL
    // PLANNING per call, more than the probe's own execution (0.18 s,
    // DevPlanTime). Checkpointing the id-pair frame (16 B/row, ≤ batch ×
    // cap rows) turns every re-embedding into an ExistingRDD leaf: same
    // rows, same per-call work (the subtree executed exactly once at run
    // time anyway via AQE exchange reuse), but planned ONCE. No cross-call
    // state: the checkpoint lives inside this query invocation.
    val cand = batchBands
      .join(capBuckets(touched, Seq("band_id", "band_hash"), "match_id", cap),
        Seq("band_id", "band_hash"))
      .select(col("doc_id"), col("match_id")).distinct()
      .localCheckpoint(true)
    // exact-Jaccard verification once per DISTINCT CONTENT pair (the
    // minhashPairsOf r19 discipline): the per-ID form shipped the shingle
    // arrays per candidate pair (~280 MB of the 500k decade probe's
    // 416 MB steady shuffle — copies of one content re-verified per
    // copy). Identical texts have identical shingle sets, so each
    // (batch content, match content) pair is scored once against
    // representatives and the score joins back to the 16 B id pairs.
    // sha2-256, not md5 (r20 verdict #2, completing the minhashPairsOf
    // migration): this key ASSERTS content identity for the admit/reject
    // verdict an adversarial daily drop actually hits — chosen-prefix md5
    // collisions are practical to plant; no published sha-256 collision
    // exists. Same one-line swap as Dedup.scala:240.
    val batchKeys = batchDocs.select(col("doc_id"),
      coalesce(sha2(col("text"), 256), lit("∅")).as("ck"))
    val matchKeys = corpusDocs.select(col("doc_id").as("match_id"),
      coalesce(sha2(col("text"), 256), lit("∅")).as("ck_c"))
    // same §3.3 truncation as cand: candK feeds THREE consumers (the rep
    // fetch, the verified-content distinct, and the final score join-back)
    // and re-embeds two more document scans per copy; still candidate-set-
    // sized (id pair + two 64-hex content keys per row)
    val candK = cand.join(batchKeys, Seq("doc_id")).join(matchKeys, Seq("match_id"))
      .localCheckpoint(true)
    val shB = batchSh
      .join(batchKeys.groupBy("ck").agg(min("doc_id").as("doc_id")), Seq("doc_id"))
      .select(col("ck"), col("sh"))
    // candidate-content representatives are shingled fresh — matched
    // contents only (at production this is the doc-store point-fetch).
    // The rep-id frame is FORCE-broadcast: candidate-content-sized
    // (≤ batch × cap ids), while a plan-estimated join here shuffled the
    // corpus TEXT table itself (~430 MB of the 500k decade probe —
    // payloads moving for a point-fetch of ~65k reps)
    val shC = corpusDocs
      .join(broadcast(candK.groupBy("ck_c").agg(min("match_id").as("match_id"))
          .select(col("match_id").as("doc_id"))),
        Seq("doc_id"))
      .repartition(par)
      .select(coalesce(sha2(col("text"), 256), lit("∅")).as("ck_c"),
        expr("ngram_hashes(text, 3, 'word')").as("sh_c"))
    val verifiedC = candK.select("ck", "ck_c").distinct()
      .join(shB, Seq("ck"))
      .join(shC, Seq("ck_c"))
      .withColumn("ca", size(array_distinct(col("sh"))).cast("double"))
      .withColumn("cb", size(array_distinct(col("sh_c"))).cast("double"))
      .withColumn("c", size(array_intersect(col("sh"), col("sh_c"))).cast("double"))
      .withColumn("jaccard", round(col("c") / (col("ca") + col("cb") - col("c")), 6))
      .select("ck", "ck_c", "jaccard")
    // best-match argmax as max_by, not a rank window (r22, the
    // q_upsert_latest discipline): rk=1 under (jaccard DESC, match_id ASC)
    // is exactly argmax of (jaccard, -match_id) — match_ids are non-negative
    // doc ids, so the negation cannot overflow — and the aggregate skips
    // the window's per-partition sort + rank filter in one hash pass.
    val verified = candK
      .join(verifiedC, Seq("ck", "ck_c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"),
        max_by(col("match_id"),
          struct(col("jaccard"), negate(col("match_id")))).as("match_id"),
        max(col("jaccard")).as("jaccard"))
    batchDocs.select("doc_id")
      .join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("match_id"), col("jaccard"),
        coalesce(col("jaccard") >= 0.5, lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }
}
