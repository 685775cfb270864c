package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{SessionCache, Tables}

/** Approximate-nearest-neighbor / similarity search over the `embeddings`
  * table (driver extension; SURVEY.md §2.6 O4).
  *
  * Three tiers:
  *  - [[simTopK]]: exact brute-force cosine top-k — the correctness baseline,
  *    oracle-verified against DuckDB `list_cosine_similarity`.
  *  - [[simAnnIvf]]: probe of the materialized cluster-partitioned inverted
  *    file ([[AnnIndex.ensureIvf]]) — partition pruning reads ≤ nprobe
  *    cells, never the corpus.
  *  - [[simAnnLsh]]: random-hyperplane LSH over the materialized key-only
  *    banded-signature artifact ([[AnnIndex.lshBands]]); candidate
  *    retrieval is a bucket equi-join on band keys instead of an O(n) scan
  *    per query (or O(n²) all-pairs).
  */
object Similarity {

  /** Embedding-column statistics: per-label vector count and L2-norm
    * min/avg/max — the sanity profile a pipeline runs before trusting an
    * embedding table (catches unnormalized / zero vectors per class).
    * Determinism: the per-row norm is a left-fold over 64 elements
    * (same order both engines); the cross-row average routes each norm
    * through DECIMAL(28,12) so the SUM is exact and order-insensitive —
    * `avg(double)` would be partial-sum-order dependent. min/max are exact
    * comparisons, safe as doubles.
    * Scale: one map pass + one hash aggregate with map-side partials.
    */
  def vectorNorms(spark: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val norm = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    Tables.embeddings(spark, dir)
      .select(col("label"), norm.as("norm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(min("norm"), 6).as("min_norm"),
        round(sum(col("norm").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("avg_norm"),
        round(max("norm"), 6).as("max_norm"))
      .transform(Present.cardSort(_, col("label")))
  }

  /** Scalar-quantization audit — per label: how much reconstruction error
    * symmetric int8 quantization (scale = max|x|/127 per vector, the
    * standard serving-tier compression) would cost this corpus. At 100 TB
    * an f32 embedding store is 4× the int8 one, and the decision to
    * quantize is made from exactly this table: relative L2 error per
    * class (a class with tiny-magnitude vectors quantizes worse) against
    * the 4× memory/IO win. The card is the audit; a deployment then
    * stores `transform(v, x -> CAST(round(x/scale) AS TINYINT))` +
    * `scale` and reconstructs in the probe.
    *
    * Determinism: per-element terms fold in array order; the per-vector
    * error sums route each term rounded-then-DECIMAL(28,12) so the sum is
    * order-insensitive; per-label avg is a DECIMAL sum of rounded
    * per-vector ratios over an exact count. round(x/scale) at an exact
    * .5 is engine-ambiguous but measure-zero over real-valued floats.
    * Scale: map-only over one corpus scan (no per-vector shuffle) behind
    * the adaptive [[Tables.spread]] — the per-element folds are the cost —
    * then one label-sized hash aggregate with map-side partials.
    */
  def quantizeEmbed(spark: SparkSession, dir: String): DataFrame = {
    val v = col("v")
    // scale hoisted to a COLUMN before the lambdas reference it — an
    // inlined scale re-evaluates its array_max fold per element inside
    // the interpreted HOF, O(d²) boxed work per row (the int8Quantize
    // build-wall lesson, r19). Same arithmetic bit-for-bit.
    val scale = col("scale")
    // order-insensitive per-vector sum: each double term rounds to
    // DECIMAL scale 12 and sums exactly — the native `dsum12` fold
    // (plans/DecimalFolds) runs the identical arithmetic to the old
    // aggregate(..., cast(dec)) HOF chain in one primitive loop
    def dsum(arr: Column): Column = call_function("dsum12", arr)
    val errSq = dsum(zip_with(v, transform(v, x => round(x / scale) * scale),
      (x, q) => pow(x - q, 2)))
    val normSq = dsum(transform(v, x => pow(x, 2)))
    Tables.spread(Tables.embeddings(spark, dir).select("label", "embedding"))
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / lit(127.0))
      .select(col("label"),
        round(sqrt(errSq / normSq), 6).as("rel_err"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(col("rel_err").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_rel_err"),
        round(max("rel_err"), 6).as("max_rel_err"))
      .transform(Present.cardSort(_, col("label")))
  }

  /** PQ distortion card — the [[quantizeEmbed]] audit for the 64× tier:
    * per label, the average/max L2 reconstruction error of the
    * product-quantized codes against the NORMALIZED vectors (unit norm,
    * so the error is already relative). The number a deployment reads
    * before flipping retrieval to [[simAnnPq]]/[[simAnnIvfPq]], and the
    * drift detector afterwards: a corpus whose distribution moved away
    * from the trained codebooks shows up here as a rising error, not as
    * silent recall loss.
    *
    * The kernel (`pq_recon_err`) fuses encode + error in ONE pass over
    * the embeddings scan — no codes column, no join against the store —
    * and shares the argmin with `pq_encode` (PqKernel), so it can never
    * audit a different quantizer than the store uses. Unpriceable rows
    * (empty/non-finite embeddings, which the encoder maps to code 0)
    * surface as `n_bad` rather than skewing the averages. rows-only: the
    * error is a function of the trained codebooks (the q_sim_ann_ivf
    * class). Determinism: per-vector error folds in subspace order;
    * per-label avg routes rounded per-vector values through DECIMAL.
    * Scale: map-only corpus scan + label-sized hash agg, zero shuffle
    * beyond the card partials — the quantizeEmbed discipline.
    */
  def quantizePq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ver = AnnIndex.corpusVersion(spark, dir)
    val cb = Seq(Tuple1(
      PqIndex.codebooks(spark, dir, ver).toSeq)).toDF("cbs")
    Tables.embeddings(spark, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(cb)) // 1-row codebook: zero fan
      .select(col("label"),
        round(sqrt(expr(
          s"pq_recon_err(v, cbs, ${PqIndex.M}, ${PqIndex.Ksub})")), 6)
          .as("rel_err"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        // rows the quantizer cannot price (empty/non-finite embeddings —
        // the kernel returns null): surfaced, never silently averaged
        // away. avg divides by the PRICED count so one garbage row
        // cannot deflate the distortion estimate it gates on.
        (count(lit(1)) - count(col("rel_err"))).as("n_bad"),
        round(sum(col("rel_err").cast("decimal(18,6)")).cast("double") /
          count(col("rel_err")), 6).as("avg_rel_err"),
        round(max("rel_err"), 6).as("max_rel_err"))
      .transform(Present.cardSort(_, col("label")))
  }

  /** Per-dimension embedding-health card — mean/std/min/max and the
    * near-zero fraction for each of the 64 dimensions. The QA table for
    * an embedding store: a dimension whose std collapsed is dead (an
    * encoder bug or a truncated export), one whose mean drifted breaks
    * cosine geometry, and at 100 TB you find that out from 64 rows, not
    * by probing.
    *
    * Determinism: per-dim sums of x and x² route through DECIMAL(28,12)
    * (order-insensitive); mean/std/frac are a handful of IEEE double ops
    * on those exact sums, rounded to 6. Scale: one corpus scan behind
    * the adaptive [[Tables.spread]], posexplode to (dim, x) pairs
    * (map-side), one 64-group hash aggregate with map-side partials —
    * beyond the spread, the shuffle carries 64×partials, never the corpus.
    */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(28,12)"
    Tables.spread(Tables.embeddings(spark, dir).select("embedding"))
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("bigint").as("dim"), col("x"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("s"),
        sum((col("x") * col("x")).cast(dec)).as("ss"),
        round(min("x"), 6).as("min_x"),
        round(max("x"), 6).as("max_x"),
        sum((abs(col("x")) < 1e-6).cast("long")).as("nz"))
      .select(
        col("dim"), col("n"),
        round(col("s").cast("double") / col("n"), 6).as("mean"),
        round(sqrt(greatest(
          col("ss").cast("double") / col("n") -
            pow(col("s").cast("double") / col("n"), 2),
          lit(0.0))), 6).as("std"),
        col("min_x"), col("max_x"),
        round(col("nz").cast("double") / col("n"), 6).as("frac_nearzero"))
      .transform(Present.cardSort(_, col("dim")))
  }

  /** Embedding-outlier audit: the 20 vectors farthest (L2) from their own
    * label's centroid — the mislabel/contamination shortlist an embedding
    * QA pass reviews by hand ([[embedDimStats]] finds broken DIMENSIONS;
    * this finds broken ROWS). A vector far from its class center is either
    * mislabeled, an encoder glitch, or genuine tail data — all three are
    * exactly what you want eyes on before training on the corpus.
    *
    * Determinism: centroid dims are one IEEE double division of a
    * DECIMAL-exact per-(label, dim) sum by an exact count (identical in
    * both engines); the per-vector squared-distance terms route through
    * DECIMAL(28,12) so the 64-term sum is order-insensitive; output is
    * round(dist, 6) with a vec_id tiebreak at the top-20 boundary.
    *
    * Scale: a mean must exist before distances to it, so the centroid
    * pass (posexplode to (label, pos) partials — map-side combine,
    * card-sized output labels × 64) runs once per corpus version as a
    * session artifact. The per-query plan is then scan-once: join the
    * BROADCAST centroid card, compute the distance inside the row (no
    * explode, no per-element shuffle), TakeOrdered keeps 20 via
    * per-partition heaps — ZERO shuffle bytes, plan pinned (PlanSpec,
    * ShuffleAudit row).
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(28,12)"
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    // per-label centroids are a MODEL (|labels| rows, deterministic per
    // corpus version) — SessionCache artifact like the langid profiles /
    // ANN codebook, so repeat invocations skip the posexplode + two-level
    // aggregate and pay only the broadcast join + top-k scan below
    val cent = SessionCache.cached(spark, "embed_centroids", dir) {
      e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg((sum(col("x").cast(dec)).cast("double") /
          count(lit(1))).as("m"))
        .groupBy("label")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          p => p("m")).as("c"))
    }
    // native fused fold (plans/DecimalFolds): Σ dec12((x-m)²) in one
    // primitive loop, bit-identical to the interpreted
    // aggregate(zip_with(...)) HOF chain it replaces (oracle re-verified)
    e.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(sqrt(expr("sq_dist_sum12(v, c)")), 6).as("dist"))
      .orderBy(desc("dist"), asc("vec_id"))
      .limit(20)
  }

  private def withVec(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("v", col("embedding").cast("array<double>"))

  /** Co-locate the exact re-rank survivors (≤ K·pool rows) for the
    * per-qid window of the batched tiers. `coalesce(1)` is a NARROW
    * dependency: it satisfies the window's clustering with zero exchange,
    * but it also collapses the whole upstream stage — including the
    * In()-pushed f32 point-fetch SCAN — to ONE task. Output rows are
    * card-sized either way; scan WORK is corpus-sized (every file footer
    * open and matching row-group read), so the zero-exchange shape is the
    * right trade only while the corpus is small enough that one task's
    * footer walk is trivial (the bench/test regime — the r17 diet).
    * Past the regime bound (`spark.graft.ann.singleTaskScanRows`,
    * embeddings rows) the survivors instead exchange ONCE, hashed by qid:
    * card bytes move, scan parallelism is preserved, and the window plans
    * with no further exchange on top of the hash partitioning (r17
    * ADVICE). ShuffleAuditSpec pins the small regime at 0 B; PlanSpec
    * pins the big-regime exchange under a forced bound.
    */
  private def colocateForQidWindow(
      spark: SparkSession, dir: String, ver: String,
      rerank: DataFrame): DataFrame =
    if (AnnIndex.corpusCount(spark, dir, ver) <=
        spark.conf.get("spark.graft.ann.singleTaskScanRows",
          (1L << 21).toString).toLong)
      rerank.coalesce(1)
    else rerank.repartition(col("qid"))

  /** int8 tier exact re-rank pool size ([[simAnnInt8]]'s candidate
    * collect, [[simAnnInt8Batch]]'s per-qid pool) — a named constant so
    * the tier-advisor card prices the same pool the serving paths use.
    */
  val Int8Rerank = 50

  /** Quantized retrieve + exact re-rank — the standard int8 serving
    * pattern: score the whole corpus on the 4×-smaller int8 store
    * (map-side dequantize `x*scale`, TakeOrdered top-50 candidates),
    * then re-score ONLY those 50 against the f32 table and return the
    * exact top-10. The f32 corpus is never scanned for scoring: the
    * candidate ids are collected (bounded — 50 longs, the same driver
    * discipline as the LSH band keys) and pushed as a literal `isin`
    * predicate, so the re-rank scan shows `PushedFilters: In(vec_id, …)`
    * and reads only the row groups holding candidates (plan-pinned).
    * Determinism: both stages round to 6 with a vec_id tiebreak; the
    * re-ranked scores are exact cosine, so the output matches
    * [[simTopK]] whenever the int8 recall holds (spec-asserted).
    */
  def simAnnInt8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ver = AnnIndex.corpusVersion(spark, dir)
    // candidate pool memoized per (corpus version, re-rank depth) — the
    // r17 stage diet: a probe-per-query workload pays the store-scan
    // candidate job once per corpus version, and the steady-state probe
    // is the ONE In()-pushed exact re-rank job below
    val ids = AnnIndex.candidatePool(spark, dir, s"int8_r$Int8Rerank", ver) {
      int8Candidates(spark, dir, ver)
        .collect().map(r => (0L, r.getLong(0))).toSeq
    }.map(_._2)
    val q = Seq(Tuple1(
      AnnIndex.queryVector(spark, dir, 0L, ver).toSeq)).toDF("qv0")
    withVec(spark, dir)
      .where(col("vec_id").isin(ids: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(expr("cosine_sim(v, qv0)"), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(10)
  }

  /** The single-query int8 candidate plan [[simAnnInt8]] bounded-collects
    * from — exposed for PlanSpec: one int8-store scan scored by the fused
    * native dequantize+cosine (plans/VectorExpressions CosineSimQ8 —
    * bit-identical to the cosine_sim(transform(qv, x -> CAST(x AS DOUBLE)
    * * scale), qv0) HOF chain it replaced; ArrayTransform is
    * CodegenFallback and boxed n*d lambda evals per probe), global
    * top-[[Int8Rerank]] via TakeOrdered per-partition heaps. The query
    * vector rides as a literal from the driver cache — no 1-row
    * embeddings scan job inside the candidate build.
    */
  private[graft] def int8Candidates(
      spark: SparkSession, dir: String, ver: String): DataFrame = {
    import spark.implicits._
    val q = Seq(Tuple1(
      AnnIndex.queryVector(spark, dir, 0L, ver).toSeq)).toDF("qv0")
    AnnIndex.int8(spark, dir, ver)
      .where(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(expr("cosine_sim_q8(qv, scale, qv0)"), 6).as("asim"))
      .orderBy(desc("asim"), asc("vec_id"))
      .limit(Int8Rerank)
      .select("vec_id")
  }

  /** Batched int8 retrieve — [[BatchQueries]] queries against the int8
    * store in ONE scan (the [[simBatchTopK]] shape on the 4×-smaller
    * store): the store scan fans each row across the broadcast K-query
    * frame, dequantized scoring (`qv·scale`, the exact [[simAnnInt8]]
    * arithmetic), per-qid WindowGroupLimit keeps the [[Int8Rerank]]
    * pool, and the exact re-rank touches only the collected
    * ≤ K·[[Int8Rerank]] candidate ids via the In()-pushed point-fetch.
    * Unlike the trained-codebook batch tiers this one is
    * ORACLE-CHECKED: symmetric quantization is pure arithmetic, so
    * DuckDB replays the whole two-stage pipeline bit-for-bit.
    * At 100 TB: K queries cost one (d+16)-bytes/row store scan instead
    * of K f32 corpus scans — the standard quantized batch-serving
    * pattern.
    */
  def simAnnInt8Batch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ver = AnnIndex.corpusVersion(spark, dir)
    val qids = 0L until BatchQueries.toLong
    val qvs = AnnIndex.queryVectors(spark, dir, qids, ver)
    // pooled like the single-query tier: the one store-scan candidate
    // job runs per (corpus version, pool conf), not per invocation
    val cand = AnnIndex.candidatePool(
      spark, dir, s"int8b_r${Int8Rerank}_k$BatchQueries", ver) {
      int8BatchCandidates(spark, dir, ver, qvs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val pairDf = cand.toDF("qid", "vec_id") // ≤ K·Int8Rerank rows
    val allIds = cand.map(_._2).distinct
    val qs = qids.map(q => (q, qvs(q).toSeq)).toDF("qid", "qv")
    // ≤ K·Int8Rerank surviving rows; colocation for the per-qid window is
    // regime-adaptive (see colocateForQidWindow): zero-exchange coalesced
    // card while the point-fetch scan is single-task-cheap, one qid-hash
    // exchange of the survivors past the bound so the scan stays parallel
    colocateForQidWindow(spark, dir, ver,
      withVec(spark, dir)
        .where(col("vec_id").isin(allIds: _*)) // In()-pushed point-fetch
        .join(broadcast(pairDf), Seq("vec_id"))
        .join(broadcast(qs), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          round(expr("cosine_sim(v, qv)"), 6).as("sim")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))))
      .where(col("rank") <= 10)
      .transform(Present.cardSort(_, col("qid"), col("rank")))
  }

  /** The batched candidate plan [[simAnnInt8Batch]] bounded-collects
    * from — exposed for PlanSpec: ONE int8-store scan fans across the
    * broadcast query frame, dequantized scoring, per-qid
    * WindowGroupLimit pool. The f32 corpus is never read and the store
    * is never re-quantized here.
    */
  private[graft] def int8BatchCandidates(
      spark: SparkSession, dir: String, ver: String,
      qvs: Map[Long, Array[Double]]): DataFrame = {
    import spark.implicits._
    val qids = qvs.keys.toSeq.sorted
    // query frame under a name the store's own `qv` cannot collide with
    val qsD = qids.map(q => (q, qvs(q).toSeq)).toDF("qid", "qvd")
    AnnIndex.int8(spark, dir, ver)
      .where(col("vec_id") >= BatchQueries)
      .crossJoin(broadcast(qsD))
      .select(col("qid"), col("vec_id"),
        // same fused native as simAnnInt8's stage 1 (bit-identical pin)
        round(expr("cosine_sim_q8(qv, scale, qvd)"), 6).as("asim"))
      .withColumn("pr", row_number().over(
        Window.partitionBy("qid").orderBy(desc("asim"), asc("vec_id"))))
      .where(col("pr") <= Int8Rerank)
      .select("qid", "vec_id")
  }

  /** Product-quantized retrieve + exact re-rank — the compression tier
    * past [[simAnnInt8]]: candidates come from a scan of the 8-byte-code
    * PQ store ([[graft.operators.PqIndex]], 64× smaller than the f64
    * column) scored by the native `pq_adc` — m table lookups per row,
    * no vector arithmetic — then the top-50 are re-scored exactly
    * against the f32 table through the same In()-pushed bounded-collect
    * discipline as the int8 path. The ADC lookup table is driver math
    * from the cached codebooks (m·ksub doubles) and rides the plan as a
    * one-row broadcast.
    *
    * Scale: at 100 TB the candidate scan reads ~1/64th the bytes of the
    * exact path and ~1/16th of the int8 one. Recall is the PQ trade and
    * the re-rank pool ([[PqIndex.rerank]], default 100 — deeper than the
    * int8 path's 50 because one byte per 8 dims is genuinely lossy) is
    * the knob: measured on the synthetic UNIFORM-RANDOM testdata — the
    * PQ worst case, cosine gaps shrink toward the quantization noise as
    * n grows — DevPqRecall puts every exact-top-10 neighbor inside ADC
    * rank 87 at 500 vectors and 48 at sf0.01, while sf0.1's 2 000
    * vectors push single stragglers to rank ~315 (recall@10 ≈ 0.9–0.97
    * at the default pool). Real embedding corpora cluster and compress
    * far better. AnnPqSpec pins output equality with [[simTopK]] at the
    * small SF plus per-query recall floors over the batch-query set.
    */
  def simAnnPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ver = AnnIndex.corpusVersion(spark, dir)
    // the query vector is index metadata (pure function of corpus
    // version × vec id) — cached like queryBands, so a probe-per-query
    // workload pays no 1-row re-fetch job; the re-rank's query frame is
    // the same literal (zero corpus scans outside the candidate plan)
    val qv = AnnIndex.queryVector(spark, dir, 0L, ver)
    val q = Seq(Tuple1(qv.toSeq)).toDF("qv0")
    // pooled per (corpus version, re-rank depth): the ADC candidate job
    // runs once per corpus version; the steady probe is the point-fetch
    val ids = AnnIndex.candidatePool(
      spark, dir, s"pq_r${PqIndex.rerank(spark)}", ver) {
      pqCandidates(spark, dir, ver)
        .collect().map(r => (0L, r.getLong(0))).toSeq
    }.map(_._2)
    withVec(spark, dir)
      .where(col("vec_id").isin(ids: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(expr("cosine_sim(v, qv0)"), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(10)
  }

  /** The flat-PQ candidate plan [[simAnnPq]] bounded-collects from —
    * exposed for PlanSpec: one 8-byte-code store scan scored by the
    * native `pq_adc` (m table lookups per row, no vector arithmetic)
    * against the driver-math LUT riding as a 1-row broadcast, global
    * top-[[PqIndex.rerank]] via TakeOrdered per-partition heaps.
    */
  private[graft] def pqCandidates(
      spark: SparkSession, dir: String, ver: String): DataFrame = {
    import spark.implicits._
    val qv = AnnIndex.queryVector(spark, dir, 0L, ver)
    val lutDf = Seq(Tuple1(
      PqIndex.lut(qv, PqIndex.codebooks(spark, dir, ver)).toSeq)).toDF("lut")
    PqIndex.store(spark, dir, ver)
      .where(col("vec_id") =!= 0L)
      .crossJoin(broadcast(lutDf)) // 1-row LUT: zero fan
      .select(col("vec_id"),
        expr(s"pq_adc(codes, lut, ${PqIndex.Ksub})").as("adc"))
      .orderBy(desc("adc"), asc("vec_id"))
      .limit(PqIndex.rerank(spark))
      .select("vec_id")
  }

  /** IVF-PQ retrieve + exact re-rank — the two compressions composed
    * (the FAISS `IVFPQ` shape): candidates come from the CLUSTER-
    * PARTITIONED PQ store ([[AnnIndex.ensureIvfPq]]) whose scan is
    * STATICALLY pruned to the query's nprobe nearest cells (literal
    * partition predicates from driver-side pivot scoring — see
    * [[ivfPqCandidates]]), AND each scanned row is the 8-byte ADC-scored
    * code like [[simAnnPq]] — at 100 TB the candidate read is
    * ~n^(3/4)/64 of the exact probe's bytes, the only tier here that
    * shrinks BOTH the row count and the row width with corpus size. Top-
    * [[PqIndex.rerank]] ADC candidates re-score exactly through the
    * In()-pushed bounded-collect discipline.
    *
    * Recall composes two approximations (cell probe miss × quantization
    * noise), so this tier sits below [[simAnnIvf]] and [[simAnnPq]] on
    * the recall axis by construction — AnnPqSpec measures it against
    * both parents on the worst-case uniform corpus and pins the floors;
    * the knobs are nprobe (cell misses) and `spark.graft.ann.pqRerank`
    * (quantization misses), both query-time.
    */
  def simAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one corpus-version resolution per probe, threaded through the
    // candidate plan (each resolution is a metadata listing on an
    // unmanaged store — the round-7 triple-listing lesson)
    val ver = AnnIndex.corpusVersion(spark, dir)
    val q = Seq(Tuple1(
      AnnIndex.queryVector(spark, dir, 0L, ver).toSeq)).toDF("qv0")
    // pool key folds the assignment geometry (probed cells move with it),
    // the re-rank depth, AND nprobe — the r20 cap-sweep caught the
    // nprobe-less key serving the law-nprobe pool to every override
    // (card frozen at 0.2 across the whole sweep)
    val ids = AnnIndex.candidatePool(spark, dir,
      s"ivfpq_${AnnIndex.assignTag(spark, dir, ver)}" +
        s"_r${PqIndex.rerank(spark)}_np${AnnIndex.probeCount(spark,
          AnnIndex.centroids(spark, dir, ver).size)}",
      ver) {
      ivfPqCandidates(spark, dir, ver)
        .select("vec_id").collect().map(r => (0L, r.getLong(0))).toSeq
    }.map(_._2)
    withVec(spark, dir)
      .where(col("vec_id").isin(ids: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(expr("cosine_sim(v, qv0)"), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(10)
  }

  /** Batched IVF-PQ: [[BatchQueries]] queries against the PQ-coded
    * inverted file in ONE candidate job — the [[simAnnBatch]] shape on
    * the compressed store. All probe selection is driver math (cached
    * codebook × K cached query vectors, [[AnnIndex.cosRawArr]]), so the
    * scan is STATICALLY pruned to the UNION of the probed cells, each
    * cell read once even when several queries probe it; rows fan per
    * probing query via a broadcast (qid, cluster) frame, ADC-score
    * against a broadcast (qid, lut) frame (m table adds per row — no
    * vector math), and per-qid WindowGroupLimit keeps the top re-rank
    * pool. The exact re-rank touches only the collected ≤ K·pool
    * candidate ids through the In()-pushed point-fetch.
    * At 100 TB: K probes × fixed floor × repeated cell reads become one
    * job whose scan cost is the probed-cell union at 8 bytes/row —
    * ~n^(3/4)/64 of what [[simAnnBatch]]'s raw-vector union reads.
    */
  def simAnnIvfPqBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ver = AnnIndex.corpusVersion(spark, dir)
    val qids = 0L until BatchQueries.toLong
    // ONE bounded job fetches all K query vectors on a cold cache
    val qvs = AnnIndex.queryVectors(spark, dir, qids, ver)
    val cand = AnnIndex.candidatePool(spark, dir,
      s"ivfpqb_${AnnIndex.assignTag(spark, dir, ver)}" +
        s"_r${PqIndex.rerank(spark)}_k$BatchQueries" +
        s"_np${AnnIndex.probeCount(spark,
          AnnIndex.centroids(spark, dir, ver).size)}", ver) {
      ivfPqBatchCandidates(spark, dir, ver, qvs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val pairDf = cand.toDF("qid", "vec_id") // ≤ K·pool rows
    val allIds = cand.map(_._2).distinct
    val qs = qids.map(q => (q, qvs(q).toSeq)).toDF("qid", "qv")
    // ≤ K·pool surviving rows; regime-adaptive colocation for the per-qid
    // window (see colocateForQidWindow / simAnnInt8Batch)
    colocateForQidWindow(spark, dir, ver,
      withVec(spark, dir)
        .where(col("vec_id").isin(allIds: _*)) // In()-pushed point-fetch
        .join(broadcast(pairDf), Seq("vec_id"))
        .join(broadcast(qs), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          round(expr("cosine_sim(v, qv)"), 6).as("sim")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))))
      .where(col("rank") <= 10)
      .transform(Present.cardSort(_, col("qid"), col("rank")))
  }

  /** The batched candidate plan [[simAnnIvfPqBatch]] bounded-collects
    * from — exposed for PlanSpec: one statically-pruned scan of the
    * probed-cell UNION, broadcast (qid, cluster) fan + broadcast
    * (qid, lut) ADC scoring, per-qid WindowGroupLimit pool; no
    * re-encode, no re-assignment, no DPP subquery.
    */
  private[graft] def ivfPqBatchCandidates(
      spark: SparkSession, dir: String, ver: String,
      qvs: Map[Long, Array[Double]]): DataFrame = {
    import spark.implicits._
    val cents = AnnIndex.centroids(spark, dir, ver)
    val nprobe = AnnIndex.probeCount(spark, cents.size)
    val cbs = PqIndex.codebooks(spark, dir, ver)
    val qids = qvs.keys.toSeq.sorted
    val probePairs = qids.flatMap(q =>
      AnnIndex.probedCellsConsistent(spark, dir, ver, qvs(q), cents, nprobe)
        .map(c => (q, c)))
    val probeDf = probePairs.toDF("qid", "cluster")
    val lutDf = qids.map(q => (q, PqIndex.lut(qvs(q), cbs).toSeq))
      .toDF("qid", "lut")
    val cellUnion = probePairs.map(_._2).distinct
    AnnIndex.ivfPq(spark, dir, ver)
      .where(col("cluster").isin(cellUnion: _*)) // static prune: the union
      .where(col("vec_id") >= BatchQueries)
      .join(broadcast(probeDf), Seq("cluster")) // fan per probing query
      .join(broadcast(lutDf), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        expr(s"pq_adc(codes, lut, ${PqIndex.Ksub})").as("adc"))
      .withColumn("pr", row_number().over(
        Window.partitionBy("qid").orderBy(desc("adc"), asc("vec_id"))))
      .where(col("pr") <= PqIndex.rerank(spark))
      .select("qid", "vec_id")
  }

  /** The IVF-PQ candidate plan [[simAnnIvfPq]] bounded-collects from —
    * exposed so PlanSpec can pin its shape: the code-store scan must be
    * STATICALLY partition-pruned to the probed cells (literal predicates
    * on the partition column — no probe join in the plan at all),
    * contain no corpus re-encode (`pq_encode` is ingest-time work in
    * [[AnnIndex.ensureIvfPq]]) and no coarse re-assignment.
    *
    * Probe selection is driver math over the CACHED codebook and the
    * CACHED query vector ([[AnnIndex.cosRawArr]] — the BIT-EXACT
    * `cosine_sim` accumulation the distributed 1-row pivot plan would
    * broadcast-schedule, ordered with the same NaN-greatest descending
    * semantics, so the probed set matches [[simAnnIvf]]'s even on
    * degenerate zero-norm pivots);
    * turning it into literal `cluster IN (…)` predicates is the
    * [[AnnIndex.queryBands]] discipline applied to IVF — the scan prunes
    * at planning time instead of carrying a BroadcastExchange + DPP
    * subquery per probe.
    */
  private[graft] def ivfPqCandidates(spark: SparkSession, dir: String): DataFrame =
    ivfPqCandidates(spark, dir, AnnIndex.corpusVersion(spark, dir))

  /** As [[ivfPqCandidates]] with the corpus version precomputed. */
  private[graft] def ivfPqCandidates(
      spark: SparkSession, dir: String, ver: String): DataFrame = {
    import spark.implicits._
    val cents = AnnIndex.centroids(spark, dir, ver)
    val nprobe = AnnIndex.probeCount(spark, cents.size)
    // cached query vector (see simAnnPq); the LUT is driver math
    val qv = AnnIndex.queryVector(spark, dir, 0L, ver)
    val lutDf = Seq(Tuple1(
      PqIndex.lut(qv, PqIndex.codebooks(spark, dir, ver)).toSeq)).toDF("lut")
    // IEEE total order: NaN sorts greatest, matching Spark's desc()
    val probed = AnnIndex.probedCellsConsistent(spark, dir, ver, qv, cents, nprobe)
    AnnIndex.ivfPq(spark, dir, ver)
      .where(col("cluster").isin(probed: _*))
      .where(col("vec_id") =!= 0L)
      .crossJoin(broadcast(lutDf)) // 1-row LUT: zero fan
      .select(col("vec_id"),
        expr(s"pq_adc(codes, lut, ${PqIndex.Ksub})").as("adc"))
      .orderBy(desc("adc"), asc("vec_id"))
      .limit(PqIndex.rerank(spark))
  }

  /** O4 — exact cosine top-k for query vector vec_id=0.
    * Scale: the single query row is broadcast; similarity is evaluated
    * map-side over the corpus scan and the global top-k is
    * TakeOrderedAndProject (per-partition heaps, driver merges k rows, never
    * the corpus). Rounded similarity + vec_id tiebreak keep the boundary
    * deterministic for the oracle hash.
    */
  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = withVec(spark, dir)
    val q = emb.where(col("vec_id") === 0L).select(col("v").as("qv"))
    emb.where(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        round(expr("cosine_sim(v, qv)"), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(10)
  }

  /** Batched exact top-k: ONE plan scores [[BatchQueries]] query vectors
    * against the corpus and returns each query's top-10 — the serving shape
    * of a retrieval tier, where queries arrive in batches and a per-query
    * loop would pay the scheduling floor K times (and rescan the corpus K
    * times).
    *
    * Scale: the K-row query frame broadcasts; the corpus is scanned ONCE
    * with a map-side K-way fan (K·n rows never materialize — the fan feeds
    * straight into the group-limit). Per-query top-10 is
    * `row_number ≤ 10`, which Spark rewrites to WindowGroupLimit: each
    * input partition keeps its local top-10 PER QUERY before the exchange,
    * so the shuffle carries ≤ K·10 rows per partition, not the scanned
    * corpus (pinned in PlanSpec).
    */
  def simBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = withVec(spark, dir)
    val qs = emb.where(col("vec_id") < BatchQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    emb.where(col("vec_id") >= BatchQueries)
      .crossJoin(broadcast(qs))
      .select(col("qid"), col("vec_id"),
        round(expr("cosine_sim(v, qv)"), 6).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))))
      .where(col("rank") <= 10)
      .transform(Present.cardSort(_, col("qid"), col("rank")))
  }

  /** How many query vectors the batched variants serve (vec_id 0..4). */
  val BatchQueries = 5

  /** O4'' — IVF (inverted-file) ANN: probe the query's nearest
    * [[AnnIndex.probeCount]] clusters (√k, floored at
    * [[AnnIndex.NProbe]]) of the MATERIALIZED inverted file; exact cosine
    * re-rank of the probed cells only.
    *
    * The full-corpus coarse assignment happens once per corpus version in
    * [[AnnIndex.ensureIvf]] (ingest-time work, shared with the streaming
    * ingester's layout) — this probe never recomputes it. Probe cluster
    * selection is k cosines against the broadcast query (k =
    * [[AnnIndex.pivotCount]], √n of the corpus — the cached codebook);
    * the index join is a broadcast hash join on the PARTITION column, so
    * dynamic partition pruning reduces the parquet scan to the ≤ nprobe
    * probed directories (pinned in PlanSpec) — at 100 TB a probe reads
    * ~n^(3/4) rows and the unopened fraction grows with the corpus.
    */
  def simAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one corpus-version resolution per probe, shared by pivots + index
    // (each resolution is an O(1) marker read on a managed store but a
    // full metadata listing on an unmanaged one)
    val ver = AnnIndex.corpusVersion(spark, dir)
    // probe selection is driver math over the CACHED codebook and the
    // CACHED query vector ([[AnnIndex.probedCells]] — bit-exact
    // `cosine_sim` ranking, NaN-greatest descending, so the probed set
    // matches the distributed 1-row pivot plan this replaced in r17);
    // literal `cluster IN (…)` predicates prune the inverted-file scan
    // at PLANNING time — the queryBands discipline applied to raw IVF,
    // replacing a BroadcastExchange + DPP subquery per probe. The whole
    // probe is then ONE TakeOrdered job over the pruned cells.
    val cents = AnnIndex.centroids(spark, dir, ver)
    val nprobe = AnnIndex.probeCount(spark, cents.size)
    val qv = AnnIndex.queryVector(spark, dir, 0L, ver)
    val probed = AnnIndex.probedCellsConsistent(spark, dir, ver, qv, cents, nprobe)
    val q = Seq(Tuple1(qv.toSeq)).toDF("qv")
    AnnIndex.ivf(spark, dir, ver)
      .where(col("cluster").isin(probed: _*))
      .where(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q)) // 1-row query: zero fan
      .select(col("vec_id"), round(expr("cosine_sim(v, qv)"), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(10)
  }

  /** Batched IVF ANN: [[BatchQueries]] queries probed in ONE plan against
    * the materialized inverted file — cluster selection for ALL queries is
    * a single K×k broadcast product (k = [[AnnIndex.pivotCount]], √n of
    * the corpus; per-query rank via WindowGroupLimit over ≤ K·k rows),
    * and the index scan is pruned by
    * dynamic partition pruning to the UNION of the probed cells, each read
    * once even when several queries probe it. A corpus row in a
    * multi-probed cell fans per probing query AFTER the pruned scan,
    * tagged with qid; re-rank joins the broadcast query frame and the
    * per-qid top-10 group-limits map-side like [[simBatchTopK]].
    * At 100 TB this is the difference between K probes × fixed floor ×
    * repeated cell reads and one job whose scan cost is the probed-cell
    * union.
    */
  def simAnnBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ver = AnnIndex.corpusVersion(spark, dir)
    val cents = AnnIndex.centroids(spark, dir, ver)
    val nprobe = AnnIndex.probeCount(spark, cents.size)
    val qids = 0L until BatchQueries.toLong
    // all probe selection is driver math (cached codebook × K cached
    // query vectors — the ivfPqBatchCandidates discipline since r17):
    // the scan is STATICALLY pruned to the union of the probed cells,
    // each cell read once even when several queries probe it, with no
    // K×k broadcast product or DPP subquery ahead of it
    val qvs = AnnIndex.queryVectors(spark, dir, qids, ver)
    val probePairs = qids.flatMap(q =>
      AnnIndex.probedCellsConsistent(spark, dir, ver, qvs(q), cents, nprobe)
        .map(c => (q, c)))
    val probeDf = probePairs.toDF("qid", "cluster")
    val cellUnion = probePairs.map(_._2).distinct
    val qs = qids.map(q => (q, qvs(q).toSeq)).toDF("qid", "qv")
    AnnIndex.ivf(spark, dir, ver)
      .where(col("cluster").isin(cellUnion: _*)) // static prune: the union
      .where(col("vec_id") >= BatchQueries)
      .join(broadcast(probeDf), Seq("cluster")) // fan per probing query
      .join(broadcast(qs), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(expr("cosine_sim(v, qv)"), 6).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))))
      .where(col("rank") <= 10)
      .transform(Present.cardSort(_, col("qid"), col("rank")))
  }

  /** ANN self-audit: recall@10 of EVERY approximate tier ([[simAnnIvf]],
    * [[simAnnLsh]], [[simAnnInt8]], [[simAnnPq]], [[simAnnIvfPq]])
    * against the exact [[simTopK]] for the same query — the
    * number a retrieval deployment tracks to decide nprobe / band count /
    * re-rank pool before trading accuracy for scan cost. rows-only:
    * composes rows-only/oracle plans whose own correctness is already
    * gated. Scale: all inputs are 10-row frames (each already the bounded
    * output of a pruned plan); the overlap joins and the 5-row union are
    * driver-trivial by construction, and since r14 the whole card is a
    * once-per-(session, corpus version, probe-conf) SessionCache artifact
    * — steady state reads 5 rows, zero probes (PlanSpec-pinned).
    * (Measured dead ends inside the BUILD, for the record: collecting
    * the exact ids into an isin() filter and checkpointing the exact
    * frame both cost MORE than the inlined subtree — the 10-row
    * materialization forfeits TakeOrderedAndProject and the construction-
    * time work serializes ahead of the probe plans.)
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    // the card is a pure function of (corpus version, assignment
    // geometry, PQ re-rank pool) — the cluster_profile precedent (r13
    // verdict #5): six probe subtrees per invocation become a
    // once-per-(session, corpus version) build, and a dashboard polling
    // the card reads the 5-row artifact. Conf knobs that change the
    // answer fold into the key (the r13 ADVICE cap-key discipline);
    // Int8Rerank and LshProbeFlips are compile-time constants.
    val ver = AnnIndex.corpusVersion(spark, dir)
    val key = s"ann_recall_${AnnIndex.assignTag(spark, dir, ver)}" +
      s"_r${PqIndex.rerank(spark)}" +
      s"_np${AnnIndex.probeCount(spark, AnnIndex.centroids(spark, dir, ver).size)}"
    SessionCache.cached(spark, key, dir, ver) {
      val exact = simTopK(spark, dir).select("vec_id")
      def recallOf(method: String, approx: DataFrame): DataFrame =
        approx.select("vec_id").join(exact, Seq("vec_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(method).as("method"),
            round(col("hits") / 10.0, 6).as("recall_at_10"))
      recallOf("ivf", simAnnIvf(spark, dir))
        .unionByName(recallOf("lsh", simAnnLsh(spark, dir)))
        .unionByName(recallOf("int8", simAnnInt8(spark, dir)))
        .unionByName(recallOf("pq", simAnnPq(spark, dir)))
        .unionByName(recallOf("ivfpq", simAnnIvfPq(spark, dir)))
        .transform(Present.cardSort(_, col("method")))
    }
  }

  /** Embedding-domain cluster profile: per IVF cell — population, dominant
    * label and its share, and cohesion (average cosine of members to their
    * own centroid). This is the composition card a curation pipeline reads
    * before weighting domains (which semantic regions dominate, how pure
    * each is, which cells are diffuse enough to need re-clustering) — the
    * cluster-level view that SemDeDup-style pruning and domain-mixture
    * tuning both start from.
    *
    * Reuses the SAME cached codebook as the ANN index ([[AnnIndex
    * .centroids]] — build-once per corpus version), so the profile and the
    * index describe identical cells and a probe's cluster ids line up with
    * the profile's rows. rows-only: the oracle can't replay k-means.
    *
    * Determinism: centroids are rounded at build ([[AnnIndex.centroids]]),
    * per-row cosine is a fixed-order fold, the cross-row average routes
    * through DECIMAL(28,12) (order-insensitive sum), dominant-label ties
    * break on the smaller label value.
    * Scale: assignment is map-side (broadcast 1-row codebook, zero fan)
    * over the corpus scan; the only shuffles carry (cluster × label) partial
    * aggregates — map-side combine leaves ≤ cells×labels rows in flight,
    * never vectors. Since r14 that pass runs once per (session, corpus
    * version): the (cell × label) card is a SessionCache artifact and the
    * steady-state query is the card-sized rollup alone.
    */
  def clusterProfile(spark: SparkSession, dir: String): DataFrame = {
    // the (cell × label) card — count + DECIMAL-exact similarity mass per
    // cell per label — is a SessionCache artifact like its ten ANN-family
    // siblings (r13 verdict #5: this was the family's last per-query
    // corpus scan). The assignment pass (broadcast 1-row codebook,
    // map-side argmax over the spread scan) runs once per (session,
    // corpus version); the card is ≤ cells × labels rows, squarely inside
    // the SessionCache size discipline, and every later profile query is
    // the card-sized rollup below over the checkpointed frame — zero
    // embeddings scans (PlanSpec-pinned).
    // ONE corpus-version resolution, shared by key + build; the
    // assignment geometry folds into the key so a groupProbes change
    // rebuilds the card against cells the index would actually assign
    val ver = AnnIndex.corpusVersion(spark, dir)
    val cells = SessionCache.cached(spark,
      s"cluster_cells_${AnnIndex.assignTag(spark, dir, ver)}", dir, ver) {
      clusterCellsBuild(spark, dir, ver)
    }
      // ≤ cells × labels rows — one coalesced partition satisfies the
      // cluster rollup's clustering requirement, so no second exchange
      .coalesce(1)
    cells.groupBy("cluster")
      .agg(
        sum("n").as("n_vecs"),
        // min_by over (-n, label): dominant count first, label-asc ties
        expr("min_by(label, struct(-n, label))").as("top_label"),
        round(max("n").cast("double") / sum("n"), 6).as("top_share"),
        round(sum("s").cast("double") / sum("n"), 6).as("avg_sim"))
      .select(col("cluster").cast("int").as("cluster"), col("n_vecs"),
        col("top_label"), col("top_share"), col("avg_sim"))
      .transform(Present.cardSort(_, col("cluster")))
  }

  /** The uncached (cell × label) card builder behind [[clusterProfile]]
    * (PlanSpec pins ITS shape — the cached consumer reads a checkpoint
    * leaf): broadcast 1-row codebook, map-side argmax assignment over the
    * spread scan, broadcast centroid join for the cohesion cosine, one
    * (cluster, label)-keyed aggregate with map-side combine.
    */
  private[graft] def clusterCellsBuild(spark: SparkSession, dir: String): DataFrame =
    clusterCellsBuild(spark, dir, AnnIndex.corpusVersion(spark, dir))

  private[graft] def clusterCellsBuild(
      spark: SparkSession, dir: String, ver: String): DataFrame = {
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    // SAME dispatch as the index build (two-level past the pivot
    // threshold), so the profile and the inverted file describe
    // identical cells
    AnnIndex.coarseAssign(spark, dir, ver)(emb)
      .join(broadcast(AnnIndex.pivots(spark, dir, ver)
        .withColumnRenamed("pivot_id", "cluster")), Seq("cluster"))
      .select(col("cluster"), col("label"), expr("cosine_sim(v, pv)").as("sim"))
      .groupBy("cluster", "label")
      .agg(count(lit(1)).as("n"), sum(col("sim").cast("decimal(28,12)")).as("s"))
  }

  /** k-NN label propagation — classify each of the [[BatchQueries]] query
    * vectors by the majority label of its 10 nearest corpus neighbors (the
    * label-a-new-document / auto-tag-an-unlabeled-drop step a curation
    * pipeline runs between embedding and mixture assignment; SemDeDup-era
    * pipelines use exactly this to extend a small labeled seed set over an
    * unlabeled crawl).
    *
    * Shape: the neighbor retrieval IS [[simBatchTopK]] — one corpus scan,
    * broadcast K-row query frame, per-query WindowGroupLimit keeps each
    * partition's local top-10 before the exchange — followed by a
    * vote-count aggregate over the ≤ K·10 surviving rows. At scale the
    * retrieval swaps to the IVF probe ([[simAnnBatch]]) without touching
    * the voting stage.
    * Determinism: neighbor boundary on (rounded sim, vec_id); votes are
    * exact counts; tie on votes breaks by DECIMAL-exact similarity mass
    * then smaller label; avg_sim is one double division of exact terms.
    */
  def knnLabel(spark: SparkSession, dir: String): DataFrame = {
    val emb = withVec(spark, dir)
    val qs = emb.where(col("vec_id") < BatchQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val knn = emb.where(col("vec_id") >= BatchQueries)
      .crossJoin(broadcast(qs))
      .select(col("qid"), col("vec_id"), col("label"),
        round(expr("cosine_sim(v, qv)"), 6).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))))
      .where(col("rank") <= 10)
    knn.groupBy("qid", "label")
      .agg(count(lit(1)).as("votes"),
        sum(col("sim").cast("decimal(18,6)")).as("simsum"))
      .withColumn("r", row_number().over(
        Window.partitionBy("qid")
          .orderBy(desc("votes"), desc("simsum"), asc("label"))))
      .where(col("r") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"),
        round(col("simsum").cast("double") / col("votes"), 6).as("avg_sim"))
      .transform(Present.cardSort(_, col("qid")))
  }

  /** O4' — LSH-bucketed ANN for the same query (rows-only check; the brute
    * twin above is the oracle-verified baseline and its recall reference).
    *
    * Candidates come from the MATERIALIZED key-only banded-signature
    * artifact ([[AnnIndex.lshBands]], computed once per corpus version):
    * corpus rows landing in any of the query's MULTI-PROBED buckets — each
    * band's exact bucket plus its one-bit-flip neighbors
    * ([[AnnIndex.probeBands]], ≤ nBands·(1+bandBits) pairs, map-side,
    * collected bounded), pushed as LITERAL predicates on the index's
    * (band_id, band_grp) PARTITION columns — static pruning opens only
    * the probed GROUP directories — plus a pushed `band_key` equality
    * that row-group-prunes inside each group file (keys stored sorted;
    * the r17 group-dir format, [[AnnIndex.LshGrpBits]], which bounds the
    * store at ≤ bands·2^LshGrpBits directories at ANY corpus size — the
    * dir-per-bucket layout it replaced cost 16.6 ms/file to build and
    * 4.2M dirs at the 20-bit cap). The probe plan shows
    * `PartitionFilters` on the group columns (pinned in PlanSpec) with
    * no hyperplane fold over the corpus. Vector payloads join back for
    * the few candidates only (broadcast semi-probe over the corpus scan
    * — map-side, no shuffle), then exact cosine re-rank. Since r17 the
    * candidate-id set is a SessionCache artifact; the steady probe is
    * the broadcast-join + TakeOrdered job alone.
    * Scale: the artifact is ~16 B/row in ≤256 group files of ~1 MB row
    * groups; a probe reads ~bands·(1+bandBits) row groups and the
    * payload fetch touches the colliding vectors only. Multi-probe
    * widens only this bounded probe set — the stored index never grows
    * (that's the [[AnnIndex.LshProbeFlips]] trade).
    */
  def simAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE corpus-version resolution per probe, threaded through band
    // derivation, geometry, and the index read (each resolution is a
    // metadata listing on an unmanaged store)
    val ver = AnnIndex.corpusVersion(spark, dir)
    // the candidate-id set is index-derived probe metadata like its
    // int8/PQ siblings' pools, but LSH candidates GROW with the corpus
    // (~n/(nBands·2^bandBits) per probed bucket), so they stay a
    // SessionCache FRAME on the executors — never a driver collect (the
    // audited-bounded-collect line the int8/PQ pools stay inside). The
    // steady-state probe is the one broadcast-join + TakeOrdered job
    // below; the pruned band scan runs once per (corpus version, probe
    // conf) inside the artifact build ([[lshCandidates]], plan-pinned).
    val candIds = SessionCache.cached(spark,
      s"lsh_cand_q0_f${AnnIndex.LshProbeFlips}", dir, ver) {
      lshCandidates(spark, dir, ver)
    }
    val q = Seq(Tuple1(
      AnnIndex.queryVector(spark, dir, 0L, ver).toSeq)).toDF("qv")
    withVec(spark, dir)
      .join(broadcast(candIds), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        round(expr("cosine_sim(v, qv)"), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(10)
  }

  /** The LSH candidate plan behind [[simAnnLsh]]'s session artifact —
    * exposed for PlanSpec: the query's multi-probed bucket coordinates
    * ([[AnnIndex.probeBands]] — cached driver math) become LITERAL
    * predicates on the band table's (band_id, band_grp) PARTITION
    * columns — static pruning opens exactly the probed GROUP directories
    * — plus a pushed `band_key` equality that prunes row groups inside
    * each group file (the key is stored sorted; r17 group-dir format,
    * [[AnnIndex.LshGrpBits]]). No hyperplane fold over the corpus.
    */
  /** Balanced OR over disjuncts: a linear `reduce(_ || _)` nests left to
    * depth n, and Spark's Column→Expression conversion recurses ~10
    * stack frames per node — at the r18 adaptive-band geometry a 200k
    * corpus probes 32 bands × 13 buckets = 416 disjuncts, which
    * overflowed the driver stack (found by DevAnnScaleBench n=200k, the
    * first run past the 32-band cap). A tree reduce bounds the depth at
    * log₂ n (9 at 416; 16 even at the full 32·21 cap product) with the
    * identical predicate semantics, so both the static partition prune
    * and the pushed key filter are unchanged. */
  private[graft] def orTree(ps: Seq[Column]): Column =
    if (ps.isEmpty) lit(false)
    else if (ps.size == 1) ps.head
    else { val (l, r) = ps.splitAt(ps.size / 2); orTree(l) || orTree(r) }

  private[graft] def lshCandidates(
      spark: SparkSession, dir: String, ver: String): DataFrame = {
    val geom = AnnIndex.lshGeom(spark, dir, ver)
    val qPairs = AnnIndex.probeBands(spark, dir, 0L, ver)
    val bucketPred = orTree(qPairs
      .map { case (b, k) =>
        col("band_id") === lit(b) &&
          col("band_grp") === lit((k >> geom.grpShift).toInt) &&
          col("band_key") === lit(k)
      })
    AnnIndex.lshBands(spark, dir, ver)
      .where(bucketPred)
      .where(col("vec_id") =!= 0L)
      .select("vec_id").distinct()
  }

  /** Index-health card — per index family (IVF cells, LSH buckets): cell
    * count, total entries, min/max/avg cell population, and skew
    * (max/avg). This is the ops table behind every ANN serving decision:
    * probe latency variance IS bucket skew (a probe landing in the max
    * cell pays skew× the average), an empty-cell count says the codebook
    * has dead pivots, and an LSH band whose buckets collapse into a few
    * keys has lost its hashing power. A deployment alerts on skew and
    * re-clusters / re-seeds hyperplanes from this card — the ANN analog
    * of [[graft.operators.Relational]]'s table-profile cards.
    *
    * The flat int8 store rides the card as a single cell (no geometry
    * to audit, but its COVERAGE reconciles against the inverted files'
    * n_entries right on the card — a stale family is a row mismatch
    * here, not silent missing serving rows).
    *
    * Scale: reads ONLY the materialized index artifacts (warm path:
    * zero corpus scan — spec-pinned); each cell-structured family
    * aggregates its partition columns with map-side combine, so the
    * shuffle carries ≤ cells rows; the int8 leg is a count-only scan
    * that prunes to zero columns (row-group metadata). Determinism:
    * counts are exact; avg is one double division; rows-only (the
    * oracle cannot replay k-means or the hyperplane draw).
    */
  /** Tier-advisor card — the deployment-rule table (SCALING.md "LSH →
    * IVF envelope") computed for THIS corpus and its projected growth:
    * for n = corpus × {1, 10, 10², 10³, 10⁴} and every serving tier,
    * the rows one top-10 probe touches, the bytes it reads
    * SEQUENTIALLY, the rows it fetches RANDOMLY (LSH candidate
    * join-backs; the int8/PQ exact re-rank pools), and the modeled
    * cost in raw-row-equivalents: seq_bytes/raw_row_bytes + R ×
    * rand_rows, with R = `spark.graft.ann.randomCostFactor` (default
    * 10 — memory-resident store; ~100 SSD parquet, ~1000 object store
    * — the access-pattern asymmetry the envelope table documents).
    * `chosen` marks the cheapest tier per n AMONG THE ELIGIBLE: when
    * this session has already measured the `q_ann_recall` card (a
    * SessionCache PEEK — the advisor itself never triggers the five
    * store builds the card needs), tiers whose MEASURED recall@10 sits
    * below `spark.graft.ann.advisorRecallFloor` (default 0.5) are
    * priced but not choosable, and the card's values ride along in a
    * `recall` column (null = unmeasured this session; `exact` is 1 by
    * construction). The r20 2M width-cap decade is why: past the
    * 8192-pivot cap, IVF's cost stays the table's cheapest while its
    * measured recall collapses (0.44 at law nprobe, and the sweep
    * shows ~12% of the corpus must be probed to buy 0.72) — a cost-only
    * `chosen` would steer a deployment into the one tier the
    * measurement disqualifies.
    *
    * Scale: pure driver math over the cached corpus count, the cached
    * query dimension, and the published law functions
    * ([[AnnIndex.lshProbeCandidates]] / [[AnnIndex.ivfProbeRows]]) —
    * the steady-state plan is a LocalTableScan: zero corpus scans,
    * zero shuffle, nothing that grows with the corpus.
    */
  def tierAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ver = AnnIndex.corpusVersion(spark, dir)
    val n0 = AnnIndex.corpusCount(spark, dir, ver)
    val d = AnnIndex.queryVector(spark, dir, 0L, ver).length
    val r = spark.conf.get("spark.graft.ann.randomCostFactor", "10").toDouble
    val floor = spark.conf.get("spark.graft.ann.advisorRecallFloor", "0.5").toDouble
    // ≤ 1 keeps `exact` (recall 1 by construction) always eligible, so
    // the per-n best over eligible tiers can never be empty
    require(floor >= 0.0 && floor <= 1.0,
      s"spark.graft.ann.advisorRecallFloor must be in [0, 1], got $floor")
    // ONLY the card measured under the CURRENT conf counts (same key
    // components as annRecall: assignTag + rerank + nprobe) — after an
    // nprobe/pivots A/B the session can hold several ann_recall_* cards and
    // a lexicographic-max pick over them would apply a superseded
    // geometry's floor (r21 ADVICE). peekAssignTag, not assignTag: the
    // advisor must never train a codebook itself, so the exact key
    // resolves only when the current conf's codebook is already in the
    // JVM (whenever annRecall measured under this conf, it is).
    // NO prefix fallback (r22, r21 ADVICE #4): the current conf's
    // codebook can be missing (never trained, replaced by a new corpus
    // version, or evicted by the store's bound) while a stale card
    // survives — a fallback would serve exactly the superseded-geometry
    // floor this exact-key path exists to prevent. An unmeasured conf now gets cost-only
    // eligibility (every non-exact tier needs a measured recall to clear
    // the floor), which degrades CONSERVATIVELY: the advisor routes to
    // exact rather than onto a tier whose recall it cannot vouch for.
    val measured: Map[String, Double] =
      AnnIndex.peekAssignTag(spark, dir, ver).flatMap { tag =>
        val k = s"ann_recall_${tag}_r${PqIndex.rerank(spark)}" +
          s"_np${AnnIndex.probeCount(spark, AnnIndex.centroids(spark, dir, ver).size)}"
        SessionCache.peek[DataFrame](spark, k, dir, ver)
      }
        .map(_.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
        .getOrElse(Map.empty)
    def recallOf(t: String): Option[Double] =
      if (t == "exact") Some(1.0) else measured.get(t)
    val rawRow = 8.0 + 4.0 * d // vec_id + f32 payload
    def tiers(n: Long): Seq[(String, Double, Double, Double)] = {
      val lshCand = AnnIndex.lshProbeCandidates(n)
      val ivfRows = AnnIndex.ivfProbeRows(n)
      Seq( // (tier, probe_rows, seq_bytes, rand_rows)
        ("exact", n.toDouble, n * rawRow, 0.0),
        ("int8", n.toDouble, n * (16.0 + d), Int8Rerank.toDouble),
        ("lsh", lshCand, lshCand * 24.0, lshCand),
        ("ivf", ivfRows, ivfRows * rawRow, 0.0),
        ("ivfpq", ivfRows, ivfRows * (8.0 + PqIndex.M),
          PqIndex.DefaultRerank.toDouble))
    }
    val rows = for {
      mult <- Seq(1L, 10L, 100L, 1000L, 10000L)
      n = n0 * mult
      scored = tiers(n).map { case (t, pr, sb, rr) =>
        // an unmeasured tier stays eligible (cost-only, the pre-r20
        // behavior); a measured one must clear the recall floor
        (t, pr, sb, rr, sb / rawRow + r * rr,
          recallOf(t).forall(_ >= floor)) }
      best = scored.collect { case (_, _, _, _, c, true) => c }.min
      (t, pr, sb, rr, c, ok) <- scored
    } yield (n, t, math.round(pr), math.round(sb / 1024.0),
      math.round(rr), math.round(c), recallOf(t), ok && c == best)
    rows.toDF("n", "tier", "probe_rows", "seq_kb", "rand_rows",
        "cost_rows", "recall", "chosen")
      .transform(Present.cardSort(_, col("n"), col("cost_rows"), col("tier")))
  }

  def indexHealth(spark: SparkSession, dir: String): DataFrame = {
    // the 4-row card is a pure function of (corpus version, assignment
    // geometry) — same SessionCache precedent as the recall card: a
    // polling dashboard reads the artifact; the family scans run once
    // per (session, corpus version)
    val ver = AnnIndex.corpusVersion(spark, dir)
    SessionCache.cached(spark,
      s"index_health_${AnnIndex.assignTag(spark, dir, ver)}", dir, ver) {
      indexHealthBuild(spark, dir, ver)
    }
  }

  /** The card build behind [[indexHealth]] — exposed for PlanSpec: reads
    * ONLY the materialized index artifacts, never the corpus.
    */
  private[graft] def indexHealthBuild(
      spark: SparkSession, dir: String, ver: String): DataFrame = {
    val ivfCells = AnnIndex.ivf(spark, dir, ver)
      .groupBy(lit("ivf").as("index"), col("cluster").cast("bigint").as("cell"))
      .agg(count(lit(1)).as("n"))
    // the PQ-coded family must mirror the raw inverted file's cells
    // (one coarseAssign, shared version identity) — auditing it
    // separately is the point: a divergent card means a stale or
    // miswired code store, caught here instead of as silent recall loss
    val ivfPqCells = AnnIndex.ivfPq(spark, dir, ver)
      .groupBy(lit("ivfpq").as("index"),
        col("cluster").cast("bigint").as("cell"))
      .agg(count(lit(1)).as("n"))
    val lshGeom = AnnIndex.lshGeom(spark, dir, ver)
    val lshCells = AnnIndex.lshBands(spark, dir, ver)
      // flatten (band_id, band_key) into one cell coordinate: band_key is
      // bandBits wide, so the band id shifted above it cannot collide
      .groupBy(lit("lsh").as("index"),
        (col("band_id").cast("bigint") * (1L << lshGeom.bandBits) +
          col("band_key")).as("cell"))
      .agg(count(lit(1)).as("n"))
    // the int8 store is FLAT — no cells — but its coverage belongs on
    // the same card: a stale store (corpus grew, family not rebuilt)
    // would otherwise surface only as missing serving rows at query
    // time. As the single "cell" its n_entries reconciles against the
    // inverted files' on the card itself — still without scanning the
    // corpus (the count prunes to zero columns: row-group metadata).
    val int8Row = AnnIndex.int8(spark, dir, ver)
      .groupBy(lit("int8").as("index"), lit(0L).as("cell"))
      .agg(count(lit(1)).as("n"))
    ivfCells.unionByName(ivfPqCells).unionByName(lshCells)
      .unionByName(int8Row)
      // cell cards are index GEOMETRY (≤ pivots + bands·2^bandBits rows,
      // corpus-size-independent) — one coalesced partition satisfies the
      // family rollup's clustering requirement, no third exchange
      .coalesce(1)
      .groupBy("index")
      .agg(
        count(lit(1)).as("n_cells"),
        sum("n").as("n_entries"),
        min("n").as("min_cell"),
        max("n").as("max_cell"),
        round(sum("n").cast("double") / count(lit(1)), 6).as("avg_cell"),
        round(max("n").cast("double") * count(lit(1)) / sum("n"), 6).as("skew"))
      .transform(Present.cardSort(_, col("index")))
  }
}
