package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{SessionCache, Tables}

/** Text analysis over the `documents` table (driver extension: language-ID,
  * quality scoring, token counting, fingerprinting; SURVEY.md §2.8 F9).
  *
  * Everything is native column expressions — split/transform/aggregate run
  * inside the engine, there is no UDF and no driver-side loop, so each
  * operator is a single map-side pass plus (at most) one aggregation
  * shuffle regardless of corpus size.
  */
object TextAnalysis {

  /** Conservative broadcast-bytes-per-row for the unigram log-prob table
    * (token string + DECIMAL(18,6) + hash-relation entry overhead) — the
    * [[Present.fitsBroadcast]] estimate behind [[lmScoredBuild]]'s regime
    * switch. */
  private val LpRowBytes = 96L

  private def words(text: Column): Column = split(text, " ")

  /** F9 — corpus statistics per language: doc count, total whitespace
    * tokens, average char length.
    * total_words stays integer (exact, order-insensitive sum); avg goes
    * through exact long sum / count → double, so the hash is stable.
    * Scale: classic map-side-partial hash aggregate; 5 output groups.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(words(col("text"))).cast("long")).as("total_words"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"))
      .transform(Present.cardSort(_, col("lang")))

  /** Training-data mixture card: per (lang, source) doc/token/char totals
    * plus each cell's share of corpus tokens — the accounting every
    * LLM-pretraining pipeline publishes (and tunes) as its mixture weights
    * before a run; q_text_stats is the per-lang view, this is the
    * per-mixture-cell one the sampler actually consumes.
    * Determinism: integer sums are exact; token_share is ONE double
    * division of two exact longs, so round(…, 6) hashes identically in
    * both engines.
    * Scale: one map-side-partial hash aggregate over the corpus →
    * mixture-cell-sized frame (≤ langs × sources rows); the corpus total
    * is a window sum over THAT bounded card (single-partition window —
    * safe for the same reason cardSort is), never a whole-corpus window
    * or second scan.
    */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(words(col("text"))).cast("long")).as("n_tokens"),
        sum(col("n_chars")).cast("long").as("n_chars"))
    // corpus-token denominator as a window sum over the card itself
    // (≤ langs × sources rows — single-partition window on a bounded
    // frame, the cardSort argument): one corpus aggregate, and no
    // checkpoint / re-aggregation / broadcast job below it
    cells
      .coalesce(1) // SinglePartition satisfies the window — no exchange
      .withColumn("tot", sum("n_tokens").over(Window.partitionBy()))
      .select(
        col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        round(col("n_tokens").cast("double") / col("tot"), 6).as("token_share"))
      .transform(Present.cardSort(_, col("lang"), col("source")))
  }

  /** F9 — per-document token counting: whitespace tokens and a BPE-ish
    * regex tokenization (letter runs / digit runs / single other chars —
    * the pre-tokenizer split most BPE vocabularies assume).
    * Scale: pure map work over the scan, ordered by
    * [[Tables.sortedByDocId]] (the raw scan is range-sorted first, so
    * the counting runs once per row on all cores).
    */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.sortedByDocId(Tables.documents(spark, dir))(_.select(
      col("doc_id"),
      size(words(col("text"))).as("n_ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("n_bpe_tokens")))

  /** F9 — quality scoring: unique-token ratio, average word length, length
    * saturation, folded into one [0,1] score. The formula is evaluated with
    * the same operation order as the oracle SQL so doubles match bit-for-bit.
    * Ratios here are dyadic rationals (word counts are often powers of two)
    * that can land exactly on a decimal .5 rounding boundary, where Spark
    * (HALF_UP on the shortest decimal repr) and DuckDB (binary value)
    * disagree — so all doubles are truncated via floor(x·10⁶)/10⁶, which has
    * no tie-breaking semantics at all.
    * Scale: map-only, ordered by [[Tables.sortedByDocId]].
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    def trunc6(c: Column): Column = floor(c * 1e6) / 1e6
    val w = words(col("text"))
    val nWords = size(w).cast("double")
    val uniqRatio = size(array_distinct(w)).cast("double") / nWords
    val avgWordLen = (length(col("text")).cast("double") - (nWords - 1)) / nWords
    val score =
      uniqRatio * 0.5 +
        least(avgWordLen / 10.0, lit(1.0)) * 0.3 +
        least(nWords / 100.0, lit(1.0)) * 0.2
    Tables.sortedByDocId(Tables.documents(spark, dir))(_.select(
      col("doc_id"),
      size(w).as("n_words"),
      trunc6(uniqRatio).as("uniq_ratio"),
      trunc6(avgWordLen).as("avg_word_len"),
      trunc6(score).as("quality_score")))
  }

  /** F9 — n-gram language ID, self-trained: build per-language char-bigram
    * profiles (top-40 bigrams by frequency) from the corpus, score every
    * document against every profile, emit the confusion matrix
    * (true lang × predicted lang × count).
    * Deterministic: rank ties break on bigram, argmax ties break on lang.
    *
    * Train-once / score-once: the model — one row holding a sorted
    * (hash, weight) array per language — is a SessionCache artifact, and
    * so is the per-doc scored frame (no text on the row), so repeat
    * invocations skip both the training job and the scoring pass and pay
    * only the 25-cell confusion aggregate. Scoring itself is MAP-ONLY:
    * each doc's run-length-encoded bigram array (sorted by construction)
    * merge-walks each 40-entry profile array via the native
    * `weighted_dot_sorted` kernel, 5 dots per row, argmax on the same row.
    * The only shuffle is the 25-row confusion-matrix aggregate. The
    * equivalent explode + broadcast-join + per-doc groupBy materializes
    * |docs|·|distinct bigrams| rows and shuffles a row per doc — measured
    * 2× slower at sf0.1 and growing with corpus size. At 100 TB the
    * profile pass runs on a sample; scoring stays one scan.
    */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val langs = Seq("de", "en", "es", "fr", "zh")
    // ONE fingerprint resolution per query, shared by the profile
    // artifact, the scored artifact, and the size-gate count (each
    // resolution is a ~34 ms metadata listing on an unmanaged store)
    val dfp = SessionCache.dirFingerprint(spark, dir)

    // profiles train on a deterministic 1-in-4 sample — frequency ranks
    // are stable under sampling and it quarters the training explode (at
    // 100 TB the profile pass runs on a small sample by necessity); the
    // round-robin repartition spreads the few text splits across cores
    val profileRow = SessionCache.cached(spark, "langid_profiles", dir, dfp) {
      val bigrams = Tables.spread(Tables.documents(spark, dir)
          .where(col("doc_id") % 4 === 0))
        .select(col("lang"),
          explode(expr("ngram_hashes(text, 2, 'char_counts')")).as("bg"))
        .select(col("lang"), col("bg.h").as("bigram"), col("bg.c").as("cnt"))
      val profiles = bigrams
        .groupBy(col("lang").as("profile_lang"), col("bigram"))
        .agg(sum("cnt").as("freq"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("profile_lang").orderBy(desc("freq"), asc("bigram"))))
        .where(col("rank") <= 40)
        .select(col("profile_lang"), col("bigram"),
          (lit(41) - col("rank")).cast("long").as("weight"))
      // the model: ONE row, a sorted (bigram, weight) array per language
      profiles.groupBy().agg(
        array_sort(collect_list(when(col("profile_lang") === langs.head,
          struct(col("bigram"), col("weight"))))).as(s"p_${langs.head}"),
        langs.tail.map(l =>
          array_sort(collect_list(when(col("profile_lang") === l,
            struct(col("bigram"), col("weight"))))).as(s"p_$l")): _*)
    }

    // the per-doc scored frame (doc_id, true lang, 5 scores, argmax) is
    // itself a session artifact — the lm_scores discipline: score once per
    // corpus version, probe many. No text rides it, so it is corpus-row-
    // count-sized but orders of magnitude under the corpus; the confusion
    // matrix below is then one 25-cell aggregate over the artifact instead
    // of re-running the bigram extraction + 5 profile dots per invocation.
    // SIZE-GATED (cachedBounded): past `spark.graft.artifact.maxRows` the
    // frame would pin O(corpus rows) of executor storage for the session
    // lifetime, so the gate falls back to inline scoring per query —
    // identical answers, no pinned state (spec-pinned both modes).
    // compactBy doc_id (r21): the map-only scoring build inherits the
    // scan-spread's defaultParallelism partitions, and every steady probe
    // of the checkpoint paid one task floor per block (~200 ms/probe at
    // sf0.1 vs ~40 ms for the aggregate-built lm_scores). The AQE-sized
    // compaction exchange runs once per corpus version inside the build.
    val scored = SessionCache.cachedBounded(spark, "langid_scored", dir, dfp,
      Tables.cachedCount(spark, dir, "documents", dfp), Seq("doc_id")) {
      Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), col("lang"),
          expr("ngram_hashes(text, 2, 'char_counts')").as("bgs"))
        .crossJoin(broadcast(profileRow)) // 1-row model: zero fan
        .select(
          (col("doc_id") +: col("lang") +:
            langs.map(l => expr(s"weighted_dot_sorted(bgs, p_$l)").as(s"s_$l"))): _*)
        // argmax over the 5 score columns; struct comparison breaks ties on
        // the later language code, deterministically
        .withColumn("predicted",
          array_max(array(langs.map(l =>
            struct(col(s"s_$l").as("s"), lit(l).as("l"))): _*))
            .getField("l"))
    }

    // a doc sharing NO bigram with any profile has no evidence — all five
    // scores are 0 and argmax would emit the tie-break language ('zh', the
    // struct-max of the code strings) as a confident-looking prediction.
    // Exclude such rows from the confusion matrix, matching the inner-join
    // formulation (and the reference, which only counts scored docs).
    scored
      .where(greatest(langs.map(l => col(s"s_$l")): _*) > 0L)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .transform(Present.cardSort(_, col("lang"), col("predicted")))
  }

  /** Training-sequence chunking: split each document into 100-token chunks
    * with a 20-token overlap (stride 80) — the windowing step between a raw
    * corpus and a tokenized training set. Emits (doc, chunk_id, chunk
    * text, token count).
    * Scale: map-side explode — each row expands to ceil(n/stride) chunks
    * with no shuffle before the output sort; chunk text is rebuilt by
    * slicing the token array once per chunk (token array evaluated once
    * per row as the HOF argument).
    */
  def textChunks(spark: SparkSession, dir: String): DataFrame = {
    val toks = words(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(80)))
          .as("start"))
      .select(
        col("doc_id"),
        (col("start") / 80).cast("int").as("chunk_id"),
        array_join(slice(col("toks"), col("start") + 1, lit(100)), " ").as("chunk"),
        least(lit(100), col("n") - col("start")).as("n_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  /** F9 — TF-IDF term salience: top-3 terms per language by corpus-level
    * tf·idf (term frequency within the language × inverse document
    * frequency across the corpus).
    *
    * ZERO per-occurrence shuffles, ONE corpus read: each document
    * pre-aggregates its own term counts map-side (native
    * `ngram_hashes(text, 1, 'word_counts')` run-length encodes the sorted
    * token array in one pass per row), so what reaches the exchange is one
    * row per DISTINCT (doc, term). One aggregate then derives both
    * tf = Σ counts and dfl = #docs per (lang, token); the corpus document
    * count rides the SAME shuffle as a per-doc marker row, so no second
    * scan ever touches the documents table. Because each doc has exactly
    * one lang, df(token) = Σ_lang dfl — vocabulary-sized arithmetic,
    * attached to the session artifact at build time.
    * Scale: distinct-per-doc terms shuffle once (sub-corpus volume);
    * everything after is vocabulary-sized; top-3 via WindowGroupLimit.
    */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    // adaptive scan-spread: documents.parquet arrives in few local splits;
    // the per-row RLE extraction is the compute (no-op on a real corpus)
    val docs = Tables.spread(Tables.documents(spark, dir))

    // one exploded row per DISTINCT term per doc, count pre-aggregated.
    // Each doc also emits ONE marker row, so the corpus document count
    // rides the same shuffle: n_docs = Σ dfl(marker) — no separate count
    // job re-scanning the corpus. The marker is a single space: tokens
    // come from splitting ON spaces, so no real token can ever contain
    // one — collision-proof even for texts carrying NUL or other control
    // bytes (which ARE legal split tokens in a crawled corpus).
    val marker = " "
    // NULL-text docs still count: ngram_hashes(NULL) is NULL and concat
    // propagates it, so without the coalesce the explode would DROP the
    // row — losing the doc's marker and silently shrinking the idf
    // denominator below count(*). A null-text doc contributes n_docs
    // weight and zero terms, same as the oracle's count(*).
    val perDoc = docs.select(
        col("lang"),
        explode(concat(
          array(struct(lit(marker).as("token"), lit(1L).as("c"))),
          coalesce(
            expr("ngram_hashes(text, 1, 'word_counts')"),
            expr("cast(array() as array<struct<token:string,c:bigint>>)")))).as("tc"))
      .select(col("lang"), col("tc.token").as("token"), col("tc.c").as("n"))
    // the only shuffle over document-derived rows; vocabulary-scale after.
    // The inner localCheckpoint keeps the corpus explode+shuffle to ONE
    // pass while the enrichment below reads the (lang, token) table twice
    // (window + n_docs broadcast) — without the barrier column pruning
    // specializes each consumer's partial aggregate and ReuseExchange
    // cannot dedupe the subtrees (measured, plan-verified). The df and
    // n_docs marginals are attached AT BUILD TIME (the sourceTokenStats
    // discipline): df as a per-token window sum — the same keyed exchange
    // the old per-query rollup paid, once — and n_docs as a 1-row
    // broadcast from the marker rows. Every tf-idf query is then a single
    // pass over the vocabulary-sized artifact instead of two
    // re-aggregation + broadcast jobs of its own.
    // SESSION artifact, not just a plan-local checkpoint: the (lang, token)
    // frequency table is corpus-derived, vocabulary-sized, and every tf-idf
    // query over the same corpus version reads the identical frame — the
    // langid-profile discipline.
    val tfDfl = SessionCache.cached(spark, "tfidf_stats", dir) {
      val base = perDoc.groupBy("lang", "token")
        .agg(sum("n").as("tf"), count(lit(1)).as("dfl"))
        .localCheckpoint(eager = true)
      base
        .withColumn("df", sum("dfl").over(Window.partitionBy("token")))
        .crossJoin(broadcast(base.where(col("token") === marker)
          .agg(sum("dfl").as("n_docs"))))
    }
    tfDfl
      .where(col("token") =!= marker)
      .withColumn("raw_score",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(desc("raw_score"), asc("token"))))
      .where(col("rank") <= 3)
      .select(col("lang"), col("rank"), col("token"),
        round(col("raw_score"), 6).as("tfidf"))
      .transform(Present.cardSort(_, col("lang"), col("rank")))
  }

  /** Unigram-LM quality score — per-doc average log-probability under the
    * corpus's own unigram model (the CCNet / quality-classifier signal: a
    * doc stuffed with rare or garbled tokens scores far below one written
    * in the corpus's common vocabulary; the score feeds percentile-based
    * keep/drop the same way the Wikipedia-LM perplexity filter does).
    *
    * Two corpus passes BY CONSTRUCTION (the model must exist before
    * scoring — exactly CCNet's train-then-score shape), each one map-side
    * RLE via the native `ngram_hashes(text, 1, 'word_counts')` so no
    * per-occurrence row ever exists:
    *  1. vocabulary pass: per-doc (token, count) partials aggregate into
    *     corpus counts — the only shuffle carries per-partition-vocabulary
    *     rows, then log-probs are derived vocabulary-side (checkpointed,
    *     vocabulary-sized — the total must not trigger a rescan);
    *  2. scoring pass: the broadcast log-prob table joins each doc's RLE
    *     terms map-side (word vocabulary is Zipf-bounded — broadcast while
    *     it fits; at an extreme vocabulary this becomes a shuffle join on
    *     token with the same semantics), and the per-doc aggregate is the
    *     only doc-keyed shuffle.
    * Determinism: each token's log-prob is rounded then DECIMAL(18,6) —
    * the per-doc sum Σ c·lp is exact and order-insensitive; avg_logp is
    * one double division. NULL-text docs drop on both engines (NULL RLE ≡
    * NULL unnest).
    */
  def lmQuality(spark: SparkSession, dir: String): DataFrame =
    lmScored(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("avg_logp"))
      .orderBy("doc_id")

  /** The per-doc LM score frame behind [[lmQuality]] and [[lmFilter]],
    * with `lang` carried on the row (free — it rides the scoring
    * aggregate's key, no join back to the corpus). Cached per
    * (session, corpus fingerprint) like the langid profile and the
    * simhash fingerprints: the two corpus passes behind the score are
    * train-once work every LM-family query shares, and the artifact
    * itself (id + lang + two numbers, no text) is orders of magnitude
    * under the corpus — exactly what [[SessionCache]] is for.
    */
  private def lmScored(spark: SparkSession, dir: String): DataFrame =
    lmScored(spark, dir, SessionCache.dirFingerprint(spark, dir))

  /** As above with the fingerprint precomputed by the caller (the
    * resolve-once-and-thread discipline — lmBucketed shares one
    * resolution between this artifact and the tercile card).
    */
  private def lmScored(spark: SparkSession, dir: String, dfp: String): DataFrame =
    // size-gated like langid_scored: the score frame is O(corpus rows),
    // so past the artifact ceiling it scores inline instead of pinning.
    SessionCache.cachedBounded(spark, "lm_scores", dir, dfp,
      Tables.cachedCount(spark, dir, "documents", dfp))(lmScoredBuild(spark, dir))

  /** The uncached builder behind [[lmScored]] (PlanSpec pins ITS shape —
    * the cached consumers read a checkpoint leaf).
    *
    * Scale: the token→log-prob table is VOCABULARY-sized, and a Heaps-law
    * vocabulary at 100 TB can reach 10⁸⁺ terms — an unconditional
    * `broadcast(lp)` would hard-fail the job at the 8 GB broadcast limit.
    * Regime-adaptive instead ([[Present.fitsBroadcast]]): the vocab frame
    * is already an eager localCheckpoint, so its exact row count is one
    * cheap job over in-memory partitions; below the session broadcast
    * threshold the scoring join broadcasts (zero doc-term shuffle, the
    * bench-scale plan), past it the SAME code degrades to a token-keyed
    * shuffle join — each exchange carries only (token, c) / (token, lp)
    * columns. Both regimes PlanSpec-pinned with answer equality.
    */
  private[graft] def lmScoredBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
    val docTerm = docs.select(col("doc_id"), col("lang"),
        explode(expr("ngram_hashes(text, 1, 'word_counts')")).as("tc"))
      .select(col("doc_id"), col("lang"),
        col("tc.token").as("token"), col("tc.c").as("c"))
    val vocab = docTerm.groupBy("token").agg(sum("c").as("cnt"))
      .localCheckpoint() // vocabulary-sized; total + lp read it twice
    val total = vocab.agg(sum("cnt").as("tot"))
    val lp = vocab.crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("cnt").cast("double") / col("tot").cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
    // ~96 B/row prices the broadcast hash relation conservatively:
    // avg token string + 8 B decimal + map entry overhead
    val lpSide =
      if (Present.fitsBroadcast(spark, vocab.count() * LpRowBytes)) broadcast(lp)
      else lp
    docTerm.join(lpSide, Seq("token"))
      .groupBy("doc_id", "lang")
      .agg(sum("c").as("n_tokens"),
        sum(col("c") * col("lp")).as("lpsum"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("lpsum").cast("double") / col("n_tokens"), 6).as("avg_logp"))
  }

  /** LM-percentile corpus buckets — CCNet's head/middle/tail split: each
    * language's docs are cut at the 1/3 and 2/3 quantiles of their
    * unigram-LM score ([[lmQuality]]); "head" is the most in-distribution
    * third (CCNet keeps head+middle for pretraining, mines tail for
    * recall), and the card is the per-(lang, bucket) accounting the
    * downstream sampler consumes.
    *
    * Scale: the sketch-then-map shape over a DERIVED signal — the
    * doc-sized score frame (id, lang, two numbers; no text) is
    * materialized once (at 100 TB this is the score table a pipeline
    * persists anyway), tercile boundaries come from one exact percentile
    * aggregate (per-lang rows) broadcast back, bucket assignment is a
    * map-side comparison, and no corpus-sized sort or window exists —
    * the [[graft.operators.Sampling.lengthBins]] discipline.
    * Determinism: boundaries interpolate over 6-rounded doubles
    * identically in both engines (percentile ≡ quantile_cont); the
    * quantile fractions are IEEE-double 1/3 and 2/3 on both sides (the
    * oracle casts before dividing — DuckDB's 1.0/3 would be DECIMAL
    * division and land a different boundary).
    */
  def lmFilter(spark: SparkSession, dir: String): DataFrame =
    lmBucketed(spark, dir)
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bucket_tokens"),
        min("avg_logp").as("min_score"),
        max("avg_logp").as("max_score"))
      .transform(Present.cardSort(_, col("lang"), col("bucket")))

  /** Per-doc head/middle/tail assignment behind [[lmFilter]] — exposed so
    * a pipeline can DROP the tail (CCNet keeps head+middle) instead of
    * only reading the aggregate card. Same sketch-then-map shape: the
    * session score artifact joins broadcast tercile boundaries map-side.
    */
  private[graft] def lmBucketed(spark: SparkSession, dir: String): DataFrame = {
    val dfp = SessionCache.dirFingerprint(spark, dir)
    val scored = lmScored(spark, dir, dfp) // session artifact, read twice below
    // tercile boundaries are a CARD (≤1 row per lang, a pure function of
    // the corpus version) — the length_bins_bounds discipline (r21): the
    // exact percentile aggregate over the corpus-row-sized score frame ran
    // per probe (0.43 s steady at the 500k decade); as an artifact the
    // steady probe pays the bucket rollup alone. Same dfp as the score
    // frame, so mutation supersedes both together.
    val bounds = SessionCache.cached(spark, "lm_terciles", dir, dfp) {
      scored.groupBy("lang")
        .agg(percentile(col("avg_logp"),
          array(lit(1.0 / 3), lit(2.0 / 3))).as("qs"))
        .select(col("lang"), col("qs").getItem(0).as("q1"),
          col("qs").getItem(1).as("q2"))
    }
    scored.join(broadcast(bounds), Seq("lang"))
      .withColumn("bucket",
        when(col("avg_logp") <= col("q1"), "tail")
          .when(col("avg_logp") <= col("q2"), "middle")
          .otherwise("head"))
      .drop("q1", "q2")
  }

  /** One compressibility verdict row. */
  case class CompressRow(
      doc_id: Long, n_bytes: Long, n_compressed: Long,
      ratio: Double, flagged: Boolean)

  /** Compression-ratio quality signal — deflate each doc's UTF-8 bytes and
    * emit compressed/raw (the Gopher/RefinedWeb "too compressible" filter:
    * templated or repeated text compresses far below prose, catching
    * boilerplate that token-level repetition scores miss because the
    * repeats are long-range). Flag below [[CompressFlagRatio]].
    *
    * This is the ONE text operator on `mapPartitions` rather than column
    * expressions: no SQL surface exposes a codec, and a Deflater is
    * exactly the "initialize once per partition, reuse per row" resource
    * the Multimodal decode path already models. rows-only by the same
    * token: DuckDB has no deflate to agree with. Determinism: fixed level
    * and strategy, one `reset()` per row — same bytes in, same length
    * out, independent of partitioning (spec-pinned).
    * Scale: map-only; the compressed bytes are DISCARDED, only lengths
    * leave the row, so nothing codec-sized ever shuffles.
    */
  val CompressFlagRatio = 0.35

  def textCompress(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val thr = CompressFlagRatio
    // adaptive scan-spread: deflate is per-row CPU work and the local
    // testdata arrives in one split — single-threaded without the spread,
    // a no-op on a corpus whose scan is already parallel
    Tables.spread(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .where(col("text").isNotNull))
      .as[(Long, String)]
      .mapPartitions { batch =>
        val deflater = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_SPEED, true)
        // release the native zlib buffer on EVERY task exit path (normal
        // drain, failure, kill) — an iterator-drain hook would miss
        // mid-partition aborts and leak until the GC cleaner fires
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val out = new Array[Byte](1 << 20)
        batch.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(out)
          val ratio =
            if (raw.length == 0) 1.0
            else math.floor(n.toDouble / raw.length * 1e6) / 1e6
          CompressRow(id, raw.length.toLong, n, ratio, ratio < thr)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** F9 — rolling-hash document fingerprint: char-5-gram rolling hashes,
    * bottom-32 sketch (the 32 smallest distinct gram hashes) as the
    * fingerprint set; emitted as set size + one stable 64-bit digest.
    *
    * Deliberately bottom-k rather than per-window winnowing minima: a
    * sliding `slice`+`array_min` per position would put the kgram array
    * inside a lambda body, and Spark re-evaluates lambda-body subtrees per
    * element (no CSE inside higher-order functions) — O(len²) hashing per
    * document. Bottom-k is one sort over the array evaluated once per row
    * and has the same near-dup-index semantics; the gram walk under it is
    * linear too (`ngram_hashes` slides a byte window, see [[graft.plans.NGramHashes]]).
    * Scale: map-only, plus [[Tables.sortedByDocId]]'s one range exchange
    * of the raw (doc_id, text) rows ahead of the hashing. Fingerprints (8 bytes + size) are what a 100 TB near-dup
    * index stores instead of text.
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    // char-5-gram hashes via the native expression (sorted + distinct by
    // construction) — bit-identical to the HOF
    // `transform(sequence(...), i -> xxhash64(substr(text, i, 5)))` +
    // array_sort(array_distinct(...)) it replaces (both are XXH64 seed 42
    // over the same UTF-8 bytes; verified on the corpus), without the
    // per-element interpreted lambda boxing
    val fp = slice(expr("ngram_hashes(text, 5, 'char_distinct')"), 1, 32)
    Tables.sortedByDocId(Tables.documents(spark, dir))(_.select(
      col("doc_id"),
      size(fp).as("fp_size"),
      xxhash64(fp).as("fp_digest")))
  }

  // PII patterns shared by the operator and its oracle SQL (RE2-safe
  // subset so Java regex and DuckDB agree: character classes, bounded
  // repetition, \b — no lookaround, no backrefs)
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val LongNumRe = "\\d{6,}"

  /** PII scrub on any (doc_id, text) frame: emails, IPv4s, and 6+-digit
    * runs become typed placeholders; emits per-kind match counts and the
    * sha256 of the redacted text (small, deterministic, hash-comparable —
    * the full redacted text would bloat verified output).
    * Replacement order matters and is fixed: emails first (they contain
    * digits and dots that the later patterns would mangle), then IPs, then
    * bare digit runs. Each COUNT runs on the same text its replacement
    * runs on (emails on raw, IPs on post-email, digit runs on post-IP), so
    * n_<kind> equals the number of `<KIND>` placeholders actually emitted —
    * counting every pattern on the raw text would tally digit runs and IPs
    * inside matched emails that are never separately replaced, and the
    * counts are documented as a compliance report of redactions performed.
    * `df` must be scan-rooted ([[Tables.sortedByDocId]]'s contract).
    */
  def redact(df: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>"))
    val afterIp = regexp_replace(afterEmail, lit(Ipv4Re), lit("<IP>"))
    val clean = regexp_replace(afterIp, lit(LongNumRe), lit("<NUM>"))
    Tables.sortedByDocId(df)(_.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
      regexp_count(afterEmail, lit(Ipv4Re)).as("n_ips"),
      regexp_count(afterIp, lit(LongNumRe)).as("n_longnums"),
      sha2(clean.cast("binary"), 256).as("clean_sha")))
  }

  /** F9 — PII redaction over the corpus: the scrub pass every
    * training-data pipeline runs before anything is tokenized.
    * Scale: map-only — three codegen'd regexes per row, run on all cores
    * after [[Tables.sortedByDocId]]'s range sort of the raw scan;
    * at 100 TB this pass writes the scrubbed corpus and the counts feed a
    * compliance report.
    */
  def textRedact(spark: SparkSession, dir: String): DataFrame =
    redact(Tables.documents(spark, dir))

  /** Per-source PII-prevalence card — the compliance rollup of
    * [[redact]]'s per-doc counts: how many docs in each source carry any
    * PII, and the per-type occurrence totals (emails, IPv4s, long digit
    * runs, counted progressively on the redacted text like the scrub
    * pass itself so an IP inside a matched email is never double-counted).
    * This is the table a curation review reads to decide which sources
    * need scrubbing before tokenization — per-source, not per-doc,
    * because the decision (drop / scrub / pass) is made per source.
    * Scale: map-only regex counting over one corpus scan (the same three
    * codegen'd regexes as [[textRedact]]) behind the adaptive
    * [[Tables.spread]] — the regexes are the cost — then a sources-sized
    * hash agg with map-side partials. Determinism: exact longs; one
    * rounded ratio.
    */
  def piiCard(spark: SparkSession, dir: String): DataFrame = {
    val afterEmail = regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>"))
    val afterIp = regexp_replace(afterEmail, lit(Ipv4Re), lit("<IP>"))
    Tables.spread(Tables.documents(spark, dir).select("source", "text"))
      .select(col("source"),
        regexp_count(col("text"), lit(EmailRe)).as("ne"),
        regexp_count(afterEmail, lit(Ipv4Re)).as("ni"),
        regexp_count(afterIp, lit(LongNumRe)).as("nn"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        // when/otherwise + coalesce: a NULL-text doc counts as zero PII
        // on BOTH engines instead of Spark null-skipping vs DuckDB 0
        sum(when((col("ne") + col("ni") + col("nn")) > 0, lit(1L))
          .otherwise(lit(0L))).as("docs_with_pii"),
        sum(coalesce(col("ne"), lit(0)).cast("long")).as("n_emails"),
        sum(coalesce(col("ni"), lit(0)).cast("long")).as("n_ips"),
        sum(coalesce(col("nn"), lit(0)).cast("long")).as("n_longnums"))
      .withColumn("frac_docs_with_pii",
        round(col("docs_with_pii").cast("double") / col("n_docs"), 6))
      .transform(Present.cardSort(_, col("source")))
  }

  /** Benchmark decontamination: training documents that share at least one
    * 13-word n-gram with the held-out eval slice (doc_id ≡ 0 mod
    * [[EvalSliceMod]] — the stand-in for a benchmark suite). The standard
    * n-gram-overlap
    * contamination check (as used for public LLM training corpora), sized
    * so incidental phrase reuse doesn't flag but copied passages do.
    * Emits the 20 most-contaminated docs with their shared-gram counts.
    * Scale: the eval side is SMALL by definition (benchmarks, not corpora)
    * — its distinct gram set broadcasts; the corpus side is a map-side
    * explode + broadcast semi-join, so NO corpus-sized shuffle exists:
    * only the (rare) contaminated (doc, gram) hits reach the count
    * aggregate. Grams are 8-byte xxhash64 values (native `ngram_hashes`),
    * never strings — at corpus scale the hashed form is ~20× less volume
    * through the explode. Oracle-checked via STRING 13-grams (r11): the
    * DuckDB side builds the literal shingles, which is fine at oracle SF
    * and proves the hashed set is the right set.
    */
  /** General form: flag `train` docs sharing an n-word gram with any
    * `eval` doc. Both frames need (doc_id, text). Callers own `train`'s
    * partitioning (this path cannot probe it — `Tables.spread`'s
    * scan-rooted contract doesn't hold for arbitrary frames): wrap a
    * single-split scan in `Tables.spread` yourself, as the dir-based
    * [[decontaminate]] does.
    */
  def decontaminateAgainst(
      train: DataFrame, eval: DataFrame, n: Int = 13): DataFrame =
    contaminationCounts(train, eval, n)
      .orderBy(desc("n_shared_grams"), asc("doc_id"))
      .limit(20)

  /** The standard corpus split's contamination frame — spread train side,
    * session-cached eval gram set — shared by [[decontaminate]] (top-20
    * card) and [[contaminatedIds]] (untruncated drop set) so the split,
    * n, and spread can never diverge between the card and the removal.
    */
  private def corpusContamination(spark: SparkSession, dir: String): DataFrame = {
    // Session artifact (r21): the steady state used to RE-SHINGLE the
    // whole train side's 13-grams per probe (~180 ms/call at sf0.1 —
    // map-side but corpus-proportional compute at any scale). The
    // contamination frame is a pure function of the corpus version,
    // contaminated-doc-sized (one slim (doc_id, count) row per HIT), and
    // feeds two consumers (the top-20 card + the contaminatedIds drop
    // set) — exactly the lm_scores shape, with the same size gate: past
    // the artifact ceiling it scores inline per query (a deployment at
    // that scale persists the contamination table next to its
    // fingerprints). Cache probe FIRST, docs frame resolved inside the
    // block (the dedupEmbed mutation discipline).
    val dfp = SessionCache.dirFingerprint(spark, dir)
    SessionCache.cachedBounded(spark, "contamination_13", dir, dfp,
      Tables.cachedCount(spark, dir, "documents", dfp)) {
      val docs = Tables.documents(spark, dir)
      contaminationCountsAgainst(
        Tables.spread(docs.where(col("doc_id") % EvalSliceMod =!= 0)),
        evalGramSet(spark, dir), 13)
    }
  }

  /** The FULL contamination frame behind [[decontaminateAgainst]]'s top-20
    * audit card: one row per contaminated train doc, no truncation — this
    * is what a pipeline's drop set must anti-join against (the card's
    * LIMIT is a display bound, not the removal set).
    */
  private[graft] def contaminationCounts(
      train: DataFrame, eval: DataFrame, n: Int = 13): DataFrame =
    contaminationCountsAgainst(train,
      eval.select(explode(gramHashes(n)).as("g")).distinct(), n)

  private def gramHashes(n: Int) =
    array_distinct(expr(s"ngram_hashes(text, $n, 'word')"))

  /** Inner form taking the eval gram set directly, so the standard
    * [[decontaminate]] split can pass the session-cached artifact: the
    * eval side of a decontamination sweep is FIXED (benchmarks don't
    * change between queries), so its distinct-gram shuffle is train-once
    * work — the measured per-query shuffle drops to just the contaminated
    * (doc, gram) hits.
    */
  private def contaminationCountsAgainst(
      train: DataFrame, evalGrams: DataFrame, n: Int): DataFrame =
    // callers pass scan-rooted train frames (Tables.spread's contract);
    // the generic decontaminateAgainst path spreads nothing
    train
      .select(col("doc_id"), explode(gramHashes(n)).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))

  /** The eval slice's distinct 13-gram hash set as a SessionCache
    * artifact (8-byte hashes, a few per eval doc — far under corpus
    * size). Shared by [[decontaminate]] and [[contaminatedIds]].
    */
  private def evalGramSet(spark: SparkSession, dir: String): DataFrame =
    SessionCache.cached(spark, "eval_gram_set_13", dir) {
      Tables.documents(spark, dir)
        .where(col("doc_id") % EvalSliceMod === 0)
        .select(explode(gramHashes(13)).as("g")).distinct()
    }

  /** Every contaminated train doc id for the corpus at `dir` (the
    * [[decontaminate]] split, untruncated).
    */
  private[graft] def contaminatedIds(spark: SparkSession, dir: String): DataFrame =
    corpusContamination(spark, dir).select("doc_id")

  /** Eval-slice selector for [[decontaminate]]. Mod 10, not the previous 97:
    * ground-truthing the 13-gram overlap showed the mod-97 slice (6 docs)
    * shares NO gram with the training side at sf0.01, so the driver's
    * rows>0 check was vacuously green — a regression returning an empty
    * frame would have passed. Mod 10 leaves several genuinely contaminated
    * train docs at both sf0.001 and sf0.01, so an empty result now MEANS
    * a broken operator.
    */
  private[graft] val EvalSliceMod = 10

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    corpusContamination(spark, dir)
      .orderBy(desc("n_shared_grams"), asc("doc_id"))
      .limit(20)

  /** Vocabulary candidates: top-10 word bigrams per language by occurrence
    * count, with document frequency — the corpus-statistics pass a
    * tokenizer/vocab build (or a boilerplate detector: high df/count skew)
    * runs before training. Deterministic: ties break on the gram string.
    *
    * Bigrams come from two aligned `slice`s zipped — NOT
    * `transform(sequence(0, size-2), …)`: `sequence` flips to a DESCENDING
    * [0, -1] range on 1-token docs and would fabricate grams from
    * wrapped indices; slice length `greatest(size-1, 0)` is simply empty
    * there.
    *
    * Scale: gram counting is the canonical map-side-combine hash
    * aggregate. The top-k is TWO-PHASE — a per-(lang, 32-way gram-hash
    * bucket) row_number pass keeps 10 rows per bucket, then the global
    * per-lang rank runs over ≤ langs×32×10 survivors — because a single
    * `Window.partitionBy(lang)` funnels the whole distinct-gram table
    * (vocabulary-sized: huge at 100 TB) through one reducer per language.
    * Bucket-local top-10 under the same total order (count DESC, gram ASC)
    * is a superset of the global top-10, so phase 2 is exact.
    */
  def ngramCounts(spark: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val n2 = greatest(size(w) - 1, lit(0))
    val grams = zip_with(slice(w, lit(1), n2), slice(w, lit(2), n2),
      (a, b) => concat(a, lit(" "), b))
    // session artifact (vocabulary-sized): the bigram frequency table is
    // the expensive stage — the two-phase top-k below is survivor-sized
    val counts = SessionCache.cached(spark, "bigram_counts", dir) {
      Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), col("lang"), explode(grams).as("gram"))
        .groupBy("lang", "gram")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct("doc_id").as("n_docs"))
    }
    val local = counts
      .withColumn("bucket", pmod(xxhash64(col("gram")), lit(32)))
      .withColumn("lr", row_number().over(
        Window.partitionBy("lang", "bucket")
          .orderBy(desc("n_occurrences"), asc("gram"))))
      .where(col("lr") <= 10)
    local
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(desc("n_occurrences"), asc("gram"))))
      .where(col("rank") <= 10)
      .select("lang", "rank", "gram", "n_occurrences", "n_docs")
      .transform(Present.cardSort(_, col("lang"), col("rank")))
  }

  /** The keep/drop decision card that closes the curation loop: every
    * pretraining pipeline ends its per-document stage by folding the
    * individual signals ([[textQuality]]'s score, [[textRepetition]]'s
    * duplicate-gram ratio, a length floor) into one verdict with
    * machine-readable reasons — this is that composition, with the same
    * trunc6 boundaries as the component operators so a doc is never
    * "kept" here but "flagged" there. Thresholds are corpus-tuned (as in
    * any real pipeline — the published Gopher constants assume web crawl
    * distributions): 12/0.45/0.05 sit inside this corpus's tails so every
    * reason actually fires (~4% dropped at sf0.01), not outside them where
    * the card would be a vacuous all-keep.
    * Reasons are a comma-joined string (`concat_ws` skips the null
    * non-firing branches in both engines), empty ⇔ keep.
    * Scale: all three signals are map-only expressions over ONE scan —
    * composing them costs no second pass, no join, no shuffle.
    */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame =
    verdictFrame(spark, dir).drop("source").orderBy("doc_id")

  /** Per-source curation report: each source's doc count, keep rate under
    * the [[corpusFilter]] verdict, and average quality / duplicate-gram
    * scores — the table a pipeline reads to PRUNE WHOLE SOURCES (a crawl
    * whose keep rate collapses gets dropped upstream of any per-doc work,
    * the cheapest filter there is).
    * Determinism: keep_rate is a ratio of exact counts; the score averages
    * route each trunc6'd double (≤ 6 decimals, so the DECIMAL(18,6) cast is
    * EXACT) through an order-insensitive decimal sum, then one double
    * division — `avg(double)` would depend on partial-sum order.
    * Scale: [[filterVerdicts]] is map-only, so this is one scan + one
    * mixture-cell-sized hash aggregate with map-side partials.
    */
  /** Source-drift card — per-source unigram KL divergence against the
    * whole-corpus distribution: KL(P_source ‖ P_corpus) =
    * Σ_t p·ln(p/q). The distributional twin of [[sourceQuality]]'s
    * verdict rollup: a source whose token mix diverges hard from the
    * corpus (machine-generated spam, a mislabeled scrape, a domain
    * outlier) spikes here before any per-doc filter fires — the signal a
    * curation pipeline reads when deciding which sources to prune or
    * re-weight wholesale.
    *
    * Scale: ONE corpus scan. The (source, token) stats table — map-side
    * RLE via the native `word_counts`, one hash aggregate, marginals
    * attached at build time — is the session artifact
    * ([[sourceTokenStats]]); this query is one pass over it. KL never
    * materializes a cross-source product: each (source, token) row
    * contributes its own term.
    * Determinism: each term is rounded then DECIMAL(28,9) — the
    * per-source sum is exact and order-insensitive; p and q are single
    * double divisions of exact longs (KL ≥ 0 up to the 1e-9 term
    * rounding; spec-pinned).
    */
  /** The (source, token, c, ct, n_tokens, nt) stats table behind
    * [[sourceDrift]] and [[topicTerms]] — one corpus scan per (session,
    * corpus version), map-side RLE via the native `word_counts`, one hash
    * aggregate, then the three marginals the consumers need are attached
    * AT BUILD TIME: per-token corpus count `ct` and per-source total
    * `n_tokens` as window sums over the count table (the same keyed
    * exchanges the old per-query re-aggregations paid, now paid once),
    * and the grand total `nt` as a 1-row broadcast. Checkpointed at
    * vocabulary×sources size — the same artifact footprint as the bare
    * count table, three long columns wider; each consumer query is then
    * a single pass over the artifact instead of three re-aggregation +
    * broadcast jobs of its own (measured 9→2 / 8→2 AQE jobs).
    */
  private def sourceTokenStats(spark: SparkSession, dir: String): DataFrame =
    SessionCache.cached(spark, "source_token_stats", dir) {
      val st = Tables.spread(Tables.documents(spark, dir))
        .select(col("source"),
          explode(expr("ngram_hashes(text, 1, 'word_counts')")).as("tc"))
        .select(col("source"), col("tc.token").as("token"), col("tc.c").as("c"))
        .groupBy("source", "token").agg(sum("c").as("c"))
        // checkpoint barrier BEFORE the two downstream references (window
        // marginals + the nt broadcast agg) — same pattern as the tfidf
        // artifact build: without it the build relies on ReuseExchange
        // deduping the groupBy exchange, and if column pruning ever
        // specializes the two subtrees the artifact build pays a second
        // corpus scan, contradicting the ONE-corpus-scan contract above
        .localCheckpoint(true)
      st.withColumn("ct", sum("c").over(Window.partitionBy("token")))
        .withColumn("n_tokens", sum("c").over(Window.partitionBy("source")))
        .crossJoin(broadcast(st.agg(sum("c").as("nt"))))
    }

  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    sourceTokenStats(spark, dir)
      .withColumn("p", col("c").cast("double") / col("n_tokens").cast("double"))
      .withColumn("q", col("ct").cast("double") / col("nt").cast("double"))
      .withColumn("term",
        round(col("p") * log(col("p") / col("q")), 9).cast("decimal(28,9)"))
      .groupBy("source", "n_tokens")
      .agg(sum("term").as("kl"))
      .select(col("source"), col("n_tokens"),
        round(col("kl").cast("double"), 6).as("kl_vs_corpus"))
      .transform(Present.cardSort(_, col("source")))
  }

  /** Per-source distinctive-terms card — the top-5 tokens whose
    * within-source frequency most exceeds their corpus frequency
    * (lift = p_source/p_corpus), the "what is this source actually
    * about" companion to [[sourceDrift]]'s single-number divergence:
    * drift says WHICH source shifted, this says WHAT shifted it (the
    * spam token, the boilerplate phrase, the domain vocabulary), the
    * evidence a curation run attaches to a prune/re-weight decision.
    *
    * Scale: ZERO additional corpus work — reads the same
    * `source_token_stats` session artifact as [[sourceDrift]] (one scan
    * per session, amortized across the family); the per-source ranking
    * runs over the vocabulary-sized count table, and the `rank <= 5`
    * filter over row_number plans as a WindowGroupLimit, so each
    * partition keeps its local top-5 before the exchange.
    * Determinism: lift is three IEEE double ops on exact longs
    * (identical on both engines), rounded to 6 before the ordering so
    * the rank boundary compares the same values the output shows; ties
    * break token-ascending.
    */
  def topicTerms(spark: SparkSession, dir: String): DataFrame = {
    sourceTokenStats(spark, dir)
      .withColumn("lift", round(
        (col("c").cast("double") / col("n_tokens").cast("double")) /
          (col("ct").cast("double") / col("nt").cast("double")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(desc("lift"), asc("token"))))
      .where(col("rank") <= 5)
      .select("source", "rank", "token", "c", "lift")
      .transform(Present.cardSort(_, col("source"), col("rank")))
  }

  def sourceQuality(spark: SparkSession, dir: String): DataFrame =
    verdictFrame(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("keep_rate"),
        round(sum(col("quality_score").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_quality"),
        round(sum(col("dup_ratio").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_dup"))
      .transform(Present.cardSort(_, col("source")))

  /** The verdict transform behind [[corpusFilter]], shared verbatim by the
    * streaming ingest filter ([[graft.streaming.Streams.docFilterStream]])
    * so a batch sweep and live ingestion apply IDENTICAL keep/drop
    * boundaries. Input needs (doc_id, lang, text); pure map work with no
    * aggregate or state, so it is streaming-safe without a watermark.
    * `passthrough` names extra input columns to carry into the output
    * (e.g. `source` for [[sourceQuality]]'s rollup) — carried on the same
    * row, never re-joined.
    */
  def filterVerdicts(docs: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    def trunc6(c: Column): Column = floor(c * 1e6) / 1e6
    val w = words(col("text"))
    val nWords = size(w).cast("double")
    val uniqRatio = size(array_distinct(w)).cast("double") / nWords
    val avgWordLen = (length(col("text")).cast("double") - (nWords - 1)) / nWords
    val score = trunc6(
      uniqRatio * 0.5 +
        least(avgWordLen / 10.0, lit(1.0)) * 0.3 +
        least(nWords / 100.0, lit(1.0)) * 0.2)
    val n3 = greatest(size(w) - 2, lit(0))
    val g12 = zip_with(slice(w, lit(1), n3), slice(w, lit(2), n3),
      (a, b) => concat(a, lit(" "), b))
    val grams = zip_with(g12, slice(w, lit(3), n3),
      (ab, c) => concat(ab, lit(" "), c))
    val dup = when(size(grams) > 0,
      trunc6(lit(1.0) -
        size(array_distinct(grams)).cast("double") / size(grams)))
      .otherwise(lit(0.0))
    docs
      .select(Seq(col("doc_id"), col("lang"),
        size(w).as("n_words"), score.as("quality_score"),
        dup.as("dup_ratio")) ++ passthrough.map(col): _*)
      .withColumn("reasons", concat_ws(",",
        when(col("n_words") < 12, lit("too_short")),
        when(col("quality_score") < 0.45, lit("low_quality")),
        when(col("dup_ratio") > 0.05, lit("repetitive"))))
      .withColumn("keep", col("reasons") === "")
  }

  /** [[filterVerdicts]] over the whole corpus (with `source` carried) as a
    * SessionCache artifact. The verdict family — [[corpusFilter]],
    * [[sourceQuality]], `Sampling.domainCap`/`domainCapKeep` — all rank or
    * roll up the SAME per-doc verdict row, and the dominant cost is the
    * trigram/unique-word array evaluation over `text`. Evaluating it once
    * per (session, corpus version) turns every consumer into a probe of a
    * frame that carries NO text (id + lang + four numbers + reasons/keep —
    * orders of magnitude under the corpus, the SessionCache size
    * discipline), the same train-once/serve-many posture as [[lmScored]]
    * and the tfidf artifact. The streaming twin
    * ([[graft.streaming.Streams.docFilterStream]]) keeps calling the
    * uncached transform — per-batch inputs have no corpus fingerprint.
    */
  private[graft] def verdictFrame(spark: SparkSession, dir: String): DataFrame = {
    // size-gated like langid_scored/lm_scores: one verdict row per doc is
    // O(corpus rows) of pinned storage — past the ceiling, score inline.
    // One fingerprint resolution shared by gate count + artifact key.
    val dfp = SessionCache.dirFingerprint(spark, dir)
    // compactBy doc_id (r21): same steady-probe task-floor argument as
    // langid_scored — the verdict build is map-only, so its checkpoint
    // otherwise pins defaultParallelism blocks that every consumer
    // (corpusFilter, sourceQuality, domainCap family) re-pays per probe.
    SessionCache.cachedBounded(spark, "filter_verdicts", dir, dfp,
      Tables.cachedCount(spark, dir, "documents", dfp), Seq("doc_id")) {
      filterVerdicts(Tables.spread(Tables.documents(spark, dir)),
        passthrough = Seq("source"))
    }
  }

  /** Repetition-filter signal (the Gopher/MassiveText "duplicate n-gram
    * fraction" rule): per document, the fraction of word 3-grams that are
    * repeats of an earlier gram in the same document, plus the filter
    * flag at the classic 0.1 threshold. Self-repetitive docs (boilerplate,
    * decoding loops, scraped nav bars) are what this drops from a
    * pretraining mix.
    * Doubles are floor-truncated (trunc6, see [[textQuality]]) and the
    * flag compares the TRUNCATED ratio so the boundary is identical in
    * both engines.
    * Scale: map-only over the scan — the gram array lives inside one row's
    * evaluation (never exploded, never shuffled); output is one row per
    * doc, ordered by [[Tables.sortedByDocId]].
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    def trunc6(c: Column): Column = floor(c * 1e6) / 1e6
    val w = words(col("text"))
    val n3 = greatest(size(w) - 2, lit(0))
    val g12 = zip_with(slice(w, lit(1), n3), slice(w, lit(2), n3),
      (a, b) => concat(a, lit(" "), b))
    val grams = zip_with(g12, slice(w, lit(3), n3),
      (ab, c) => concat(ab, lit(" "), c))
    Tables.sortedByDocId(Tables.documents(spark, dir))(
      _.select(col("doc_id"), col("lang"), grams.as("grams"))
        .select(
          col("doc_id"), col("lang"),
          size(col("grams")).as("n_grams"),
          size(array_distinct(col("grams"))).as("n_distinct"))
        .withColumn("dup_ratio",
          when(col("n_grams") > 0,
            trunc6(lit(1.0) -
              col("n_distinct").cast("double") / col("n_grams")))
            .otherwise(lit(0.0)))
        .withColumn("flagged", col("dup_ratio") > 0.1))
  }

  /** The (passage-hash, source, doc_id, n_occ) table behind
    * [[boilerplate]] — one row per distinct (50-token shingle, doc)
    * pair. The shingles are NON-overlapping full windows (tail fragments
    * dropped), so the table is ≤ corpus_tokens/50 key-only rows (hash +
    * ids + a count, no text) — the same "band table" shape as the
    * MinHash index, and the standard scale for exact passage-level
    * dedup. Since r20 this is the INCREMENTAL on-disk store
    * ([[PassageStore]]): an appended corpus shingles only the new files
    * (O(drop)), a non-append mutation rebuilds, and the session no
    * longer pins a corpus-shingle-sized frame in executor storage at
    * all — the cards below aggregate from the disk rows once per
    * corpus version.
    */
  private def passageCounts(spark: SparkSession, dir: String): DataFrame =
    passageCounts(spark, dir, SessionCache.dirFingerprint(spark, dir))

  private def passageCounts(
      spark: SparkSession, dir: String, dfp: String): DataFrame =
    PassageStore.rows(spark, dir, dfp)

  /** Per-source boilerplate card — what fraction of each source's text
    * is a passage that also appears verbatim in ANOTHER document
    * (cross-document repeated 50-token shingles: nav bars, license
    * headers, templated intros — the RefinedWeb/CCNet line-dedup signal
    * at passage granularity). Complements [[textRepetition]] (WITHIN-doc
    * repetition) and the `q_dedup_*` family (whole-doc near-dups): a
    * source can be full of unique documents that all share the same
    * boilerplate frame, and this card is what catches it. Columns:
    * occurrence-weighted `dup_ratio` (the fraction of shingle
    * occurrences whose passage is cross-doc duplicated — "how much of
    * this source's text is boilerplate"), plus the distinct-passage
    * counts behind it.
    *
    * Scale: the corpus is scanned once per session (checkpointed
    * key-only artifact, [[passageCounts]]); the per-query work is one
    * hash agg over the artifact for corpus-wide doc counts, a sort-merge
    * join on the hash (key-only rows, no text ever shuffles), and a
    * sources-sized final agg. Determinism: every count is an exact
    * long; the one double division is rounded to 6.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    // the CARD is the session artifact (per-source rows), not just the
    // passage-count intermediate: the r19 500k decade measured the
    // per-call re-aggregation at 101 MB / 2.9M shuffled records — the
    // passage table is corpus-SHINGLE-sized, and a card read at 100 TB
    // must not re-shuffle it (the cluster_profile card discipline).
    // Unsorted in the artifact; the presentation sort is per-call.
    val dfp = SessionCache.dirFingerprint(spark, dir)
    SessionCache.cached(spark, "boilerplate_card", dir, dfp) {
      val pc = passageCounts(spark, dir, dfp)
      val docsPerPassage = pc.groupBy("h")
        .agg(count(lit(1)).as("n_docs"))
      pc.join(docsPerPassage, Seq("h"))
        .withColumn("dup", (col("n_docs") >= 2).cast("long"))
        .groupBy("source")
        .agg(
          sum(col("n_occ")).as("n_shingles"),
          sum(col("n_occ") * col("dup")).as("n_dup_shingles"),
          countDistinct(col("h")).as("n_passages"),
          countDistinct(when(col("dup") === 1, col("h"))).as("n_dup_passages"))
        .withColumn("dup_ratio",
          round(col("n_dup_shingles").cast("double") /
            col("n_shingles").cast("double"), 6))
    }.transform(Present.cardSort(_, col("source")))
  }

  /** Top repeated passages — the WHAT behind [[boilerplate]]'s ratio:
    * the 20 most widely cross-document-duplicated 50-token passages
    * (by distinct docs containing them), each with its occurrence total
    * and an 8-token preview as the evidence a curation run attaches to
    * a strip-this-boilerplate rule.
    *
    * Scale: ZERO additional corpus work — reads the same
    * `passage_counts` session artifact as [[boilerplate]]; one hash agg
    * to per-passage doc counts, then the `n_docs >= 2` filter and a
    * TakeOrdered top-20 (no global sort materializes). Determinism:
    * exact-long ordering, ties broken on the hash.
    */
  def topPassages(spark: SparkSession, dir: String): DataFrame = {
    // 20-row artifact for the same reason as [[boilerplate]]'s card: the
    // per-call hash-agg runs over the corpus-shingle-sized passage table
    val dfp = SessionCache.dirFingerprint(spark, dir)
    SessionCache.cached(spark, "passage_top20", dir, dfp) {
      passageCounts(spark, dir, dfp)
        .groupBy("h")
        .agg(count(lit(1)).as("n_docs"), sum("n_occ").as("n_occ"),
          min("preview").as("preview"))
        .where(col("n_docs") >= 2)
        .orderBy(desc("n_docs"), asc("h"))
        .limit(20)
    }
  }
}
