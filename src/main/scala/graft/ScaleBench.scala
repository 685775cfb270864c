package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, Dedup, Similarity}

/** Decade harness: runs the ANN or the dedup family on a deterministic
  * synthetic corpus a decade past the largest testdata scale factor, where
  * the spec fixtures never reach (the decade runs found the dir-per-bucket
  * LSH write, the orTree StackOverflow, two-level misfiling and the
  * per-id minhash verification). Per query it prints the cold wall (first
  * call: artifact and index builds) and the min of three steady laps, each
  * a full execution ([[ShuffleAudit.exec]], never `count()`, which lets
  * Catalyst prune a query down to a skeleton).
  *
  *  - `ann`: the AnnIndexSpec d64 recall geometry scaled to `n` vectors —
  *    unit vectors on n/100 unit centers, per-dim noise 0.175 σ, seed 47,
  *    label = generating center. The default n=20000 is 142 pivots, past
  *    [[AnnIndex.TwoLevelMinPivots]], so the two-level coarse quantizer
  *    runs end to end. Prints the four index-family cold builds, the ANN
  *    and embedding-curation families, and the recall card. `mode=`,
  *    `nprobe=` and `pivots=` set the `spark.graft.ann.*` conf of the same
  *    name (`mode=` sets `assignMode`).
  *  - `dedup`: `nBase` language-realistic docs (5 langs × 20 sources,
  *    60–260 words drawn from per-language function-word lists, es/fr
  *    sharing words so langid confusion is real), each replicated 8×
  *    under shifted ids: copies 1–5 exact, copies 6–7 near-dups (one
  *    appended token). Every 17th base doc starts with one of
  *    [[ContamSentences]], so decontamination has planted ground truth.
  *    The default nBase=62500 is 500k docs. `family=dedup|text|curation`
  *    picks the queries; `dedup` prints label-propagation convergence
  *    ([[Dedup.lastPropagation]]), `text` asserts the langid-accuracy and
  *    planted-decontamination invariants. Ends with the family's
  *    steady-state [[ShuffleAudit]] rows (the searchers must move band
  *    keys, never text).
  *
  * Results are recorded in BASELINE.md ("First measured two-level-regime
  * bench", "Dedup decade").
  * Usage: runMain graft.ScaleBench ann [outDir] [n=20000] [mode=exact|probes] [nprobe=N] [pivots=K]
  *        runMain graft.ScaleBench dedup [outDir] [nBase=62500] [family=dedup|text|curation]
  */
object ScaleBench {

  /** Per-language high-frequency word lists (public function-word
    * inventories): distinct char-bigram mass per language, with es/fr
    * sharing several words on purpose — genuine langid confusion.
    */
  val LangVocab: Map[String, IndexedSeq[String]] = Map(
    "de" -> "der die und in den von zu das mit sich des auf ist im dem nicht ein eine als auch es an werden aus er hat dass sie nach wird bei einer um am sind noch wie einem über einen so zum war haben nur oder aber vor zur bis mehr durch man".split(" ").toIndexedSeq,
    "en" -> "the of and to in is was that for with as his on at by from it an were which be this have not are but had they you she her him all we when who will more no if out so said what its about into than them can only other new some time".split(" ").toIndexedSeq,
    "es" -> "de la que el en y a los del se las por un para con no una su al lo como más pero sus le ya o este sí porque esta entre cuando muy sin sobre también me hasta hay donde quien desde todo nos durante todos uno les".split(" ").toIndexedSeq,
    "fr" -> "de la le et les des en un du une que est pour qui dans a par plus pas au sur ne se ce il sont avec son aux cette ses mais comme ou si leur y dont elle deux même nous aussi leur bien où sans peut ces".split(" ").toIndexedSeq,
    "zh" -> "的 一 是 在 不 了 有 和 人 这 中 大 为 上 个 国 我 以 要 他 时 来 用 们 生 到 作 地 于 出 就 分 对 成 会 可 主 发 年 动 同 工 也 能 下 过 子 说 产 种".split(" ").toIndexedSeq)

  val Langs: IndexedSeq[String] = IndexedSeq("de", "en", "es", "fr", "zh")

  /** 7 deterministic 15-word "benchmark" sentences (7 is coprime with the
    * plant stride 17 × eval mod 10, so every sentence reaches the eval
    * slice). 15 words ⇒ exactly 3 word-13-grams fully inside the
    * sentence — the expected n_shared_grams of every planted train doc.
    */
  val ContamSentences: IndexedSeq[String] = {
    val v = LangVocab("en")
    IndexedSeq.tabulate(7)(j =>
      Seq.tabulate(15)(w => v((j * 31 + w * 7 + 3) % v.size)).mkString(" "))
  }

  def main(args: Array[String]): Unit = {
    def arg(key: String): Option[String] =
      args.find(_.startsWith(s"$key=")).map(_.stripPrefix(s"$key="))
    val outDir = args.find(_.startsWith("/"))
    val spark = GraftSession.create()
    try {
      args.headOption match {
        case Some("ann") =>
          ann(spark, outDir.getOrElse("/tmp/graft_ann_twolevel"),
            arg("n").fold(20000)(_.toInt), arg)
        case Some("dedup") =>
          dedup(spark, outDir.getOrElse("/tmp/graft_dedup500k"),
            arg("nBase").fold(62500)(_.toInt), arg("family").getOrElse("dedup"))
        case _ => sys.error("usage: ScaleBench ann|dedup [outDir] [key=value ...]")
      }
    } finally spark.stop()
  }

  /** Write `gen` to `path` unless a parquet of `rows` rows is already
    * there — the corpus (hence its version and every index store keyed on
    * it) stays stable across runs pointed at the same dir.
    */
  private def fixture(spark: SparkSession, path: String, rows: Long)(gen: => DataFrame): Unit =
    if (scala.util.Try(spark.read.parquet(path).count()).getOrElse(-1L) != rows) {
      println(s"[scalebench] generating $path ($rows rows)")
      gen.write.mode("overwrite").parquet(path)
    }

  private def seconds[T](f: => T): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** The one timing loop: cold wall, then min of three steady laps. */
  private def lap(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val cold = seconds(ShuffleAudit.exec(fn(spark, dir)))
      val laps = Seq.fill(3)(seconds(ShuffleAudit.exec(fn(spark, dir))))
      println(f"[scalebench] $name%-24s cold $cold%8.3f s  steady ${laps.min}%6.3f s " +
        s"(laps ${laps.map(w => f"$w%.3f").mkString("/")})")
      if (name == "q_dedup_clusters") {
        val (iters, conv) = Dedup.lastPropagation.get()
        println(s"[scalebench]   propagation iters=$iters converged=$conv")
      }
    }

  private def ann(spark: SparkSession, dir: String, n: Int, arg: String => Option[String]): Unit = {
    import spark.implicits._
    // per-corpus index root, a SIBLING of the corpus dir: corpusVersion
    // fingerprints the corpus dir recursively, so an index root inside it
    // would churn the version on every build
    spark.conf.set("spark.graft.ann.indexRoot", s"${dir}_index/graft_ann")
    Seq("mode" -> "assignMode", "nprobe" -> "nprobe", "pivots" -> "pivots")
      .foreach { case (a, c) => arg(a).foreach(spark.conf.set(s"spark.graft.ann.$c", _)) }
    val dim = 64
    fixture(spark, s"$dir/embeddings.parquet", n) {
      // driver-side: seeded scala.util.Random has no distributed twin
      // with the same stream. Centers scale as n/100 so cluster hardness,
      // not cluster population, holds constant across decades.
      val rnd = new scala.util.Random(47)
      def unit(v: Array[Double]): Array[Double] = {
        val nn = math.sqrt(v.map(x => x * x).sum); v.map(_ / nn)
      }
      val nCenters = math.max(2, n / 100)
      val centers = Seq.fill(nCenters)(unit(Array.fill(dim)(rnd.nextGaussian())))
      (0 until n).map { i =>
        val c = rnd.nextInt(nCenters)
        (i.toLong, s"c$c",
          unit(centers(c).map(_ + 0.175 * rnd.nextGaussian())).map(_.toFloat).toSeq)
      }.toDF("vec_id", "label", "embedding").coalesce(math.max(4, n / 25000))
    }
    val ver = AnnIndex.corpusVersion(spark, dir)
    val k = AnnIndex.centroids(spark, dir, ver).size
    println(s"[scalebench] ann corpus n=$n d=$dim pivots=$k " +
      s"twoLevel=${k > AnnIndex.TwoLevelMinPivots} " +
      s"nprobe=${AnnIndex.probeCount(spark, k)} assignTag=${AnnIndex.assignTag(spark, dir, ver)}")
    require(k > AnnIndex.TwoLevelMinPivots, "fixture must cross the two-level threshold")
    // codebook training is inside the first build; the rest reuse it
    Seq[(String, () => Any)](
      "ivf" -> (() => AnnIndex.ensureIvf(spark, dir, ver)),
      "ivfpq" -> (() => AnnIndex.ensureIvfPq(spark, dir, ver)),
      "int8" -> (() => AnnIndex.ensureInt8(spark, dir, ver)),
      "lsh" -> (() => AnnIndex.ensureLsh(spark, dir, ver)))
      .foreach { case (fam, build) =>
        println(f"[scalebench] build $fam%-8s ${seconds(build())}%7.3f s")
      }
    lap(spark, dir, Seq(
      "q_sim_topk", "q_sim_topk_batch", "q_sim_ann_ivf", "q_sim_ann_batch",
      "q_sim_ann_lsh", "q_sim_ann_int8", "q_sim_ann_int8_batch",
      "q_sim_ann_pq", "q_sim_ann_ivfpq", "q_sim_ann_ivfpq_batch",
      "q_knn_label", "q_ann_recall", "q_index_health", "q_cluster_profile",
      "q_tier_advisor",
      // the embedding-curation family crosses the same wider band-bit and
      // two-level regimes at this geometry
      "q_dedup_embed", "q_embed_outliers", "q_embed_dim_stats",
      "q_vector_norms", "q_quantize_embed", "q_quantize_pq"))
    Similarity.annRecall(spark, dir).collect().foreach(r =>
      println(s"[scalebench] recall ${r.getString(0)} recall@10=${r.getDouble(1)}"))
  }

  private def dedup(spark: SparkSession, dir: String, nBase: Int, family: String): Unit = {
    import spark.implicits._
    fixture(spark, s"$dir/documents.parquet", nBase * 8L) {
      val base = spark.range(0, nBase.toLong, 1, 32).map { i =>
        val rnd = new scala.util.Random(47L * (i + 1))
        val lang = Langs((i % 5).toInt)
        val vocab = LangVocab(lang)
        val body = Seq.fill(60 + rnd.nextInt(200))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        val text = if (i % 17 == 0) s"${ContamSentences((i % 7).toInt)} $body" else body
        (i, text, lang, s"s${i % 20}")
      }.toDF("doc_id", "text", "lang", "source")
      (1 to 7).map { c =>
        val text = if (c >= 6) concat(col("text"), lit(s" zz${c}mut")) else col("text")
        base.select((col("doc_id") + lit(1000000L * c)).as("doc_id"),
          text.as("text"), col("lang"), col("source"))
      }.foldLeft(base)(_ unionByName _)
        .withColumn("n_chars", length(col("text")).cast("bigint"))
    }
    val (timed, audited) = family match {
      case "text" => (Seq(
        "q_text_stats", "q_text_tokens", "q_text_quality", "q_text_langid",
        "q_text_chunks", "q_text_tfidf", "q_lm_quality", "q_lm_filter",
        "q_text_compress", "q_text_fingerprint", "q_text_redact",
        "q_pii_card", "q_decontaminate", "q_ngram_counts", "q_corpus_filter",
        "q_source_drift", "q_topic_terms", "q_source_quality",
        "q_text_repetition", "q_mix_report"), Seq(
        "q_text_tfidf", "q_decontaminate", "q_corpus_filter", "q_ngram_counts",
        "q_lm_filter"))
      case "curation" => (Seq(
        "q_sample_balanced", "q_split_assign", "q_length_bins",
        "q_domain_cap", "q_mix_sample", "q_shuffle_shards",
        "q_pack_sequences"), Seq(
        "q_domain_cap", "q_pack_sequences", "q_sample_balanced", "q_shuffle_shards"))
      case _ => (Seq(
        "q_dedup_exact", "q_dup_inflation", "q_dedup_minhash",
        "q_dedup_clusters", "q_dedup_keep", "q_dedup_simhash",
        "q_dedup_simhash_pairs", "q_dedup_ngram", "q_dedup_source_overlap",
        "q_dedup_incremental", "q_boilerplate", "q_top_passages"), Seq(
        "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash_pairs",
        "q_dedup_ngram", "q_dedup_incremental", "q_dedup_clusters",
        "q_boilerplate"))
    }
    lap(spark, dir, timed)
    if (family == "text") {
      // the planted structure must be RECOVERED, not just produce rows
      val conf = SparkEntry.queries("q_text_langid")(spark, dir).collect()
      val total = conf.map(_.getLong(2)).sum
      val diag = conf.filter(r => r.getString(0) == r.getString(1)).map(_.getLong(2)).sum
      val acc = diag.toDouble / math.max(total, 1)
      println(f"[scalebench] langid diag=$diag total=$total acc=$acc%.4f (cells=${conf.length})")
      assert(total > 0, "langid confusion matrix empty at the decade")
      assert(acc >= 0.8, f"langid decade accuracy $acc%.3f below the 0.8 floor")
      val decon = SparkEntry.queries("q_decontaminate")(spark, dir).collect()
      assert(decon.nonEmpty, "decontaminate found no planted contamination")
      decon.foreach { r =>
        val id = r.getLong(0)
        assert(id % 1000000 % 17 == 0 && id % 10 != 0,
          s"non-planted doc $id surfaced in the contamination card")
        // ≥ 3: the sentence's fully-inside grams are guaranteed; the card
        // sorts by count DESC, so its top rows may add sentence→body
        // boundary grams that genuinely match an eval doc's body start
        assert(r.getLong(1) >= 3L,
          s"planted doc $id: expected >= 3 shared 13-grams, got ${r.getLong(1)}")
      }
      println(s"[scalebench] decontaminate top-${decon.length}: all planted, >= 3 shared grams each")
    }
    ShuffleAudit.measure(spark, dir, audited).toSeq.sortBy(_._1).foreach { case (n, a) =>
      println(f"[scalebench] shuffle $n%-24s ${a.shuffleBytes}%12d B  " +
        f"(${a.shuffleRecords}%9d recs, input ${a.inputRecords}%9d, stages ${a.stages}%3d)")
    }
  }
}
