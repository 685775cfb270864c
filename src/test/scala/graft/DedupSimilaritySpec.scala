package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {

  test("VectorOps.cosine matches a hand computation") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0, 2.0), Seq(2.0, 1.0, 0.0))).toDF("a", "b")
    val got = df.select(VectorOps.cosine(col("a"), col("b"))).head().getDouble(0)
    val want = 2.0 / (math.sqrt(5.0) * math.sqrt(5.0))
    assert(math.abs(got - want) < 1e-12)
  }

  test("hyperplane band keys are stable and within range") {
    import spark.implicits._
    val pl = typedlit(Seq(
      Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 1.0), Seq(1.0, 1.0)))
    val df = Seq(Tuple1(Seq(0.5, -0.5)), Tuple1(Seq(-2.0, 1.0))).toDF("v")
    val keys = df.select(
      VectorOps.bandKeys(VectorOps.hyperplaneBits(pl, col("v")), 2, 2).as("k"))
      .collect().map(_.getSeq[Long](0))
    assert(keys.forall(_.forall(k => k >= 0 && k < 4)))
    // v=(0.5,-0.5): bits = [1,0,0,1] -> bands [2,1]
    assert(keys.head == Seq(2L, 1L))
  }

  test("dedupExact collapses nothing when all texts are distinct") {
    val df = Dedup.dedupExact(spark, sf)
    val dupGroups = df.where(col("n_copies") > 1).count()
    val total = df.count()
    assert(total > 0)
    // keep_ids are unique
    assert(df.select("keep_id").distinct().count() == total)
    assert(dupGroups >= 0)
  }

  test("minhash near-dup pairs really are similar (exact jaccard backs it)") {
    val pairs = Dedup.dedupMinhash(spark, sf).collect()
    assert(pairs.nonEmpty)
    // top pair must beat the rest (sorted by jaccard desc)
    val js = pairs.map(_.getAs[Double]("jaccard")).toSeq
    assert(js == js.sorted.reverse)
    assert(js.head > 0.5) // sf0.001 corpus contains near-identical docs
  }

  test("sourceOverlap: estimates bounded in [0,1], self-overlap would be 1") {
    val rows = Dedup.sourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall { r =>
      val j = r.getAs[Double]("est_jaccard"); j >= 0.0 && j <= 1.0
    })
    // union aggregate sanity: a source sketched against itself matches fully
    import org.apache.spark.sql.functions._
    val sketches = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), expr("minhash_sig(ngram_hashes(text, 3, 'word'))").as("sig"))
      .groupBy("source").agg(expr("minhash_union(sig)").as("m"))
    val self = sketches
      .withColumn("eq", aggregate(
        zip_with(col("m"), col("m"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (a, x) => a + x))
    assert(self.where(col("eq") =!= 64).count() == 0)
  }

  test("simhash fingerprints are deterministic across runs") {
    val a = Dedup.dedupSimhash(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Dedup.dedupSimhash(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
  }

  test("native simhash64 is bit-for-bit equal to the HOF reference fold") {
    import graft.sources.Tables
    val mismatch = Tables.documents(spark, sf)
      .select(
        expr("simhash64(text)").as("native"),
        Dedup.simhash64Hof().as("hof"))
      .where(col("native") =!= col("hof"))
    assert(mismatch.count() == 0)
  }

  test("propagateLabels finds exact components on a known graph") {
    import spark.implicits._
    // two components: a 4-node path 1-2-3-4 (diameter 3) and the pair 10-11;
    // node 20 is isolated
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.propagateLabels(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L))
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(labels(20L) == 20L)
  }

  test("dedupKeep accounting is consistent with the cluster structure") {
    val rows = Dedup.dedupKeep(spark, sf).collect()
    val totalDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_total")).sum == totalDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped")
        == r.getAs[Long]("n_total"))
      assert(r.getAs[Long]("n_kept") >= 1)
    }
    // drops across languages = (cluster size - 1) summed over multi-member
    // clusters — the cluster view and the keep view must agree
    val dropped = rows.map(_.getAs[Long]("n_dropped")).sum
    val fromClusters = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("n_members") - 1).sum
    assert(dropped == fromClusters)
  }

  test("dedupClusters emits only multi-member clusters with valid reps") {
    val clusters = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_rep") -> r.getAs[Long]("n_members"))
    assert(clusters.forall(_._2 >= 2))
    // reps are distinct and are real doc ids
    assert(clusters.map(_._1).distinct.length == clusters.length)
  }

  test("simhash pair search finds every pair within Hamming 3 (pigeonhole)") {
    val pairs = Dedup.dedupSimhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming")))
    // hamming is a real popcount of the fingerprint XOR
    val fps = Dedup.dedupSimhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b, h) =>
      assert(java.lang.Long.bitCount(fps(a) ^ fps(b)) == h)
    }
    // the banding guarantee: every true pair at distance <= 3 appears,
    // unless it was cut by the top-20 limit (then the cutoff is <= 3 too)
    val all = fps.toSeq
    val close = for {
      (a, fa) <- all; (b, fb) <- all if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (a, b, h.toLong)
    val found = pairs.map(p => (p._1, p._2)).toSet
    val cutoff = if (pairs.length >= 20) pairs.map(_._3).max else Long.MaxValue
    close.foreach { case (a, b, h) =>
      assert(found.contains((a, b)) || h >= cutoff,
        s"missed pair ($a,$b) at hamming $h")
    }
  }

  test("IVF ANN scores candidates identically to brute force") {
    val brute = Similarity.simTopK(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
    val ivf = Similarity.simAnnIvf(spark, sf).collect()
    assert(ivf.nonEmpty && ivf.length <= 10)
    ivf.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      if (brute.contains(id)) assert(brute(id) == r.getAs[Double]("sim"))
    }
  }

  test("catalog introspection lists all registered tables") {
    graft.sources.Tables.registerAll(spark, sf)
    val listed = spark.catalog.listTables().collect().map(_.name).toSet
    assert(graft.sources.Tables.all.toSet.subsetOf(listed))
    // SQL works over the registered views
    assert(spark.sql("SELECT count(*) FROM events").head().getLong(0) > 0)
  }

  test("binaryFile artifact ingestion computes sha256 and size") {
    val dir = java.nio.file.Files.createTempDirectory("artifacts")
    java.nio.file.Files.write(dir.resolve("a.bin"), "model weights".getBytes)
    java.nio.file.Files.write(dir.resolve("b.bin"), Array[Byte](1, 2, 3))
    val got = graft.operators.Multimodal.ingestArtifacts(spark, dir.toString + "/*.bin")
      .collect()
    assert(got.length == 2)
    val a = got.find(_.getAs[String]("path").endsWith("a.bin")).get
    val wantSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest("model weights".getBytes).map("%02x".format(_)).mkString
    assert(a.getAs[String]("sha256") == wantSha)
    assert(a.getAs[Long]("size_bytes") == 13L)
  }

  test("brute-force topk and LSH ANN agree on the best match") {
    val brute = Similarity.simTopK(spark, sf).collect()
    val ann = Similarity.simAnnLsh(spark, sf).collect()
    assert(brute.length == 10)
    assert(ann.nonEmpty)
    val bruteTop = brute.map(_.getAs[Long]("vec_id")).toSet
    val annIds = ann.map(_.getAs[Long]("vec_id")).toSet
    // ANN candidates are a subset of the corpus ranked by the same metric;
    // require non-trivial overlap with the true top-10 (recall sanity)
    assert(annIds.intersect(bruteTop).nonEmpty)
    // ANN sims must be a subset of exact sims (same scoring on candidates)
    val bruteSims = brute.map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
    ann.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      if (bruteSims.contains(id)) assert(bruteSims(id) == r.getAs[Double]("sim"))
    }
  }

  test("annRecall equals the overlap recomputed from the tier result sets") {
    val exact = Similarity.simTopK(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getAs[Long]("vec_id")).toSet
    val tiers = Map(
      "ivf" -> ids(Similarity.simAnnIvf(spark, sf)),
      "lsh" -> ids(Similarity.simAnnLsh(spark, sf)),
      "int8" -> ids(Similarity.simAnnInt8(spark, sf)),
      "pq" -> ids(Similarity.simAnnPq(spark, sf)),
      "ivfpq" -> ids(Similarity.simAnnIvfPq(spark, sf)))
    val card = Similarity.annRecall(spark, sf).collect()
      .map(r => r.getAs[String]("method") -> r.getAs[Double]("recall_at_10")).toMap
    assert(card.keySet == tiers.keySet)
    for ((m, got) <- tiers)
      assert(card(m) == got.intersect(exact).size / 10.0, s"tier $m")
    card.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  test("cosine_sim_q8 equals the dequantize HOF chain bit-for-bit on the real store") {
    import org.apache.spark.sql.functions._
    val ver = graft.operators.AnnIndex.corpusVersion(spark, sf)
    val store = graft.operators.AnnIndex.int8(spark, sf, ver)
    val q = graft.sources.Tables.embeddings(spark, sf)
      .where(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>").as("qv0"))
    val both = store.crossJoin(broadcast(q))
      .select(col("vec_id"),
        expr("cosine_sim_q8(qv, scale, qv0)").as("fused"),
        expr("cosine_sim(transform(qv, x -> CAST(x AS DOUBLE) * scale), qv0)")
          .as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: fused ${r.getDouble(1)} != hof ${r.getDouble(2)}")
    }
  }

  test("batched int8 equals one-at-a-time int8 semantics and tracks batched exact") {
    val batch = Similarity.simAnnInt8Batch(spark, sf).collect()
    val exact = Similarity.simBatchTopK(spark, sf).collect()
    val qids = (0L until Similarity.BatchQueries.toLong)
    assert(batch.map(_.getAs[Long]("qid")).distinct.sorted.toSeq == qids)
    val byQ = batch.groupBy(_.getAs[Long]("qid"))
    val exactByQ = exact.groupBy(_.getAs[Long]("qid"))
    qids.foreach { q =>
      val b = byQ(q)
      // re-ranked scores are exact cosine: identical on shared ids
      val exSims = exactByQ(q)
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
      b.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        if (exSims.contains(id)) assert(exSims(id) == r.getAs[Double]("sim"))
      }
      // int8 recall: the dequantized pool should recover most of the
      // true top-10 (the single-query spec's bar, per query here)
      assert(b.map(_.getAs[Long]("vec_id")).toSet
        .intersect(exSims.keySet).size >= 8, s"qid $q recall too low")
      assert(b.sortBy(_.getAs[Int]("rank")).map(_.getAs[Int]("rank")).toSeq ==
        (1 to b.length))
    }
    // NOTE: no qid-0 equality with the single-query path — the batch
    // excludes ALL K query ids from candidates (the simBatchTopK
    // convention) while the single-query path excludes only its own,
    // so the candidate sets legitimately differ on ids 1..K-1.
  }

  test("batched ANN agrees with batched exact retrieval per query") {
    val exact = Similarity.simBatchTopK(spark, sf).collect()
    val ann = Similarity.simAnnBatch(spark, sf).collect()
    val qids = exact.map(_.getAs[Long]("qid")).distinct.sorted
    assert(qids.toSeq == (0L until Similarity.BatchQueries.toLong),
      "every batch query must return exact results")
    assert(ann.map(_.getAs[Long]("qid")).distinct.length == qids.length,
      "every batch query must return ANN results")
    val exactByQ = exact.groupBy(_.getAs[Long]("qid"))
    val annByQ = ann.groupBy(_.getAs[Long]("qid"))
    qids.foreach { q =>
      val ex = exactByQ(q)
      assert(ex.length == 10)
      // ANN candidates score identically to brute force on shared ids
      val exSims = ex.map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
      val an = annByQ(q)
      an.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        if (exSims.contains(id)) assert(exSims(id) == r.getAs[Double]("sim"))
      }
      // recall sanity per query: probed cells overlap the true top-10
      assert(an.map(_.getAs[Long]("vec_id")).toSet
        .intersect(ex.map(_.getAs[Long]("vec_id")).toSet).nonEmpty)
      // ranks are dense and ordered
      assert(an.sortBy(_.getAs[Int]("rank")).map(_.getAs[Int]("rank")).toSeq ==
        (1 to an.length))
    }
  }

  test("knnLabel predicts the majority label of simBatchTopK's neighbor set") {
    import graft.sources.Tables
    val preds = Similarity.knnLabel(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Int]("pred_label"), r.getAs[Long]("votes"))).toMap
    assert(preds.keySet == (0L until Similarity.BatchQueries).toSet,
      "one prediction per query")
    // recompute the expected vote from the oracle-verified retrieval tier
    val labels = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val neighbors = Similarity.simBatchTopK(spark, sf).collect()
      .groupBy(_.getAs[Long]("qid"))
    for ((qid, rows) <- neighbors) {
      val votes = rows.map(r => labels(r.getAs[Long]("vec_id")))
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val (predLabel, predVotes) = preds(qid)
      assert(votes(predLabel) == predVotes,
        s"q$qid: reported votes must count the winner's neighbors")
      assert(votes.values.max == predVotes,
        s"q$qid: predicted label must carry the maximum vote count")
    }
  }

  test("clusterProfile: cells partition the corpus; shares/cohesion bounded; deterministic") {
    import graft.sources.Tables
    import graft.operators.AnnIndex
    val prof = Similarity.clusterProfile(spark, sf).collect()
    assert(prof.nonEmpty)
    assert(prof.map(_.getAs[Long]("n_vecs")).sum ==
      Tables.embeddings(spark, sf).count(),
      "every vector lands in exactly one cell")
    val clusters = prof.map(_.getAs[Int]("cluster"))
    assert(clusters.distinct.length == clusters.length)
    assert(clusters.forall(c => c >= 0 && c < AnnIndex.centroids(spark, sf).size))
    prof.foreach { r =>
      val share = r.getAs[Double]("top_share")
      assert(share > 0.0 && share <= 1.0)
      val sim = r.getAs[Double]("avg_sim")
      assert(sim >= -1.0 && sim <= 1.0)
      assert(r.getAs[Int]("top_label") >= 0)
      // dominant share of an n-member cell is at least 1/n
      assert(share * r.getAs[Long]("n_vecs") >= 0.999)
    }
    // centroids are build-once per corpus version: a rerun is identical
    val again = Similarity.clusterProfile(spark, sf).collect()
    assert(prof.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("quantizeEmbed: int8 reconstruction error small, bounded, covers the corpus") {
    import graft.sources.Tables
    val card = Similarity.quantizeEmbed(spark, sf).collect()
    assert(card.nonEmpty)
    assert(card.map(_.getAs[Long]("n_vecs")).sum ==
      Tables.embeddings(spark, sf).count())
    card.foreach { r =>
      val avg = r.getAs[Double]("avg_rel_err")
      val max = r.getAs[Double]("max_rel_err")
      assert(avg >= 0.0 && avg <= max + 1e-9)
      // int8 over 64 dims: relative L2 error lands well under 1% —
      // anything near 1 would mean quantization destroyed the vectors
      assert(max > 0.0 && max < 0.05, s"label ${r.get(0)}: max_rel_err $max")
    }
  }

  test("dedupIncremental: covers the batch; an injected cross-boundary dup is caught") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val out = Dedup.dedupIncremental(spark, sf).collect()
    val nBatch = Tables.documents(spark, sf)
      .where(col("doc_id") % 20 === 0).count()
    assert(out.length == nBatch, "one verdict row per arriving-batch doc")
    out.foreach { r =>
      val n = r.getAs[Long]("n_candidates")
      if (n == 0) {
        assert(r.isNullAt(r.fieldIndex("match_id")) && !r.getAs[Boolean]("is_dup"))
      } else if (r.getAs[Boolean]("is_dup")) {
        assert(r.getAs[Double]("jaccard") >= 0.5)
      }
    }
    // synthetic: doc 20 (batch) is an exact copy of corpus doc 1; doc 40
    // (batch) shares nothing with the corpus
    import spark.implicits._
    val synth = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "red orange yellow green blue indigo violet shade"),
      (20L, "alpha beta gamma delta epsilon zeta eta theta"),
      (40L, "totally different words entirely unique tokens here now"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc").toString
    synth.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      val card = Dedup.dedupIncremental(spark, tmp).collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(card.keySet == Set(20L, 40L))
      assert(card(20L).getAs[Boolean]("is_dup"))
      assert(card(20L).getAs[Long]("match_id") == 1L)
      assert(card(20L).getAs[Double]("jaccard") == 1.0)
      assert(!card(40L).getAs[Boolean]("is_dup"))
      assert(card(40L).getAs[Long]("n_candidates") == 0L)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("embedDimStats: one row per dimension, sane moments, dead dim detected") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.{col, size}
    val dims = Tables.embeddings(spark, sf)
      .select(size(col("embedding"))).collect()(0).getInt(0)
    val card = Similarity.embedDimStats(spark, sf).collect()
    assert(card.length == dims)
    assert(card.map(_.getAs[Long]("dim")).toSeq == (1L to dims).toSeq)
    val n = Tables.embeddings(spark, sf).count()
    card.foreach { r =>
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Double]("min_x") <= r.getAs[Double]("mean"))
      assert(r.getAs[Double]("mean") <= r.getAs[Double]("max_x"))
      assert(r.getAs[Double]("std") >= 0.0)
      val fz = r.getAs[Double]("frac_nearzero")
      assert(fz >= 0.0 && fz <= 1.0)
    }
    // synthetic: dim 2 is dead (always 0), dim 3 is a constant offset
    import spark.implicits._
    val synth = (0 until 40).map(i =>
        (i.toLong, Seq(i.toFloat / 40f, 0f, 2.5f), "a"))
      .toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("graft_dims").toString
    synth.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    try {
      val by = Similarity.embedDimStats(spark, tmp).collect()
        .map(r => r.getAs[Long]("dim") -> r).toMap
      assert(by(2L).getAs[Double]("frac_nearzero") == 1.0)
      assert(by(2L).getAs[Double]("std") == 0.0)
      assert(by(3L).getAs[Double]("std") == 0.0)
      assert(by(3L).getAs[Double]("mean") == 2.5)
      assert(by(1L).getAs[Double]("std") > 0.0)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("simAnnInt8: exact-re-ranked int8 retrieval recalls the exact top-10") {
    val exact = Similarity.simTopK(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val int8 = Similarity.simAnnInt8(spark, sf).collect()
    assert(int8.length == 10)
    val sims = int8.map(_.getAs[Double]("sim")).toSeq
    assert(sims == sims.sorted.reverse, "descending by exact re-ranked sim")
    val overlap = int8.map(_.getAs[Long]("vec_id")).count(exact.contains)
    // int8 over 64 dims costs <1% sim error; the exact top-10 must
    // survive the 50-candidate quantized retrieve essentially intact
    assert(overlap >= 8, s"recall@10 too low: $overlap/10")
    val again = Similarity.simAnnInt8(spark, sf).collect()
    assert(int8.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("indexHealth: entry totals reconcile with the corpus; skew/avg consistent") {
    import graft.sources.Tables
    import graft.operators.AnnIndex
    val card = Similarity.indexHealth(spark, sf).collect()
      .map(r => r.getAs[String]("index") -> r).toMap
    assert(card.keySet == Set("int8", "ivf", "ivfpq", "lsh"))
    val n = Tables.embeddings(spark, sf).count()
    // the flat int8 store rides the card as a single cell: coverage
    // reconciles against the inverted files without a corpus scan
    assert(card("int8").getAs[Long]("n_entries") == n,
      "the int8 serving store covers every corpus vector once")
    assert(card("int8").getAs[Long]("n_cells") == 1L)
    assert(card("int8").getAs[Double]("skew") == 1.0)
    assert(card("ivf").getAs[Long]("n_entries") == n,
      "IVF inverts every corpus vector exactly once")
    assert(card("ivfpq").getAs[Long]("n_entries") == n,
      "the PQ-coded inverted file also covers every corpus vector once")
    // same coarseAssign + version identity → identical cell structure;
    // a divergence here is a stale/miswired code store
    for (f <- Seq("n_cells", "min_cell", "max_cell"))
      assert(card("ivfpq").getAs[Long](f) == card("ivf").getAs[Long](f),
        s"ivfpq $f must mirror the raw inverted file")
    assert(card("lsh").getAs[Long]("n_entries") == n * AnnIndex.LshBands,
      "LSH stores one signature row per (vector, band)")
    assert(card("ivf").getAs[Long]("n_cells") <= AnnIndex.centroids(spark, sf).size)
    val lshGeom = AnnIndex.lshGeom(
      AnnIndex.corpusCount(spark, sf, AnnIndex.corpusVersion(spark, sf)))
    assert(card("lsh").getAs[Long]("n_cells") <=
      lshGeom.bands.toLong * (1L << lshGeom.bandBits))
    card.values.foreach { r =>
      assert(r.getAs[Long]("min_cell") >= 1, "only non-empty cells appear")
      assert(r.getAs[Long]("max_cell") >= r.getAs[Long]("min_cell"))
      val avg = r.getAs[Double]("avg_cell")
      assert(math.abs(avg - r.getAs[Long]("n_entries").toDouble /
        r.getAs[Long]("n_cells")) < 1e-6)
      assert(r.getAs[Double]("skew") >= 0.999999,
        "max cell is at least the average cell")
    }
  }

  test("tierAdvisor: reconciles with the law functions; one chosen per n; R moves only the random tiers") {
    import graft.sources.Tables
    import graft.operators.AnnIndex
    def cardOf(): Map[(Long, String), org.apache.spark.sql.Row] =
      Similarity.tierAdvisor(spark, sf).collect()
        .map(r => (r.getAs[Long]("n"), r.getAs[String]("tier")) -> r).toMap
    val card = cardOf()
    val n0 = Tables.embeddings(spark, sf).count()
    assert(card.size == 25, "5 tiers x 5 projected corpus sizes")
    assert(card.keys.map(_._1).toSet ==
      Set(1L, 10L, 100L, 1000L, 10000L).map(_ * n0))
    // the card prices the PUBLISHED laws, not a private re-derivation
    for (n <- card.keys.map(_._1)) {
      assert(card((n, "lsh")).getAs[Long]("probe_rows") ==
        math.round(AnnIndex.lshProbeCandidates(n)))
      assert(card((n, "ivf")).getAs[Long]("probe_rows") ==
        math.round(AnnIndex.ivfProbeRows(n)))
      assert(card((n, "exact")).getAs[Long]("probe_rows") == n)
      // exactly one cheapest tier marked per n
      assert(Seq("exact", "int8", "lsh", "ivf", "ivfpq")
        .count(t => card((n, t)).getAs[Boolean]("chosen")) == 1)
    }
    // the int8 tier prices the serving path's own re-rank pool
    assert(card((n0, "int8")).getAs[Long]("rand_rows") ==
      Similarity.Int8Rerank.toLong)
    // per-tier cost is monotone in corpus size — except LSH, whose
    // adaptive-regime law is a SAWTOOTH (each band-bit step halves
    // bucket width; AnnIndexSpec pins those regimes); its card rows
    // are already reconciled against the law above
    for (t <- Seq("exact", "int8", "ivf", "ivfpq")) {
      val cs = card.toSeq.filter(_._1._2 == t).sortBy(_._1._1)
        .map(_._2.getAs[Long]("cost_rows"))
      assert(cs.zip(cs.tail).forall(p => p._1 <= p._2), s"$t not monotone: $cs")
    }
    // raising R (memory -> object store) must raise the random-fetch
    // tiers' modeled cost and leave the sequential tiers' unchanged
    val prev = spark.conf.getOption("spark.graft.ann.randomCostFactor")
    spark.conf.set("spark.graft.ann.randomCostFactor", "1000")
    try {
      val cardHi = cardOf()
      for (n <- card.keys.map(_._1)) {
        assert(cardHi((n, "lsh")).getAs[Long]("cost_rows") >
          card((n, "lsh")).getAs[Long]("cost_rows"))
        for (t <- Seq("exact", "ivf"))
          assert(cardHi((n, t)).getAs[Long]("cost_rows") ==
            card((n, t)).getAs[Long]("cost_rows"))
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.ann.randomCostFactor", v)
      case None => spark.conf.unset("spark.graft.ann.randomCostFactor")
    }
  }

  test("tierAdvisor reconciles with the MEASURED recall card (r20 width-cap lesson)") {
    // Once the session has measured q_ann_recall, the advisor must stop
    // recommending a tier whose measured recall sits under the floor —
    // at the 2M width-cap decade IVF stays the cost table's cheapest
    // while its measured recall collapses to 0.44. The card is a PEEK:
    // the advisor never builds the stores itself.
    Similarity.annRecall(spark, sf).collect() // measure (cheap at sf)
    val card = Similarity.tierAdvisor(spark, sf).collect()
    val withRecall = card.filter(!_.isNullAt(card.head.fieldIndex("recall")))
    assert(withRecall.nonEmpty, "measured session must surface recall values")
    // floor = 1.0: only tiers measuring a perfect card (plus exact, 1.0
    // by construction) may be chosen
    spark.conf.set("spark.graft.ann.advisorRecallFloor", "1.0")
    try {
      val strict = Similarity.tierAdvisor(spark, sf).collect()
      val chosen = strict.filter(_.getAs[Boolean]("chosen"))
      assert(chosen.length == 5, "one chosen per projected n")
      chosen.foreach { r =>
        val rec = r.getAs[java.lang.Double]("recall")
        assert(rec != null && rec >= 1.0,
          s"chosen tier ${r.getAs[String]("tier")} below the floor: $rec")
      }
    } finally spark.conf.unset("spark.graft.ann.advisorRecallFloor")
  }

  test("tierAdvisor prefers the CURRENT conf's recall card over the lexicographic-max pick (r21 ADVICE)") {
    import graft.operators.AnnIndex
    // Measure the card under TWO nprobe geometries in one session, then
    // ask the advisor under each conf in turn: it must surface the card
    // measured under the CURRENT conf — a lexicographic-max pick would pin whichever key string sorts last (e.g. "np16" < "np4"),
    // applying a superseded geometry's floor after an A/B.
    def ivfRecall(rows: Array[org.apache.spark.sql.Row]): java.lang.Double =
      rows.find(r => r.getAs[String]("tier") == "ivf" &&
          r.getAs[Long]("n") == rows.map(_.getAs[Long]("n")).min)
        .map(_.getAs[java.lang.Double]("recall")).orNull
    def cardIvf(): Double =
      Similarity.annRecall(spark, sf).collect()
        .find(_.getAs[String]("method") == "ivf").get.getAs[Double]("recall_at_10")
    val lawIvf = cardIvf() // card under the law nprobe
    try {
      spark.conf.set("spark.graft.ann.nprobe", "1")
      val narrowIvf = cardIvf() // second card, same session, np1 key
      assert(narrowIvf != lawIvf,
        s"fixture must discriminate the two geometries (law=$lawIvf np1=$narrowIvf) " +
          "or this pin is vacuous — widen the gap (different nprobe) if this fires")
      val advNarrow = ivfRecall(Similarity.tierAdvisor(spark, sf).collect())
      assert(advNarrow != null && advNarrow.doubleValue() == narrowIvf,
        s"advisor under np1 must read the np1 card ($narrowIvf), got $advNarrow")
      spark.conf.unset("spark.graft.ann.nprobe")
      val advLaw = ivfRecall(Similarity.tierAdvisor(spark, sf).collect())
      assert(advLaw != null && advLaw.doubleValue() == lawIvf,
        s"advisor back under the law conf must read the law card ($lawIvf), got $advLaw")
    } finally spark.conf.unset("spark.graft.ann.nprobe")
  }

  test("tierAdvisor under an UNMEASURED conf surfaces no recalls — no stale-card fallback (r22 ADVICE)") {
    // A session holding cards for other geometries must not lend them to
    // a conf that never measured: the session store keeps one codebook
    // per (k, seed, geometry) name, but the current conf's codebook can
    // be missing (never trained, replaced by a new corpus version, or
    // evicted by the store's bound) while a stale ann_recall_* card
    // survives — a prefix fallback would apply the superseded
    // geometry's floor.
    // Cost-only eligibility is the conservative degradation.
    Similarity.annRecall(spark, sf).collect() // a card EXISTS in-session
    spark.conf.set("spark.graft.ann.nprobe", "2") // unmeasured geometry
    try {
      val card = Similarity.tierAdvisor(spark, sf).collect()
      val idx = card.head.fieldIndex("recall")
      card.filter(_.getAs[String]("tier") != "exact").foreach { r =>
        assert(r.isNullAt(idx),
          s"unmeasured conf must surface NO recall for ${r.getAs[String]("tier")}, " +
            s"got ${r.get(idx)} (stale-card fallback)")
      }
    } finally spark.conf.unset("spark.graft.ann.nprobe")
  }

  test("dupInflation: histogram reconciles with dedupExact; surplus exact on an injected corpus") {
    import graft.sources.Tables
    val hist = Dedup.dupInflation(spark, sf).collect()
    assert(hist.nonEmpty)
    // every cluster and every doc is accounted for exactly once
    assert(hist.map(_.getAs[Long]("n_clusters")).sum ==
      Dedup.dedupExact(spark, sf).count())
    assert(hist.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf).count())
    hist.foreach { r =>
      val sz = r.getAs[Long]("cluster_size")
      assert(r.getAs[Long]("n_docs") == sz * r.getAs[Long]("n_clusters"))
      assert(r.getAs[Long]("n_surplus_docs") ==
        (sz - 1) * r.getAs[Long]("n_clusters"))
      if (sz == 1) assert(r.getAs[Long]("surplus_tokens") == 0L)
    }
    // injected: "a b c" ×3 (2 surplus docs × 3 tokens), "x y" ×1
    import spark.implicits._
    val synth = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b c"), (4L, "x y"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_dupinf").toString
    synth.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      val by = Dedup.dupInflation(spark, tmp).collect()
        .map(r => r.getAs[Long]("cluster_size") -> r).toMap
      assert(by.keySet == Set(1L, 3L))
      assert(by(3L).getAs[Long]("n_surplus_docs") == 2L)
      assert(by(3L).getAs[Long]("surplus_tokens") == 6L)
      assert(by(1L).getAs[Long]("surplus_tokens") == 0L)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("embedOutliers: top-20 sorted, non-negative; a planted far vector ranks first") {
    val out = Similarity.embedOutliers(spark, sf).collect()
    assert(out.length == 20)
    val dists = out.map(_.getAs[Double]("dist"))
    assert(dists.forall(_ >= 0.0))
    assert(dists.sameElements(dists.sorted(Ordering[Double].reverse)),
      "rows arrive farthest-first")
    // planted corpus: label 0 = tight cluster at e1 plus ONE vector at
    // 10·e2 (the mislabel); label 1 = two symmetric vectors whose
    // centroid distance is equal for both members
    import spark.implicits._
    val tight = (0 until 9).map(i => (i.toLong, Seq(1f, 0f, 0f), 0))
    val planted = Seq((9L, Seq(0f, 10f, 0f), 0),
      (10L, Seq(0f, 0f, 1f), 1), (11L, Seq(0f, 0f, -1f), 1))
    val tmp = java.nio.file.Files.createTempDirectory("graft_outl").toString
    (tight ++ planted).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    try {
      val card = Similarity.embedOutliers(spark, tmp).collect()
      assert(card.head.getAs[Long]("vec_id") == 9L,
        "the planted mislabel is the #1 outlier")
      assert(card.head.getAs[Double]("dist") > 9.0)
      // symmetric pair: equidistant from their centroid, vec_id tiebreak
      val pair = card.filter(_.getAs[Int]("label") == 1)
      assert(pair.map(_.getAs[Double]("dist")).distinct.length == 1)
      assert(pair.map(_.getAs[Long]("vec_id")).toSeq == Seq(10L, 11L))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("bucketCap bounds a boilerplate flood at O(cap²) candidate pairs") {
    import spark.implicits._
    // adversarial corpus: 180 byte-identical boilerplate docs — every LSH
    // band hashes all of them into ONE bucket, the worst case the cap
    // exists for — plus two distinct docs that must not collide
    val boiler = "click here to accept cookies and continue to the site " +
      "this website uses cookies to improve your experience"
    val docs = ((1 to 180).map(i => (i.toLong, boiler)) ++ Seq(
      (900L, "a completely different document about spark physical plans"),
      (901L, "yet another unrelated text on parquet column pruning")))
      .toDF("doc_id", "text")

    // uncapped (cap explicitly disabled — the text cap defaults ON now):
    // the flood generates all C(180,2) = 16110 pairs
    spark.conf.set("spark.graft.dedup.bucketCap", "0")
    val uncapped =
      try Dedup.minhashPairsOf(spark, docs).count()
      finally spark.conf.unset("spark.graft.dedup.bucketCap")
    assert(uncapped >= 16110L, s"flood should be quadratic, got $uncapped")

    spark.conf.set("spark.graft.dedup.bucketCap", "8")
    try {
      // identical docs rank identically in every band (the rank key is a
      // pure function of doc_id), so the SAME 8 survive in all 16 bands:
      // the flood contributes EXACTLY C(8,2) = 28 distinct pairs. Count
      // flood-internal pairs only — if a distinct doc (900/901) ever lands
      // in a flood bucket it displaces one survivor in that band and adds
      // intruder pairs, which says nothing about whether capBuckets bounds
      // the flood, so those pairs are excluded from the exact bound.
      val pairs = Dedup.minhashPairsOf(spark, docs)
      val floodPairs =
        pairs.where("doc_a <= 180 AND doc_b <= 180").count()
      assert(floodPairs == 28L,
        s"capped flood must be exactly C(cap,2)=28 pairs, got $floodPairs")
      // intruders are bounded too: each distinct doc can displace at most
      // one survivor per band, pairing with the remaining cap-1 residents
      val total = pairs.count()
      assert(total <= 28L + 2L * 16L * 7L + 1L, // +1: the (900,901) pair
        s"total capped pairs out of bound: $total")
    } finally spark.conf.unset("spark.graft.dedup.bucketCap")
  }

  test("capBuckets is deterministic and partition-independent") {
    import spark.implicits._
    val rows = (1 to 100).map(i => (i.toLong, i % 3L)).toDF("id", "bucket")
    val a = Dedup.capBuckets(rows, Seq("bucket"), "id", 5)
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted
    val b = Dedup.capBuckets(rows.repartition(13), Seq("bucket"), "id", 5)
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted
    assert(a.sameElements(b), "survivor set must not depend on partitioning")
    assert(a.groupBy(_._1).forall(_._2.length == 5), "exactly cap per bucket")
    // cap <= 0 is the identity — the default path adds no window at all
    assert(Dedup.capBuckets(rows, Seq("bucket"), "id", 0).count() == 100L)
  }

  test("embed band bits scale with corpus size, clamped to [8, 20]") {
    assert(Dedup.embedBandBits(500L) == 8)
    assert(Dedup.embedBandBits(2000L) == 8)   // the sf0.1 regime — geometry unchanged
    assert(Dedup.embedBandBits(8192L) == 8)   // 8192/32 = 2^8, the boundary
    assert(Dedup.embedBandBits(1000000L) == 15)
    assert(Dedup.embedBandBits(1L << 30) == 20, "clamped at 20 bits")
    assert(Dedup.embedBandBits(0L) == 8, "degenerate corpus stays at the floor")
  }

  test("default embed bucket cap (64) keeps ≥95% of planted near-dup pairs while bounding a flood") {
    import spark.implicits._
    // synthetic corpus with KNOWN near-dups: 1000 random base vectors, 100
    // planted perturbations (cosine ≈ 0.998 to their base), and a
    // 500-vector flood cluster of near-identical embeddings — the skew
    // case the cap exists for (every flood member lands in ONE bucket per
    // band, width 500 ≫ cap)
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(64)(rnd.nextGaussian())
    def perturb(v: Seq[Double], eps: Double) = v.map(_ + eps * rnd.nextGaussian())
    val base = (1 to 1000).map(i => (i.toLong, vec()))
    val planted = base.take(100).map { case (i, v) => (2000L + i, perturb(v, 0.05)) }
    val center = vec()
    val flood = (1 to 500).map(i => (5000L + i, perturb(center, 0.01)))
    val all = (base ++ planted ++ flood).toDF("vec_id", "v")
    val n = 1600L

    def pairsAt(cap: Int): Set[(Long, Long)] = {
      spark.conf.set("spark.graft.dedup.embedBucketCap", cap.toString)
      try Dedup.embedPairsOf(spark, all, n)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("spark.graft.dedup.embedBucketCap")
    }
    val uncapped = pairsAt(0)
    val capped = pairsAt(64)

    // recall cost of the default cap, measured: planted pairs live in
    // ~width-6 buckets the cap never touches, so capped recall relative to
    // the uncapped LSH must stay ≥95%
    val plantedPairs = (1 to 100).map(i => (i.toLong, 2000L + i)).toSet
    val foundUncapped = uncapped.intersect(plantedPairs).size
    val foundCapped = capped.intersect(plantedPairs).size
    assert(foundUncapped >= 80,
      s"2×8-bit LSH should surface most planted near-dups, got $foundUncapped/100")
    assert(foundCapped >= math.ceil(0.95 * foundUncapped).toInt,
      s"cap=64 recall $foundCapped of uncapped $foundUncapped planted pairs")

    // the flood is bounded at O(cap²): survivors per band ≤ 64 (the union
    // across 2 bands can differ only where intruders displace), vs
    // C(500,2) = 124 750 uncapped
    val floodUncapped = uncapped.count(p => p._1 > 5000L && p._2 > 5000L)
    val floodCapped = capped.count(p => p._1 > 5000L && p._2 > 5000L)
    assert(floodUncapped > 100000,
      s"flood should be quadratic uncapped, got $floodUncapped")
    assert(floodCapped <= 2 * 64 * 63 / 2,
      s"capped flood must be O(cap²), got $floodCapped")
  }

  test("default text bucket cap (64) keeps ≥95% of planted near-dup pairs on all three text generators while bounding a flood") {
    import spark.implicits._
    import graft.operators.Dedup
    // synthetic corpus with KNOWN near-dups — the text twin of the embed
    // cap measurement: 400 random base docs (80–400 words, so ngram
    // length-bands spread), 60 planted near-dups (base + ONE appended
    // word: word-3-gram Jaccard ≈ 0.98, char-3-gram Jaccard ≈ 1, expected
    // simhash Hamming ≈ 1–2), and a 300-doc flood of IDENTICAL boilerplate
    // — the skew case the cap exists for (every flood member collides in
    // every minhash band / simhash segment / ngram block, width 300 ≫ cap)
    val rnd = new scala.util.Random(11)
    def words(n: Int) = Seq.fill(n)(rnd.nextInt(100000).toString).mkString(" ")
    val base = (1 to 400).map(i =>
      (i.toLong, s"l${i % 3}", s"s${i % 4}", words(80 + rnd.nextInt(320))))
    val planted = base.take(60).map { case (i, l, s, t) =>
      (2000L + i, l, s, t + " " + rnd.nextInt(100000).toString)
    }
    val boiler = words(200)
    val flood = (1 to 300).map(i => (5000L + i, "l0", "s0", boiler))
    val all = (base ++ planted ++ flood)
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")))
      .localCheckpoint(true)
    val plantedPairs = (1 to 60).map(i => (i.toLong, 2000L + i)).toSet
    val isFlood = (p: (Long, Long)) => p._1 > 5000L && p._2 > 5000L

    def pairsOf(gen: => org.apache.spark.sql.DataFrame, cap: Int): Set[(Long, Long)] = {
      spark.conf.set("spark.graft.dedup.bucketCap", cap.toString)
      try gen.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("spark.graft.dedup.bucketCap")
    }

    val gens: Seq[(String, Int, () => org.apache.spark.sql.DataFrame)] = Seq(
      // minhash: identical flood docs band identically; capBuckets keeps
      // the SAME 64 survivors in every band (rank is a pure id function)
      ("minhash", 64 * 63 / 2, () => Dedup.minhashPairsOf(spark, all)),
      ("simhash", 64 * 63 / 2, () => Dedup.simhashPairsOf(spark,
        all.select(col("doc_id"), expr("simhash64(text)").as("fp")))),
      // ngram collapses exact duplicates before the build (exact-first),
      // so the IDENTICAL-text flood contributes zero near-dup pairs by
      // construction — the bound below asserts exactly that
      ("ngram", 0, () => Dedup.ngramPairsOf(spark, all)))

    for ((name, floodBound, gen) <- gens) {
      val uncapped = pairsOf(gen(), 0)
      val capped = pairsOf(gen(), Dedup.DefaultTextBucketCap)
      val foundUncapped = uncapped.intersect(plantedPairs).size
      val foundCapped = capped.intersect(plantedPairs).size
      // each generator must surface most planted pairs uncapped (simhash
      // is probabilistic: one appended word flips ~1–2 of 64 bits, so a
      // tail of planted pairs can land past the radius-3 pigeonhole)
      val floor = if (name == "simhash") 39 else 54
      assert(foundUncapped >= floor,
        s"$name: expected most planted near-dups uncapped, got $foundUncapped/60")
      // the cap's measured recall cost: planted pairs live in narrow
      // buckets the cap never touches
      assert(foundCapped >= math.ceil(0.95 * foundUncapped).toInt,
        s"$name: cap=64 recall $foundCapped of uncapped $foundUncapped planted pairs")
      // the flood is quadratic uncapped and O(cap²) capped on the banded
      // generators; ngram's exact-first collapse absorbs it entirely
      val floodUncapped = uncapped.count(isFlood)
      val floodCapped = capped.count(isFlood)
      if (name != "ngram")
        assert(floodUncapped > 40000,
          s"$name: flood should be quadratic uncapped, got $floodUncapped")
      assert(floodCapped <= floodBound,
        s"$name: flood bound violated, got $floodCapped > $floodBound")
      if (name == "ngram")
        assert(floodUncapped == 0,
          s"ngram: identical-text flood must collapse to one rep, got $floodUncapped pairs")
    }
  }

  test("ngram exact-first: an 8×-duplicated corpus yields the distinct corpus's pair set") {
    import spark.implicits._
    import graft.operators.Dedup
    // the r13 adversarial re-measure's shape: every doc copied 8×. The
    // build must collapse copies to the min-doc_id representative before
    // gram hashing, so the pair set over the duplicated corpus is
    // IDENTICAL to the distinct corpus's — no copy-inflated candidates,
    // no duplicate-pair multiplicities.
    val rnd = new scala.util.Random(13)
    def words(n: Int) = Seq.fill(n)(rnd.nextInt(50000).toString).mkString(" ")
    val base = (1 to 120).map(i =>
      (i.toLong, s"l${i % 2}", s"s${i % 2}", words(60 + rnd.nextInt(200))))
    val planted = base.take(30).map { case (i, l, s, t) =>
      (2000L + i, l, s, t + " " + rnd.nextInt(50000).toString)
    }
    val distinct = base ++ planted
    val dup8 = distinct ++ (1 to 7).flatMap(c =>
      distinct.map { case (i, l, s, t) => (100000L * c + i, l, s, t) })
    def frame(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "lang", "source", "text")
        .withColumn("n_chars", length(col("text")))
        .localCheckpoint(true)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.ngramPairsOf(spark, df, Dedup.DefaultTextBucketCap)
        .select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pDistinct = pairs(frame(distinct))
    val pDup = pairs(frame(dup8))
    assert(pDistinct.nonEmpty, "fixture must produce near-dup pairs")
    assert(pDup == pDistinct,
      s"duplicated corpus must collapse to the distinct pair set " +
        s"(got ${pDup.size} vs ${pDistinct.size})")
  }

  test("minhash content-collapsed verification: every pair's jaccard equals a per-id recomputation on a duplicated corpus") {
    import spark.implicits._
    import graft.operators.Dedup
    // the r19 500k-decade fix verifies each DISTINCT CONTENT pair once
    // and joins the score back to id pairs (the per-id form shipped the
    // shingle arrays per pair — 135 s of a 150 s cold build at 500k on
    // an 8×-dup corpus). This pin recomputes the exact per-id jaccard
    // independently for EVERY emitted pair on a duplicated fixture —
    // values must be bit-identical, and exact-copy pairs must read 1.0
    val rnd = new scala.util.Random(29)
    def words(n: Int) = Seq.fill(n)(rnd.nextInt(5000).toString).mkString(" ")
    val base = (1 to 80).map(i => (i.toLong, words(80)))
    val nearDups = base.take(20).map { case (i, t) =>
      (500L + i, t + " " + rnd.nextInt(5000).toString)
    }
    val dup = (base ++ nearDups) ++ (1 to 3).flatMap(c =>
      (base ++ nearDups).map { case (i, t) => (10000L * c + i, t) })
    val docs = dup.toDF("doc_id", "text").localCheckpoint(true)
    val got = Dedup.minhashPairsOf(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty, "fixture must produce candidate pairs")
    // independent per-id reference: join texts back, shingle both sides
    val pairIds = got.keys.toSeq.toDF("doc_a", "doc_b")
    val sh = docs.select(col("doc_id"),
      expr("ngram_hashes(text, 3, 'word')").as("sh"))
    val ref = pairIds
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("ca", size(array_distinct(col("sh_a"))).cast("double"))
      .withColumn("cb", size(array_distinct(col("sh_b"))).cast("double"))
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("j", round(col("c") / (col("ca") + col("cb") - col("c")), 6))
      // getAs by NAME: the two key joins reorder columns (doc_b lands first)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("j")).toMap
    got.foreach { case (k, j) =>
      assert(ref(k) == j, s"pair $k: content-collapsed $j vs per-id ${ref(k)}")
    }
    // exact copies pair at 1.0 and near-dup plants are found across copies
    val copyPair = got.keys.find { case (a, b) => b == a + 10000L }
    assert(copyPair.exists(got(_) == 1.0), "an exact-copy pair must read 1.0")
    assert(got.keys.exists { case (a, b) => a <= 80 && (b % 10000L) == a + 500L },
      "a planted near-dup must pair with its original")
  }

  test("simhash recovery band: ≥95% radius-≤3 recall at the default cap on a vocabulary-biased fixture") {
    import spark.implicits._
    import graft.operators.Dedup
    // the r13 failure mode, reproduced sharply: segment VALUES are
    // vocabulary-biased, so one 16-bit segment bucket grows far past the
    // cap and bare truncation systematically dropped its pairs (93%
    // radius-≤3 completeness at sf0.1). Fixture: 300 fingerprints sharing
    // segment 0 (low 16 bits — bucket width 400 ≫ cap 64), other bits
    // random; 100 planted partners differing in EXACTLY one bit of each
    // of segments 1, 2, 3 — so segment 0 is the ONLY agreeing segment
    // and every planted pair's survival depends on the wide bucket.
    val rnd = new scala.util.Random(7)
    val bases = (1 to 300).map(i => (i.toLong, (rnd.nextLong() & ~0xFFFFL) | 0x1234L))
    val planted = bases.take(100).map { case (i, fp) =>
      val flipped = fp ^ (1L << (16 + rnd.nextInt(16))) ^
        (1L << (32 + rnd.nextInt(16))) ^ (1L << (48 + rnd.nextInt(16)))
      (1000L + i, flipped)
    }
    val fps = (bases ++ planted).toDF("doc_id", "fp").localCheckpoint(true)
    // ground truth by brute force over the 400-fp fixture
    val allFps = (bases ++ planted)
    val truth = (for {
      (a, fa) <- allFps; (b, fb) <- allFps
      if a < b && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (a, b)).toSet
    assert(truth.size >= 100, s"fixture must contain the planted pairs, got ${truth.size}")
    val got = Dedup.simhashPairsOf(spark, fps, Dedup.DefaultTextBucketCap)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // bare truncation keeps 64 of ~400 bucket members → most pairs lost;
    // the recovery sub-band (second-level pigeonhole over the other 48
    // bits, narrow sub-buckets here) must restore ≥95% — on this fixture
    // it is exact because no sub-bucket nears the cap
    assert(got.intersect(truth).size >= math.ceil(0.95 * truth.size).toInt,
      s"recovered ${got.intersect(truth).size} of ${truth.size} radius-≤3 pairs at cap=64")
    // and nothing beyond radius 3 or outside the truth set is emitted
    assert(got.subsetOf(truth), "emitted pairs must all be true radius-≤3 pairs")
  }

  test("a mutated corpus dir re-resolves end-to-end: appended files reach probes and plans") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FormattedMode
    // embeddings.parquet as a DIRECTORY so a crawl drop can be appended —
    // the 100 TB layout. The catalog caches the resolved plan (and with it
    // the file listing), so without mutation-triggered invalidation the
    // second query would silently run on the pre-append file set.
    val dir = java.nio.file.Files.createTempDirectory("embed_mut").toString
    val rnd = new scala.util.Random(23)
    (1 to 140).map(i => (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    // the cap decision lives in the artifact BUILD plan (the steady plan
    // is TakeOrdered over the checkpointed pair set in both regimes)
    def buildPlan(d: String): String = {
      val dfp = graft.sources.SessionCache.dirFingerprint(spark, d)
      graft.operators.Dedup.embedPairsBuild(spark, d, dfp,
        graft.operators.Dedup.embedEffectiveCap(spark, d, dfp))
        .queryExecution.explainString(FormattedMode)
    }
    val before = graft.operators.Dedup.dedupEmbed(spark, dir)
    assert(!buildPlan(dir).contains("Window"),
      "skew-free initial corpus: no cap window")
    assert(before.count() == 20)

    // append a flood drop (100 near-identical vectors > cap) to the SAME dir
    val center = Seq.fill(64)(rnd.nextGaussian())
    (1001 to 1100).map(i =>
      (i.toLong, center.map(_ + 0.001 * rnd.nextGaussian()).map(_.toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    val after = graft.operators.Dedup.dedupEmbed(spark, dir)
    assert(buildPlan(dir).contains("Window"),
      "the appended flood must reach the width probe and engage the cap — " +
        "a stale catalog listing would keep the window-free plan")
    // and the result actually contains the appended docs
    assert(after.collect().forall(r =>
      r.getLong(0) > 1000L && r.getAs[Double]("sim") > 0.99),
      "top near-dup pairs must come from the appended flood")
  }

  test("embedBucketCap resolution: embed conf wins, global honored, default 64") {
    assert(graft.operators.Dedup.embedBucketCap(spark) == 64)
    spark.conf.set("spark.graft.dedup.bucketCap", "8")
    try {
      assert(graft.operators.Dedup.embedBucketCap(spark) == 8,
        "a set global cap must apply to the embed path too")
      spark.conf.set("spark.graft.dedup.embedBucketCap", "32")
      assert(graft.operators.Dedup.embedBucketCap(spark) == 32,
        "the embed-specific conf overrides the global")
      spark.conf.set("spark.graft.dedup.embedBucketCap", "0")
      assert(graft.operators.Dedup.embedBucketCap(spark) == 0,
        "explicit 0 disables the embed cap even with a global set")
    } finally {
      spark.conf.unset("spark.graft.dedup.bucketCap")
      spark.conf.unset("spark.graft.dedup.embedBucketCap")
    }
  }

  test("dedupEmbed pays the cap window only when a bucket actually exceeds it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FormattedMode
    // the driver corpus is skew-free at test scale: the cached width probe
    // proves every bucket fits the default cap, so the BUILD plan (the
    // artifact seam — the steady plan is TakeOrdered over the checkpointed
    // pair set and shows no Window either way) must be the window-free
    // band self-join (no exchange+sort, broadcastable sides)
    def buildPlan(d: String): String = {
      val dfp = graft.sources.SessionCache.dirFingerprint(spark, d)
      graft.operators.Dedup.embedPairsBuild(spark, d, dfp,
        graft.operators.Dedup.embedEffectiveCap(spark, d, dfp))
        .queryExecution.explainString(FormattedMode)
    }
    assert(!buildPlan(sf).contains("Window"),
      "skew-free corpus must not pay the rank-window stage chain")
    // a corpus with an actual flood bucket (100 near-identical vectors >
    // cap=64) must plan the window — the guard engages exactly when the
    // probe sees skew
    val dir = java.nio.file.Files.createTempDirectory("embed_flood").toString
    val rnd = new scala.util.Random(11)
    val center = Seq.fill(64)(rnd.nextGaussian())
    val rows = (1 to 100).map(i =>
      (i.toLong, center.map(_ + 0.001 * rnd.nextGaussian()).map(_.toFloat))) ++
      (101 to 140).map(i => (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    rows.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    assert(buildPlan(dir).contains("Window"),
      "a flood bucket wider than the cap must engage the rank window")
    // and the capped query still returns the top near-dup pairs
    val top = graft.operators.Dedup.dedupEmbed(spark, dir).collect()
    assert(top.length == 20 && top.forall(_.getAs[Double]("sim") > 0.99),
      "flood survivors must still surface as near-dup pairs")
  }

  test("orTree: cap-product bucket predicate converts and filters correctly") {
    // regression for the r18 DevAnnScaleBench n=200k StackOverflowError:
    // the 32-band/13-probe geometry emits 416 three-conjunct disjuncts,
    // and a left-fold reduce(_ || _) nests the Column tree that deep —
    // Spark's Column→Expression conversion recurses ~10 frames/node and
    // blew the driver stack. orTree bounds depth at log₂ n; this pins the
    // FULL cap product (32 bands × 21 probes = 672 disjuncts) through
    // plan conversion, optimization, and execution with exact semantics.
    import spark.implicits._
    val pairs = for (b <- 0 until 32; k <- 0 until 21)
      yield (b, (k * 37 + b).toLong)
    val pred = Similarity.orTree(pairs.map { case (b, k) =>
      col("band_id") === lit(b) && col("band_key") === lit(k) })
    val rows = pairs.take(5).map { case (b, k) => (b, k, "hit") } ++
      Seq((0, 9999L, "miss"), (99, 0L, "miss"))
    val got = rows.toDF("band_id", "band_key", "tag")
      .where(pred).select("tag").collect().map(_.getString(0))
    assert(got.length == 5 && got.forall(_ == "hit"))
    assert(Similarity.orTree(Nil) == lit(false))
  }
}
