package graft

/** Pins MEASURED shuffle volume for the queries whose scale contract is
  * "shuffle the answer, not the data". PlanSpec proves the topology
  * (broadcasts, TakeOrdered, banding); this proves the bytes: a regression
  * that keeps the plan shape but starts moving corpus-sized data (e.g. a
  * broadcast threshold change demoting a join to sort-merge under AQE, a
  * pruned column reappearing in the shuffle) fails here even if every
  * plan-string assertion still matches. Bounds are ×10-generous over
  * measured values at sf0.001 so compression/partitioning wobble cannot
  * flake them, while corpus-sized movement (100s of KB even at sf0.001)
  * still fails.
  */
class ShuffleAuditSpec extends SparkSpec {

  test("answer-sized-shuffle queries move card bytes, sim_topk moves zero") {
    val names = Seq(
      "q_sim_topk", "q_join_agg", "q_rollup_revenue",
      "q_sim_ann_ivf", "q_dedup_minhash",
      "q_sim_ann_pq", "q_sim_ann_ivfpq", "q_sim_ann_ivfpq_batch",
      "q_sim_ann_int8_batch", "q_sim_ann_lsh")
    val audited = ShuffleAudit.measure(spark, sf, names)
    // measure drops queries that THROW — name them here instead of dying
    // on a bare key-not-found below
    assert(audited.keySet == names.toSet,
      s"queries failed during audit: ${names.toSet -- audited.keySet}")

    // broadcast query vector + per-partition top-k heaps (TakeOrdered):
    // nothing to shuffle at all — the flagship zero-shuffle contract
    assert(audited("q_sim_topk").shuffleBytes == 0L,
      s"q_sim_topk shuffled ${audited("q_sim_topk").shuffleBytes} bytes — " +
        "the broadcast/TakeOrdered plan must not move corpus data")

    // both dimension joins broadcast; the only exchange carries the
    // handful of partial-aggregate card rows
    assert(audited("q_join_agg").shuffleBytes < 16 * 1024,
      s"q_join_agg shuffle ${audited("q_join_agg").shuffleBytes}")

    // ROLLUP partials: grouping-set card rows only
    assert(audited("q_rollup_revenue").shuffleBytes < 16 * 1024,
      s"q_rollup_revenue shuffle ${audited("q_rollup_revenue").shuffleBytes}")

    // IVF probe: since the r17 static-prune rewrite the only exchange is
    // the TakeOrdered reduction over the probed cells' candidates —
    // ~1 KB measured; the 8 KB ceiling leaves wobble room but fails if
    // the DPP/probe-rank exchange ever comes back
    assert(audited("q_sim_ann_ivf").shuffleBytes < 8 * 1024,
      s"q_sim_ann_ivf shuffle ${audited("q_sim_ann_ivf").shuffleBytes}")

    // the LSH steady state serves the session-cached candidate ids:
    // broadcast join + TakeOrdered, zero bytes (the pruned band scan and
    // its distinct moved into the once-per-corpus-version artifact build)
    assert(audited("q_sim_ann_lsh").shuffleBytes == 0L,
      s"q_sim_ann_lsh shuffled ${audited("q_sim_ann_lsh").shuffleBytes} " +
        "bytes — the candidate artifact must absorb the bucket-scan work")

    // band join on ids — candidate doc ids, never text or signatures
    assert(audited("q_dedup_minhash").shuffleBytes < 64 * 1024,
      s"q_dedup_minhash shuffle ${audited("q_dedup_minhash").shuffleBytes}")

    // both single-query PQ tiers are map-side ADC + TakeOrdered over
    // broadcast LUTs and statically pruned scans: zero bytes moved
    for (q <- Seq("q_sim_ann_pq", "q_sim_ann_ivfpq"))
      assert(audited(q).shuffleBytes == 0L,
        s"$q shuffled ${audited(q).shuffleBytes} bytes — the ADC scan " +
          "must not move corpus data")

    // the batched tiers pool their candidate fans per corpus version
    // (r17) and re-rank on one coalesced card partition: the steady
    // state moves ZERO bytes (was 10.6 KB / 45 KB at sf0.01 when the
    // fan + group-limit exchange ran per evaluation). This pins the
    // SMALL regime; past spark.graft.ann.singleTaskScanRows the re-rank
    // exchanges its card-sized survivors once by qid instead so the
    // point-fetch scan stays parallel (PlanSpec pins that shape)
    for (q <- Seq("q_sim_ann_ivfpq_batch", "q_sim_ann_int8_batch"))
      assert(audited(q).shuffleBytes == 0L,
        s"$q shuffled ${audited(q).shuffleBytes} bytes — the pooled " +
          "re-rank must window on the coalesced card, not exchange it")
  }

  test("stage counts hold the documented topology (SCALING.md stage-count budget)") {
    // stage counts are the deterministic half of the wall model: a lost
    // exchange reuse or a broadcast demoted to a join stage chain adds
    // stages even when the bytes stay small. Measured at sf0.001 on this
    // suite's local[2] session at full execution: q_sim_topk 2 jobs /
    // 2 stages (broadcast query vector + one TakeOrdered scan stage),
    // q_join_agg 4 jobs / 4 stages (two dimension broadcasts, the
    // partial-aggregate scan stage, the card-sized final stage)
    val audited = ShuffleAudit.measure(spark, sf, Seq("q_sim_topk", "q_join_agg"))
    audited.foreach { case (n, a) =>
      info(s"$n: ${a.jobs} jobs / ${a.stages} stages / ${a.tasks} tasks") }
    assert(audited("q_sim_topk").stages <= 2,
      s"q_sim_topk ran ${audited("q_sim_topk").stages} stages")
    assert(audited("q_join_agg").stages <= 4,
      s"q_join_agg ran ${audited("q_join_agg").stages} stages")
  }

  test("text pair-search BUILDS shuffle keys, never text (artifact-era seam gates)") {
    // the r13 artifact moves put the minhash/ngram pair searches behind
    // SessionCache, so their steady-state query audits read ~0 B and the
    // key-only discipline must be gated on the build seams directly
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf)
    val cap = graft.operators.Dedup.DefaultTextBucketCap
    val build = ShuffleAudit.measureFrames(spark, Seq(
      "minhash_pair_build" -> (() =>
        graft.operators.Dedup.minhashPairsOf(spark,
          docs.select(col("doc_id"), col("text")))),
      "ngram_pair_build" -> (() =>
        graft.operators.Dedup.ngramPairsOf(spark, docs, cap))))
    assert(build.keySet.size == 2,
      s"build seams failed during audit: ${build.keySet}")
    // minhash: (band_id, band_hash, doc_id) candidate rows + the pair/id
    // join-backs — bounded per record; the shingle ARRAYS ride exactly one
    // local spread exchange, so the blended B/record stays far under a
    // text payload (~0.9 KB/doc at sf0.001)
    val mh = build("minhash_pair_build")
    assert(mh.shuffleRecords > 0)
    assert(mh.shuffleBytes.toDouble / mh.shuffleRecords < 512.0,
      s"minhash build moves ${mh.shuffleBytes.toDouble / mh.shuffleRecords} B/record")
    // ngram: block-key + id rows and the gram-array materialization
    // exchange (hashed longs, never text)
    val ng = build("ngram_pair_build")
    assert(ng.shuffleRecords > 0)
    assert(ng.shuffleBytes.toDouble / ng.shuffleRecords < 1024.0,
      s"ngram build moves ${ng.shuffleBytes.toDouble / ng.shuffleRecords} B/record")
  }

  test("round-11 families: int8 zero-shuffle, probe/card-sized ANN and audits") {
    val names = Seq(
      "q_sim_ann_int8", "q_sim_ann_batch", "q_embed_outliers",
      "q_dedup_incremental")
    val audited = ShuffleAudit.measure(spark, sf, names)
    assert(audited.keySet == names.toSet,
      s"queries failed during audit: ${names.toSet -- audited.keySet}")

    // int8 retrieval: broadcast queries + TakeOrdered over the int8 store,
    // re-rank via an In()-pushed point fetch — nothing shuffles
    assert(audited("q_sim_ann_int8").shuffleBytes == 0L,
      s"q_sim_ann_int8 shuffled ${audited("q_sim_ann_int8").shuffleBytes} " +
        "bytes — the quantized-retrieval plan must not move corpus data")

    // K probes in one plan: ≤ K·10 candidate rows per partition move
    // (r17 static cell-union prune dropped the K×k probe-rank exchange —
    // measured 5.0/7.1 KB at sf0.01/0.1; bound leaves wobble room)
    assert(audited("q_sim_ann_batch").shuffleBytes < 32 * 1024,
      s"q_sim_ann_batch shuffle ${audited("q_sim_ann_batch").shuffleBytes}")

    // per-label centroid card broadcasts back; shuffle is the 650-row
    // distance card — measured CONSTANT 30 KB from sf0.001 to sf0.1
    assert(audited("q_embed_outliers").shuffleBytes < 128 * 1024,
      s"q_embed_outliers shuffle ${audited("q_embed_outliers").shuffleBytes}")

    // batch-vs-store band probe: O(daily drop), never O(corpus)
    assert(audited("q_dedup_incremental").shuffleBytes < 300 * 1024,
      s"q_dedup_incremental shuffle ${audited("q_dedup_incremental").shuffleBytes}")
  }

  test("exact dedup shuffles md5-key rows, never document payloads") {
    val names = Seq("q_dedup_exact", "q_dup_inflation", "q_json_extract")
    val audited = ShuffleAudit.measure(spark, sf, names)
    assert(audited.keySet == names.toSet,
      s"queries failed during audit: ${names.toSet -- audited.keySet}")

    // bytes-per-record is the payload detector: the md5-keyed exchange
    // moves ~30 B/row (hex key + partial counters) at ANY scale, while the
    // old groupBy(text) form moved the document itself (~100-200 B/row on
    // testdata, unbounded on a real corpus). A per-record bound catches a
    // payload regression independent of the corpus size the spec runs at.
    def perRecord(n: String): Double = {
      val a = audited(n)
      assert(a.shuffleRecords > 0, s"$n audit saw no shuffle records")
      a.shuffleBytes.toDouble / a.shuffleRecords
    }
    assert(perRecord("q_dedup_exact") < 64.0,
      s"q_dedup_exact moves ${perRecord("q_dedup_exact")} B/record — " +
        "payload-sized rows in the exchange")
    assert(perRecord("q_dup_inflation") < 96.0,
      s"q_dup_inflation moves ${perRecord("q_dup_inflation")} B/record")
    // json_extract's only exchanges are the LOCAL-ONLY adaptive spread
    // (3-column pruned projection — the bound fails if pruning regresses
    // and the full events row rides the spread) and the output sort's
    // (event_id, user_id, k) rows
    assert(perRecord("q_json_extract") < 64.0,
      s"q_json_extract moves ${perRecord("q_json_extract")} B/record")
  }

  test("embed/simhash/cluster dedup shuffle: vectors ride once, keys and labels stay key-sized") {
    val names = Seq("q_dedup_embed", "q_dedup_simhash_pairs", "q_dedup_clusters")
    val audited = ShuffleAudit.measure(spark, sf, names)
    assert(audited.keySet == names.toSet,
      s"queries failed during audit: ${names.toSet -- audited.keySet}")
    def perRecord(n: String): Double = {
      val a = audited(n)
      assert(a.shuffleRecords > 0, s"$n audit saw no shuffle records")
      a.shuffleBytes.toDouble / a.shuffleRecords
    }
    // embed: the steady-state query serves TakeOrdered off the
    // session-cached, compacted pair artifact (one partition, so no
    // exchange at all) — ZERO shuffle, like simhash pairs below; the pair
    // search itself is gated on the build seam
    assert(audited("q_dedup_embed").shuffleBytes == 0L,
      s"q_dedup_embed steady state shuffled " +
        s"${audited("q_dedup_embed").shuffleBytes} B — the artifact probe " +
        "must not re-run the pair search")
    // embed build seam: the keyed materialization exchange carries each
    // 64-dim vector ONCE (the skew-free plan broadcasts the band self-join,
    // so shuffle records are mostly the vector rows themselves — measured
    // 215 KB / 1127 records ≈ 430 B/vec blended at sf0.001, the corpus
    // payload ~1.5×). Two failure modes, two bounds: vectors riding PER
    // CANDIDATE PAIR blows B/record past two vector rows (>1 KB); vectors
    // riding the 2-band fan doubles total bytes while keeping B/record at
    // one row — the absolute bound catches that.
    val efp = graft.sources.SessionCache.dirFingerprint(spark, sf)
    val embedBuild = ShuffleAudit.measureFrames(spark, Seq(
      "embed_pair_build" -> (() =>
        graft.operators.Dedup.embedPairsBuild(spark, sf, efp,
          graft.operators.Dedup.embedEffectiveCap(spark, sf, efp)))))
    val eb = embedBuild("embed_pair_build")
    info(s"embed pair build: ${eb.shuffleBytes} B over ${eb.shuffleRecords} shuffle records")
    assert(eb.shuffleRecords > 0, "build seam must exercise the pair search")
    assert(eb.shuffleBytes.toDouble / eb.shuffleRecords < 768.0,
      s"embed pair build moves ${eb.shuffleBytes.toDouble / eb.shuffleRecords} " +
        "B/record — vector payloads must never ride the candidate pairs")
    assert(eb.shuffleBytes < 384 * 1024,
      s"embed pair build shuffled ${eb.shuffleBytes} B — more than ~1.5× " +
        "the corpus payload means vectors rode the band fan")
    // simhash pairs: the steady-state query serves TakeOrdered off the
    // session-cached pair artifact — ZERO shuffle (the r13 state; the
    // pair search itself is gated on the build seam below)
    assert(audited("q_dedup_simhash_pairs").shuffleBytes == 0L,
      s"q_dedup_simhash_pairs steady state shuffled " +
        s"${audited("q_dedup_simhash_pairs").shuffleBytes} B — the artifact " +
        "probe must not re-run the pair search")
    // build seam: 8-byte fingerprints + doc ids through the pigeonhole
    // buckets, never text (B/record), driven directly because the
    // registry query hides the search behind the artifact
    val fps = graft.sources.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.expr("simhash64(text)").as("fp"))
    val build = ShuffleAudit.measureFrames(spark, Seq(
      "simhash_pair_build" -> (() =>
        graft.operators.Dedup.simhashPairsOf(spark, fps,
          graft.operators.Dedup.DefaultTextBucketCap))))
    val b = build("simhash_pair_build")
    assert(b.shuffleRecords > 0, "build seam must exercise the pair search")
    assert(b.shuffleBytes.toDouble / b.shuffleRecords < 128.0,
      s"simhash pair build moves ${b.shuffleBytes.toDouble / b.shuffleRecords} B/record")
    assert(b.shuffleBytes < 64 * 1024,
      s"simhash pair build shuffle ${b.shuffleBytes}")
    // clusters: label-propagation rounds move 16 B (id, label) rows over
    // the session-cached edge set — never documents or signatures
    assert(perRecord("q_dedup_clusters") < 64.0,
      s"q_dedup_clusters moves ${perRecord("q_dedup_clusters")} B/record")
    assert(audited("q_dedup_clusters").shuffleBytes < 256 * 1024,
      s"q_dedup_clusters shuffle ${audited("q_dedup_clusters").shuffleBytes}")
  }

  test("profile approxDistinct shuffles constant sketch bytes while exact grows with cardinality") {
    val name = Seq("q_profile_events")
    def bytesAt(dir: String, approx: Boolean): Long = {
      spark.conf.set("spark.graft.profile.approxDistinct", approx.toString)
      try {
        val audited = ShuffleAudit.measure(spark, dir, name)
        assert(audited.contains("q_profile_events"), "audit run failed")
        audited("q_profile_events").shuffleBytes
      } finally spark.conf.unset("spark.graft.profile.approxDistinct")
    }
    val sf10 = "/root/testdata/sf0.01"
    val exactSmall = bytesAt(sf, approx = false)
    val exactBig = bytesAt(sf10, approx = false)
    val hllSmall = bytesAt(sf, approx = true)
    val hllBig = bytesAt(sf10, approx = true)

    // the exact path's partials carry the distinct VALUES — the audit's
    // fastest-growing row, the reason the conf exists
    assert(exactBig > 3 * exactSmall,
      s"exact distinct should grow with cardinality: $exactSmall → $exactBig")
    // the HLL path shuffles mergeable sketches: bytes must be (near-)
    // constant under 10× data — ×3 headroom covers a split-count change,
    // while value-carrying partials grow like the exact path's >×3
    assert(hllBig < 3 * math.max(hllSmall, 1L),
      s"approx path must be sketch-constant: $hllSmall → $hllBig")
    // and at sf0.01 the sketches already undercut the value partials
    assert(hllBig < exactBig,
      s"HLL path ($hllBig B) should move less than exact ($exactBig B) at sf0.01")

    // the sketch answer stays an ANSWER: every cardinality within HLL++
    // rsd-bounds of exact (rsd 0.05 → assert 15%, 3σ). Probed through the
    // first-class registry entry (r17 verdict #6) so the row the driver
    // benches is the row the bound is pinned on; the conf path compiles
    // to the identical plan (profileEventsApprox forces the same flag
    // bytesAt exercised above).
    val approxCards =
      SparkEntry.queries("q_profile_events_hll")(spark, sf10)
        .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val exactCards = SparkEntry.queries("q_profile_events")(spark, sf10)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    exactCards.foreach { case (c, exact) =>
      val got = approxCards(c)
      assert(math.abs(got - exact) <= math.max(1L, (0.15 * exact).toLong),
        s"$c: approx distinct $got vs exact $exact")
    }
  }
}
