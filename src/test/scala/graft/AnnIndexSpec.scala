package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import graft.operators.AnnIndex
import graft.sources.Tables

/** The materialized ANN index: build-once semantics, corpus coverage,
  * version staleness. Probe correctness lives in DedupSimilaritySpec
  * (IVF ≡ brute force on shared candidates) and plan shape in PlanSpec.
  */
class AnnIndexSpec extends SparkSpec {

  test("inverted file covers the corpus exactly once with valid cells") {
    val idx = AnnIndex.ivf(spark, sf)
    val corpusN = Tables.embeddings(spark, sf).count()
    assert(idx.count() == corpusN)
    assert(idx.select("vec_id").distinct().count() == corpusN,
      "each vector appears in exactly one cell")
    val k = AnnIndex.centroids(spark, sf).size
    assert(k == AnnIndex.pivotCount(corpusN),
      "codebook size must follow the corpus-size-adaptive formula")
    val cells = idx.select("cluster").distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < k))
  }

  test("pivot and probe counts scale with corpus size (√n / √k, clamped)") {
    // floor regime: tiny corpora keep the measured 16-cell / nprobe=4 toy
    // geometry the recall card was calibrated on
    assert(AnnIndex.pivotCount(0L) == AnnIndex.MinPivots)
    assert(AnnIndex.pivotCount(256L) == AnnIndex.MinPivots)
    assert(AnnIndex.probeCount(AnnIndex.MinPivots) == AnnIndex.NProbe)
    // √n regime: k grows with the corpus — the r12 fixed-16 scale killer
    assert(AnnIndex.pivotCount(10_000L) == 100)
    assert(AnnIndex.probeCount(100) == 10)
    // width-targeted regime (r19): past the √n/width crossover at n=10⁴,
    // cells hold ~IvfTargetCellRows rows — the r18 200k finding made law
    // (2,000 cells at 200k was the recall- AND cost-winning geometry)
    assert(AnnIndex.pivotCount(200_000L) == 2000)
    assert(AnnIndex.pivotCount(500_000L) == 5000)
    // width-cap regime: the trainer's cost ceiling — k parks at the cap
    // until √n outruns it
    assert(AnnIndex.pivotCount(1_000_000L) == AnnIndex.IvfWidthPivotCap)
    assert(AnnIndex.pivotCount(64_000_000L) == AnnIndex.IvfWidthPivotCap)
    assert(AnnIndex.pivotCount(100_000_000L) == 10000) // √n resumed
    // cap regime: codebook (and its broadcast/driver cost) stays bounded
    assert(AnnIndex.pivotCount(Long.MaxValue) == AnnIndex.MaxPivots)
    // monotone: more corpus never means fewer cells
    val ns = Seq(1L, 500L, 2000L, 50_000L, 10_000_000L, 1L << 40)
    val ks = ns.map(AnnIndex.pivotCount)
    assert(ks == ks.sorted)
    // sample is never smaller than the codebook it seeds
    ks.foreach(k => assert(AnnIndex.sampleSize(k) >= 32L * k))
    // probe cost n·probeCount(k)/k at k=√n shrinks as a FRACTION of the
    // corpus as it grows — the scaling property the fixed codebook lacked
    val frac = ns.map(n =>
      AnnIndex.probeCount(AnnIndex.pivotCount(n)).toDouble / AnnIndex.pivotCount(n))
    assert(frac == frac.sorted.reverse)
  }

  test("LSH band bits scale with corpus size (width-targeted, clamped)") {
    // floor regime: the pre-r13 4-bit toy geometry on small corpora —
    // tiny and streaming-bootstrap indexes unchanged
    assert(AnnIndex.lshBandBits(0L) == AnnIndex.LshMinBandBits)
    assert(AnnIndex.lshBandBits(500L) == AnnIndex.LshMinBandBits)
    assert(AnnIndex.LshFloorGeom.bandBits == AnnIndex.LshMinBandBits)
    // width-targeted regime: expected bucket width stays ~LshTargetWidth
    // instead of n/64 — the r12 IVF scale killer's LSH twin
    assert(AnnIndex.lshBandBits(2048L) == 5)   // 2048/96 ≈ 21 → 32 buckets
    assert(AnnIndex.lshBandBits(1_000_000L) == 14)
    // cap regime
    assert(AnnIndex.lshBandBits(1L << 40) == AnnIndex.LshMaxBandBits)
    // monotone, and expected width bounded at ~target above the floor
    val ns = Seq(1L, 500L, 2000L, 50_000L, 10_000_000L, 1L << 30)
    val bits = ns.map(AnnIndex.lshBandBits)
    assert(bits == bits.sorted)
    ns.filter(_ > 512).foreach { n =>
      val width = n.toDouble / (1L << AnnIndex.lshBandBits(n))
      assert(width <= AnnIndex.LshTargetWidth + 1e-9 ||
        AnnIndex.lshBandBits(n) == AnnIndex.LshMaxBandBits,
        s"n=$n width=$width")
    }
    // the geometry version tag changes across a band-bit boundary — the
    // on-disk index invalidates when the corpus outgrows its banding
    assert(AnnIndex.lshGeom(500L).versionTag != AnnIndex.lshGeom(2048L).versionTag)
  }

  test("a corpus above the band-bit floor builds and probes under the adaptive geometry") {
    import spark.implicits._
    // the shared testdata corpora (500–2000 rows) sit at or near the
    // 4-bit floor, so without this case the >floor banding path would
    // ship untested: 4096 synthetic vectors → 6 band bits, 64 buckets
    // per band
    val rnd = new scala.util.Random(3)
    val corpus = Files.createTempDirectory("ann_adaptive").toString
    (0L until 4096L).map(i => (i, Seq.fill(16)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")

    val ver = AnnIndex.corpusVersion(spark, corpus)
    val geom = AnnIndex.lshGeom(spark, corpus, ver)
    assert(geom.bandBits == AnnIndex.lshBandBits(4096L) && geom.bandBits == 6)

    val path = AnnIndex.ensureLsh(spark, corpus, ver)
    assert(path.endsWith(s"_${geom.versionTag}"))
    val bands = AnnIndex.lshBands(spark, corpus, ver)
    // coverage: every vector in exactly `bands` buckets, keys in range
    assert(bands.count() == 4096L * geom.bands)
    val keyRange = bands.agg(min("band_key"), max("band_key")).head()
    assert(keyRange.getLong(0) >= 0L &&
      keyRange.getLong(1) < (1L << geom.bandBits))
    // the adaptive geometry actually uses the wider key space (128
    // buckets/band at 7 bits — a floor-geometry bug would cap keys at 15)
    assert(keyRange.getLong(1) > 15L,
      "band keys must exceed the floor geometry's 4-bit range")
    // probe-side derivation agrees with the index build under >floor bits
    val qb = AnnIndex.queryBands(spark, corpus, 7L, ver).sorted
    val fromIndex = bands.where(col("vec_id") === 7L)
      .select("band_id", "band_key")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    assert(qb == fromIndex,
      "probe bands must agree with the index build under adaptive bits")
    val probed = AnnIndex.probeBands(spark, corpus, 7L, ver)
    assert(probed.size <= geom.bands * (1 + geom.bandBits))
    assert(qb.toSet.subsetOf(probed.toSet))
  }

  test("index cells agree with a fresh argmax assignment") {
    val idx = AnnIndex.ivf(spark, sf).select(col("vec_id"), col("cluster"))
    val fresh = AnnIndex.assign(
      Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      AnnIndex.codebook(spark, sf))
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
    assert(idx.exceptAll(fresh).isEmpty && fresh.exceptAll(idx).isEmpty)
  }

  test("ensureIvf is build-once per corpus version; eviction is RETAIN-ONE across versions") {
    // private corpus copy: the shared testdata dir must never be written
    val corpus = Files.createTempDirectory("ann_corpus")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      corpus.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val dir = corpus.toString

    val path1 = AnnIndex.ensureIvf(spark, dir)
    val success1 = Paths.get(path1.stripPrefix("file:"), "_SUCCESS")
    val mtime1 = Files.getLastModifiedTime(success1)
    assert(AnnIndex.ensureIvf(spark, dir) == path1)
    assert(Files.getLastModifiedTime(success1) == mtime1, "no rebuild on re-probe")

    // layout: the cell-repartitioned write must produce ≤ 1 data file per
    // cluster directory (the r13 fix — the un-repartitioned write left
    // every scan task a sliver in every cell dir, ~1,400 tiny files at
    // the sf0.1 √n codebook, and every probe paid the opens)
    {
      import scala.jdk.CollectionConverters._
      val perCell = Files.walk(Paths.get(path1.stripPrefix("file:")))
        .iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent)
      assert(perCell.nonEmpty)
      perCell.foreach { case (cellDir, files) =>
        assert(cellDir.toString.contains("cluster="),
          s"data files must live under cluster partitions: $cellDir")
        assert(files.size == 1,
          s"expected one file per cell, $cellDir has ${files.size}")
      }
    }

    // corpus changes (append a file) → new fingerprint → new index path.
    // Eviction keeps the most recent superseded version (a cross-JVM
    // reader that resolved it before this build may be mid-scan), so after
    // build 2 BOTH versions exist …
    Files.write(corpus.resolve("embeddings_2.parquet"),
      Files.readAllBytes(corpus.resolve("embeddings.parquet")))
    val path2 = AnnIndex.ensureIvf(spark, dir)
    assert(path2 != path1, "changed corpus must get a fresh index version")
    assert(Files.exists(Paths.get(path1.stripPrefix("file:"))),
      "retain-one: the immediately superseded version must survive one build")

    // … and after build 3 the oldest (v1) is aged out while v2 survives.
    Files.write(corpus.resolve("embeddings_3.parquet"),
      Files.readAllBytes(corpus.resolve("embeddings.parquet")))
    val path3 = AnnIndex.ensureIvf(spark, dir)
    assert(path3 != path2 && path3 != path1)
    assert(!Files.exists(Paths.get(path1.stripPrefix("file:"))),
      "twice-superseded version must be evicted")
    assert(Files.exists(Paths.get(path2.stripPrefix("file:"))),
      "retain-one: most recent superseded version survives")
    assert(Files.exists(Paths.get(path3.stripPrefix("file:"), "_SUCCESS")))
  }

  test("a pivots A/B flipping back to a retain-one-evicted index rebuilds it (16 → 20 → 24 → 16)") {
    // building the 24-pivot inverted file evicts the 16-pivot one from
    // disk (retain-one keeps only the 20); the flip back must re-check the
    // _SUCCESS marker and rebuild, not serve the deleted path
    // (PATH_NOT_FOUND)
    import graft.operators.Similarity
    val corpus = Files.createTempDirectory("ann_pivot_flip")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      corpus.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val root = Files.createTempDirectory("ann_pivot_flip_root").toString
    spark.conf.set("spark.graft.ann.indexRoot", root)
    try {
      val answers = Seq(16, 20, 24, 16).map { k =>
        spark.conf.set("spark.graft.ann.pivots", k.toString)
        Similarity.simAnnIvf(spark, corpus.toString).collect().toSeq
      }
      assert(answers.head.nonEmpty)
      assert(answers.last == answers.head,
        "the rebuilt 16-pivot index must serve the first 16-pivot answer")
    } finally {
      spark.conf.unset("spark.graft.ann.pivots")
      spark.conf.unset("spark.graft.ann.indexRoot")
    }
  }

  test("a pure-ANN flow re-indexes appended rows after a corpus mutation") {
    // embeddings.parquet as a DIRECTORY so a crawl drop can be appended —
    // the 100 TB layout. The catalog pins the resolved file listing; with
    // no dedup-probe detector running first, the ANN path's own
    // supersession hook (corpusCount → Tables.invalidate) is what makes
    // the rebuild read the post-mutation file set instead of silently
    // rebuilding a stale-listing index under a fresh version token.
    val corpus = Files.createTempDirectory("ann_mut").toString
    val tableDir = Paths.get(corpus, "embeddings.parquet")
    Files.createDirectories(tableDir)
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      tableDir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val n0 = Tables.embeddings(spark, corpus).count()
    val path1 = AnnIndex.ensureIvf(spark, corpus)
    assert(spark.read.schema("vec_id BIGINT, v ARRAY<DOUBLE>, cluster INT")
      .parquet(path1).count() == n0)

    // crawl drop lands as a second part file inside the table dir
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      tableDir.resolve("part-1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val path2 = AnnIndex.ensureIvf(spark, corpus)
    assert(path2 != path1, "appended data must get a fresh index version")
    assert(spark.read.schema("vec_id BIGINT, v ARRAY<DOUBLE>, cluster INT")
      .parquet(path2).count() == 2 * n0,
      "post-mutation rebuild must index the appended rows, not the pinned listing")
  }

  test("first build sweeps the retired hashCode-named index family") {
    val corpus = Files.createTempDirectory("ann_retired")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      corpus.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val dir = corpus.toString
    // plant pre-r11 hex-hashCode-prefixed leftovers — the actual legacy
    // naming was ivf_${Integer.toHexString(dir.hashCode)} — including an
    // orphaned crashed staging dir (no live build can exist for a retired
    // family, so .build-* must be swept too), plus a foreign family that
    // must survive
    val root = Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_ann")
    Files.createDirectories(root)
    val hex = Integer.toHexString(dir.hashCode)
    val legacy = root.resolve(s"ivf_${hex}_deadbeef_cafe")
    val legacyStaging = root.resolve(s"ivf_${hex}_deadbeef_cafe.build-1a2b3c4d")
    val foreign = root.resolve("ivf_0123456789ab_otherfamily")
    Files.createDirectories(legacy)
    Files.createDirectories(legacyStaging)
    Files.createDirectories(foreign)

    AnnIndex.ensureIvf(spark, dir)
    assert(!Files.exists(legacy),
      "hashCode-era index dirs must be swept on the family's first build")
    assert(!Files.exists(legacyStaging),
      "orphaned hashCode-era staging dirs must be swept too")
    assert(Files.exists(foreign),
      "other families' dirs are not the retired family's to delete")
    Files.delete(foreign)
  }

  test("ensureLsh is build-once per corpus version and lays out one file per bucket") {
    val corpus = Files.createTempDirectory("ann_corpus_lsh")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      corpus.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val dir = corpus.toString

    val path1 = AnnIndex.ensureLsh(spark, dir)
    val success1 = Paths.get(path1.stripPrefix("file:"), "_SUCCESS")
    val mtime1 = Files.getLastModifiedTime(success1)
    assert(AnnIndex.ensureLsh(spark, dir) == path1)
    assert(Files.getLastModifiedTime(success1) == mtime1, "no rebuild on re-probe")

    // the version string folds in the LSH geometry (corpus-size-adaptive
    // band bits included) so a geometry change — or the corpus crossing a
    // band-bit boundary — invalidates an artifact keyed under the old
    // hyperplanes
    val geom = AnnIndex.lshGeom(
      AnnIndex.corpusCount(spark, dir, AnnIndex.corpusVersion(spark, dir)))
    assert(path1.endsWith(s"_${geom.versionTag}"),
      "index version must fold in the LSH geometry")

    // layout: the round-7 build wrote ~32 files per bucket (2,003 tiny
    // files); the bucket-repartitioned write must produce ≤ 1 data file
    // per (band_id, band_key) directory
    val root = Paths.get(path1.stripPrefix("file:"))
    import scala.jdk.CollectionConverters._
    val perBucket = Files.walk(root).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getParent)
    assert(perBucket.nonEmpty)
    perBucket.foreach { case (bucketDir, files) =>
      assert(bucketDir.toString.contains("band_id="),
        s"data files must live under (band_id, band_key) partitions: $bucketDir")
      assert(files.size == 1, s"expected one file per bucket, $bucketDir has ${files.size}")
    }

    // coverage: every corpus vector appears in exactly LshBands buckets
    val n = Tables.embeddings(spark, sf).count()
    assert(AnnIndex.lshBands(spark, dir).count() == n * AnnIndex.LshBands)
  }

  test("queryBands matches the materialized index's rows for the same vector") {
    val qb = AnnIndex.queryBands(spark, sf, 0L).sorted
    val fromIndex = AnnIndex.lshBands(spark, sf)
      .where(col("vec_id") === 0L)
      .select("band_id", "band_key")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    assert(qb == fromIndex,
      "probe-side band derivation must agree with the index build")
    assert(qb.size == AnnIndex.LshBands)
  }

  test("probeBands: superset of exact buckets, one bit flipped, keys in range") {
    val exact = AnnIndex.queryBands(spark, sf, 0L).toSet
    val probed = AnnIndex.probeBands(spark, sf, 0L)
    assert(probed.distinct == probed, "no duplicate probe pairs")
    assert(exact.subsetOf(probed.toSet), "exact buckets always probed")
    val geom = AnnIndex.lshGeom(
      AnnIndex.corpusCount(spark, sf, AnnIndex.corpusVersion(spark, sf)))
    assert(probed.size <= geom.bands * (1 + geom.bandBits),
      "probe set bounded by bands*(1+bandBits)")
    val flipped = probed.toSet -- exact
    val exactByBand = exact.toMap
    flipped.foreach { case (b, k) =>
      assert(k >= 0 && k < (1L << geom.bandBits), "key stays in band range")
      val bits = java.lang.Long.bitCount(k ^ exactByBand(b))
      assert(bits == 1, s"flipped bucket must differ in exactly 1 bit, got $bits")
    }
  }

  test("LSH saturation envelope: constant probe cost up to 2²⁰ buckets, linear past it, IVF sub-linear throughout") {
    import AnnIndex._
    // the saturation boundary is where the 20-bit cap first binds
    assert(LshSaturationN == 96L << 20) // ~1.0e8 vectors
    assert(lshBandBits(LshSaturationN) == LshMaxBandBits)
    assert(lshBandBits(LshSaturationN - (1L << 20)) < LshMaxBandBits ||
      lshBandBits(LshSaturationN / 2) == LshMaxBandBits - 1)
    Seq(LshSaturationN, LshSaturationN * 10, 1L << 40).foreach(n =>
      assert(lshBandBits(n) == LshMaxBandBits, s"saturated at n=$n"))
    // ADAPTIVE regime: expected width stays bounded at ~target; candidate
    // volume grows ~√n·log n (the r18 recall-holding band law — bands
    // ∝ 2^(bits/2)), bounded by the cap product — NOT constant: constant
    // probe cost at growing n was exactly the recall decay the r18 sweep
    // measured (0.34 mean at 20k under fixed 4 bands)
    Seq(2048L, 100000L, 10000000L, LshSaturationN).foreach { n =>
      assert(lshExpectedWidth(n) <= LshTargetWidth + 1e-9, s"n=$n")
      assert(lshProbeCandidates(n) <=
        LshMaxBands * (1 + LshMaxBandBits) * LshTargetWidth + 1e-9)
    }
    // the band law itself: monotone in bits, clamped [LshBands,
    // LshMaxBands], and the r18-calibrated points (BASELINE.md sweep:
    // L = ln(0.15)/ln(1−q(bits)) for mean recall@10 ≥ 0.85)
    val counts = (4 to 20).map(AnnIndex.lshBandCount)
    assert(counts == counts.sorted)
    assert(counts.head == LshBands && counts.last == LshMaxBands)
    assert(AnnIndex.lshBandCount(8) == 10)   // measured 0.88 mean at 8 bands
    assert(AnnIndex.lshBandCount(10) == 20)  // measured 0.89 mean at 20 bands
    assert(AnnIndex.lshBandCount(12) == LshMaxBands) // cap binds ~400k vectors
    // SATURATED regime: width and candidate volume grow LINEARLY in n —
    // the honest envelope of fixed-band LSH (nothing adapts past 2²⁰)
    Seq(LshSaturationN, LshSaturationN * 4, LshSaturationN * 100).foreach { n =>
      assert(math.abs(lshExpectedWidth(2 * n) / lshExpectedWidth(n) - 2.0) < 1e-9)
      assert(math.abs(lshProbeCandidates(2 * n) / lshProbeCandidates(n) - 2.0) < 1e-9)
    }
    // IVF probe rows stay SUB-linear — the property that makes IVF the
    // tier that keeps scaling where LSH has gone linear. Under the r19
    // width-targeted law the 100× growth factor reads ~35–51× (the k
    // plateau at IvfWidthPivotCap stretches one decade band) instead of
    // the pure-√n law's ~32×, but the law DOMINATES √n absolutely: more
    // cells → fewer rows per cell, while nprobe grows only as √k, so at
    // every scale the probed rows are at or below what √n would scan
    Seq(100000L, 10000000L).foreach { n =>
      val ratio = ivfProbeRows(100 * n) / ivfProbeRows(n)
      assert(ratio <= 52.0, s"n=$n ratio=$ratio")
    }
    def sqrtLawRows(n: Long): Double = {
      val k = math.max(MinPivots.toLong, math.min(MaxPivots.toLong,
        math.round(math.sqrt(math.max(n, 1L).toDouble)))).toInt
      probeCount(k).toDouble * math.max(n, 1L) / k
    }
    Seq(2048L, 20000L, 200000L, 820000L, 10000000L, 67000000L, 1L << 30)
      .foreach { n =>
        assert(ivfProbeRows(n) <= sqrtLawRows(n) + 1e-9,
          s"width law must not scan more than √n law at n=$n: " +
            s"${ivfProbeRows(n)} vs ${sqrtLawRows(n)}")
      }
    // and past the pivot cap IVF probe rows are n/256 — still 256× under
    // a corpus scan, while saturated-LSH candidates are n/12.5K KEY rows
    // whose payloads need per-id fetches; the tier table in SCALING.md
    // ("LSH → IVF envelope") prices the crossover with the access-pattern
    // factor, this pin keeps the two laws themselves honest
    val nCap = 1L << 36
    assert(math.abs(ivfProbeRows(nCap) - nCap / 256.0) < nCap / 256.0 * 0.01)
  }

  test("pivotGroups: exact partition of the codebook into ≤⌈√k⌉ groups") {
    val rnd = new scala.util.Random(19)
    for (k <- Seq(5, 100, 1024)) {
      val cents = Seq.fill(k)(Array.fill(16)(rnd.nextGaussian()))
      val groups = AnnIndex.pivotGroups(cents)
      assert(groups.size <= math.ceil(math.sqrt(k.toDouble)).toInt)
      val members = groups.flatMap(_._2).sorted
      assert(members == (0 until k), s"k=$k: every pivot in exactly one group")
      assert(groups.forall(_._2.nonEmpty), "no empty groups emitted")
    }
  }

  /** Clustered codebook fixture: `nCenters` random unit centers, each
    * jittered into `perCenter` pivots — the pivot-space structure k-means
    * over a real (clustered) embedding corpus produces, where the
    * two-level quantizer's group probe is exact.
    */
  private def clusteredCents(
      nCenters: Int, perCenter: Int, d: Int, seed: Int): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Seq.fill(nCenters)(unit(Array.fill(d)(rnd.nextGaussian())))
    val cents = centers.flatMap(c =>
      Seq.fill(perCenter)(unit(c.map(_ + 0.05 * rnd.nextGaussian()))))
    // shuffled so the grouping cannot ride the seed layout
    new scala.util.Random(seed + 1).shuffle(cents)
  }

  test("two-level assignment equals the flat argmax on a clustered codebook, at √k cost") {
    import spark.implicits._
    val d = 16
    val cents = clusteredCents(nCenters = 16, perCenter = 16, d = d, seed = 29)
    val k = cents.size // 256 > TwoLevelMinPivots
    assert(k > AnnIndex.TwoLevelMinPivots)
    val rnd = new scala.util.Random(37)
    val vecs = (0 until 500).map { i =>
      (i.toLong, cents(i % k).map(_ + 0.02 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "v").localCheckpoint(true)
    val flatCb = cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("pivot_id", "pv")
      .groupBy().agg(array_sort(collect_list(struct(col("pivot_id"), col("pv")))).as("pvs"))
    val hier = AnnIndex.hierCodebookOf(spark, cents)
    val flat = AnnIndex.assign(vecs, flatCb).select("vec_id", "cluster")
    val two = AnnIndex.assignTwo(vecs, hier, AnnIndex.DefaultGroupProbes)
      .select("vec_id", "cluster")
    assert(flat.exceptAll(two).isEmpty && two.exceptAll(flat).isEmpty,
      "two-level must agree with the flat argmax on clustered pivots")
    // the cost law the two-level path exists for: candidates scored per
    // vector = |groups| super-pivots + the probed groups' members —
    // O(√k·d), a real multiple under the flat k·d
    val groups = AnnIndex.pivotGroups(cents)
    val maxGroup = groups.map(_._2.size).max
    val worstCandidates =
      groups.size + AnnIndex.DefaultGroupProbes * maxGroup
    assert(worstCandidates * 2 <= k,
      s"two-level must score ≤ k/2 candidates, got $worstCandidates of $k")
  }

  test("native ivf_argmax is bit-for-bit equal to the HOF reference fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val cents = Seq.fill(50)(Array.fill(8)(rnd.nextGaussian()))
    val vecs = (0 until 300).map { i =>
      // include near-tie vectors (jittered pivots) to stress the boundary
      val v = if (i % 3 == 0) Array.fill(8)(rnd.nextGaussian())
      else cents(i % cents.size).map(_ + 0.01 * rnd.nextGaussian())
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "v").localCheckpoint(true)
    val cb = cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("pivot_id", "pv")
      .groupBy().agg(array_sort(collect_list(struct(col("pivot_id"), col("pv")))).as("pvs"))
    val native = AnnIndex.assign(vecs, cb).select("vec_id", "cluster")
    val hof = AnnIndex.assignHofRef(vecs, cb).select("vec_id", "cluster")
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
      "native argmax must reproduce the HOF reference exactly")
  }

  test("native probes-mode ivf_argmax_two is bit-for-bit equal to its HOF reference") {
    import spark.implicits._
    // uniform-random pivots maximize near-tie group scores — the sharpest
    // stress on the (ns, gid) sort-order contract the native replicates
    val uniRnd = new scala.util.Random(71)
    val cents = Seq.fill(120)(Array.fill(12)(uniRnd.nextGaussian()))
    val rnd = new scala.util.Random(73)
    val vecs = (0 until 300).map { i =>
      val v = if (i % 2 == 0) cents(i % cents.size).map(_ + 0.05 * rnd.nextGaussian())
      else Array.fill(12)(rnd.nextGaussian())
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "v").localCheckpoint(true)
    val hier = AnnIndex.hierCodebookOf(spark, cents)
    for (probes <- Seq(1, 4)) {
      val native = AnnIndex.assignTwo(vecs, hier, probes).select("vec_id", "cluster")
      val hof = AnnIndex.assignTwoHofRef(vecs, hier, probes).select("vec_id", "cluster")
      assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
        s"probes=$probes: native probes-mode must reproduce the HOF reference exactly")
    }
  }

  test("exact two-level assignment survives degenerate zero-norm pivots — NaN sims equal flat") {
    import spark.implicits._
    val rnd = new scala.util.Random(79)
    val base = Seq.fill(60)(Array.fill(8)(rnd.nextGaussian()))
    // zero-norm pivots have NaN similarity to EVERY vector under the
    // runtime kernel, and NaN is GREATEST in the flat ordering — so the
    // flat argmax picks the larger degenerate pivot id for all vectors.
    // The bound-pruned mode must reproduce that through the π-radius
    // marking + NaN-incumbent full scan, not prune the groups away.
    val cents = base.updated(7, Array.fill(8)(0.0)).updated(41, Array.fill(8)(0.0))
    val vecs = (0 until 100).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "v").localCheckpoint(true)
    val flatCb = cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("pivot_id", "pv")
      .groupBy().agg(array_sort(collect_list(struct(col("pivot_id"), col("pv")))).as("pvs"))
    val flat = AnnIndex.assign(vecs, flatCb).select("vec_id", "cluster")
    val exact = AnnIndex.assignTwoExact(vecs, AnnIndex.hierCodebookOf(spark, cents))
      .select("vec_id", "cluster")
    assert(flat.exceptAll(exact).isEmpty && exact.exceptAll(flat).isEmpty,
      "degenerate pivots must not break exact ≡ flat")
    // the winner really is the larger zero-norm pivot — the NaN path was
    // exercised, not vacuously green
    assert(flat.select("cluster").distinct().as[Long].collect().toSeq == Seq(41L))
  }

  test("argmax kernels stay codegen-compilable with non-nullable children") {
    // range's id is non-nullable; before the nullable override the
    // generated code assigned to the false literal and Janino refused the
    // stage — fallback=false makes that failure loud instead of a silent
    // interpreted ejection
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = spark.range(1).selectExpr(
        """ivf_argmax(array(cast(id AS double) + 1d, 0d),
          |  array(struct(3L AS pivot_id, array(1d, 0d) AS pv),
          |        struct(5L AS pivot_id, array(0d, 1d) AS pv))) AS c""".stripMargin)
        .head.getLong(0)
      assert(r == 3L)
      // the ternary probes form, driven with a BIGINT probes argument
      val r2 = spark.range(1).selectExpr(
        """ivf_argmax_two(array(cast(id AS double) + 1d, 0d),
          |  array(struct(0 AS gid, array(1d, 0d) AS sp, 0.1d AS radius,
          |        array(struct(3L AS pivot_id, array(1d, 0d) AS pv)) AS pvs)),
          |  4L) AS c""".stripMargin)
        .head.getLong(0)
      assert(r2 == 3L)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("argmax kernels return null on empty pivot/group/member arrays") {
    val row = spark.range(1).selectExpr(
      "ivf_argmax(array(1d), slice(array(struct(0L AS pivot_id, array(1d) AS pv)), 1, 0)) AS a",
      """ivf_argmax_two(array(1d),
        |  slice(array(struct(0 AS gid, array(1d) AS sp, 0d AS radius,
        |    array(struct(0L AS pivot_id, array(1d) AS pv)) AS pvs)), 1, 0)) AS b""".stripMargin,
      // groups present but every member set empty — must also be null
      """ivf_argmax_two(array(1d),
        |  array(struct(0 AS gid, array(1d) AS sp, 0d AS radius,
        |    slice(array(struct(0L AS pivot_id, array(1d) AS pv)), 1, 0) AS pvs))) AS c""".stripMargin)
      .head
    assert(row.isNullAt(0) && row.isNullAt(1) && row.isNullAt(2))
  }

  test("probes argument must be integral; assignMode rejects unknown values") {
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).selectExpr(
        """ivf_argmax_two(array(1d),
          |  array(struct(0 AS gid, array(1d) AS sp, 0d AS radius,
          |    array(struct(0L AS pivot_id, array(1d) AS pv)) AS pvs)), 1.5) AS c""".stripMargin)
        .head
    }
    spark.conf.set("spark.graft.ann.assignMode", "probe")
    try intercept[IllegalArgumentException](AnnIndex.assignMode(spark))
    finally spark.conf.unset("spark.graft.ann.assignMode")
  }

  test("EXACT two-level assignment equals the flat argmax on clustered AND uniform-random codebooks") {
    import spark.implicits._
    val d = 16
    val uniRnd = new scala.util.Random(59)
    for ((name, cents) <- Seq(
      "clustered" -> clusteredCents(nCenters = 16, perCenter = 16, d = d, seed = 53),
      // the WORST case for any two-level scheme: pivots uniform on the
      // sphere, super-pivot means barely discriminate — the probes mode
      // measures 92% agreement here; the bound-pruned mode must be 100%
      "uniform" -> Seq.fill(256)(Array.fill(d)(uniRnd.nextGaussian())))) {
      val rnd = new scala.util.Random(61)
      val vecs = (0 until 400).map { i =>
        // half near-pivot, half fully random query vectors
        val v = if (i % 2 == 0) cents(i % cents.size).map(_ + 0.1 * rnd.nextGaussian())
        else Array.fill(d)(rnd.nextGaussian())
        (i.toLong, v.toSeq)
      }.toDF("vec_id", "v").localCheckpoint(true)
      val flatCb = cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
        .toDF("pivot_id", "pv")
        .groupBy().agg(array_sort(collect_list(struct(col("pivot_id"), col("pv")))).as("pvs"))
      val flat = AnnIndex.assign(vecs, flatCb).select("vec_id", "cluster")
      val exact = AnnIndex.assignTwoExact(vecs, AnnIndex.hierCodebookOf(spark, cents))
        .select("vec_id", "cluster")
      assert(flat.exceptAll(exact).isEmpty && exact.exceptAll(flat).isEmpty,
        s"$name: bound-pruned assignment must equal the flat argmax exactly")
    }
  }

  test("past the pivot threshold the index build dispatches two-level and stays self-consistent") {
    import spark.implicits._
    // clustered corpus big enough that k = √n > TwoLevelMinPivots: the
    // REAL build path (ensureIvf → coarseAssign) must take the two-level
    // branch and the built cells must equal a fresh dispatch — the same
    // contract the flat-path test above pins at sf
    val cents = clusteredCents(nCenters = 100, perCenter = 1, d = 16, seed = 41)
    val rnd = new scala.util.Random(43)
    val corpus = Files.createTempDirectory("ann_twolevel").toString
    (0L until 6000L).map { i =>
      (i, cents(rnd.nextInt(cents.size)).map(x =>
        (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")

    val ver = AnnIndex.corpusVersion(spark, corpus)
    val k = AnnIndex.centroids(spark, corpus, ver).size
    assert(k == AnnIndex.pivotCount(6000L) && k > AnnIndex.TwoLevelMinPivots)

    val fresh = AnnIndex.coarseAssign(spark, corpus, ver)(
      Tables.embeddings(spark, corpus)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
    // the dispatcher really took the two-level branch
    assert(fresh.queryExecution.analyzed.toString.contains("ivf_argmax_two"),
      "above the threshold the assignment must go through the two-level kernel")
    val idx = AnnIndex.ivf(spark, corpus, ver).select(col("vec_id"), col("cluster"))
    assert(idx.exceptAll(fresh).isEmpty && fresh.exceptAll(idx).isEmpty,
      "index cells must equal a fresh two-level dispatch")
  }

  // r14 verdict #2 → r15/r16 measurement: probes-mode two-level assignment
  // agrees ~92% with the flat argmax on uniform-random codebooks, and the
  // defense ("assignment is a partitioning choice; query-time nprobe
  // recovers it") was an argument without a number — no recall measurement
  // existed on a corpus ABOVE the 64-pivot threshold. This harness IS that
  // measurement: n vectors → k = √n > TwoLevelMinPivots, clustered with
  // enough per-dim noise that true neighbors straddle cell boundaries —
  // the regime where a wrong coarse assignment would actually surface as
  // lost neighbors. Both assignment modes build their own inverted file
  // (assignTag keys the store), both serve the same 5-query batch, and
  // recall@10 is scored against the exact brute-force top-10. Floors are
  // shared across fixtures; per-fixture means live in BASELINE.md.
  private def twoLevelRecallHarness(
      d: Int, n: Long, nCenters: Int, noise: Double, label: String): Unit = {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(47)
    def unit(v: Array[Double]): Array[Double] = {
      val nn = math.sqrt(v.map(x => x * x).sum); v.map(_ / nn)
    }
    val centers = Seq.fill(nCenters)(unit(Array.fill(d)(rnd.nextGaussian())))
    val corpus = Files.createTempDirectory(s"ann_twolevel_recall_$label").toString
    (0L until n).map { i =>
      val c = centers(rnd.nextInt(nCenters))
      (i, unit(c.map(_ + noise * rnd.nextGaussian())).map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")

    val ver = AnnIndex.corpusVersion(spark, corpus)
    assert(AnnIndex.centroids(spark, corpus, ver).size > AnnIndex.TwoLevelMinPivots,
      "fixture must sit in the two-level dispatch regime")

    def topIds(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exactTop = topIds(Similarity.simBatchTopK(spark, corpus))
    assert(exactTop.size == Similarity.BatchQueries && exactTop.values.forall(_.size == 10))

    def recallUnder(mode: String): Map[Long, Double] = {
      spark.conf.set("spark.graft.ann.assignMode", mode)
      try {
        val approx = topIds(Similarity.simAnnBatch(spark, corpus))
        exactTop.map { case (q, ids) =>
          q -> ids.intersect(approx.getOrElse(q, Set.empty)).size / 10.0 }
      } finally spark.conf.unset("spark.graft.ann.assignMode")
    }
    val probes = recallUnder("probes")
    val exactMode = recallUnder("exact")
    def mean(m: Map[Long, Double]) = m.values.sum / m.size
    info(s"[$label d=$d n=$n] two-level recall@10 per qid — " +
      s"probes: ${probes.toSeq.sortBy(_._1)}, " +
      s"exact: ${exactMode.toSeq.sortBy(_._1)} " +
      s"(mean probes=${mean(probes)}, exact=${mean(exactMode)})")
    // the measured consequence, pinned both ways (numbers in BASELINE.md):
    // probes-mode assignment must not sag below exact-mode assignment by
    // more than one neighbor in ten on mean recall...
    assert(mean(probes) >= mean(exactMode) - 0.1,
      s"probes-mode recall ${mean(probes)} sags >0.1 below exact-mode ${mean(exactMode)}")
    // ...and carries absolute floors in this geometry (re-measured
    // 2026-08-16 under k-means‖ WITH the r20 ℓ=3 oversample-prune-refine:
    // d16 probes=0.88 / exact=0.88, d64 probes=0.94 / exact=0.90 — the
    // r19 bare-D²-draw dip (d16 0.80, floor temporarily relaxed to 0.75)
    // was noise-seeking seeds anchoring pivots on cluster-edge outliers;
    // the weighted prune removes them, and the floor is restored to the
    // pre-r19 0.8. DevSeedRecall/DevSeedLaw carry the variant tables.)
    assert(mean(probes) >= 0.8,
      s"probes-mode mean recall@10 ${mean(probes)} below the measured-regime floor")
    probes.foreach { case (q, r) =>
      assert(r >= 0.5, s"qid=$q probes-mode recall@10 $r below floor") }
  }

  test("assignTag folds the codebook bytes: a same-k retrain re-keys tag-keyed cards") {
    // r20 DevSeedLaw finding: the k-only tag served the first codebook's
    // ann_recall card to every later same-k codebook in the session. Two
    // same-k codebooks with different centroids must tag differently so
    // SessionCache artifacts keyed by it re-derive.
    import spark.implicits._
    val dir = Files.createTempDirectory("ann_tag").toString
    val rnd = new scala.util.Random(53)
    (0 to 300).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val ver = AnnIndex.corpusVersion(spark, dir)
    def codebook(seed: Int): Seq[Array[Double]] = {
      val r = new scala.util.Random(seed)
      Seq.fill(17)(Array.fill(16)(r.nextGaussian()))
    }
    val (cbA, cbB) = (codebook(53), codebook(54))
    val ta = AnnIndex.tagOf(spark, cbA); val tb = AnnIndex.tagOf(spark, cbB)
    assert(ta.contains("-k17-") && tb.contains("-k17-"), s"same k: $ta, $tb")
    assert(ta != tb, s"same-k retrain must re-key the tag: $ta == $tb")
    // and the tag is stable for the SAME codebook bytes (a fresh copy,
    // not just the memoized digest of one object)
    assert(AnnIndex.tagOf(spark, cbA.map(_.clone())) == ta)
    assert(AnnIndex.tagOf(spark, cbA) == ta)
    // the sibling staleness hole: pivot GROUPS must also re-key on a
    // same-k codebook change — under the old version|k key the second
    // call returned the first codebook's groups verbatim
    def cents(seed: Int): Seq[Array[Double]] = {
      val r = new scala.util.Random(seed)
      Seq.fill(9)(Array.fill(4)(r.nextGaussian()))
    }
    val gA = AnnIndex.pivotGroupsCached(spark, dir, ver, cents(1))
    val gB = AnnIndex.pivotGroupsCached(spark, dir, ver, cents(2))
    assert(!gA.head._1.sameElements(gB.head._1),
      "same-k group cache served the other codebook's super-pivots")
  }

  test("ivfpq candidate pools fold nprobe: an override computes a fresh pool") {
    // r20 cap-sweep finding: the nprobe-less pool tag served the
    // law-nprobe candidates to every override — the recall card sat
    // frozen at its law value across the entire sweep
    import graft.operators.Similarity
    Similarity.simAnnIvfPq(spark, sf).collect()
    val before = AnnIndex.pooledKeys.filter(_.contains("|ivfpq_"))
    assert(before.nonEmpty, "law-nprobe pool must exist")
    spark.conf.set("spark.graft.ann.nprobe", "7")
    try {
      Similarity.simAnnIvfPq(spark, sf).collect()
      val after = AnnIndex.pooledKeys.filter(_.contains("|ivfpq_"))
      assert(after.exists(k => !before.contains(k) && k.contains("_np7")),
        s"nprobe override must key a fresh ivfpq pool, keys: $after")
    } finally spark.conf.unset("spark.graft.ann.nprobe")
  }

  test("pruneWeighted: zero-support outliers lose, spread wins, coincident dry-stops") {
    // d=2 unit vectors. The far outlier (−1,0) has the LARGEST D² to
    // every other candidate but zero sample support — the bare D² draw's
    // failure mode — and must never be chosen; the spread pair beats the
    // nearby one; two coincident candidates dry-stop below k.
    val c0 = Array(1.0, 0.0); val c1 = Array(0.0, 1.0)
    val cMid = Array(math.sqrt(0.5), math.sqrt(0.5))
    val outlier = Array(-1.0, 0.0)
    val got = AnnIndex.pruneWeighted(
      Seq(outlier, cMid, c1, c0), Seq(0L, 50L, 90L, 100L), 3)
    assert(got.map(_.toSeq) == Seq(c0, c1, cMid).map(_.toSeq),
      "heaviest first, then argmax w·D²; the unsupported outlier never picked")
    // determinism under tie: equal weights and symmetric geometry resolve
    // to the lowest candidate index (strict > comparisons) — greedy picks
    // (c0, c1); the weighted-Lloyd refinement then assigns cMid to seed 0
    // (cosine tie, lowest index) so seed 0 becomes the (c0, cMid) mean
    val tie = AnnIndex.pruneWeighted(Seq(c0, c1, cMid), Seq(10L, 10L, 10L), 2)
    val mean0 = c0.zip(cMid).map { case (a, b) => (10.0 * a + 10.0 * b) / 20.0 }
    assert(tie.size == 2)
    assert(tie.head.zip(mean0).forall { case (a, b) => math.abs(a - b) < 1e-12 },
      s"tied cMid must fold into seed 0's refined mean: ${tie.head.toSeq}")
    assert(tie(1).sameElements(c1))
    // coincident candidates: no positive score remains after the first
    // pick → stop short (Lloyd degrades gracefully on a short codebook)
    val dry = AnnIndex.pruneWeighted(
      Seq(c0, c0.clone(), c0.clone()), Seq(10L, 5L, 3L), 2)
    assert(dry.size == 1 && dry.head.sameElements(c0))
  }

  test("recall@10 in the two-level regime: probes-mode assignment costs no recall vs exact") {
    // 16-d / 6,000 vectors → k = 77: the r15 fixture (re-measured
    // 2026-08-16 under ℓ=3 oversampled k-means‖: mean probes=0.88 =
    // exact=0.88 — probes-mode still costs nothing; see the harness
    // floor note). Noise 0.35 σ/dim on unit centers.
    twoLevelRecallHarness(d = 16, n = 6000L, nCenters = 100,
      noise = 0.35, label = "d16")
  }

  test("recall@10 at testdata geometry (64-d, 20k vectors): probes-mode still costs no recall") {
    // r15 verdict #4: the 16-d fixture proves the mechanism, but the
    // driver corpus the engine actually serves is 64-d — re-pin the
    // "probes-mode costs no recall" claim in that dimension, on a corpus
    // 3× larger (k = √20000 = 141 pivots, deeper two-level tree). Per-dim
    // noise scales 1/√(d/16) (0.35→0.175) so the noise NORM — what makes
    // neighbors straddle cells — matches the 16-d fixture's hardness
    // instead of swamping the cluster structure entirely.
    twoLevelRecallHarness(d = 64, n = 20000L, nCenters = 200,
      noise = 0.175, label = "d64")
  }

  test("LSH recall floors under the production band law (r18 geometry knee)") {
    // r17 verdict #3: the fixed 4-band geometry read recall@10 = 0.5 at
    // the 20k card (and 0.34 mean / 0.10 min over 16 queries in the r18
    // sweep) — the weakest number on the recall board. The adaptive band
    // law (lshBandCount: L ∝ 2^(bits/2)) is calibrated on exactly this
    // fixture family; this pins its floors at a CI-sized instance.
    // Recall here is a pure function of banding + probe expansion + exact
    // re-rank (the sweep's argument: every exact-top-10 member among the
    // candidates survives an exact-cosine re-rank cut by construction),
    // so the test bands in memory — no store build.
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    def unit(v: Array[Double]): Array[Double] = {
      val nn = math.sqrt(v.map(x => x * x).sum); v.map(_ / nn)
    }
    val d = 64; val n = 5000; val nCenters = 50; val nq = 16
    val centers = Seq.fill(nCenters)(unit(Array.fill(d)(rnd.nextGaussian())))
    val corpus = (0 until n).map { i =>
      (i.toLong, unit(centers(rnd.nextInt(nCenters))
        .map(_ + 0.175 * rnd.nextGaussian())).toSeq)
    }.toDF("vec_id", "v")
    corpus.cache().count()
    val geom = AnnIndex.lshGeom(n.toLong)
    assert(geom.bandBits == 6 && geom.bands == AnnIndex.lshBandCount(6))
    val queries = corpus.where(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exactTop = corpus.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), expr("cosine_sim(v, qv)").as("sim"))
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))))
      .where(col("r") <= 10).select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val banded = AnnIndex.bandify(corpus, geom)
    val masks = AnnIndex.flipMasks(geom.bandBits, AnnIndex.LshProbeFlips)
    val probeDf = AnnIndex.bandify(
        queries.select(col("qid").as("vec_id"), col("qv").as("v")), geom)
      .collect().flatMap { r =>
        val (q, b, k) = (r.getLong(0), r.getInt(1), r.getLong(2))
        (k +: masks.map(k ^ _)).map(kk => (q, b, kk))
      }.distinct.toSeq.toDF("qid", "band_id", "band_key")
    val cand = banded.join(broadcast(probeDf), Seq("band_id", "band_key"))
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = (0L until nq.toLong).map(q =>
      q -> exactTop(q).intersect(cand.getOrElse(q, Set.empty)).size / 10.0)
    corpus.unpersist()
    info(s"LSH production-law recall@10 per qid: ${recalls.toMap.toSeq.sortBy(_._1)}")
    // measured 2026-08-16 at this geometry (8 bands × 6 bits): mean
    // 0.98, min 0.90 — floors leave headroom for seed-stream drift if
    // the fixture constants ever shift with the law intact
    val mean = recalls.map(_._2).sum / nq
    assert(mean >= 0.85, s"production-law mean recall@10 $mean below floor")
    recalls.foreach { case (q, r) =>
      assert(r >= 0.7, s"qid=$q production-law recall@10 $r below floor") }
  }

  test("pivots/nprobe overrides: clamped, tag-keyed, codebook retrains per k") {
    // r18: the two deployment knobs for the measured k-means
    // representational limit (BASELINE 200k section). pivotCount(spark,·)
    // clamps the override into [MinPivots, min(MaxPivots, n)]; the
    // assignment tag folds k so every card key and store version follows
    // a conf change instead of serving the other codebook's answer.
    assert(AnnIndex.pivotCount(spark, 200000L) == AnnIndex.pivotCount(200000L))
    spark.conf.set("spark.graft.ann.pivots", "2000")
    try {
      assert(AnnIndex.pivotCount(spark, 200000L) == 2000)
      assert(AnnIndex.pivotCount(spark, 500L) == 500)  // clamped to n
      assert(AnnIndex.pivotCount(spark, 1L << 40) == 2000)
      spark.conf.set("spark.graft.ann.pivots", "1")
      assert(AnnIndex.pivotCount(spark, 200000L) == AnnIndex.MinPivots)
      spark.conf.set("spark.graft.ann.pivots", (1 << 20).toString)
      assert(AnnIndex.pivotCount(spark, 1L << 62) == AnnIndex.MaxPivots)
    } finally spark.conf.unset("spark.graft.ann.pivots")
    assert(AnnIndex.probeCount(spark, 447) == AnnIndex.probeCount(447))
    spark.conf.set("spark.graft.ann.nprobe", "64")
    try {
      assert(AnnIndex.probeCount(spark, 447) == 64)
      assert(AnnIndex.probeCount(spark, 10) == 10) // clamped to k
    } finally spark.conf.unset("spark.graft.ann.nprobe")
    // tag follows k: the sf corpus trains a different codebook under an
    // override and the tag names it (cards re-key; stores re-version via
    // the centroid hash)
    val ver = AnnIndex.corpusVersion(spark, sf)
    val tagLaw = AnnIndex.assignTag(spark, sf, ver)
    val kLaw = AnnIndex.centroids(spark, sf, ver).size
    // tag format since r20: ...-k<k>-c<codebook digest>
    assert(tagLaw.contains(s"-k$kLaw-c"))
    spark.conf.set("spark.graft.ann.pivots", "20")
    try {
      val kOver = AnnIndex.centroids(spark, sf, ver).size
      assert(kOver == 20 && AnnIndex.assignTag(spark, sf, ver).contains("-k20-c"))
    } finally spark.conf.unset("spark.graft.ann.pivots")
    // law codebook still resident after the A/B: k is in the codebook's
    // store name, so each k keeps its own entry
    assert(AnnIndex.centroids(spark, sf, ver).size == kLaw)
  }

  test("probedCellsConsistent: global ⊆ union, bounded at 2·nprobe, exact/flat fall back") {
    // r18 DevAnnScaleBench n=200k finding: probes-mode filing scatters
    // misfiles two ways, and the global and group-restricted rankings
    // each catch cells the other misses (global-only read 0.2 at k=447
    // where restricted-only read 0.4; at k=141 the reverse, 0.88 vs
    // 0.64) — so the served probe set is their UNION. Driver-math
    // contract pinned here on a hand-built codebook: the global law
    // cells are always probed (recall can only gain), the set stays
    // ≤ 2·nprobe, is duplicate-free and deterministic, and the exact
    // assignment mode falls back to the global ranking alone.
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val k = 200 // past TwoLevelMinPivots: the two-level regime
    val cents = Seq.fill(k)(unit(Array.fill(16)(rnd.nextGaussian())))
    val qv = unit(Array.fill(16)(rnd.nextGaussian()))
    val nprobe = AnnIndex.probeCount(spark, k)
    val global = AnnIndex.probedCells(qv, cents, nprobe)
    val ver = s"spec_${k}"
    val union = AnnIndex.probedCellsConsistent(
      spark, "/spec/probed_cells", ver, qv, cents, nprobe)
    assert(global.toSet.subsetOf(union.toSet), "global law cells always probed")
    assert(union.size <= 2 * nprobe && union.distinct == union)
    assert(union.take(global.size) == global, "global prefix order stable")
    // deterministic across calls (the pivot-group memo serves the rest)
    assert(union == AnnIndex.probedCellsConsistent(
      spark, "/spec/probed_cells", ver, qv, cents, nprobe))
    // exact mode: filing equals the flat argmax — global ranking alone
    spark.conf.set("spark.graft.ann.assignMode", "exact")
    try assert(AnnIndex.probedCellsConsistent(
      spark, "/spec/probed_cells", ver, qv, cents, nprobe) == global)
    finally spark.conf.unset("spark.graft.ann.assignMode")
    // below the two-level threshold: flat filing — global alone
    val small = cents.take(AnnIndex.TwoLevelMinPivots)
    assert(AnnIndex.probedCellsConsistent(
      spark, "/spec/probed_cells", ver, qv, small,
      AnnIndex.probeCount(spark, small.size)) ==
      AnnIndex.probedCells(qv, small, AnnIndex.probeCount(spark, small.size)))
  }

  test("flipMasks: combinatorial generation equals the key-space scan, sized C(bits,f)") {
    for (bits <- Seq(4, 10, 20); flips <- Seq(1, 2)) {
      val got = AnnIndex.flipMasks(bits, flips)
      assert(got == got.distinct && got == got.sorted)
      def c(n: Int, k: Int): Long =
        (1 to k).foldLeft(1L)((a, i) => a * (n - i + 1) / i)
      assert(got.size == (1 to flips).map(c(bits, _)).sum,
        s"bits=$bits flips=$flips size=${got.size}")
      assert(got.forall(m => m > 0 && m < (1L << bits) &&
        java.lang.Long.bitCount(m) <= flips))
      // the scan form it replaced, checked only at widths where the scan
      // is cheap (the 20-bit scan being ~1M iterations per probe was the
      // point of the change)
      if (bits <= 10) {
        val scan = (1L until (1L << bits))
          .filter(m => java.lang.Long.bitCount(m) <= flips).sorted
        assert(got == scan)
      }
    }
  }

  test("int8 store is an on-disk corpus-version family with the exact quantization") {
    import org.apache.spark.sql.functions._
    val ver = AnnIndex.corpusVersion(spark, sf)
    val path = AnnIndex.ensureInt8(spark, sf, ver)
    assert(new java.io.File(
      path.stripPrefix("file:"), "_SUCCESS").exists,
      "store must be a completed version-keyed build")
    val store = AnnIndex.int8(spark, sf, ver)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    assert(store.count() == emb.count())
    // spot-check the arithmetic against an inline recompute: symmetric
    // scale max|x|/127, zero-norm rows take scale=1
    val raw = emb.where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    store.where(col("vec_id") < 5).collect().foreach { r =>
      val v = raw(r.getLong(0))
      val expScale = math.max(v.map(math.abs).max / 127.0,
        if (v.forall(_ == 0.0)) 1.0 else 0.0)
      assert(r.getDouble(1) == (if (expScale == 0.0) 1.0 else expScale))
      val qv = r.getSeq[Byte](2)
      // Spark round() is HALF_UP (math.rint would be half-even)
      v.zip(qv).foreach { case (x, q) =>
        assert(BigDecimal(x / r.getDouble(1))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toByte == q) }
    }
  }

  test("int8 hoist survives the optimizer: scale stays a materialized attribute") {
    // r19 verdict #6 gate. int8Quantize hoists `scale` (an array_max fold)
    // to its own projection BELOW the per-element lambda; if a future
    // optimizer (CollapseProject or kin) ever inlines it back, the lambda
    // re-evaluates the d-element fold PER ELEMENT — the O(d²) r18
    // build-wall anomaly (158 s → 1.3 s at 200k). Plan-shape pin,
    // window-immune: in the OPTIMIZED plan, the expression producing `qv`
    // must reference scale as an attribute, never embed the array_max fold.
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Project
    // parquet-backed, not a local Seq: ConvertToLocalRelation would fold a
    // LocalRelation fixture's projections away and leave nothing to pin
    val dir = s"${Files.createTempDirectory("int8_hoist")}/vecs.parquet"
    Seq((1L, Seq(1.0, -3.0, 2.0)), (2L, Seq(0.0, 0.0, 0.0)))
      .toDF("vec_id", "v").write.parquet(dir)
    val fixture = spark.read.parquet(dir)
    val opt = AnnIndex.int8Quantize(fixture).queryExecution.optimizedPlan
    val qvExprs = opt.collect { case p: Project => p.projectList }
      .flatten.filter(_.name == "qv").map(_.toString)
    assert(qvExprs.nonEmpty, "optimized plan must still project qv")
    assert(qvExprs.forall(e => !e.toLowerCase.contains("array_max")),
      s"scale was re-inlined into the qv lambda (the O(d²) form): $qvExprs")
    // and the fold must still exist somewhere below as the scale alias
    val scaleExprs = opt.collect { case p: Project => p.projectList }
      .flatten.filter(_.name == "scale").map(_.toString)
    assert(scaleExprs.exists(_.toLowerCase.contains("array_max")),
      "scale must stay the materialized array_max attribute")
  }

  test("candidate pools refresh after a corpus mutation: a planted twin tops every pooled tier") {
    import spark.implicits._
    import graft.operators.Similarity
    // the r17 candidate pools (AnnIndex.candidatePool) are driver-side
    // memos keyed by corpus version; ArtifactMatrixSpec covers the
    // SessionCache families, so this is the matching end-to-end pin for
    // the pooled tiers: append an EXACT twin of the query vector — the
    // post-mutation pools must contain it and every pooled probe must
    // serve it at rank 1. A stale pool (or a pool rebuilt against the
    // pre-append catalog) keeps the old candidate ids and fails here.
    val dir = Files.createTempDirectory("ann_pool_mut").toString
    val rnd = new scala.util.Random(61)
    val vecs = (0 to 150).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    vecs.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    def top1(df: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val r = df.head(); (r.getLong(0), r.getDouble(1)) }
    // warm every pool on the pre-append corpus
    val tiers: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("pq", () => Similarity.simAnnPq(spark, dir)),
      ("int8", () => Similarity.simAnnInt8(spark, dir)),
      ("ivfpq", () => Similarity.simAnnIvfPq(spark, dir)),
      ("lsh", () => Similarity.simAnnLsh(spark, dir)),
      ("ivf", () => Similarity.simAnnIvf(spark, dir)))
    val before = tiers.map { case (n, f) => n -> top1(f()) }.toMap
    assert(before.values.forall(_._1 != 5000L))
    // append the twin (identical embedding to the query vector 0)
    Seq((5000L, vecs.head._2)).toDF("vec_id", "embedding")
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    tiers.foreach { case (name, f) =>
      val (id, sim) = top1(f())
      assert(id == 5000L && sim >= 0.999999,
        s"$name: post-append top-1 must be the planted twin (got $id @ $sim) - " +
          "a stale candidate pool or catalog listing survived the mutation")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("LSH group files store band_key sorted - the row-group pruning premise") {
    // the group-dir format (r17) relies on FileFormatWriter PRESERVING
    // the pre-write sortWithinPartitions order (it skips its own
    // partition-col sort when the child ordering already covers the
    // partition columns) so a probe's pushed band_key equality can prune
    // row groups by footer stats. If a Spark upgrade or a write-path
    // change re-sorts or loses the order, this fails before the perf
    // claim silently dies.
    val path = AnnIndex.ensureLsh(spark, sf)
    // ensureBuilt returns a qualified URI (file:/...) — resolve to a local path
    val fs = new java.io.File(
      if (path.contains(":")) new java.net.URI(path).getPath else path)
    val groupDirs = fs.listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.isDirectory))
    assert(groupDirs.nonEmpty, s"no (band_id, band_grp) group dirs under $path")
    groupDirs.foreach { d =>
      d.listFiles().filter(f => f.getName.endsWith(".parquet")).foreach { f =>
        val keys = spark.read.parquet(f.getPath)
          .select("band_key").collect().map(_.getLong(0))
        assert(keys.sameElements(keys.sorted),
          s"band_key out of order inside ${f.getPath} - row-group stats cannot prune")
      }
    }
  }

  test("a pre-v2 layout (same geometry, old dir grain) is refused at append: rebuild") {
    import spark.implicits._
    // a v2 stream appending (band_id, band_grp) dirs into a v1
    // (band_id, band_key) layout passes the GEOMETRY equality check
    // (grpShift derives from bandBits) and would leave a mixed partition
    // tree whose reads die on a partition-column conflict. The in-place
    // migration is retired: the guard refuses with a rebuild message and
    // leaves every v1 file as it was
    val out = Files.createTempDirectory("lsh_v1_marker").toString
    val g = AnnIndex.LshFloorGeom
    // physical v1 grain: band_key as a partition DIRECTORY
    val rows = Seq((5L, Seq(0.4, 0.1, -0.6, 0.2)), (9L, Seq(0.7, -0.3, 0.2, 0.5)))
    val banded = rows.toDF("vec_id", "v").transform(AnnIndex.bandify(_, g))
    banded.write.mode("append").partitionBy("band_id", "band_key").parquet(out)
    val expect = banded.select("vec_id", "band_id", "band_key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val mp = new org.apache.hadoop.fs.Path(out, "_graft_lsh_geom")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(mp, true)
    os.write(s"${g.bands} ${g.bandBits} ${g.seed}".getBytes("UTF-8")) // no format token
    os.close()
    // markLshGeom alone must NOT legitimize the v1 grain (the r17 ADVICE
    // hole: stamping v2 without moving the data re-enables the mixed tree)
    val e = intercept[IllegalStateException] {
      AnnIndex.markLshGeom(spark, out, g)
    }
    assert(e.getMessage.contains("migrat"),
      s"must point at the migration remedy, got: ${e.getMessage}")
    def files(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val root = Paths.get(out)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString ->
          (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally walk.close()
    }
    val before = files()
    val refused = intercept[IllegalStateException] {
      AnnIndex.assertLshGeomMarker(spark, out, g)
    }
    assert(refused.getMessage.contains("rebuild") && refused.getMessage.contains(out),
      s"must name the layout and the rebuild remedy, got: ${refused.getMessage}")
    assert(files() == before, "a refused append must leave the v1 layout untouched")
    assert(AnnIndex.readLshMarkerFormat(spark, out).contains("v1"))
    val got = spark.read.parquet(out)
      .select(col("vec_id"), col("band_id").cast("int"), col("band_key").cast("bigint"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expect, "every v1 (vec, band, key) row stays readable")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
