package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SessionCache

/** Product-quantization serving store — the compression tier past int8.
  *
  * [[graft.operators.Similarity.quantizeEmbed]]'s int8 store is 4×
  * smaller than f32; PQ at the default [[M]]×[[Ksub]] geometry stores
  * ONE BYTE per subspace — 8 bytes per 64-dim vector, 64× smaller than
  * the f64 column and 32× smaller than f32. At 100 TB of raw
  * embeddings that is the difference between a serving store that
  * needs a storage tier of its own and one that fits in the page cache
  * of a modest cluster. Query-side ADC (asymmetric distance
  * computation) replaces per-row vector arithmetic with `m` table
  * lookups per row (`pq_adc`), so the candidate scan is memory-bound
  * on 8-byte codes instead of compute-bound on 512-byte vectors.
  *
  * Training is per-subspace Lloyd on the SAME deterministic corpus
  * sample discipline as the IVF codebook ([[AnnIndex.kmeansSample]]):
  * bounded rows, (xxhash64(vec_id), vec_id)-ordered, so every JVM
  * derives identical codebooks for a corpus version. The sample is
  * collected (≤ [[TrainSample]]×d doubles ≈ 8 MB) and trained
  * driver-side: ksub=256 centroids over ≤16 K 8-dim points × m=8
  * subspaces is ~10⁸ mult-adds per Lloyd pass — millisecond-scale,
  * far below the cost of shipping 8 distributed k-means jobs, and the
  * sequential fold is what makes the codebook bit-deterministic.
  * Codebooks are cached per (dir, corpus version) with the
  * superseded-version eviction the centroid cache uses.
  *
  * Vectors are NORMALIZED before encoding, so ADC dot products
  * approximate cosine directly; reference design: Jégou, Douze,
  * Schmid, "Product Quantization for Nearest Neighbor Search", IEEE
  * TPAMI 2011 (public literature — the reference repo has no ANN
  * surface; see waddleml _schema.py:3-72 for the full extent of its
  * data model).
  */
object PqIndex {

  /** Subspaces (bytes per code). d must divide by it (64-dim testdata
    * → 8-dim subvectors). */
  val M = 8
  /** Centroids per subspace — 256 keeps a code inside one byte. */
  val Ksub = 256
  /** Training-sample cap: PQ quality saturates around ~100× ksub
    * points per subspace; 16 K rows is past that and bounds the
    * driver collect at ~8 MB for d=64. */
  val TrainSample = 16384
  /** Lloyd passes (matches the IVF codebook's build). */
  val LloydIters = 5
  /** Default exact-re-rank pool for the ADC retrieve (the PQ recall
    * knob — see [[graft.operators.Similarity.simAnnPq]]). */
  val DefaultRerank = 100

  /** Conf-able re-rank pool: `spark.graft.ann.pqRerank`. */
  def rerank(spark: SparkSession): Int =
    spark.conf.get("spark.graft.ann.pqRerank", DefaultRerank.toString).toInt

  /** Deterministic per-subspace codebooks for the corpus at `dir`,
    * flattened to the `pq_encode`/`pq_adc` layout ([j][c][t]). One
    * [[SessionCache.memo]] entry per (session, dir): a new corpus version
    * replaces the old codebook, and the training job runs outside every
    * map lock. */
  def codebooks(
      spark: SparkSession, dir: String, version: String): Array[Double] =
    SessionCache.memo(spark, dir, version, "pq.codebooks") {
      val sample: Array[Array[Double]] =
        AnnIndex.kmeansSample(spark, dir, TrainSample)
          .dropDuplicates("vec_id")
          .orderBy(xxhash64(col("vec_id"), lit(42)), col("vec_id"))
          .collect().map(_.getSeq[Double](1).toArray)
      train(sample)
    }

  /** Per-subspace Lloyd over the normalized sample; pure function of
    * the sample order (seeded init = first ksub DISTINCT subvectors,
    * argmin ties to the lower code, empty clusters keep their
    * centroid), so two JVMs derive identical bytes. Exposed for the
    * spec's determinism and reconstruction assertions.
    */
  private[graft] def train(sampleRaw: Array[Array[Double]]): Array[Double] = {
    require(sampleRaw.nonEmpty, "pq: empty training sample")
    val d = sampleRaw.head.length
    require(d % M == 0, s"pq: dim $d not divisible by $M subspaces")
    val dsub = d / M
    val sample = sampleRaw.map(normalize)
    val out = new Array[Double](M * Ksub * dsub)
    var j = 0
    while (j < M) {
      val pts = sample.map(_.slice(j * dsub, (j + 1) * dsub))
      // init: first Ksub distinct subvectors in sample order; corpora
      // with fewer distinct subvectors pad by repeating the last one —
      // duplicate centroids never win an argmin tie (lower code wins),
      // so padding is inert
      val distinct = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      val seen = scala.collection.mutable.HashSet[Seq[Double]]()
      for (p <- pts if distinct.size < Ksub) {
        if (seen.add(p.toSeq)) distinct += p
      }
      val cents = Array.tabulate(Ksub)(c =>
        distinct(math.min(c, distinct.size - 1)).clone())
      for (_ <- 1 to LloydIters) {
        val sums = Array.fill(Ksub)(new Array[Double](dsub))
        val counts = new Array[Long](Ksub)
        for (p <- pts) {
          val c = nearest(p, cents)
          counts(c) += 1
          var t = 0
          while (t < dsub) { sums(c)(t) += p(t); t += 1 }
        }
        var c = 0
        while (c < Ksub) {
          if (counts(c) > 0) {
            var t = 0
            while (t < dsub) { cents(c)(t) = sums(c)(t) / counts(c); t += 1 }
          } // empty cluster: keep the previous centroid
          c += 1
        }
      }
      var c = 0
      while (c < Ksub) {
        System.arraycopy(cents(c), 0, out, (j * Ksub + c) * dsub, dsub)
        c += 1
      }
      j += 1
    }
    out
  }

  private def nearest(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      var dist = 0.0; var t = 0
      while (t < p.length) {
        val diff = p(t) - cents(c)(t); dist += diff * diff; t += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  private[graft] def normalize(v: Array[Double]): Array[Double] = {
    var nrm = 0.0; var i = 0
    while (i < v.length) { nrm += v(i) * v(i); i += 1 }
    if (nrm == 0.0) v.clone()
    else {
      val inv = 1.0 / math.sqrt(nrm)
      val out = new Array[Double](v.length)
      i = 0
      while (i < v.length) { out(i) = v(i) * inv; i += 1 }
      out
    }
  }

  /** The PQ serving store: (vec_id, codes BINARY(m)) — a VIEW over the
    * on-disk PQ-coded inverted file ([[AnnIndex.ensureIvfPq]]) with the
    * cell column dropped: the flat-ADC tier and the cell-pruned IVF-PQ
    * tier serve from ONE family (the codes are identical by
    * construction — same codebooks, same `pq_encode`). Earlier this was
    * its own SessionCache artifact, which paid a full corpus pass per
    * SESSION; the on-disk family costs that pass once per corpus
    * VERSION and persists across JVMs, and unifying them means a stale
    * code store cannot exist in one tier but not the other.
    *
    * Trade, stated plainly: a flat scan of the cluster-partitioned
    * layout opens one file per cell — √n files ([[AnnIndex.pivotCount]]
    * cells, ~2K at 4M vectors; 65K only at the multi-billion-vector
    * pivot cap). Fine for the mid-scale corpora the flat-ADC tier
    * serves; a corpus big enough for the file count to hurt is one the
    * cell-PRUNED IVF-PQ tier serves anyway (opening ≤ nprobe of those
    * files), which is the point of sharing the layout.
    */
  def store(spark: SparkSession, dir: String, version: String): DataFrame =
    AnnIndex.ivfPq(spark, dir, version).select(col("vec_id"), col("codes"))

  /** Per-query ADC lookup table (driver math — m·ksub doubles):
    * lut[j][c] = dot(normalized query subvector j, centroid (j, c)).
    * Approximates cosine because stored codes are built from normalized
    * vectors too.
    */
  def lut(q: Array[Double], cbs: Array[Double]): Array[Double] = {
    val d = q.length
    require(d % M == 0 && cbs.length == Ksub * d,
      s"pq lut: dim $d vs codebook ${cbs.length}")
    val dsub = d / M
    val qn = normalize(q)
    val out = new Array[Double](M * Ksub)
    var j = 0
    while (j < M) {
      var c = 0
      while (c < Ksub) {
        val base = (j * Ksub + c) * dsub
        var s = 0.0; var t = 0
        while (t < dsub) { s += qn(j * dsub + t) * cbs(base + t); t += 1 }
        out(j * Ksub + c) = s
        c += 1
      }
      j += 1
    }
    out
  }
}
