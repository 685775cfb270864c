package graft

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.atomic.LongAdder

/** Per-query shuffle-volume audit — the number that decides whether a plan
  * survives a 100× scale-up. Plan-shape pins (PlanSpec) prove the INTENDED
  * topology (broadcasts, pushdown, banding); this measures what the
  * topology actually moves: a query whose shuffle volume tracks its input
  * size re-partitions the corpus and becomes the bottleneck at 100 TB,
  * while one whose shuffle stays card/histogram/band-sized scales with the
  * ANSWER, not the data. Run at two scale factors and diff the growth —
  * SCALING.md records the sf0.01 → sf0.1 table.
  *
  * The same listener counts each query's jobs, completed stages and
  * tasks — the deterministic half of the wall model (wall ≈ stages ×
  * scheduling floor + data work). Wall times on a steal-bursty host
  * wobble ±50%; stage counts don't, so a lost exchange reuse or a
  * broadcast demoted to a join stage chain is attributable even from a
  * noisy run (SCALING.md "Stage-count budget").
  *
  * Protocol: one warm-up lap over the audited queries first, so
  * SessionCache artifacts (verdict frame, LM scores, tfidf, band stores)
  * are built before measurement — the audit reports the steady-state
  * serve-many cost, matching how a long-lived engine runs; artifact
  * construction is a one-time train cost already benched in BASELINE.md.
  *
  * Measurement notes:
  *  - the action is a `noop` write, NOT `count()`: under a count Catalyst
  *    prunes every column the row count doesn't need (it can collapse an
  *    aggregate to its grouping keys and eliminate the final sort), so a
  *    count-audit measures a skeleton of the query;
  *  - `inputMetrics.bytesRead` mixes file-scan bytes with block-manager
  *    reads (SessionCache checkpoint blocks land there) and under-reports
  *    some vectorized parquet scans, so RECORDS are the input measure;
  *    shuffle WRITE metrics are exact;
  *  - the listener bus is async, so each snapshot first drains it
  *    ([[org.apache.spark.GraftBus.drain]]; a stuck bus throws instead
  *    of returning short deltas).
  */
object ShuffleAudit {

  /** Families chosen so every scale-critical mechanism is covered:
    * broadcast joins, banded dedup, index-probed ANN, histogram capping,
    * artifact probes, sufficient-stats agg, two-phase windows.
    */
  val DefaultQueries: Seq[String] = Seq(
    "q_join_agg", "q_rollup_revenue", "q_metric_trend",
    "q_dedup_exact", "q_dup_inflation", "q_dedup_minhash", "q_dedup_ngram",
    "q_dedup_incremental", "q_dedup_embed", "q_dedup_simhash_pairs",
    "q_dedup_clusters",
    "q_sim_topk", "q_sim_ann_ivf", "q_sim_ann_lsh",
    "q_sim_ann_batch", "q_sim_ann_int8", "q_sim_ann_int8_batch",
    "q_sim_ann_pq", "q_sim_ann_ivfpq", "q_sim_ann_ivfpq_batch",
    "q_domain_cap", "q_corpus_filter", "q_decontaminate",
    "q_text_tfidf", "q_pack_sequences", "q_heavy_hitters",
    "q_json_extract", "q_embed_outliers", "q_boilerplate",
    "q_profile_events")

  final case class Audit(
      inputRecords: Long, shuffleBytes: Long, shuffleRecords: Long,
      jobs: Long, stages: Long, tasks: Long)

  /** Full execution of every output column, nothing delivered — the
    * audit's action and ScaleBench's timed one.
    */
  private[graft] def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run `names` against `sfDir` (after a warm-up lap) and return each
    * query's measured task metrics. Shared by [[main]], ScaleBench and
    * ShuffleAuditSpec, which pins the zero-/card-sized-shuffle invariants
    * and the stage counts of the documented topologies.
    */
  def measure(
      spark: SparkSession,
      sfDir: String,
      names: Seq[String]): Map[String, Audit] =
    measureFrames(spark,
      names.map(n => n -> (() => SparkEntry.queries(n)(spark, sfDir))))

  /** As [[measure]] over explicit frame thunks — lets a spec audit a
    * build seam (e.g. an artifact's pair search) that the registry only
    * exposes behind a SessionCache, where the steady-state query
    * rightfully shuffles nothing.
    */
  def measureFrames(
      spark: SparkSession,
      frames: Seq[(String, () => DataFrame)]): Map[String, Audit] = {
    frames.foreach { case (n, f) =>
      try exec(f())
      catch { case e: Throwable =>
        System.err.println(s"[audit] warm-up $n failed: ${e.getMessage}") }
    }
    val inputRecs = new LongAdder
    val shuffle = new LongAdder
    val shuffleRecs = new LongAdder
    val jobs = new LongAdder
    val stages = new LongAdder
    val tasks = new LongAdder
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.increment()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks.increment()
        val m = te.taskMetrics
        if (m != null) {
          inputRecs.add(m.inputMetrics.recordsRead)
          shuffle.add(m.shuffleWriteMetrics.bytesWritten)
          shuffleRecs.add(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    }
    val counters = Seq(inputRecs, shuffle, shuffleRecs, jobs, stages, tasks)
    def snapshot(): Seq[Long] = {
      GraftBus.drain(spark.sparkContext)
      counters.map(_.sum)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      frames.flatMap { case (n, f) =>
        val before = snapshot()
        val ran = try { exec(f()); true } catch { case e: Throwable =>
          System.err.println(s"[audit] $n failed: ${e.getMessage}")
          false
        }
        Option.when(ran) {
          val d = snapshot().zip(before).map { case (a, b) => a - b }
          n -> Audit(d(0), d(1), d(2), d(3), d(4), d(5))
        }
      }.toMap
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create()
    // `--conf=key=value` args set session confs before the audit — how the
    // SCALING.md both-ways rows (e.g. profile approxDistinct) are measured
    val (confs, queryArgs) = args.toSeq.partition(_.startsWith("--conf="))
    confs.foreach { c =>
      val kv = c.stripPrefix("--conf=").split("=", 2)
      spark.conf.set(kv(0), kv(1))
    }
    val names = if (queryArgs.nonEmpty) queryArgs else DefaultQueries
    val audits = measure(spark, sfDir, names)
    var totalSh = 0L
    names.foreach { n =>
      audits.get(n) match {
        case Some(a) =>
          totalSh += a.shuffleBytes
          println(s"""{"query":"$n","input_records":${a.inputRecords},"shuffle_bytes":${a.shuffleBytes},"shuffle_records":${a.shuffleRecords},"jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks}}""")
        case None =>
          println(s"""{"query":"$n","error":"failed"}""")
      }
    }
    println(s"""{"total_shuffle_bytes":$totalSh,"sf_dir":"$sfDir","n_queries":${names.size}}""")
    spark.stop()
  }
}
