package graft

import graft.operators.TextAnalysis
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Pins `Tables.spread`'s adaptive contract: the scan-spread exists ONLY
  * for under-parallelized input (the single-file local testdata); input
  * that already arrives in >= cores partitions must pass through with NO
  * added exchange — an unconditional round-robin repartition would
  * re-shuffle a whole corpus at scale for parallelism the scan already
  * has (the bug the shuffle audit surfaced in round 10).
  */
class SpreadSpec extends SparkSpec {

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("single-split input is spread to all cores") {
    val docs = Tables.documents(spark, sf) // one local file → 1 split
    assume(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val spreadDf = Tables.spread(docs)
    assert(spreadDf.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("pre-split input passes through with zero added shuffle") {
    val par = spark.sparkContext.defaultParallelism
    val dir = tmp("graft_presplit")
    // write >= cores files so the scan naturally parallelizes
    Tables.documents(spark, sf).repartition(par + 2)
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val multi = spark.read.parquet(s"$dir/docs.parquet")
    assume(multi.rdd.getNumPartitions >= par)
    val out = Tables.spread(multi)
    // same frame back: no exchange in the plan at all
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"spread added an exchange to pre-split input:\n$plan")
    assert(out.rdd.getNumPartitions == multi.rdd.getNumPartitions)
  }

  test("a post-exchange frame is rejected at plan time") {
    val docs = Tables.documents(spark, sf)
    // each of these would let the .rdd probe materialize query stages
    val offenders = Seq(
      docs.repartition(4),
      docs.groupBy("lang").count(),
      docs.join(docs.select("doc_id"), "doc_id"),
      docs.orderBy("doc_id"),
      docs.select("lang").distinct())
    offenders.foreach { bad =>
      val e = intercept[IllegalArgumentException](Tables.spread(bad))
      assert(e.getMessage.contains("scan-rooted"), e.getMessage)
    }
    // the allowed shape still passes: scan + filter + projection
    assert(Tables.spread(
      docs.where(col("doc_id") > 0).select("doc_id", "lang")) ne null)
    offenders.foreach { bad =>
      val e = intercept[IllegalArgumentException](
        Tables.sortedByDocId(bad)(identity))
      assert(e.getMessage.contains("scan-rooted"), e.getMessage)
    }
  }

  // the per-document text outputs on Tables.sortedByDocId, each with the
  // expression its projection exists for
  private val perDoc: Seq[(String, String => DataFrame, String)] = Seq(
    ("q_text_fingerprint", TextAnalysis.textFingerprint(spark, _), "ngram_hashes"),
    ("q_text_redact", TextAnalysis.textRedact(spark, _), "regexp_replace"),
    ("q_text_repetition", TextAnalysis.textRepetition(spark, _), "zip_with"),
    ("q_text_tokens", TextAnalysis.textTokens(spark, _), "regexp_extract_all"),
    ("q_text_quality", TextAnalysis.textQuality(spark, _), "array_distinct"))

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  private def rangeExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }
  private def evaluates(p: SparkPlan, fn: String): Boolean =
    p.exists(_.expressions.exists(_.exists(_.prettyName == fn)))

  // sf0.001 documents rewritten as cores+2 files, so the scan arrives
  // pre-split (the other regime from the one-file local testdata)
  private lazy val presplitDocs: String = {
    val dir = tmp("graft_presplit_docs")
    Tables.documents(spark, sf).repartition(spark.sparkContext.defaultParallelism + 2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("sortedByDocId: single-split and pre-split corpora give the same rows in the same order") {
    val par = spark.sparkContext.defaultParallelism
    assume(Tables.documents(spark, sf).rdd.getNumPartitions < par)
    assume(Tables.documents(spark, presplitDocs).rdd.getNumPartitions >= par)
    for ((name, q, _) <- perDoc) {
      val a = q(sf).collect().toSeq
      assert(a.nonEmpty, name)
      assert(a == q(presplitDocs).collect().toSeq, s"$name: rows or order differ between regimes")
      assert(a.map(_.getAs[Long]("doc_id")) == a.map(_.getAs[Long]("doc_id")).sorted, name)
    }
  }

  test("sortedByDocId: the raw scan is range-sorted, then projected, in both regimes") {
    // the projection must sit ABOVE the range exchange: below it, the
    // exchange's bounds sampler evaluates it a second time (and on a
    // single-split scan the map side runs it in one task)
    for (dir <- Seq(sf, presplitDocs); (name, q, fn) <- perDoc) {
      val p = physical(q(dir))
      val ranges = rangeExchanges(p)
      assert(ranges.size == 1, s"$name@$dir: expected one range exchange:\n$p")
      assert(evaluates(p, fn), s"$name@$dir: $fn missing from the plan:\n$p")
      assert(!evaluates(ranges.head, fn),
        s"$name@$dir: $fn runs below the range exchange:\n$p")
    }
  }
}
