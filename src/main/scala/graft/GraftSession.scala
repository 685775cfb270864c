package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify, Bench, and tests agree.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting, dynamic
  * coalescing), shuffle partitions sized to cores for local runs (a cluster
  * deployment would size to total cores and let AQE coalesce), nanos-parquet
  * read enabled for the `events` table (see [[graft.sources.Tables.events]]).
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions { ext =>
        graft.plans.MinHashSignature.inject(ext)
        graft.plans.NGramHashes.inject(ext)
        graft.plans.IntersectCountSorted.inject(ext)
        graft.plans.CosineSim.inject(ext)
        graft.plans.HyperplaneBits.inject(ext)
        graft.plans.MinHashUnion.inject(ext)
        graft.plans.WeightedDotSorted.inject(ext)
        graft.plans.SimHash64.inject(ext)
        graft.plans.DecimalFolds.inject(ext)
        graft.plans.IvfArgmaxFlat.inject(ext)
        graft.plans.IvfMaxCos.inject(ext)
        graft.plans.IvfArgmaxTwo.inject(ext)
        graft.plans.PqEncode.inject(ext)
        graft.plans.PqAdc.inject(ext)
        graft.plans.PqReconErr.inject(ext)
        graft.plans.OptimizerFence.inject(ext)
      }
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status listeners run with the UI off too, and by default keep
      // 1,000 jobs, stages and SQL executions (plus 100k tasks per stage)
      // — a long-lived session's heap grew ~95 KB per registry query until
      // those caps. Nothing here reads old entries back (ShuffleAudit and
      // the profilers use their own listeners), so keep a short tail.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      // AQE on is the cluster posture (runtime re-plan, skew splitting);
      // SPARK_GRAFT_AQE=false exists to measure its fixed re-planning cost
      // on small inputs (see BASELINE.md)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION", "1m"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // Output commit algorithm stays at the Hadoop DEFAULT (v1): v2
      // moves files at TASK commit, so a mid-job failure leaves
      // task-committed partial files VISIBLE in the destination — and the
      // ledgered streaming sinks (Layout.appendPartitionedIdempotent /
      // appendBatchIdempotent) append directly into served layouts with
      // no staging rename, so a v2 partial batch followed by the
      // ledger-driven replay of that batchId would duplicate the partial
      // rows permanently. r17 ran v2 session-wide on the argument that
      // every write is atomically published; that argument is FALSE for
      // the mode(append) sinks, so v2 is now scoped per-write
      // ([[graft.sources.Layout.CommitterV2]]) to exactly the writes that
      // ARE staged-then-renamed: the ensureBuilt index builds (where v1's
      // driver-sequential commitJob renames cost 57 of the r17 LSH
      // build's 57 s at 4,090 bucket dirs) and the compaction staging
      // rewrite. Appends keep v1's guarantee: an uncommitted job leaves
      // nothing listable, and the ledger replay is exact.
      // the generated-class cache defaults to 100 entries; a 68-query
      // mixed workload carries several codegen units per query, so at the
      // default size repeat executions (warm service, bench laps) evict
      // and RECOMPILE every plan — Janino compile + class-load per query
      // per pass. Sized so the whole suite's units stay resident.
      .config("spark.sql.codegen.cache.maxEntries", "2000")

  def create(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
