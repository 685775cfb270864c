package graft

import java.math.MathContext
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The `analytics` and `curation` workloads: registry queries run over the
  * sf0.1 tables with every row delivered to the caller (`collect()`, never
  * `count()`).
  *
  * Setup is a cold pass that runs each query once from `cpus` threads,
  * building every session artifact and on-disk index. The timed phase is
  * sequential laps in a seed-permuted order. Every execution is checked
  * against the cold pass's answer; the cold answers themselves are dumped
  * for the DuckDB oracle and the rows-only pins.
  */
object PerfRegistry {
  /** (workload, module, queries): each registry query with the operator
    * module that builds it.
    */
  val Modules: Seq[(String, String, Seq[String])] = Seq(
    ("analytics", "Relational", Seq("q_filter_eq", "q_point_lookup", "q_prefix_like",
      "q_search_contains", "q_inlist_series", "q_list_sort_limit", "q_series_fetch",
      "q_distinct_keys", "q_last_per_group", "q_best_per_entity", "q_join_agg",
      "q_antijoin_absent", "q_rollup_revenue")),
    ("analytics", "Tracking", Seq("q_stale_detect", "q_upsert_latest", "q_window_rank",
      "q_delete_cascade", "q_param_pivot", "q_duration_derive", "q_display_format",
      "q_minmax_scale", "q_series_downsample", "q_json_extract", "q_quantiles",
      "q_histogram", "q_approx_distinct", "q_quantiles_approx", "q_series_smooth",
      "q_metric_trend")),
    ("analytics", "Temporal", Seq("q_asof_align", "q_sessionize")),
    ("analytics", "Analytics", Seq("q_set_ops", "q_metric_summary", "q_lag_delta",
      "q_range_join", "q_cube_orders", "q_window_analytics", "q_full_outer",
      "q_exists_subquery", "q_correlated_scalar", "q_heavy_hitters", "q_profile_events",
      "q_profile_events_hll")),
    ("curation", "Similarity", Seq("q_sim_topk", "q_sim_topk_batch", "q_sim_ann_batch",
      "q_ann_recall", "q_knn_label", "q_vector_norms", "q_sim_ann_lsh", "q_sim_ann_ivf",
      "q_cluster_profile", "q_index_health", "q_tier_advisor", "q_quantize_embed",
      "q_quantize_pq", "q_sim_ann_int8", "q_sim_ann_int8_batch", "q_sim_ann_pq",
      "q_sim_ann_ivfpq", "q_sim_ann_ivfpq_batch", "q_embed_dim_stats", "q_embed_outliers")),
    ("curation", "Dedup", Seq("q_dedup_exact", "q_dedup_minhash", "q_dedup_clusters",
      "q_dedup_simhash", "q_dedup_simhash_pairs", "q_dedup_ngram", "q_dedup_embed",
      "q_dedup_source_overlap", "q_dedup_keep", "q_dedup_incremental", "q_dup_inflation")),
    ("curation", "TextAnalysis", Seq("q_text_stats", "q_text_tokens", "q_text_quality",
      "q_text_langid", "q_text_tfidf", "q_lm_quality", "q_lm_filter", "q_text_chunks",
      "q_text_fingerprint", "q_text_redact", "q_decontaminate", "q_mix_report",
      "q_ngram_counts", "q_text_repetition", "q_text_compress", "q_corpus_filter",
      "q_source_quality", "q_boilerplate", "q_top_passages", "q_source_drift",
      "q_topic_terms", "q_pii_card")),
    ("curation", "Sampling", Seq("q_sample_balanced", "q_split_assign", "q_pack_sequences",
      "q_length_bins", "q_shuffle_shards", "q_mix_sample", "q_domain_cap")),
    ("curation", "Multimodal", Seq("q_multimodal_meta", "q_multimodal_decode",
      "q_multimodal_frames", "q_multimodal_resize")))

  /** Fewest sequential samples per run: the p70 needs ten beyond it. */
  val MinSeqSamples = 34

  /** `wrong`: delivered, but unlike the cold pass's answer. */
  final case class Exec(name: String, phase: String, lap: Int, ok: Boolean, wrong: Boolean,
      ms: Double, buildMs: Double, rows: Long, err: String, phases: Map[String, Double]) {
    def toJson: Map[String, Any] = Map("name" -> name, "phase" -> phase, "lap" -> lap,
      "ok" -> ok, "wrong" -> wrong, "ms" -> (if (ok) ms else Double.NaN), "build_ms" -> buildMs,
      "rows" -> rows, "err" -> err) ++ phases.map { case (k, v) => s"phase_$k" -> v }
  }

  private val Nine = new MathContext(9)

  private def canonCell(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(Nine).stripTrailingZeros.toString
    case f: Float => canonCell(f.toDouble)
    case b: java.math.BigDecimal => b.round(Nine).stripTrailingZeros.toString
    case s: scala.collection.Seq[_] => s.map(canonCell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canonCell).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  /** Answer identity: sha-256 over the rows, doubles at 9 significant
    * digits; order-insensitive unless the query's order is part of its
    * answer (the oracle queries end in a total ORDER BY).
    */
  def digest(rows: Array[Row], ordered: Boolean): String = {
    val lines = rows.map(_.toSeq.map(canonCell).mkString("|"))
    val md = MessageDigest.getInstance("SHA-256")
    (if (ordered) lines else lines.sorted).foreach { l =>
      md.update(l.getBytes(UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Time one call: the wait runs from the builder call to the last
    * delivered row. A throw yields a failed sample with no time.
    */
  def timed(run: () => (() => Array[Row])): (Boolean, Double, Double, Array[Row], String) = {
    val t0 = System.nanoTime()
    try {
      val exec = run()
      val t1 = System.nanoTime()
      val rows = exec()
      val t2 = System.nanoTime()
      (true, (t2 - t0) / 1e6, (t1 - t0) / 1e6, rows, "")
    } catch {
      case e: InterruptedException => throw e
      case e: Throwable =>
        (false, Double.NaN, Double.NaN, null,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
  }

  def run(ctx: PerfBench.Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val o = ctx.opts
    val reg = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val mods = Modules.filter(_._1 == o.workload)
    val moduleOf = (for ((_, m, qs) <- mods; q <- qs) yield q -> m).toMap
    val names = mods.flatMap(_._3).filter(reg.contains)
    val notes = mods.flatMap(_._3).filterNot(reg.contains).map(q => s"$q is not in the registry")
    val rng = new scala.util.Random(o.seed)
    val execs = new ConcurrentLinkedQueue[Exec]()
    val reference = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val schemas = new java.util.concurrent.ConcurrentHashMap[String, String]()

    def once(name: String, phase: String, lap: Int, parent: Long): (Exec, Array[Row]) = {
      spark.sparkContext.setJobGroup(s"$phase|$lap|$name", name)
      try ctx.spans.span(parent, "query", Map("query" -> name, "phase" -> phase, "lap" -> lap)) { qid =>
        var df: org.apache.spark.sql.DataFrame = null
        val (ok, ms, buildMs, rows, err) = timed { () =>
          val b0 = System.nanoTime()
          df = reg(name)(spark, o.data)
          ctx.spans.record(qid, "build", b0, System.nanoTime())
          () => ctx.spans.span(qid, "execute")(_ => df.collect())
        }
        val phases =
          if (ok && o.trace) df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
          else Map.empty[String, Double]
        if (ok && phase == "cold")
          schemas.put(name, df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
        // the answer check runs after the clock stopped
        val e = Exec(name, phase, lap, ok, wrong = false, ms, buildMs, if (ok) rows.length else 0, err, phases)
        val checked = if (!ok) e else {
          val d = digest(rows, oracle.contains(name))
          val ref = Option(reference.putIfAbsent(name, d)).getOrElse(d)
          if (ref == d) e else e.copy(ok = false, wrong = true, err = "answer differs from the cold pass")
        }
        execs.add(checked)
        (checked, rows)
      } finally spark.sparkContext.clearJobGroup()
    }

    /** The cold pass: `order` once each from `cpus` threads, keeping each
      * answer; returns wall seconds.
      */
    def coldPass(order: Seq[String], parent: Long, answers: java.util.Map[String, Array[Row]]): Double = {
      val queue = new ConcurrentLinkedQueue[String](order.asJava)
      val pool = Executors.newFixedThreadPool(ctx.cpus)
      val t0 = System.nanoTime()
      (1 to ctx.cpus).foreach { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var q = queue.poll()
            while (q != null) {
              val (e, rows) = once(q, "cold", 0, parent)
              if (e.ok) answers.put(q, rows)
              q = queue.poll()
            }
          }
        })
      }
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.HOURS)
      (System.nanoTime() - t0) / 1e9
    }

    val artifactLog0 = sources.SessionCache.buildLog.size
    val planLog0 = sources.PlanCache.buildLog.size
    val dumps = o.out.resolve("dumps")
    Files.createDirectories(dumps)
    val cold = new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()

    ctx.spans.span(0, s"workload:${o.workload}") { root =>
      // ---- setup: the cold pass, every artifact and index built once
      // modules interleave so the index builds overlap the other modules' work
      val coldOrder = mods.map(_._3.filter(reg.contains))
        .flatMap(_.zipWithIndex).sortBy(_._2).map(_._1)
      val coldWall = ctx.spans.span(root, "lap", Map("phase" -> "cold")) { lid =>
        coldPass(coldOrder, lid, cold)
      }
      val setupS = (System.currentTimeMillis() - ctx.processStartMs) / 1000.0
      val artifactLog1 = sources.SessionCache.buildLog.size
      val planLog1 = sources.PlanCache.buildLog.size
      // verification dumps (outside every timed region), then release
      cold.asScala.foreach { case (q, rows) =>
        if (oracle.contains(q)) PerfJson.writeRows(dumps.resolve(s"$q.jsonl"), rows)
      }
      cold.clear()

      // ---- timed: sequential laps
      val host = new PerfHost.Window
      val agg0 = ctx.layerTotals()
      val minLaps = math.ceil(MinSeqSamples.toDouble / math.max(1, names.size)).toInt
      val t0 = System.nanoTime()
      val seqLaps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      // laps continue while another one still fits in the window
      def fits = {
        val last = seqLaps.lastOption.map(_("wall_s").asInstanceOf[Double]).getOrElse(0.0)
        (System.nanoTime() - t0) / 1e9 + last <= o.seconds
      }
      while (seqLaps.size < minLaps || fits) {
        val lap = seqLaps.size + 1
        val order = rng.shuffle(names)
        val l0 = System.nanoTime()
        val lapOk = ctx.spans.span(root, "lap", Map("phase" -> "seq", "lap" -> lap)) { lid =>
          order.map(q => once(q, "seq", lap, lid)._1.ok).forall(identity)
        }
        seqLaps += Map("lap" -> lap, "wall_s" -> (System.nanoTime() - l0) / 1e9, "ok" -> lapOk)
      }
      val seqWallS = (System.nanoTime() - t0) / 1e9
      val aggSeq = ctx.layerTotals()
      val hostRec = host.close()
      val artifactLog2 = sources.SessionCache.buildLog.size
      val planLog2 = sources.PlanCache.buildLog.size

      val all = execs.asScala.toSeq
      val layers =
        if (!o.trace) Map.empty[String, Any]
        else layerMetrics(ctx, all, moduleOf, seqLaps.map(_("wall_s").asInstanceOf[Double]).toSeq,
          aggSeq.map { case (k, v) => k -> v.minus(agg0.getOrElse(k, new PerfAgg)) }) ++ Map(
          "sources.artifact_builds" -> (artifactLog1 - artifactLog0),
          "sources.artifact_builds_timed" -> (artifactLog2 - artifactLog1),
          "sources.plan_builds" -> (planLog1 - planLog0),
          "sources.plan_builds_timed" -> (planLog2 - planLog1),
          "sources.pinned_mb" -> pinnedMb(spark),
          "sources.index_mb" -> PerfBench.dirBytes(o.out.resolve("ann")) / 1048576.0)
      Map(
        "kind" -> "registry",
        "queries" -> names.map(q => q -> Map("module" -> moduleOf(q),
          "oracle" -> oracle.contains(q), "schema" -> Option(schemas.get(q)).getOrElse(""))).toMap,
        "oracle_sql" -> names.filter(oracle.contains).map(q => q -> oracle(q)).toMap,
        "execs" -> all.map(_.toJson),
        "setup_s" -> setupS,
        "cold_wall_s" -> coldWall,
        "seq_laps" -> seqLaps.toSeq,
        "seq_wall_s" -> seqWallS,
        "artifact_builds_timed" -> (artifactLog2 - artifactLog1),
        "plan_builds_timed" -> (planLog2 - planLog1),
        "host" -> hostRec,
        "layers" -> layers,
        "notes" -> notes)
    }
  }

  /** Storage memory holding cached or checkpointed blocks, in MiB. */
  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / 1048576.0

  /** Per-layer numbers for the sequential laps: Spark totals per query,
    * the planner phases, and wall and executor time per operator module.
    */
  private def layerMetrics(ctx: PerfBench.Ctx, all: Seq[Exec], moduleOf: Map[String, String],
      lapWalls: Seq[Double], seqAgg: Map[String, PerfAgg]): Map[String, Any] = {
    val seq = all.filter(e => e.phase == "seq" && e.ok)
    val n = math.max(1, seq.size).toDouble
    val laps = math.max(1, lapWalls.size).toDouble
    val seqGroups = seqAgg.filter(_._1.startsWith("seq|"))
    val t = seqGroups.values.foldLeft(new PerfAgg)(_ += _)
    def phase(k: String) = PerfStats.mean(seq.map(_.phases.getOrElse(k, 0.0)))
    val byModule = PerfRegistry.Modules.map(_._2).map { m =>
      val wall = seq.filter(e => moduleOf.get(e.name).contains(m)).map(_.ms).sum / laps
      val exec = seqGroups.filter(g => moduleOf.get(g._1.split('|').last).contains(m))
        .values.map(_.runMs).sum / laps
      Seq(s"operators.$m.wall_ms" -> wall, s"operators.$m.executor_ms" -> exec)
    }.flatten.toMap
    Map(
      "spark.analysis_ms" -> phase("analysis"),
      "spark.optimization_ms" -> phase("optimization"),
      "spark.planning_ms" -> phase("planning"),
      "spark.jobs" -> t.jobs / n,
      "spark.stages" -> t.stages / n,
      "spark.tasks" -> t.tasks / n,
      "spark.tasks_per_stage" -> (if (t.stages == 0) 0.0 else t.tasks.toDouble / t.stages),
      "spark.core_busy_ratio" -> t.runMs / (lapWalls.sum * 1000.0 * ctx.cpus),
      "spark.executor_run_ms" -> t.runMs / n,
      "spark.executor_cpu_ms" -> t.cpuNs / 1e6 / n,
      "spark.gc_ms" -> t.gcMs / n,
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes / n,
      "spark.shuffle_records" -> t.shuffleRecords / n,
      "spark.spill_bytes" -> t.spillBytes / n,
      "spark.input_bytes" -> t.inputBytes / n,
      "spark.input_records" -> t.inputRecords / n,
      "spark.result_bytes" -> t.resultBytes / n,
      "operators.build_ms" -> PerfStats.mean(seq.map(_.buildMs))) ++ byModule
  }
}
