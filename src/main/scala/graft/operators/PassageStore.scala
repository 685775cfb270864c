package graft.operators

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Layout, SessionCache, Tables}

/** Incrementally-maintained on-disk passage store — the (50-token
  * shingle-hash, source, doc_id, n_occ, preview) table behind
  * [[TextAnalysis.boilerplate]] / [[TextAnalysis.topPassages]] and both
  * of their cards, promoted from a rebuild-per-corpus-version session
  * artifact to a store that grows in O(drop) on append (r19 verdict #7:
  * at the 500k decade the per-version rebuild was a ~100 s / 101 MB
  * whole-corpus re-shingle; passage counts are additive, so an appended
  * batch only ever ADDS rows for its own docs).
  *
  * Layout: `<root>/passages_<family>/delta_NNN_<nonce>/{rows,covered}`.
  * Each delta is a self-contained parquet pair committed by an atomic
  * staging rename: `rows` holds the delta docs' passage rows, `covered`
  * the corpus PARQUET FILES (path, bytes, mtime) those docs came from.
  * The store for a corpus version is the UNION of its deltas — correct
  * because a document's rows live entirely in one delta (doc_id is
  * unique in the documents table), so per-delta grouping equals the
  * global groupBy a cold rebuild runs, row for row.
  *
  * Incremental contract — FILE-level coverage, not doc-level: corpus
  * parquet files are immutable once written (the universal object-store
  * layout discipline; the engine's own writers and compactors replace,
  * never edit). An ensure for a new corpus version diffs the current
  * file listing against the union of covered sidecars:
  *   - only NEW files → shingle just those files' docs into one new
  *     delta — O(drop) compute and IO, no corpus scan at all;
  *   - any covered file missing or changed (path/bytes/mtime — the same
  *     identity [[graft.sources.SessionCache.dirFingerprint]] hashes) →
  *     the append contract is broken (delete, compaction, in-place
  *     rewrite) → full rebuild from scratch. Conservative in exactly the
  *     direction that can never serve stale rows.
  * Unchanged-version probes are O(1): a `_fp_<token>` marker names the
  * corpus version the store currently mirrors; ensure returns on sight.
  * Crash safety: a delta is visible only after its rename (a torn build
  * leaves an orphaned `.staging_*`, swept on the next ensure); a crash
  * between rename and marker refresh re-runs the diff, finds no new
  * files, and just refreshes the marker — appends are idempotent.
  *
  * The reference recomputes passage statistics per query over its whole
  * store (waddle `_dashboard_api.py` aggregates per call); this is the
  * at-scale form of the same statistics.
  */
object PassageStore {

  val RowsSchema = "h STRING, source STRING, doc_id BIGINT, n_occ BIGINT, preview STRING"
  private val CoveredSchema = "path STRING, bytes BIGINT, mtime BIGINT"

  /** Test seam: invoked with the delta seq just before the commit rename,
    * so PassageStoreSpec can plant a RACING WINNER between the staging
    * write and the rename (the divergent-coverage race is a timing window
    * a spec cannot hit otherwise — the CompactionSpec crash-hook pattern).
    */
  private[graft] var testBeforeDeltaCommit: Int => Unit = _ => ()

  private def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.text.indexRoot")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir") + "/graft_text")

  /** Collision-free family id for a corpus dir (the AnnIndex.dirFamily
    * argument: 32-bit hashCode families would cross-evict).
    */
  private def dirFamily(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  /** The shingle transform — (doc_id, source, text) rows → one
    * (h, source, doc_id, n_occ, preview) row per distinct (50-token
    * non-overlapping window, doc). Shared VERBATIM by the batch
    * ensure and the streaming ingester
    * ([[graft.streaming.Streams.passageIngest]]) so streamed and
    * batch-built rows are bit-identical (the bandDocs discipline). A doc
    * arrives whole (one row), so the per-doc count aggregate is complete
    * within whatever batch carries it.
    */
  private[graft] def passageRows(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val starts = sequence(lit(0), size(col("toks")) - 50, lit(50))
    docs
      .select(col("doc_id"), col("source"), toks.as("toks"))
      .where(size(col("toks")) >= 50)
      .select(col("doc_id"), col("source"),
        explode(transform(starts, s => struct(
          md5(concat_ws(" ", slice(col("toks"), s + 1, lit(50)))).as("h"),
          // bounded human-readable evidence for topPassages — 8 tokens,
          // not the passage (the store stays key-only-sized)
          concat_ws(" ", slice(col("toks"), s + 1, lit(8))).as("preview"))))
          .as("sh"))
      .select(col("doc_id"), col("source"),
        col("sh.h").as("h"), col("sh.preview").as("preview"))
      .groupBy("h", "source", "doc_id")
      .agg(count(lit(1)).as("n_occ"), min("preview").as("preview"))
      .select("h", "source", "doc_id", "n_occ", "preview")
  }

  /** The merged store for the corpus at `dir` / version `fp` — ensures
    * first, then reads the union of delta rows (declared schema: the
    * partition-discovery-free read every store family uses).
    */
  def rows(spark: SparkSession, dir: String, fp: String): DataFrame = {
    val fam = ensure(spark, dir, fp)
    val famPath = new Path(fam)
    val fs = famPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // explicit delta paths, not a `delta_*` glob: same file set (every
    // listed delta is rename-committed), but the source resolution's
    // streaming-metadata probe stats the FIRST path literally and logs a
    // noisy FileNotFoundException WARN for a glob string
    val deltaRows = listDeltas(fs, famPath).map(d => s"$d/rows")
    Tables.spread(
      spark.read.schema(RowsSchema).parquet(deltaRows: _*))
  }

  /** Ensure once per (session, family, corpus version): a
    * [[SessionCache.memo]] entry, so the build runs outside every map
    * lock and a new corpus version is a miss that re-diffs the store. */
  def ensure(spark: SparkSession, dir: String, fp: String): String = {
    val fam = s"${root(spark)}/passages_${dirFamily(dir)}"
    SessionCache.memo(spark, dir, fp, s"passages|$fam") {
      ensureImpl(spark, dir, fp, fam); fam
    }
  }

  /** Corpus data files as (path, bytes, mtime) — the coverage identity. */
  private def corpusFiles(fs: FileSystem, dir: String): Seq[(String, Long, Long)] = {
    val table = new Path(s"$dir/documents.parquet")
    val it = fs.listFiles(table, true)
    val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith("_") && !name.startsWith("."))
        out += ((st.getPath.toUri.toString, st.getLen, st.getModificationTime))
    }
    out.toSeq
  }

  private def listDeltas(fs: FileSystem, famPath: Path): Seq[Path] =
    if (!fs.exists(famPath)) Nil
    else fs.listStatus(famPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("delta_"))
      .map(_.getPath).sortBy(_.getName)

  private def ensureImpl(
      spark: SparkSession, dir: String, fp: String, fam: String): Unit = {
    import spark.implicits._
    val famPath = new Path(fam)
    val fs = famPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tok = fp.replaceAll("[^A-Za-z0-9_-]", "_")
    val marker = new Path(famPath, s"_fp_$tok")
    if (fs.exists(marker)) return
    // sweep torn staging dirs (never visible to readers — delta_* glob)
    if (fs.exists(famPath))
      fs.listStatus(famPath).filter(_.getPath.getName.startsWith(".staging_"))
        .foreach(s => fs.delete(s.getPath, true))

    val current = corpusFiles(fs, dir)

    def writeDelta(seq: Int, files: Seq[(String, Long, Long)]): Unit = {
      val staging = new Path(famPath,
        s".staging_${UUID.randomUUID().toString.take(8)}")
      // explicit schema on the delta read: a cold ensure over a corpus
      // whose documents.parquet holds no data files must produce an EMPTY
      // store, not an AnalysisException from zero-path schema inference
      val docs = spark.read
        .schema("doc_id BIGINT, source STRING, text STRING")
        .parquet(files.map(_._1): _*)
        .select(col("doc_id"), col("source"), col("text"))
      passageRows(Tables.spread(docs))
        .write.options(Layout.CommitterV2).parquet(s"$staging/rows")
      files.toDF("path", "bytes", "mtime")
        .coalesce(1)
        .write.options(Layout.CommitterV2).parquet(s"$staging/covered")
      // FIXED rename target (no nonce), mirroring AnnIndex.ensureBuilt: two
      // processes ensuring the same append race to one name, the loser's
      // rename FAILS and it adopts the winner's delta — a nonce-suffixed
      // target would let both commit and the union read double-count n_occ
      testBeforeDeltaCommit(seq)
      val target = new Path(famPath, f"delta_$seq%03d")
      // Lost-race detection CANNOT rely on rename()==false: Hadoop's
      // LocalFileSystem (and any POSIX-mv-semantics FS) renames src INTO
      // an existing directory and returns TRUE, nesting our staging under
      // the winner's delta where the union read never sees it (measured —
      // DevR22RenameProbe; the r21 adopt-the-winner guard was therefore
      // unreachable on local FS). A loss is: rename returned false, OR our
      // staging dir now sits nested inside the target.
      val renamed = fs.rename(staging, target)
      val nested = new Path(target, staging.getName)
      if (!renamed || fs.exists(nested)) {
        require(fs.exists(target),
          s"delta commit failed with no winner present: $target")
        // adopt the winner, drop our copy (nested under it, or still staged)
        fs.delete(if (renamed) nested else staging, true)
        // r22 (ADVICE #1): the winner listed the corpus at ITS OWN time.
        // If a second append landed between the racers' listings (or a
        // cold ensure raced a rebuild), the winner's delta covers a
        // DIFFERENT file set — blindly adopting it would let the marker
        // write below permanently serve a store missing our uncovered
        // docs (the marker short-circuits every future coverage check for
        // this version). Diff our intent against the winner's covered
        // frame and commit any residue as the next delta; a further lost
        // race re-enters this same check one seq higher.
        val winnerCovered = spark.read.schema(CoveredSchema)
          .parquet(s"$target/covered")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toSet
        val residual = files.filterNot(winnerCovered.contains)
        if (residual.nonEmpty) writeDelta(seq + 1, residual)
      }
    }

    val deltas = listDeltas(fs, famPath)
    if (deltas.isEmpty) {
      writeDelta(0, current)
    } else {
      val covered = spark.read.schema(CoveredSchema)
        .parquet(deltas.map(d => s"$d/covered"): _*)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val currentSet = current.toSet
      if (covered.exists(!currentSet.contains(_))) {
        // a covered file vanished or changed: delete/compaction/rewrite —
        // the append contract is broken, rebuild from scratch. NOTE: this
        // delete can yank deltas out from under a reader that resolved its
        // path list concurrently — acceptable only because a rewrite means
        // the corpus VERSION changed, so such a reader holds a superseded
        // fp and its ensure would re-run on the next call anyway.
        fs.delete(famPath, true)
        writeDelta(0, current)
      } else {
        val coveredSet = covered.toSet
        val fresh = current.filterNot(coveredSet.contains)
        if (fresh.nonEmpty) writeDelta(deltas.size, fresh)
      }
    }
    // refresh the version marker LAST (see crash-safety note above)
    if (fs.exists(famPath))
      fs.listStatus(famPath).filter(_.getPath.getName.startsWith("_fp_"))
        .foreach(s => fs.delete(s.getPath, false))
    fs.create(marker, true).close()
  }
}
