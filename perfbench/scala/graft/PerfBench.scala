package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one fresh state directory.
  *
  * Usage: PerfBench --workload <tracking|analytics|curation> --seed <n>
  *          --seconds <s> --trace <0|1> --out <runDir> --data <sfDir>
  *
  * Writes `result.json` (raw per-operation samples and the traced layer
  * totals) and, in traced runs, `spans.json` into `runDir`; the Python
  * front end (`perfbench/run.py`) turns them into metrics and checks the
  * delivered rows against DuckDB.
  */
object PerfBench {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: Path, data: String)

  /** Shared by the workloads: the session, its state directory, tracing. */
  final class Ctx(val spark: SparkSession, val opts: Opts, val spans: PerfSpans,
      val listener: Option[PerfListener], val qe: Option[PerfQeListener]) {
    val cpus: Int = spark.sparkContext.defaultParallelism
    /** Spark task totals by job group, after the listener bus drained. */
    def layerTotals(): Map[String, PerfAgg] = listener.map { l =>
      org.apache.spark.PerfBusAccess.drain(spark.sparkContext)
      l.snapshot()
    }.getOrElse(Map.empty)
    /** Epoch ms at which the JVM started: `setup_s` counts from here. */
    val processStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  }

  def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("out")), need("data"))
  }

  /** Live heap after full collections, in MiB. The pauses let Spark's
    * ContextCleaner drop the blocks of collected broadcasts and shuffles
    * between collections.
    */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Regular files under `root` with their attributes. Entries that vanish
    * during the walk (a concurrent writer's temporaries) are skipped.
    */
  def files(root: Path): Seq[(Path, java.nio.file.attribute.BasicFileAttributes)] = {
    import java.nio.file.{FileVisitResult, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    val out = scala.collection.mutable.ArrayBuffer.empty[(Path, BasicFileAttributes)]
    if (Files.exists(root))
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          if (a.isRegularFile) out += ((f, a))
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
          FileVisitResult.CONTINUE
      })
    out.toSeq
  }

  def dirBytes(p: Path): Long = files(p).map(_._2.size).sum

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    Files.createDirectories(o.out)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.warehouse.dir", o.out.resolve("warehouse").toString)
      .config("spark.graft.ann.indexRoot", o.out.resolve("ann").toString)
      .config("spark.local.dir", o.out.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (o.trace) Some(new PerfListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val qe = if (o.trace) Some(new PerfQeListener) else None
    qe.foreach(spark.listenerManager.register)
    val ctx = new Ctx(spark, o, new PerfSpans(o.trace), listener, qe)
    val code = try {
      val result = o.workload match {
        case "tracking" => PerfTracking.run(ctx)
        case "analytics" | "curation" => PerfRegistry.run(ctx)
        case w => sys.error(s"unknown workload: $w")
      }
      PerfJson.write(o.out.resolve("result.json"), result ++ Map(
        "workload" -> o.workload, "seed" -> o.seed, "cpus" -> ctx.cpus,
        "heap_live_mb" -> liveHeapMb()))
      if (o.trace) PerfJson.write(o.out.resolve("spans.json"), ctx.spans.all)
      0
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    finally spark.stop()
    // no stray thread may keep the process alive
    sys.exit(code)
  }
}
