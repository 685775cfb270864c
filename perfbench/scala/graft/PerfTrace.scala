package graft

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the benchmark's own result and span files. */
object PerfJson {
  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }

  /** One result cell, typed so the verifier can rebuild the value DuckDB
    * would return for the same column: tagged objects carry timestamps
    * (UTC micros), dates, decimals, binaries and maps; doubles keep every
    * digit (NaN/Infinity as Python's json reads them).
    */
  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isPosInfinity) "Infinity"
      else if (d.isNegInfinity) "-Infinity" else java.lang.Double.toString(d)
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => s"""{"$$dec":"${b.toPlainString}"}"""
    case b: scala.math.BigDecimal => cell(b.bigDecimal)
    case t: java.sql.Timestamp =>
      val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
      s"""{"$$ts":$micros}"""
    case i: java.time.Instant =>
      s"""{"$$ts":${i.getEpochSecond * 1000000L + i.getNano / 1000}}"""
    case l: java.time.LocalDateTime => cell(l.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => s"""{"$$date":"${d.toLocalDate}"}"""
    case d: java.time.LocalDate => s"""{"$$date":"$d"}"""
    case bytes: Array[Byte] => s"""{"$$bin":"${bytes.map("%02x".format(_)).mkString}"}"""
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => "[" + cell(k) + "," + cell(x) + "]" }
        .mkString("""{"$map":[""", ",", "]}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("[", ",", "]")
    case s: String => quote(s)
    case other => other.toString
  }

  /** Rows as JSON lines, columns in schema order. */
  def writeRows(path: Path, rows: Array[Row]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path), UTF_8), 1 << 16)
    try rows.foreach { r =>
      var i = 0
      w.write('[')
      while (i < r.length) {
        if (i > 0) w.write(',')
        w.write(cell(r.get(i)))
        i += 1
      }
      w.write("]\n")
    } finally w.close()
  }

  def write(path: Path, v: Any): Unit = Files.write(path, render(v).getBytes(UTF_8))
}

object PerfStats {
  /** Nearest-rank percentile (p in 0..1) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Host load as `Bench.quietWait` reads it: the 1-minute loadavg and the
  * aggregate steal jiffies of /proc/stat. Recorded beside each run, never
  * waited on.
  */
object PerfHost {
  def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }
  def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val cpu = try src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
      finally src.close()
      if (cpu.length > 8) cpu(8).toLong else -1L
    } catch { case _: Throwable => -1L }

  final class Window {
    private val load0 = loadAvg()
    private val steal0 = stealJiffies()
    def close(): Map[String, Any] = {
      val s1 = stealJiffies()
      Map("loadavg_start" -> load0, "loadavg_end" -> loadAvg(),
        "steal_jiffies_delta" -> (if (s1 < 0 || steal0 < 0) -1L else s1 - steal0))
    }
  }
}

/** Spark task totals for one job group. */
final class PerfAgg {
  var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleRecords, spillBytes = 0L
  var inputBytes, inputRecords, resultBytes, outputBytes = 0L

  def +=(o: PerfAgg): PerfAgg = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    resultBytes += o.resultBytes; outputBytes += o.outputBytes
    this
  }
  def copy(): PerfAgg = new PerfAgg += this
  def minus(o: PerfAgg): PerfAgg = {
    val r = copy()
    r.jobs -= o.jobs; r.stages -= o.stages; r.tasks -= o.tasks; r.runMs -= o.runMs
    r.cpuNs -= o.cpuNs; r.gcMs -= o.gcMs; r.shuffleWriteBytes -= o.shuffleWriteBytes
    r.shuffleRecords -= o.shuffleRecords; r.spillBytes -= o.spillBytes
    r.inputBytes -= o.inputBytes; r.inputRecords -= o.inputRecords
    r.resultBytes -= o.resultBytes; r.outputBytes -= o.outputBytes
    r
  }
}

/** Job, stage and task totals keyed by the job group of the thread that
  * started the job. Registered only in traced runs.
  */
final class PerfListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, PerfAgg]()
  private def agg(g: String): PerfAgg = groups.computeIfAbsent(g, _ => new PerfAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    agg(g).jobs += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    agg(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = agg(stageGroup.getOrDefault(e.stageId, ""))
    a.tasks += 1
    a.runMs += m.executorRunTime
    a.cpuNs += m.executorCpuTime
    a.gcMs += m.jvmGCTime
    a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
    a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    a.inputBytes += m.inputMetrics.bytesRead
    a.inputRecords += m.inputMetrics.recordsRead
    a.resultBytes += m.resultSize
    a.outputBytes += m.outputMetrics.bytesWritten
  }

  /** Copy of every group's totals; the caller drains the bus first. */
  def snapshot(): Map[String, PerfAgg] =
    groups.asScala.map { case (k, v) => k -> v.copy() }.toMap
}

/** Planner phase durations of every finished action, for callers whose
  * actions run on threads the benchmark does not own (the dashboard's
  * handlers). Registered only in traced runs.
  */
final class PerfQeListener extends QueryExecutionListener {
  /** (arrival ns, action name, phase -> ms) */
  val events = new ConcurrentLinkedQueue[(Long, String, Map[String, Double])]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    events.add((System.nanoTime(), funcName,
      qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** In-memory spans (name, start, end, parent) written out once at exit. */
final class PerfSpans(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Map[String, Any]]()

  def record(parent: Long, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    if (enabled)
      buf.add(Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_us" -> (startNs - t0) / 1000, "end_us" -> (endNs - t0) / 1000) ++ attrs)
    id
  }

  def span[T](parent: Long, name: String, attrs: Map[String, Any] = Map.empty)
      (body: Long => T): T = {
    val id = ids.incrementAndGet()
    val s = System.nanoTime()
    try body(id)
    finally if (enabled)
      buf.add(Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_us" -> (s - t0) / 1000, "end_us" -> (System.nanoTime() - t0) / 1000) ++ attrs)
  }

  def all: Seq[Map[String, Any]] = buf.asScala.toSeq.sortBy(_("id").asInstanceOf[Long])
}
