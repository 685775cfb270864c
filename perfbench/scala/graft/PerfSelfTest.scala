package graft

import org.apache.spark.sql.Row

/** Self-checks of the JVM side that need no Spark session: a throwing query
  * is a failed sample with no time, and answer digests see a changed row.
  * Exits non-zero on the first failed check.
  */
object PerfSelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAIL $what"); sys.exit(1) }
    else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    val (ok, ms, _, rows, err) = PerfRegistry.timed(() => throw new IllegalStateException("boom"))
    check(!ok && ms.isNaN && rows == null && err.contains("boom"),
      "a throwing builder is a failed sample without a time")
    val (ok2, ms2, _, _, err2) = PerfRegistry.timed(() => () => throw new RuntimeException("late"))
    check(!ok2 && ms2.isNaN && err2.contains("late"),
      "a throw while rows are delivered is a failed sample without a time")
    val (ok3, ms3, _, rows3, _) = PerfRegistry.timed(() => () => Array(Row(1L, "a")))
    check(ok3 && ms3 >= 0 && rows3.length == 1, "a delivered answer is timed")

    val a = Array(Row(1L, 0.1 + 0.2), Row(2L, 3.0))
    val b = Array(Row(1L, 0.3), Row(2L, 3.0))
    check(PerfRegistry.digest(a, ordered = true) == PerfRegistry.digest(b, ordered = true),
      "digests agree at nine significant digits")
    check(PerfRegistry.digest(a, ordered = true) != PerfRegistry.digest(a.reverse, ordered = true),
      "ordered digests see a reordering")
    check(PerfRegistry.digest(a, ordered = false) == PerfRegistry.digest(a.reverse, ordered = false),
      "unordered digests ignore row order")
    check(PerfRegistry.digest(a, ordered = false) != PerfRegistry.digest(Array(Row(1L, 0.3), Row(2L, 3.1)), ordered = false),
      "digests see a changed value")
    check(PerfStats.pct((1 to 100).map(_.toDouble), 0.9) == 90.0, "nearest-rank p90")
  }
}
