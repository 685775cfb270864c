package graft

import graft.sources.Tables

/** Guards on the driver contract itself: a typo'd key or an oracle
  * referencing a nonexistent table would silently zero a round's
  * correctness score.
  */
class ContractSpec extends SparkSpec {

  test("every oracleSql key has a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("query names follow the q_ convention and are nonempty") {
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.queries.keySet.forall(_.startsWith("q_")))
  }

  test("oracle SQL references only known tables") {
    val known = Tables.all.toSet
    // table tokens appearing after FROM/JOIN in each statement
    val word = "(?i)(?:from|join)\\s+([a-z_][a-z0-9_]*)".r
    val cte = "(?i)([a-z_][a-z0-9_]*)\\s+as\\s*\\(".r
    for ((name, sql) <- SparkEntry.oracleSql) {
      val ctes = cte.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val refs = word.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
        .filterNot(Set("parquet")) // parquet.`path` form
      val unknown = refs -- known -- ctes
      assert(unknown.isEmpty, s"$name references unknown tables: $unknown")
    }
  }

  test("every q_ operator named in SURVEY.md is registered (and vice versa)") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val named = "`(q_[a-z0-9_]+)`".r.findAllMatchIn(survey)
      .map(_.group(1)).toSet
    val registered = SparkEntry.queries.keySet
    val unimplemented = named -- registered
    assert(unimplemented.isEmpty,
      s"SURVEY.md names operators with no queries entry: $unimplemented")
    val undocumented = registered -- named
    assert(undocumented.isEmpty,
      s"queries entries missing from SURVEY.md: $undocumented")
  }

  test("the SURVEY §2.12 'why no oracle' table covers EXACTLY the rows-only set") {
    // r20 verdict #3: q_sim_ann_pq was the one rows-only query with no
    // justification-table row, and the registry↔§2 sync above could not
    // see it. Parse the table (rows of `| \`q_...\` | class | ... |`
    // between its header and the next non-table line) and pin two-way
    // equality against the no-oracle set (queries minus oracleSql keys).
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("SURVEY.md")).toArray(Array.empty[String])
    val header = lines.indexWhere(
      _.trim.startsWith("| query | class | what DuckDB lacks"))
    assert(header >= 0, "SURVEY §2.12 justification-table header not found")
    val justified = lines.drop(header + 2)
      .takeWhile(_.trim.startsWith("|"))
      .flatMap(l => "`(q_[a-z0-9_]+)`".r.findFirstMatchIn(l).map(_.group(1)))
      .toSet
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly -- justified == Set.empty,
      s"rows-only queries missing a justification row: ${(rowsOnly -- justified).toSeq.sorted}")
    assert(justified -- rowsOnly == Set.empty,
      s"justification rows for queries that ARE oracle-checked (or unknown): ${(justified -- rowsOnly).toSeq.sorted}")
  }

  test("every main under src/main/scala is a README tool (and vice versa)") {
    // one-off probes must not creep back into the shipped library
    // unannounced: the runnable entry points are exactly the
    // `runMain graft...` lines README documents
    import scala.jdk.CollectionConverters._
    val read = (p: java.nio.file.Path) => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val listed = "runMain (graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r
      .findAllMatchIn(read(java.nio.file.Paths.get("README.md"))).map(_.group(1)).toSet
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val defined = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val src = read(f)
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
      // declarations only: line-anchored, so "object"/"def main(" in a
      // comment never counts
      val objects = "(?m)^\\s*(?:private\\S*\\s+)?object (\\w+)".r.findAllMatchIn(src)
        .map(m => m.start -> m.group(1)).toSeq
      "(?m)^\\s*def main\\(".r.findAllMatchIn(src).map { m =>
        s"$pkg.${objects.filter(_._1 < m.start).last._2}"
      }
    }.toSet finally walk.close()
    assert((defined -- listed).isEmpty,
      s"mains missing from README: ${(defined -- listed).toSeq.sorted}")
    assert((listed -- defined).isEmpty,
      s"README lists mains that do not exist: ${(listed -- defined).toSeq.sorted}")
  }

  test("every spark.graft.* conf the engine reads is a README conf row (and vice versa)") {
    // the tuning surface is exactly what README documents: a knob cannot
    // ship without a stated reason to set it, and a retired knob cannot
    // keep its row
    import scala.jdk.CollectionConverters._
    val read = (p: java.nio.file.Path) => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val rows = "(?m)^\\| `(spark\\.graft\\.[A-Za-z0-9.]+)` \\|".r
      .findAllMatchIn(read(java.nio.file.Paths.get("README.md"))).map(_.group(1)).toSet
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    // whole key literals only: a prefix ("spark.graft.") or an
    // interpolated key never matches
    val keys = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      "\"(spark\\.graft\\.[A-Za-z0-9.]*[A-Za-z0-9])\"".r.findAllMatchIn(read(f)).map(_.group(1))
    }.toSet finally walk.close()
    assert(keys.nonEmpty)
    assert((keys -- rows).isEmpty,
      s"confs read with no README row: ${(keys -- rows).toSeq.sorted}")
    assert((rows -- keys).isEmpty,
      s"README rows for confs the code does not read: ${(rows -- keys).toSeq.sorted}")
  }

  test("operators hold no cache maps of their own: derived values go through SessionCache.memo") {
    // operator-local caches each grew their own key encoding, supersession
    // drop, bound and build latch; one store keeps one discipline
    import scala.jdk.CollectionConverters._
    val decl = "new (java\\.util\\.concurrent\\.)?ConcurrentHashMap\\[|newKeySet\\[".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/operators"))
    val offenders = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      decl.findAllMatchIn(src).map(m => s"${f.getFileName}:${src.take(m.start).count(_ == '\n') + 1}")
    }.toList finally walk.close()
    assert(offenders.isEmpty, s"operator-local concurrent maps: ${offenders.mkString(", ")}")
  }

  test("entry returns >0 rows at sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SQL API over registered views matches the DataFrame operator") {
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql(
      """SELECT c_mktsegment,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |            AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin).collect()
    val viaDf = graft.operators.Relational.joinAgg(spark, sf).collect()
    assert(viaSql.sameElements(viaDf))
  }

  test("native expressions keep their stage in whole-stage codegen") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.Similarity.simTopK(spark, sf)
        .queryExecution.executedPlan.toString
      // the codegen stage marker *(N) must wrap the cosine projection —
      // CodegenFallback would leave it unstarred
      assert(plan.linesIterator.exists(l =>
        l.contains("cosine_sim") && l.trim.matches("""[+:-]*\s*\*\(\d+\).*""")),
        s"cosine projection not in a codegen stage:\n${plan.take(1500)}")
      // the fused int8 kernel must keep the store-scan stage compiled
      // too — the transform() chain it replaced was CodegenFallback
      val ver = graft.operators.AnnIndex.corpusVersion(spark, sf)
      val qvs = graft.operators.AnnIndex.queryVectors(
        spark, sf, 0L until graft.operators.Similarity.BatchQueries.toLong, ver)
      val q8 = graft.operators.Similarity.int8BatchCandidates(spark, sf, ver, qvs)
        .queryExecution.executedPlan.toString
      assert(q8.linesIterator.exists(l =>
        l.contains("cosine_sim_q8") && l.trim.matches("""[+:-]*\s*\*\(\d+\).*""")),
        s"q8 projection not in a codegen stage:\n${q8.take(1500)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("canonical JSON rows sort columns and round-trip values") {
    import org.apache.spark.sql.functions._
    val df = Tables.orders(spark, sf).select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey").limit(2)
    val rows = graft.api.Json.canonicalRows(df).collect()
    assert(rows.length == 2)
    assert(rows.head.startsWith("""{"o_orderkey":"""))
    // column order is name-sorted regardless of select order
    val df2 = Tables.orders(spark, sf).select("o_orderstatus", "o_orderkey")
      .orderBy("o_orderkey").limit(2)
    assert(graft.api.Json.canonicalRows(df2).collect().sameElements(rows))
    val body = graft.api.Json.responseBody(df)
    assert(body.startsWith("[{") && body.endsWith("}]"))
  }
}
