package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.operators.Dedup

/** Property test for the distributed connected-components core: on random
  * graphs, propagateLabels — exercised exactly as shipped (default
  * fixpoint bound) — must agree with a driver-side union-find. Spark jobs
  * per case are small, so the case count stays low.
  */
class ClusterPropertySpec extends SparkSpec {

  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("propagateLabels == union-find on random graphs") {
    import spark.implicits._
    val genCase = for {
      n <- Gen.choose(2, 16)
      nodes = (1L to n.toLong).toList
      nEdges <- Gen.choose(0, n)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.oneOf(nodes); b <- Gen.oneOf(nodes) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield (nodes, edges.distinct)

    val prop = Prop.forAll(genCase) { case (nodes, edges) =>
      val expect = unionFind(nodes, edges)
      // the SHIPPED path: default fixpoint bound, convergence-detected
      val got = Dedup.propagateLabels(
        nodes.toDF("doc_id"),
        edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expect
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(12)
        .withInitialSeed(Seed(7L)),
      prop)
    assert(res.passed, s"propagateLabels vs union-find: $res")
  }

  test("starLabels == propagateLabels == union-find on random graphs") {
    import spark.implicits._
    val genCase = for {
      n <- Gen.choose(2, 16)
      nodes = (1L to n.toLong).toList
      nEdges <- Gen.choose(0, n)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.oneOf(nodes); b <- Gen.oneOf(nodes) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield (nodes, edges.distinct)

    val prop = Prop.forAll(genCase) { case (nodes, edges) =>
      val expect = unionFind(nodes, edges)
      val star = Dedup.starLabels(
        nodes.toDF("doc_id"),
        edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      star == expect
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(10)
        .withInitialSeed(Seed(11L)),
      prop)
    assert(res.passed, s"starLabels vs union-find: $res")
  }

  test("star contraction resolves a deep chain in O(log n) rounds") {
    import spark.implicits._
    // 255-hop path: label propagation needs 255 passes (its maxIters bound
    // would split this); star contraction halves heights per round
    val n = 256L
    val nodes = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, iters) = Dedup.starLabelsWithIters(nodes, edges)
    val distinct = labels.collect().map(_.getLong(1)).distinct
    assert(distinct.sameElements(Array(1L)), s"expected one cluster, got ${distinct.toSeq}")
    assert(iters <= 12, s"expected O(log 256) ≈ 8 rounds, took $iters")
  }

  test("starLabels == propagateLabels on the real LSH edge graph") {
    // both component engines, called directly on the near-dup edge set
    // dedupClusters labels — same component min for every document
    val fp = graft.sources.SessionCache.dirFingerprint(spark, sf)
    val nodes = graft.sources.Tables.documents(spark, sf).select("doc_id")
    val edges = Dedup.nearDupEdges(spark, sf, fp)
    assert(!edges.isEmpty, "the fixture must carry near-dup edges")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPropagate = labels(Dedup.propagateLabels(nodes, edges))
    val viaStar = labels(Dedup.starLabels(nodes, edges))
    assert(viaStar == viaPropagate,
      "both component engines must produce the same labels")
  }

  test("a 40-hop chain is one cluster: unconverged propagation hands over to star") {
    import spark.implicits._
    // deeper than propagateLabels' 20-pass bound: propagation alone
    // splits it (the engine nearDupLabels ran by default before), and the
    // engine selection must finish it with star contraction
    val nodes = (1L to 41L).toDF("doc_id")
    val edges = (1L to 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val split = Dedup.propagateLabels(nodes, edges)
      .collect().map(_.getLong(1)).distinct
    assert(split.length > 1, "propagation alone must hit its bound on this chain")
    val labels = Dedup.componentLabels(nodes, edges)
      .collect().map(_.getLong(1)).distinct
    assert(labels.sameElements(Array(1L)), s"expected one cluster, got ${labels.toSeq}")
  }

  test("a chain deeper than any fixed small iteration count resolves to one cluster") {
    import spark.implicits._
    // a 14-hop path: the old hard-coded 5-iteration bound split this into
    // several clusters; the fixpoint loop must label every node 1
    val nodes = (1L to 15L).toDF("doc_id")
    val edges = (1L to 14L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.propagateLabels(nodes, edges)
      .collect().map(r => r.getLong(1)).distinct
    assert(labels.sameElements(Array(1L)), s"expected one cluster, got ${labels.toSeq}")
  }
}
