package graft

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{IntersectCountSorted, MinHashSignature, NGramHashes, WeightedDotSorted}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType => LT, StructField, StructType}

/** ScalaCheck properties for the native expressions (SURVEY.md §5.3) —
  * evaluated directly via `eval`, no Spark jobs, so hundreds of cases run
  * in milliseconds. Fixed initial seed keeps runs deterministic.
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(100)
        .withInitialSeed(Seed(42L)),
      p)
    assert(res.passed, s"$name: $res")
  }

  private def arr(xs: Seq[Long]): ArrayData = new GenericArrayData(xs.toArray)

  private def minhash(xs: Seq[Long]): Array[Long] =
    MinHashSignature(BoundReference(0, ArrayType(LongType), nullable = false))
      .nullSafeEval(arr(xs)).asInstanceOf[ArrayData].toLongArray()

  test("minhash signature agreement approximates Jaccard similarity") {
    val genSets = for {
      common <- Gen.listOfN(60, Gen.long)
      onlyA <- Gen.listOfN(30, Gen.long)
      onlyB <- Gen.listOfN(30, Gen.long)
    } yield (common.toSet ++ onlyA.toSet, common.toSet ++ onlyB.toSet)
    check("minhash≈jaccard", Prop.forAll(genSets) { case (a, b) =>
      (a.nonEmpty && b.nonEmpty) ==> {
        val trueJ = a.intersect(b).size.toDouble / a.union(b).size
        val (sa, sb) = (minhash(a.toSeq.sorted), minhash(b.toSeq.sorted))
        val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length
        math.abs(est - trueJ) < 0.3 // 64 perms → σ ≈ 0.06, 5σ bound
      }
    })
  }

  test("minhash is permutation-invariant over the input set") {
    val gen = Gen.nonEmptyListOf(Gen.long)
    check("minhash-perm-invariant", Prop.forAll(gen) { xs =>
      minhash(xs).sameElements(minhash(scala.util.Random.shuffle(xs)))
    })
  }

  test("intersect_count_sorted matches Set intersection") {
    val genPair = for {
      a <- Gen.listOf(Gen.chooseNum(-1000L, 1000L))
      b <- Gen.listOf(Gen.chooseNum(-1000L, 1000L))
    } yield (a.toSet.toSeq.sorted, b.toSet.toSeq.sorted)
    val expr = IntersectCountSorted(
      BoundReference(0, ArrayType(LongType), nullable = false),
      BoundReference(1, ArrayType(LongType), nullable = false))
    check("intersect-count", Prop.forAll(genPair) { case (a, b) =>
      expr.nullSafeEval(arr(a), arr(b)) ==
        a.toSet.intersect(b.toSet).size.toLong
    })
  }

  test("ngram_hashes word mode emits max(tokens-n+1, 1) shingles") {
    val genText = Gen.nonEmptyListOf(Gen.identifier.suchThat(_.nonEmpty))
      .map(_.mkString(" "))
    val e = NGramHashes(BoundReference(0, StringType, nullable = false), 3, "word")
    check("word-shingle-count", Prop.forAll(genText) { t =>
      val n = e.nullSafeEval(UTF8String.fromString(t))
        .asInstanceOf[ArrayData].numElements()
      n == math.max(t.split(" ").length - 2, 1)
    })
  }

  test("ngram_hashes char_distinct is sorted, distinct, and text-order-stable") {
    val genText = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val e = NGramHashes(BoundReference(0, StringType, nullable = false), 3, "char_distinct")
    check("char-distinct-sorted", Prop.forAll(genText) { t =>
      val out = e.nullSafeEval(UTF8String.fromString(t))
        .asInstanceOf[ArrayData].toLongArray()
      out.sameElements(out.sorted) && out.distinct.length == out.length
    })
  }

  test("ngram_hashes char modes equal the substringSQL walk on multi-byte text") {
    // the kernel slides a byte window; the reference hashes
    // substringSQL(i + 1, n) per gram, as the kernel once did. ASCII plus
    // 2-, 3- and 4-byte characters, empty texts and texts shorter than n
    val pool = Gen.oneOf("a", "b", " ", "Z", "7", "é", "ß", "漢", "字", "😀", "🚀")
    val genCase = for {
      len <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.chooseNum(1, 5), 5 -> Gen.chooseNum(6, 40))
      chars <- Gen.listOfN(len, pool)
      n <- Gen.oneOf(2, 3, 5)
    } yield (chars.mkString, n)
    def hash(s: UTF8String): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    def reference(t: UTF8String, n: Int): Array[Long] =
      Array.tabulate(math.max(t.numChars - n + 1, 1))(i => hash(t.substringSQL(i + 1, n)))
    def run(mode: String, t: UTF8String, n: Int): ArrayData =
      NGramHashes(BoundReference(0, StringType, nullable = false), n, mode)
        .nullSafeEval(t).asInstanceOf[ArrayData]
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(1000).withInitialSeed(Seed(42L)),
      Prop.forAll(genCase) { case (s, n) =>
        val t = UTF8String.fromString(s)
        val ref = reference(t, n)
        val counts = run("char_counts", t, n)
        val gotCounts = (0 until counts.numElements()).map { i =>
          val r = counts.getStruct(i, 2)
          r.getLong(0) -> r.getLong(1)
        }
        val wantCounts = ref.groupBy(identity).toSeq
          .map { case (h, hs) => h -> hs.length.toLong }.sortBy(_._1)
        (run("char", t, n).toLongArray().sameElements(ref) :| "char") &&
          (run("char_distinct", t, n).toLongArray().sameElements(ref.distinct.sorted)
            :| "char_distinct") &&
          (gotCounts == wantCounts) :| "char_counts"
      })
    assert(res.passed, s"char-window = substringSQL: $res")
  }

  test("ngram_hashes word_counts matches a reference token-count map") {
    val genText = Gen.nonEmptyListOf(
      Gen.oneOf("a", "bb", "ccc", "a", "dd")).map(_.mkString(" "))
    val e = NGramHashes(BoundReference(0, StringType, nullable = false), 1, "word_counts")
    check("word-counts-rle", Prop.forAll(genText) { t =>
      val out = e.nullSafeEval(UTF8String.fromString(t))
        .asInstanceOf[ArrayData]
      val got = (0 until out.numElements()).map { i =>
        val row = out.getStruct(i, 2)
        row.getUTF8String(0).toString -> row.getLong(1)
      }.toMap
      val expect = t.split(" ", -1).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      got == expect
    })
  }

  test("weighted_dot_sorted matches a map-based sparse dot product") {
    val kvType = StructType(Seq(
      StructField("k", LT, nullable = false), StructField("v", LT, nullable = false)))
    val e = WeightedDotSorted(
      BoundReference(0, ArrayType(kvType), nullable = false),
      BoundReference(1, ArrayType(kvType), nullable = false))
    val genSide = Gen.mapOf(Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(1L, 9L)))
    def arrOf(m: Map[Long, Long]): ArrayData =
      new GenericArrayData(m.toSeq.sortBy(_._1).map { case (k, v) => InternalRow(k, v) }.toArray[Any])
    check("weighted-dot", Prop.forAll(Gen.zip(genSide, genSide)) { case (a, b) =>
      val want = a.keySet.intersect(b.keySet).toSeq.map(k => a(k) * b(k)).sum
      e.nullSafeEval(arrOf(a), arrOf(b)) == want
    })
  }

  test("minhash signature agreement is 1 for identical sets, regardless of size") {
    val gen = Gen.nonEmptyListOf(Gen.long)
    check("minhash-identity", Prop.forAll(gen) { xs =>
      minhash(xs).sameElements(minhash(xs))
    })
  }

  test("mixSample hexThreshold is monotone, 8-hex, and keeps ~w of random ids") {
    import graft.operators.Sampling.hexThreshold
    // monotone in w, fixed width, and the sentinel admits every hex prefix
    check("hex-threshold-monotone",
      Prop.forAll(Gen.zip(Gen.chooseNum(0.0, 0.999), Gen.chooseNum(0.0, 0.999))) {
        case (a, b) =>
          val (lo, hi) = (math.min(a, b), math.max(a, b))
          hexThreshold(lo) <= hexThreshold(hi) &&
            hexThreshold(lo).length == 8 &&
            hexThreshold(1.0) == "g" && "ffffffff" < hexThreshold(1.0)
      })
    // realized keep rate over md5 prefixes tracks the target weight
    check("hex-threshold-rate", Prop.forAll(Gen.chooseNum(0.05, 0.95)) { w =>
      val thr = hexThreshold(w)
      val n = 2000
      val kept = (0 until n).count { i =>
        org.apache.commons.codec.digest.DigestUtils
          .md5Hex(i.toString).substring(0, 8) < thr
      }
      math.abs(kept.toDouble / n - w) < 0.05 // md5 uniformity, 4.5σ at n=2000
    })
  }

  test("trendTracker fold is arrival-order-insensitive and matches direct least squares") {
    import graft.streaming.Streams
    import graft.streaming.Streams.TrendState
    // the reference accepts out-of-order and BACKWARDS steps
    // (/root/reference/waddle/_run.py:118-119): randomized series with
    // repeated and unsorted timestamps, folded in two different arrival
    // orders, must converge to the same slope/r² — and both must agree
    // with the mean-centered two-pass least squares over the raw points
    val t0 = 1704067200L
    val genPoint = for {
      day <- Gen.chooseNum(0, 400)
      sec <- Gen.chooseNum(0, 86399)
      v <- Gen.chooseNum(-1000.0, 1000.0)
    } yield ((t0 + day * 86400L + sec) * 1000L, v)
    val genSeries = for {
      pts <- Gen.nonEmptyListOf(genPoint)
      seed <- Gen.long
    } yield (pts, seed)

    def fold(pts: Seq[(Long, Double)]): (Double, Double) =
      Streams.trendOf(pts.foldLeft(TrendState(0L, 0, 0, 0, 0, 0)) {
        case (s, (ms, v)) => Streams.trendStep(s, ms, v)
      })
    def close(a: Double, b: Double, relTol: Double): Boolean =
      math.abs(a - b) <= relTol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

    check("trend-order-insensitive", Prop.forAll(genSeries) { case (pts, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(pts)
      val (sA, rA) = fold(pts)
      val (sB, rB) = fold(shuffled)
      // pure sums commute up to double-addition ulps
      val orderOk = close(sA, sB, 1e-9) && close(rA, rB, 1e-9)

      // two-pass mean-centered least squares (numerically independent of
      // the sufficient-stats formula)
      val xs = pts.map(p => (p._1 / 1000L - t0).toDouble)
      val ys = pts.map(_._2)
      val n = pts.size.toDouble
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val varx = xs.map(x => (x - mx) * (x - mx)).sum
      val vary = ys.map(y => (y - my) * (y - my)).sum
      val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val slopeDirect = if (varx == 0.0) 0.0 else cov / varx * 86400.0
      val r2Direct = if (varx * vary == 0.0) 0.0 else cov * cov / (varx * vary)
      val directOk = close(sA, slopeDirect, 1e-5) && close(rA, r2Direct, 1e-5)

      val boundsOk = rA >= -1e-9 && rA <= 1.0 + 1e-9
      (orderOk :| "order-insensitive") &&
        (directOk :| s"direct LSQ: fold=($sA,$rA) direct=($slopeDirect,$r2Direct)") &&
        (boundsOk :| s"r2 in [0,1]: $rA")
    })
  }
}
