package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native n-gram hashing: `ngram_hashes(text, n, mode)` → array<long>
  * (SURVEY.md §7.4 — custom Expression over UDF/HOF).
  *
  * Modes:
  *  - 'word'          : hashes of word n-grams (shingles), duplicates kept
  *  - 'char'          : hashes of char n-grams, duplicates kept (frequency-
  *                      preserving — language-ID profiles need counts)
  *  - 'char_distinct' : distinct char n-gram hashes, sorted (set semantics
  *                      for Jaccard)
  *  - 'char_counts'   : array<struct<h,c>> of distinct char n-gram hashes
  *                      with occurrence counts — pre-aggregated frequencies,
  *                      so downstream explodes emit one row per DISTINCT
  *                      gram instead of per occurrence (~2× less volume)
  *  - 'word_counts'   : array<struct<token,c>> of distinct word n-grams
  *                      (the token STRING, not a hash) with occurrence
  *                      counts — the map-side pre-aggregation for TF-IDF:
  *                      each document emits one row per distinct term, so
  *                      the corpus-scale per-occurrence shuffle disappears
  *
  * Why native: the equivalent `transform(sequence(...), i -> xxhash64(
  * substr(...)))` runs interpreted per element with boxing and, when the
  * array feeds several plan branches, is re-evaluated per branch — measured
  * seconds per query at sf0.1. The `char*` modes are one linear pass per
  * row (a sliding byte window, hashed in place); the `word*` modes split
  * the text and build one `concatWs` string per gram.
  * Hash: xxHash64 over UTF-8 bytes (seed 42), matching Spark's hash
  * quality; only determinism matters, not any specific function.
  */
case class NGramHashes(child: Expression, n: Int, mode: String)
    extends UnaryExpression {

  override def dataType: DataType =
    if (mode == "char_counts")
      ArrayType(StructType(Seq(
        StructField("h", LongType, nullable = false),
        StructField("c", LongType, nullable = false))), containsNull = false)
    else if (mode == "word_counts")
      ArrayType(StructType(Seq(
        StructField("token", StringType, nullable = false),
        StructField("c", LongType, nullable = false))), containsNull = false)
    else ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  override protected def withNewChildInternal(newChild: Expression): NGramHashes =
    copy(child = newChild)

  private def hashOf(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(text: UTF8String): GenericArrayData = {
    mode match {
      case "word" =>
        val toks = text.split(UTF8String.fromString(" "), -1)
        val m = math.max(toks.length - n + 1, 1)
        val out = new Array[Long](m)
        var i = 0
        while (i < m) {
          val end = math.min(i + n, toks.length)
          out(i) = hashOf(UTF8String.concatWs(
            UTF8String.fromString(" "), toks.slice(i, end): _*))
          i += 1
        }
        new GenericArrayData(out)
      case "word_counts" =>
        val sp = UTF8String.fromString(" ")
        val toks = text.split(sp, -1)
        val m = math.max(toks.length - n + 1, 1)
        val grams = new Array[UTF8String](m)
        var i = 0
        while (i < m) {
          val end = math.min(i + n, toks.length)
          grams(i) =
            if (n == 1) toks(i)
            else UTF8String.concatWs(sp, toks.slice(i, end): _*)
          i += 1
        }
        java.util.Arrays.sort(grams, null) // UTF8String is Comparable
        val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        var r = 0
        while (r < m) {
          var c = 1L
          while (r + 1 < m && grams(r + 1).equals(grams(r))) { c += 1; r += 1 }
          rows += InternalRow(grams(r), c)
          r += 1
        }
        new GenericArrayData(rows.toArray[Any])
      case "char" | "char_distinct" | "char_counts" =>
        // sliding byte window [s, e) over min(n, chars) characters: both
        // ends advance one UTF-8 character per gram (Spark's first-byte
        // length table, so grams match `substringSQL(i + 1, n)` byte for
        // byte) and each gram hashes in place — O(bytes), where a
        // substringSQL per gram re-walks from the string start. Offsets
        // clamp at numBytes: a truncated last character never reads past
        // the buffer
        val nb = text.numBytes
        def next(p: Int): Int =
          if (p < nb) math.min(p + UTF8String.numBytesForFirstByte(text.getByte(p)), nb)
          else p
        val nc = text.numChars()
        val m = math.max(nc - n + 1, 1)
        val out = new Array[Long](m)
        val base = text.getBaseObject
        val off = text.getBaseOffset
        var e = 0
        var k = 0
        while (k < n && e < nb) { e = next(e); k += 1 }
        var s = 0
        var i = 0
        while (i < m) {
          out(i) = XXH64.hashUnsafeBytes(base, off + s, e - s, 42L)
          s = next(s)
          e = next(e)
          i += 1
        }
        if (mode == "char") new GenericArrayData(out)
        else {
          java.util.Arrays.sort(out)
          if (mode == "char_distinct") {
            var w = 0
            var r = 0
            while (r < m) {
              if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
              r += 1
            }
            new GenericArrayData(java.util.Arrays.copyOf(out, w))
          } else { // char_counts: run-length encode the sorted hashes
            val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
            var r = 0
            while (r < m) {
              var c = 1L
              while (r + 1 < m && out(r + 1) == out(r)) { c += 1; r += 1 }
              rows += InternalRow(out(r), c)
              r += 1
            }
            new GenericArrayData(rows.toArray[Any])
          }
        }
    }
  }

  // keep the surrounding stage in whole-stage codegen (see CosineSim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val ref = ctx.addReferenceObj("ngramExpr", this, classOf[NGramHashes].getName)
      s"${ev.value} = $ref.compute($t);"
    })
}

object NGramHashes {
  def inject(ext: SparkSessionExtensions): Unit =
    ext.injectFunction((
      FunctionIdentifier("ngram_hashes"),
      new ExpressionInfo(classOf[NGramHashes].getName, "ngram_hashes"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(n: Int, _), m: Literal) =>
          NGramHashes(c, n, m.value.toString)
        case other =>
          throw new IllegalArgumentException(
            s"ngram_hashes(text, n, mode) expects literal n and mode, got $other")
      }))
}
