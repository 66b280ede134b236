package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Static Jaro-Winkler kernel shared by interpreted eval and generated
  * code (the Spark-internal pattern for string expressions: codegen emits
  * ONE static call, so the scan stays inside whole-stage codegen with no
  * UDF serialization boundary).
  *
  * Standard parameters — Winkler prefix scale 0.1, prefix cap 4, boost
  * threshold 0.7, either-empty → 0.0 — matching DuckDB's
  * `jaro_winkler_similarity`, which is what the differential oracle runs.
  * Comparison is per Java char (UTF-16 unit): identical to byte-level for
  * ASCII data; supplementary-plane pairs compare per surrogate, a
  * documented approximation. */
object JaroWinklerImpl {
  def similarity(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    val n1 = s1.length
    val n2 = s2.length
    if (n1 == 0 || n2 == 0) return 0.0
    val window = math.max(0, math.max(n1, n2) / 2 - 1)
    val m1 = new Array[Boolean](n1)
    val m2 = new Array[Boolean](n2)
    var matches = 0
    var i = 0
    while (i < n1) {
      val lo = math.max(0, i - window)
      val hi = math.min(n2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < n1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    // INTEGER half-transpositions (floor) — the original strcmp95 does
    // `N_trans / 2` in int, and RapidFuzz/DuckDB inherit it; a fractional
    // t/2.0 diverges on odd raw counts (e.g. "blue gear"/"old gear")
    val jaro = (m / n1 + m / n2 + (m - (t / 2)) / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val cap = math.min(4, math.min(n1, n2))
    while (l < cap && s1.charAt(l) == s2.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}

/** `jaro_winkler(s1, s2)` — the record-linkage string similarity (Winkler
  * 1990), as a native Catalyst expression: null-safe, codegen'd as a
  * single static call. Registered by [[GraftExtensions]]. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler expects two string arguments, got ${left.dataType} and ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerImpl.similarity(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.JaroWinklerImpl.similarity($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static word-shingle kernel shared by interpreted eval and generated
  * code: the n-grams of `split(trim(text), ' ')` joined by single spaces,
  * computed on the UTF-8 bytes. SQL `trim` strips 0x20 only (tabs and
  * newlines stay inside the edge tokens), the split is on the 0x20 byte
  * with empty tokens kept, and fewer than `n` tokens give an empty array.
  * Tokens are separated by exactly one 0x20 byte, so each shingle is the
  * byte range of the trimmed text from its first token's start to its
  * last token's end — no decode, no regex, no per-token join. */
object WordShinglesImpl {
  def shingles(text: UTF8String, n: Int): ArrayData = {
    // a private copy: the shingles are views into it, and getBytes may
    // hand back the input's own (possibly reused) buffer
    val t = text.trim()
    val bytes = new Array[Byte](t.numBytes)
    t.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val tokens = spaces + 1
    if (tokens < n) return new GenericArrayData(Array.empty[Any])
    // starts(k) = first byte of token k; starts(tokens) = one past the end
    // plus the separator, so token k ends at starts(k + 1) - 1
    val starts = new Array[Int](tokens + 1)
    var k = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(tokens) = bytes.length + 1
    val out = new Array[Any](tokens - n + 1)
    k = 0
    while (k < out.length) {
      val from = starts(k)
      out(k) = UTF8String.fromBytes(bytes, from, starts(k + n) - 1 - from)
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Word n-gram shingles of a string (the corpus text kernels' shingle
  * form) as a native Catalyst expression: null-safe, codegen'd as a single
  * static call, so the shingle scan stays inside whole-stage codegen. It
  * replaces the `transform(sequence(..), i => concat_ws(" ", slice(ws, i,
  * n)))` HOF, whose interpreted lambda re-ran the regex split of the whole
  * text once per output element (O(tokens²) per doc); the output is
  * identical element for element. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width $n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(a: Any): Any =
    WordShinglesImpl.shingles(a.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.WordShinglesImpl.shingles($a, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `string_prefix64(s)` — the string's first 8 UTF-8 bytes as a SIGNED
  * order-isomorphic long: `UTF8String.getPrefix()` (big-endian, zero-
  * padded — the exact prefix Spark's own radix/Tungsten string sort keys
  * on, compared UNSIGNED there) with the sign bit flipped so plain signed
  * `<` agrees with unsigned byte order. Weakly monotone in UTF8 binary
  * order: a ≤ b ⟹ prefix64(a) ≤ prefix64(b), with equality only when the
  * first 8 bytes tie — so any range-bucketing BY the prefix is a sound
  * coarsening of key order. [[graft.operators.OrderedScan]] uses it to
  * turn the string range-bucket assignment (O(buckets) UTF8 comparisons
  * per row) into long comparisons inside whole-stage codegen. */
case class StringPrefix64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"string_prefix64 expects a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "string_prefix64"

  override protected def nullSafeEval(a: Any): Any =
    a.asInstanceOf[UTF8String].getPrefix ^ Long.MinValue

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"($a.getPrefix() ^ Long.MIN_VALUE)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StringPrefix64 {
  /** Driver-side twin of the expression (cut-point precomputation). */
  def of(s: String): Long = UTF8String.fromString(s).getPrefix ^ Long.MinValue
}

/** `bucket_search(v)` — the range-bucket id of `v` against a sorted,
  * distinct cut array: the index of the first cut ≥ v (cuts.length when v
  * exceeds every cut), exactly the `when(v <= cut0, 0).when(...)` chain's
  * semantics but as ONE binary search over a referenced constant array —
  * O(log buckets) per row inside whole-stage codegen instead of O(buckets)
  * branch evaluations. The chain was fine at 64 buckets; with
  * statistics-sized bucket counts (hundreds at drill scale) it became the
  * dominant per-row cost of [[graft.operators.OrderedScan.withRangeBucket]].
  * NaN inputs land in the last bucket on both forms (`NaN <= cut` is false
  * everywhere; `Arrays.binarySearch` orders NaN above every real cut). */
case class BucketSearch(child: Expression, cuts: Array[Double])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bucket_search expects a double argument, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bucket_search"

  override protected def nullSafeEval(a: Any): Any = {
    val i = java.util.Arrays.binarySearch(cuts, a.asInstanceOf[Double])
    if (i >= 0) i else -(i + 1)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("bucketCuts", cuts, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val idx = ctx.freshName("idx")
      s"""
         |int $idx = java.util.Arrays.binarySearch($arr, $a);
         |${ev.value} = $idx >= 0 ? $idx : -($idx + 1);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
