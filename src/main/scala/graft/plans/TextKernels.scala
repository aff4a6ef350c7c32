package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass native kernels for the text-hashing hot paths (SURVEY §2.11).
  *
  * The compositional forms in [[graft.functions.TextFunctions]] build these
  * pipelines from higher-order functions (`transform`/`aggregate`/`filter`),
  * which are `CodegenFallback` in Spark — every row walks an interpreted
  * expression tree and materializes intermediate arrays (token array →
  * index sequence → shingle strings → hash array → k permuted arrays).
  * These expressions compute the same values in a single pass over the
  * text with zero intermediate allocation beyond the token split, inside
  * WholeStageCodegen (preference level (b) of the §2.9 ladder, like
  * [[Hash32Expr]]).
  *
  * Byte-identical semantics to the composed forms is asserted per-kernel in
  * `TextKernelsSpec` (same md5-based hash family, same normalize → tokenize
  * → shingle steps), so every DuckDB oracle built against the composed SQL
  * remains valid.
  *
  * Reference behavior generalized: content hashing of document text for
  * dedup has no direct reference instance; the hash family matches
  * `TextFunctions.hash32` (first 4 md5 bytes), portable across engines.
  */
object TextKernels {

  /** Same (a_i, b_i) family as `TextFunctions.minhashParams`. */
  val MinhashPrime: Long = 2147483647L // 2^31 - 1

  /** Merge-scan common-element count of two sorted, distinct, null-free
    * long arrays ([[SortedIntersectCountExpr]]'s kernel) — primitive
    * getLong accesses, zero allocation. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** The merge-scan sibling of [[sortedIntersectCount]] that returns the
    * COMMON ELEMENTS (sorted, distinct, primitive longs, zero boxing) —
    * `array_intersect(a, b)` on sorted distinct inputs without the
    * per-row hash-set build. Round 17: the clustering-coefficient gate's
    * per-edge neighborhood intersection was the built-in's last heavy
    * call site. */
  def sortedIntersect(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val buf = new Array[Long](math.min(na, nb))
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { buf(c) = x; c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, c))
  }

  /** Merge-scan common-element count of two sorted, distinct, null-free
    * STRING arrays ([[SortedIntersectCountStrExpr]]'s kernel) — the
    * UTF8String sibling of [[sortedIntersectCount]]. Compares with
    * UTF8String.compareTo (binary order — exactly the order `array_sort`
    * produces for default-collation strings), no per-row hash set, no
    * string materialization beyond the UTF8String views ArrayData
    * already holds. */
  def sortedIntersectCountStr(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  private val TrimP = Pattern.compile("^\\s+|\\s+$")
  private val WsP = Pattern.compile("\\s+")

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Tokens of `tokens(normalizeText(s))`: trim → collapse whitespace →
    * lower (via UTF8String.toLowerCase, exactly Spark's `lower`) → split.
    * Returns UTF-8 byte arrays so shingle md5 feeds straight from bytes.
    * Mirrors Java-regex semantics of the composed form (split limit -1;
    * empty input yields one empty token, never a 0-length array). */
  private def tokenBytes(s: UTF8String): Array[Array[Byte]] = {
    val trimmed = TrimP.matcher(s.toString).replaceAll("")
    val collapsed = WsP.matcher(trimmed).replaceAll(" ")
    val lowered = UTF8String.fromString(collapsed).toLowerCase.toString
    val toks = WsP.split(lowered, -1)
    val out = new Array[Array[Byte]](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    out
  }

  private def first4Md5(md: java.security.MessageDigest): Long = {
    val d = md.digest()
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** First 8 md5 bytes big-endian: bits 32..63 = [[first4Md5]], bits
    * 0..31 = bytes 4-7 — the layout `sqlSimhash64`'s two-half DuckDB
    * form reproduces exactly. */
  private def first8Md5(md: java.security.MessageDigest): Long = {
    val d = md.digest()
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc
  }

  /** ≡ `wordNgrams(c, n)`: word n-grams of the normalized token array,
    * indices 1..max(len-n+1, 1), each `array_join(slice(ts,i,n), " ")`. */
  def wordNgrams(s: UTF8String, n: Int): ArrayData = {
    val toks = tokenBytes(s)
    val nSh = math.max(toks.length - (n - 1), 1)
    val out = new Array[AnyRef](nSh)
    var i = 0
    while (i < nSh) {
      val end = math.min(i + n, toks.length)
      var len = 0
      var j = i
      while (j < end) { len += toks(j).length + 1; j += 1 }
      val buf = new Array[Byte](math.max(len - 1, 0))
      var pos = 0
      j = i
      while (j < end) {
        if (j > i) { buf(pos) = ' '; pos += 1 }
        System.arraycopy(toks(j), 0, buf, pos, toks(j).length)
        pos += toks(j).length
        j += 1
      }
      out(i) = UTF8String.fromBytes(buf)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ≡ `minhashFromHashes(hashedShingles(wordNgrams(c, n)), k)`: the full
    * k-long MinHash signature in one pass — md5 each shingle straight from
    * token bytes (no shingle string materialized), fold the k affine
    * permutations' minima as shingles stream by. */
  def minhashSig(s: UTF8String, n: Int, k: Int): ArrayData = {
    val toks = tokenBytes(s)
    val md = digest.get()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val nSh = math.max(toks.length - (n - 1), 1)
    var i = 0
    while (i < nSh) {
      md.reset()
      val end = math.min(i + n, toks.length)
      var j = i
      while (j < end) {
        if (j > i) md.update(' '.toByte)
        md.update(toks(j))
        j += 1
      }
      val h = first4Md5(md) % MinhashPrime
      var p = 0
      while (p < k) {
        val v = (h * (2L * p + 1) + (7919L * p + 13)) % MinhashPrime
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** ≡ the composed winnowing form (TextKernelsSpec's
    * `hashedCharShinglesOfNormalized` then `TextFunctions.winnowFromHashes`):
    * hash32 of every char k-shingle of the normalized text, minimum hash
    * per w-wide window, distinct selected hashes sorted ascending — one
    * pass, no shingle/hash arrays materialized beyond the O(n) hash
    * buffer. Code-point shingling matches `substr`'s character semantics. */
  def winnowFingerprint(s: UTF8String, k: Int, w: Int): ArrayData = {
    val trimmed = TrimP.matcher(s.toString).replaceAll("")
    val collapsed = WsP.matcher(trimmed).replaceAll(" ")
    val norm = UTF8String.fromString(collapsed).toLowerCase.toString
    val cps = norm.codePoints().toArray
    val md = digest.get()
    val nSh = math.max(cps.length - (k - 1), 1)
    val hashes = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      val end = math.min(i + k, cps.length)
      md.reset()
      md.update(new String(cps, i, end - i)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      hashes(i) = first4Md5(md)
      i += 1
    }
    val nW = math.max(nSh - (w - 1), 1)
    val sel = new java.util.TreeSet[java.lang.Long]()
    var j = 0
    while (j < nW) {
      var m = Long.MaxValue
      var t = j
      val end = math.min(j + w, nSh)
      while (t < end) { if (hashes(t) < m) m = hashes(t); t += 1 }
      sel.add(m)
      j += 1
    }
    val out = new Array[Long](sel.size())
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** ≡ `simhash64FromHashes(hashedTokens(c), hashedTokensB(c))`: 64-bit
    * SimHash — per-token 64-bit hash (first 8 md5 bytes big-endian, so
    * bits 32..63 are [[first4Md5]] and bits 0..31 are md5 bytes 4-7),
    * majority vote per bit, one pass. 64 bits because 32-bit sketches
    * birthday-saturate at corpus scale (10k synthetic docs already
    * collapse to 7.9k distinct 32-bit sketches, inflating the Hamming
    * candidate load quadratically). */
  def simhash64(s: UTF8String): Long = {
    val toks = tokenBytes(s)
    val md = digest.get()
    val counts = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      md.reset()
      md.update(toks(i))
      val h = first8Md5(md)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > toks.length) acc |= 1L << b
      b += 1
    }
    acc
  }
}

/** Native word-n-gram shingling (array<string>); ≡ `wordNgrams(c, n)`. */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING argument, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordNgrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.wordNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}

/** Native MinHash signature (array<long>[k]); ≡ the staged composed form
  * `minhashFromHashes(hashedShingles(wordNgrams(c, n)), k)`. */
case class MinhashSigExpr(child: Expression, n: Int, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING argument, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.minhashSig(input.asInstanceOf[UTF8String], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.minhashSig($c, $n, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

/** Native winnowing fingerprint (array<long>, sorted distinct); ≡
  * `TextFunctions.winnowFromHashes(hashedCharShinglesOfNormalized(n, k), w)`
  * over the normalized text `n` (the shingle hashing is TextKernelsSpec's
  * composed oracle). */
case class WinnowFingerprintExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING argument, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.winnowFingerprint(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.TextKernels.winnowFingerprint($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprintExpr =
    copy(child = newChild)
}

/** Native 64-bit SimHash (long, sign bit = sketch bit 63);
  * ≡ `simhash64FromHashes(hashedTokens(c), hashedTokensB(c))`. */
case class Simhash64Expr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING argument, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.simhash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Simhash64Expr =
    copy(child = newChild)
}

/** Count of common elements of two SORTED, DISTINCT long arrays — one
  * merge scan over primitive longs, zero allocation.
  * ≡ `size(array_intersect(a, b))` on sorted distinct inputs, but
  * without the per-row hash-set build (and, combined with the
  * dictionary encoding in [[graft.operators.Dedup.jaccardSelfJoin]],
  * without any per-element UTF8String materialization) that made the
  * built-in the verify-stage bottleneck of the PPJoin text self-join.
  * Precondition (caller-enforced): both arrays sorted ascending, no
  * null elements. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two ARRAY<BIGINT> arguments, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.TextKernels.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

/** Count of common elements of two SORTED, DISTINCT string arrays — the
  * string sibling of [[SortedIntersectCountExpr]] (round 18): one
  * UTF8String merge scan. ≡ `size(array_intersect(a, b))` on sorted
  * distinct inputs, without the per-row hash-set build that made the
  * built-in the cost of the exact-Jaccard verify projections
  * (q_ngram_jaccard, q_minhash_calibration). Precondition
  * (caller-enforced): both arrays sorted ascending in binary UTF8 order
  * (`array_sort` on default-collation strings), no null elements. */
case class SortedIntersectCountStrExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count_str"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two ARRAY<STRING> arguments, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.sortedIntersectCountStr(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.TextKernels.sortedIntersectCountStr($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountStrExpr =
    copy(left = newLeft, right = newRight)
}

/** Common elements of two SORTED, DISTINCT long arrays — the array-
  * returning sibling of [[SortedIntersectCountExpr]]: one merge scan,
  * primitive output (UnsafeArrayData), no per-row hash set.
  * ≡ `array_intersect(a, b)` on sorted distinct inputs up to element
  * ORDER (output is sorted; the built-in preserves left order — equal
  * as sets, which is all the triangle-credit consumers read).
  * Precondition (caller-enforced): both arrays sorted ascending, no
  * null elements. */
case class SortedIntersectExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sorted_intersect"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two ARRAY<BIGINT> arguments, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.sortedIntersect(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.TextKernels.sortedIntersect($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectExpr =
    copy(left = newLeft, right = newRight)
}
