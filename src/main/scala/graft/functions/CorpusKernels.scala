package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernels for the corpus-pipeline hot paths (optimization r18).
  *
  * Two operators dominated the dedup/tokenizer bench families with
  * INTERPRETED higher-order-function inner loops (`transform`/`aggregate`
  * lambdas are CodegenFallback — every element pays interpreted expression
  * dispatch):
  *
  *  - the Md5-family MinHash signature stage evaluated, per (doc, shingle)
  *    row, a `concat_ws` shingle build + an `md5` + two `conv(substring)`
  *    parses, then shuffled one 17-column row per doc per partition into a
  *    groupBy just to take k mins — when the whole signature is a pure
  *    function of the document's word array;
  *  - the Unigram-LM Viterbi DP ran `aggregate(sequence(1, len), …)` with a
  *    3-candidate `least` per character, each candidate a `substr` + a
  *    LINEAR-scan literal-map lookup.
  *
  * Both kernels follow the [[HierArgMinKernel]] discipline: the heavy loop
  * is a plain JVM method on a reference object, the expression stays
  * whole-stage-codegen-friendly (`doGenCode` emits one call), and
  * BIT-IDENTITY with the expression formulation it replaces is the
  * contract (spec-pinned): identical md5 bytes, identical integer
  * arithmetic, identical tie rules. No results change — only the plan
  * shape (the signature groupBy exchange disappears) and the per-row cost.
  */
object CorpusKernels {
  import org.apache.spark.sql.graftshim.ColumnBridge

  /** k Md5-family MinHash lane minima over a word array's n-gram shingles.
    * Exactly `min_i over shingles of (h1 + i*h2)` where
    * `h1 = conv(substring(md5(shingle),1,15),16,10)` and
    * `h2 = conv(substring(md5(shingle),17,15),16,10) % 2^55`
    * (Dedup.Md5Hash's Kirsch–Mitzenmacher lanes), shingle =
    * `concat_ws(" ", words[s..s+n-1])`. Docs with fewer than n words (the
    * caller filters them out, matching `shingleArray`) would return
    * all-MaxValue — never emitted. */
  def minHashMd5(words: Column, n: Int, k: Int): Column =
    ColumnBridge.column(MinHashMd5Sigs(ColumnBridge.expression(words), n, k))

  /** Packed Viterbi DP verdict for ONE word: `cost·1024 + pieces` of the
    * minimum-cost unigram segmentation — exactly
    * `element_at(aggregate(sequence(1, len), [0L], step), len+1)` of
    * `Tokenizer.unigramViterbi`'s fold. */
  def viterbiPack(word: Column, vocab: Seq[(String, Int)], unkCost: Int,
                  maxPieceLen: Int): Column =
    ColumnBridge.column(UnigramViterbiPack(ColumnBridge.expression(word),
      new ViterbiKernel(vocab, unkCost, maxPieceLen)))

  /** Space-joined word n-grams — exactly
    * `transform(sequence(0, size(ws) - n), i ->
    *    concat_ws(" ", element_at(ws, i+1), …, element_at(ws, i+n)))`
    * (optimization r19): the dedup family's hottest interpreted
    * expression, one CodegenFallback lambda dispatch + n interpreted
    * element_at's per window. Caller contract unchanged: filter
    * `size(ws) >= n` first (the kernel returns an empty array below n
    * where the HOF form would mis-expand a descending sequence). */
  def ngramJoin(words: Column, n: Int): Column =
    ColumnBridge.column(NgramJoin(ColumnBridge.expression(words), n))

  /** Ordered (a < b) pair structs of a long-id array — exactly
    * `flatten(transform(array_sort(ids), (x, i) ->
    *    transform(slice(array_sort(ids), i + 2, size(ids)),
    *      y -> struct(x AS doc_a, y AS doc_b))))`
    * with the sort folded in (long ascending — bit-identical to
    * array_sort on non-null longs). Emits b·(b−1)/2 structs in the same
    * (i asc, j asc) order. */
  def sortedPairs(ids: Column): Column =
    ColumnBridge.column(SortedPairs(ColumnBridge.expression(ids)))
}

/** MD5 MinHash signature kernel — see [[CorpusKernels.minHashMd5]].
  * Thread-confined MessageDigest (MD5 instances are not thread-safe);
  * h1/h2 are read NUMERICALLY from the digest bytes (hex chars 0–14 are
  * bytes 0–6 plus the high nibble of byte 7; chars 16–30 are bytes 8–14
  * plus the high nibble of byte 15) — bit-identical to parsing the hex
  * substrings, with no hex string materialized. */
final class MinHashMd5Kernel(n: Int, k: Int) extends Serializable {
  require(n >= 1 && k >= 1, "degenerate minhash parameters")

  @transient private lazy val mdLocal =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  private val space = Array[Byte](' '.toByte)

  /** 60-bit value of hex chars [c, c+15) of the 16-byte digest, where c is
    * 0 or 16 (so it always starts on a byte boundary and ends mid-byte). */
  @inline private def hex15(d: Array[Byte], byteStart: Int): Long = {
    var v = 0L
    var j = byteStart
    val end = byteStart + 7
    while (j < end) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
    (v << 4) | ((d(end) & 0xffL) >>> 4)
  }

  def apply(ws: ArrayData): ArrayData = {
    val w = ws.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = mdLocal.get()
    var s = 0
    val last = w - n
    while (s <= last) {
      md.reset()
      // concat_ws(" ", …) semantics: null words are SKIPPED (no separator)
      var first = true
      var j = s
      val end = s + n
      while (j < end) {
        if (!ws.isNullAt(j)) {
          if (!first) md.update(space)
          md.update(ws.getUTF8String(j).getBytes)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      val h1 = hex15(d, 0)
      val h2 = hex15(d, 8) % (1L << 55)
      var i = 0
      var lane = h1
      while (i < k) {
        if (lane < mins(i)) mins(i) = lane
        lane += h2
        i += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }
}

/** `array<string>` words → `array<long>` of the k MinHash lane minima.
  * Null input → null. */
case class MinHashMd5Sigs(child: Expression, n: Int, k: Int)
  extends UnaryExpression {

  private val kernel = new MinHashMd5Kernel(n, k)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"MinHashMd5Sigs requires array<string> input, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("minHashMd5Kernel", kernel,
      classOf[MinHashMd5Kernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $kRef.apply($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Viterbi DP kernel — see [[CorpusKernels.viterbiPack]]. Vocabulary keys
  * are stored as [[UTF8String]] (byte-level equality and hashing, exactly
  * the semantics of Catalyst's literal-map `element_at`); substrings are
  * taken at CHARACTER (code point) positions via `UTF8String.substring`,
  * exactly `Column.substr`. The DP array is reused across candidates; all
  * arithmetic is the fold's: `acc(i−L) + cost·1024 + 1`, minimized with
  * signed-long comparison (`least`). */
final class ViterbiKernel(vocab: Seq[(String, Int)], unkCost: Int,
                          maxPieceLen: Int) extends Serializable {
  require(maxPieceLen >= 1, "degenerate maxPieceLen")
  require(vocab.forall(_._1.length <= maxPieceLen),
    s"vocab pieces must be <= $maxPieceLen chars")

  // built eagerly (serializable Seq retained; map rebuilt on deserialize)
  @transient private lazy val vmap: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](vocab.size * 2)
    // map_from_arrays keeps the LAST binding for a duplicated key
    vocab.foreach { case (p, c) => m.put(UTF8String.fromString(p), Integer.valueOf(c)) }
    m
  }

  def apply(w: UTF8String): Long = {
    val len = w.numChars()
    if (len == 0) return 0L
    val dp = new Array[Long](len + 1)
    var i = 1
    while (i <= len) {
      var best = Long.MaxValue
      val maxL = if (i < maxPieceLen) i else maxPieceLen
      var L = 1
      while (L <= maxL) {
        val piece = w.substring(i - L, i)
        val c = vmap.get(piece)
        val cost: Long =
          if (c != null) c.longValue()
          else if (L == 1) unkCost.toLong
          else -1L
        if (cost >= 0L) {
          val cand = dp(i - L) + cost * 1024L + 1L
          if (cand < best) best = cand
        }
        L += 1
      }
      dp(i) = best
      i += 1
    }
    dp(len)
  }
}

/** N-gram join kernel — see [[CorpusKernels.ngramJoin]]. Window strings
  * are built with `UTF8String.concatWs` (the exact routine Catalyst's
  * `ConcatWs` evaluates — byte-identical output, null words skipped). */
final class NgramJoinKernel(n: Int) extends Serializable {
  require(n >= 1, "degenerate n-gram size")
  private val space = UTF8String.fromString(" ")

  def apply(ws: ArrayData): ArrayData = {
    val w = ws.numElements()
    if (w < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](w - n + 1)
    // reuse one window buffer; concatWs copies bytes out per call
    val win = new Array[UTF8String](n)
    var s = 0
    val last = w - n
    while (s <= last) {
      var j = 0
      while (j < n) {
        win(j) = if (ws.isNullAt(s + j)) null else ws.getUTF8String(s + j)
        j += 1
      }
      out(s) = UTF8String.concatWs(space, win: _*)
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** `array<string>` words → `array<string>` of space-joined n-grams.
  * Null input → null. */
case class NgramJoin(child: Expression, n: Int) extends UnaryExpression {
  private val kernel = new NgramJoinKernel(n)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"NgramJoin requires array<string> input, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("ngramJoinKernel", kernel,
      classOf[NgramJoinKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $kRef.apply($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sorted-pair kernel — see [[CorpusKernels.sortedPairs]]. Long arrays
  * take a primitive fast path; any other atomic element type sorts with
  * the SAME interpreted ordering `array_sort` uses, so pair order is
  * bit-identical for every id type the call sites pass. */
final class SortedPairsKernel(elemType: DataType) extends Serializable {
  @transient private lazy val ordering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(elemType)

  def apply(ids: ArrayData): ArrayData = {
    val b = ids.numElements()
    // the largest b whose b*(b-1) still fits an Int
    require(b <= 46341, s"sortedPairs: $b ids in one array exceed 46341 " +
      "(b*(b-1)/2 pairs would overflow Int)")
    val out = new Array[Any](b * (b - 1) / 2)
    var k = 0
    if (elemType == LongType) {
      val sorted = ids.toLongArray()
      java.util.Arrays.sort(sorted)
      var i = 0
      while (i < b) {
        var j = i + 1
        while (j < b) {
          out(k) = org.apache.spark.sql.catalyst.InternalRow(sorted(i), sorted(j))
          k += 1; j += 1
        }
        i += 1
      }
    } else {
      val sorted = ids.toObjectArray(elemType)
      java.util.Arrays.sort(sorted.asInstanceOf[Array[AnyRef]],
        ordering.asInstanceOf[Ordering[AnyRef]])
      var i = 0
      while (i < b) {
        var j = i + 1
        while (j < b) {
          out(k) = org.apache.spark.sql.catalyst.InternalRow(sorted(i), sorted(j))
          k += 1; j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** `array<T>` ids → ordered `array<struct<doc_a:T, doc_b:T>>` pairs over
  * the ascending-sorted ids. Null input → null; elements must be non-null
  * (collect_list output — the only call sites). */
case class SortedPairs(child: Expression) extends UnaryExpression {
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  @transient private lazy val kernel = new SortedPairsKernel(elemType)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(et, false)
          if org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(et) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "SortedPairs requires array<orderable> with non-null elements, got " +
            other.catalogString)
    }

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_a", elemType, nullable = false),
      org.apache.spark.sql.types.StructField("doc_b", elemType, nullable = false))),
    containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("sortedPairsKernel", kernel,
      classOf[SortedPairsKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $kRef.apply($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `string` word → packed `long` Viterbi verdict. Null input → null. */
case class UnigramViterbiPack(child: Expression, kernel: ViterbiKernel)
  extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"UnigramViterbiPack requires string input, got ${other.catalogString}")
    }

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("viterbiKernel", kernel,
      classOf[ViterbiKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $kRef.apply($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
