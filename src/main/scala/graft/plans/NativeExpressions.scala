package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/sketch hot paths.
  *
  * The higher-order-function formulations (`aggregate`/`zip_with`) are
  * semantically right but allocate a lambda frame per element; on the
  * all-pairs similarity joins that is the dominant cost (measured 27 s for
  * the 2M-pair cosine join at sf0.1). These expressions compile to tight
  * primitive loops:
  *
  *  - [[FloatVecDot]] — full `doGenCode`, because it sits inside join
  *    conditions and runs O(n²) times; whole-stage codegen inlines it.
  *  - [[SimHash64]] / [[MinHashSig]] — `CodegenFallback`: they run once per
  *    row and their cost IS the internal loop, so interpreted dispatch
  *    around a tight JVM loop is already optimal; full codegen would only
  *    inline one virtual call.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vec_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<float> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  // Malformed inputs propagate as NULL (same as the zip_with/aggregate
  // formulation): length mismatch or a null element → null result, never
  // a silent prefix dot product that would rank a corrupt vector.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      sum += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    sum
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $sum;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Fused dequantize-and-dot over two byte-packed SQ8 code arrays
  * (graft.operators.Sq8Index.packCodes layout: code value c+128 stored as
  * signed byte). Per element i both sides reconstruct
  * `(float)(lo_i + (c_i + 128) · step_i)` — bit-identical to
  * `Sq8Index.dequantByte` — and the products accumulate in DOUBLE
  * (FloatVecDot's fold), so the fused score equals
  * `dot(dequantByte(a), dequantByte(b))` exactly while evaluating each
  * code array ONCE. The compositional form re-ran the 64-element
  * `transform` per use (dot + two norms = 4 evaluations/candidate row) —
  * this expression is the quantized pre-filter's hot loop, executed once
  * per candidate pair, hence full `doGenCode` like [[FloatVecDot]].
  *
  * The grid rides inside the serialized expression (2 × dim doubles),
  * the [[NearestCell]] broadcast-literal posture. Length mismatch with
  * the grid or between sides → NULL (corrupt input, never a prefix dot).
  */
case class Sq8CodeDot(left: Expression, right: Expression,
    lo: Array[Double], step: Array[Double])
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_code_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(ByteType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType) && lo.length == step.length)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<tinyint> inputs and matching grid " +
        s"arrays, got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements() || n != lo.length) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xa = (lo(i) + (x.getByte(i).toInt + 128) * step(i)).toFloat
      val yb = (lo(i) + (y.getByte(i).toInt + 128) * step(i)).toFloat
      sum += xa.toDouble * yb.toDouble
      i += 1
    }
    sum
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("sq8lo", lo, "double[]")
    val stRef = ctx.addReferenceObj("sq8step", step, "double[]")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      val xa = ctx.freshName("xa")
      val yb = ctx.freshName("yb")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements() || $n != $loRef.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    float $xa = (float) ($loRef[$i] + (((int) $a.getByte($i)) + 128) * $stRef[$i]);
         |    float $yb = (float) ($loRef[$i] + (((int) $b.getByte($i)) + 128) * $stRef[$i]);
         |    $sum += (double) $xa * (double) $yb;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $sum;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Sq8CodeDot =
    copy(left = newLeft, right = newRight)
}

/** Lossless pack of an `array<float>` embedding into a BINARY column:
  * 4 little-endian IEEE-754 bytes per element, in element order. The
  * exact-verify re-attach joins ship matched float vectors THROUGH
  * shuffle exchanges (the r11 verdict's task 1: the survivor-pair
  * broadcast scaled with the duplicate rate, an O(corpus) broadcast on a
  * high-dup crawl) — [[PackedFloatDot]] restores bit-identical
  * arithmetic on the other side. Packing does NOT evade the engine-wide
  * ScaleLint float-payload guardrail: VectorFunctions.packVec stamps the
  * output attribute with ScaleLint.PackedVectorKey metadata and the
  * physical rule flags marked BINARY shuffle payloads by default; only
  * the explicit, per-site packVecExempt(reason) audit mark silences it.
  * Null element → NULL (corrupt input, the FloatVecDot posture).
  * CodegenFallback: once per row, cost is the byte copy itself.
  */
case class FloatVecPack(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "float_vec_pack"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<float>, got ${t.simpleString}")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val buf = java.nio.ByteBuffer.allocate(4 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      buf.putFloat(v.getFloat(i))
      i += 1
    }
    buf.array()
  }

  override protected def withNewChildInternal(c: Expression): FloatVecPack =
    copy(child = c)
}

/** Exact dot product over two [[FloatVecPack]]-packed BINARY vectors:
  * reads back the identical IEEE-754 floats and accumulates in DOUBLE in
  * element order — bit-identical to [[FloatVecDot]] on the unpacked
  * arrays (same products, same fold order). Length mismatch (or a length
  * not a multiple of 4) → NULL, never a silent prefix dot.
  *
  * This is the exact-verify hot loop of the shuffle-join re-attach
  * ([[graft.operators.SemDedup.exactVerifyPairs]], shared by
  * `SemDedup.pairs`, `SemDedup.batchPairs` and the registry query
  * `q_dedup_embedding_lsh`): it runs once per SURVIVING candidate
  * pair, after the quantized pre-filter — full `doGenCode` like
  * [[FloatVecDot]], since on a high-duplicate corpus the survivor stream
  * is O(corpus). The generated code checks the length guard inline and
  * calls ONE primitive static for the sum — no per-row boxing, no
  * ByteBuffer allocation (the interpreted path shares the same static).
  */
case class PackedFloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "packed_float_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two binary inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    PackedFloatDot.dotOrNull(x, y)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // guard inline, sum via ONE primitive static — no boxed Double, no
      // per-row allocation on the O(survivors) exact-verify stream
      s"""
         |if ($a.length != $b.length || ($a.length & 3) != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.plans.PackedFloatDot.dotUnchecked($a, $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackedFloatDot =
    copy(left = newLeft, right = newRight)
}

object PackedFloatDot {
  /** The shared arithmetic: equal-length, multiple-of-4 inputs assumed
    * (generated code checks inline; [[dotOrNull]] checks for the
    * interpreted path). Manual little-endian assembly — zero allocation.
    */
  def dotUnchecked(x: Array[Byte], y: Array[Byte]): Double = {
    var sum = 0.0
    var i = 0
    while (i < x.length) {
      val xf = java.lang.Float.intBitsToFloat(
        (x(i) & 0xff) | (x(i + 1) & 0xff) << 8 |
          (x(i + 2) & 0xff) << 16 | (x(i + 3) & 0xff) << 24)
      val yf = java.lang.Float.intBitsToFloat(
        (y(i) & 0xff) | (y(i + 1) & 0xff) << 8 |
          (y(i + 2) & 0xff) << 16 | (y(i + 3) & 0xff) << 24)
      sum += xf.toDouble * yf.toDouble
      i += 4
    }
    sum
  }

  /** Interpreted-path entry: guard then [[dotUnchecked]]. */
  def dotOrNull(x: Array[Byte], y: Array[Byte]): java.lang.Double = {
    val n = x.length
    if (n != y.length || (n & 3) != 0) null
    else java.lang.Double.valueOf(dotUnchecked(x, y))
  }
}

/** 64-bit SimHash (Charikar '02) over an array<string> token column: one
  * pass over the tokens, 64 vote counters, Murmur3-based per-token 64-bit
  * hash (two 32-bit murmurs with different seeds — deterministic and
  * executor-recomputable everywhere).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<string>, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = NativeHash.hash64(s)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** MinHash signature (Broder '97): for seeds 0..numHashes-1, the minimum
  * seeded 64-bit hash over the input array<string> shingles. Single pass
  * over the shingles with a K-wide running-min array.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if numHashes > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<string> and numHashes > 0, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        var k = 0
        while (k < numHashes) {
          val h = NativeHash.hash64Seeded(s, k)
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** Deterministic 64-bit string hashing from two 32-bit Murmur3 passes —
  * stateless, recomputable on any executor, no broadcast needed.
  */
object NativeHash {
  def hash64(s: UTF8String): Long = hash64Seeded(s, 0)

  def hash64Seeded(s: UTF8String, seed: Int): Long = {
    val lo = Murmur3_x86_32.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes(), 0x9747b28c ^ seed)
    val hi = Murmur3_x86_32.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes(), 0x85ebca6b ^ seed)
    (hi.toLong << 32) | (lo.toLong & 0xFFFFFFFFL)
  }
}

/** Distinct word k-shingles of a string in one pass: whitespace-tokenize,
  * join each k consecutive tokens with a single space; documents shorter
  * than k tokens yield their whole token sequence as the one shingle,
  * and ZERO-token documents yield an EMPTY set (a shared "" shingle
  * would make every blank document a jaccard-1.0 "near-duplicate" of
  * every other blank document and collapse them into one dedup cluster;
  * blank-vs-blank identity belongs to exact dedup).
  * First-occurrence order, duplicates dropped.
  *
  * Replaces a `transform(sequence(...), slice+concat_ws)` higher-order
  * chain: HOFs run interpreted (no codegen) and re-evaluate the token
  * split per reference, which profiling showed dominating the dedup
  * pipeline (~5 s per pass over 5k docs at sf0.1).
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType if k > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a string input and k > 0, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString
      .split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (toks.length <= k) {
      out.add(UTF8String.fromString(toks.mkString(" ")))
    } else {
      val sb = new StringBuilder
      var i = 0
      while (i + k <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

/** Distinct 128-bit window keys of the k-token sliding windows of a
  * document, in one pass (r20): tokenize (or take a pre-tokenized
  * array), and for each window hash the joined-by-space UTF8 bytes TWICE
  * — seed 42 (Spark's `xxhash64(w)`) and seed `XXH64.hashInt(1, 42)`
  * (Spark's `xxhash64(lit(1), w)`) — into `struct<h1,h2>` rows. The hash
  * VALUES are bit-identical to the previous
  * `explode(word_shingles(text, k))` → `struct(xxhash64(w),
  * xxhash64(1, w))` pipeline (same bytes, same seeds), so persisted span
  * indexes and every declared output are unchanged; what disappears is
  * the per-window work that pipeline paid — StringBuilder → String →
  * UTF8String materialization of every window, a LinkedHashSet of full
  * window STRINGS, and two per-row catalyst hash calls over them. Here
  * token bytes are extracted once per document and each window is
  * assembled in one reused byte buffer (window bytes = concat of token
  * UTF8 bytes with 0x20 separators = the joined string's bytes).
  * Same fallback contract as [[WordShingles]]: shorter-than-k documents
  * yield their whole token sequence as the one window, zero-token
  * documents yield the empty set, duplicates (by 128-bit key — the
  * tokenSpanPairs "≈ declared exact" convention) drop in
  * first-occurrence order.
  *
  * CodegenFallback like [[WordShingles]]: the cost IS the internal
  * window loop, once per row.
  */
case class SpanKeys(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "span_keys"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType if k > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case ArrayType(StringType, _) if k > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a string or array<string> input and k > 0, " +
            s"got ${t.simpleString}")
    }

  // seed of Spark's xxhash64(lit(1), w): the int 1 folded into seed 42
  private val seed2 =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(1, 42L)

  override def nullSafeEval(input: Any): Any = {
    val toks: Array[Array[Byte]] = child.dataType match {
      case StringType =>
        input.asInstanceOf[UTF8String].toString
          .split("\\s+").withFilter(_.nonEmpty)
          .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ =>
        // null elements are skipped, as MinHashSig does (and as
        // concat_ws would when joining the tokens back into text)
        val arr = input.asInstanceOf[ArrayData]
        (0 until arr.numElements()).filterNot(arr.isNullAt)
          .map(i => arr.getUTF8String(i).getBytes).toArray
    }
    if (toks.isEmpty) return new GenericArrayData(Array.empty[Any])
    val w = math.min(k, toks.length)
    val nWin = toks.length - w + 1
    // reused window buffer, sized once to the widest window
    var maxLen = 0
    var i = 0
    while (i < nWin) {
      var len = w - 1; var j = 0
      while (j < w) { len += toks(i + j).length; j += 1 }
      if (len > maxLen) maxLen = len
      i += 1
    }
    val buf = new Array[Byte](maxLen)
    val seen = new java.util.LinkedHashSet[(Long, Long)]()
    i = 0
    while (i < nWin) {
      var pos = 0; var j = 0
      while (j < w) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val t = toks(i + j)
        System.arraycopy(t, 0, buf, pos, t.length)
        pos += t.length
        j += 1
      }
      val h1 = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, pos, 42L)
      val h2 = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, pos, seed2)
      seen.add((h1, h2))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) {
      val p = it.next()
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](p._1, p._2))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): SpanKeys =
    copy(child = c)
}

/** Map-side IVF cell assignment: argmin of squared L2 distance over a
  * small driver-collected centroid matrix (`cells(i)`, `cvecs(i)`,
  * `cn2s(i) = |c_i|²`). The row's own |v|² is constant across cells, so
  * ranking by `cn2 − 2·dot(v, c)` is equivalent and cheaper. Ties break
  * toward the lowest cell id (matching the previous window formulation's
  * ORDER BY dist, cell).
  *
  * This keeps corpus→cell assignment entirely shuffle-free: the
  * alternative (cross join against the centroid table + per-vector window
  * or groupBy argmin) moves n·k or n rows through an exchange — the named
  * scale-killer at 100 TB. The matrix rides inside the serialized
  * expression (k × dim floats, a few hundred KB at most), the same way a
  * broadcast literal would.
  *
  * CodegenFallback for the same reason as [[SimHash64]]: the cost IS the
  * internal k×dim loop, executed once per row.
  */
case class NearestCell(
    child: Expression,
    cells: Array[Int],
    cvecs: Array[Array[Float]],
    cn2s: Array[Double])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) if cells.nonEmpty =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<float> and a non-empty centroid set, got ${t.simpleString}")
    }

  // Dimension mismatch with every centroid, or a null element → NULL (the
  // row is unassignable), mirroring FloatVecDot's corrupt-input posture.
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    var best = -1
    var bestDist = Double.MaxValue
    var c = 0
    while (c < cvecs.length) {
      val cv = cvecs(c)
      if (cv.length == dim) {
        var dot = 0.0
        var i = 0
        while (i < dim) {
          if (v.isNullAt(i)) return null
          dot += v.getFloat(i).toDouble * cv(i).toDouble
          i += 1
        }
        val d = cn2s(c) - 2.0 * dot
        if (d < bestDist) { bestDist = d; best = c }
      }
      c += 1
    }
    if (best < 0) null else cells(best)
  }

  override protected def withNewChildInternal(c: Expression): NearestCell =
    copy(child = c)
}

/** Top-`p` nearest centroid cells for a vector — the SOFT-assignment twin
  * of [[NearestCell]] (SemDeDup's boundary fix: a near-dup pair split by
  * one k-means boundary still co-locates in some top-p cell). Same
  * zero-shuffle posture: the centroid matrix is baked into the expression
  * and the whole assignment is map-side. Returns the p cell ids ordered
  * by ascending distance (ties broken by cell id, so assignment is
  * deterministic under any centroid iteration order); fewer than p valid
  * centroids → a shorter array; no valid centroid / null element → NULL.
  */
case class NearestCells(
    child: Expression,
    cells: Array[Int],
    cvecs: Array[Array[Float]],
    cn2s: Array[Double],
    p: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) if cells.nonEmpty && p > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<float>, a non-empty centroid set and p>0, got ${t.simpleString}")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    // p-best insertion arrays (p is tiny — 2..4 in practice)
    val bd = Array.fill(p)(Double.MaxValue)
    val bc = Array.fill(p)(Int.MaxValue)
    var n = 0
    var c = 0
    while (c < cvecs.length) {
      val cv = cvecs(c)
      if (cv.length == dim) {
        var dot = 0.0
        var i = 0
        while (i < dim) {
          if (v.isNullAt(i)) return null
          dot += v.getFloat(i).toDouble * cv(i).toDouble
          i += 1
        }
        val d = cn2s(c) - 2.0 * dot
        val id = cells(c)
        // insert (d, id) if it beats the current worst slot
        if (n < p || d < bd(p - 1) || (d == bd(p - 1) && id < bc(p - 1))) {
          var j = math.min(n, p - 1)
          while (j > 0 && (bd(j - 1) > d || (bd(j - 1) == d && bc(j - 1) > id))) {
            bd(j) = bd(j - 1); bc(j) = bc(j - 1); j -= 1
          }
          bd(j) = d; bc(j) = id
          if (n < p) n += 1
        }
      }
      c += 1
    }
    if (n == 0) null
    else org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(java.util.Arrays.copyOf(bc, n))
  }

  override protected def withNewChildInternal(c: Expression): NearestCells =
    copy(child = c)
}

/** All random-hyperplane LSH bucket ids for a vector in ONE pass:
  * `seeds.length` tables × `nBits` Rademacher (±1) hyperplanes. Signs
  * come from a splitmix64 finalizer (public-domain constant-mixing
  * algorithm) of (seed, dimension index) — one 64-bit mix yields the
  * sign bits of ALL planes of that table for that dimension, so the
  * whole bucket array costs tables × dim integer mixes per row.
  *
  * Replaces a `transform/aggregate` higher-order chain that evaluated an
  * interpreted lambda per (table × bit × dimension) element — the
  * measured dominant cost of the LSH ANN queries. Like the HOF version,
  * planes are derived from hashes on demand: no stored plane matrix, any
  * executor can recompute them.
  */
case class LshBuckets(child: Expression, nBits: Int, seeds: Array[Int])
    extends UnaryExpression with CodegenFallback {

  require(nBits > 0 && nBits <= 64, s"nBits must be in [1,64], got $nBits")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) if seeds.nonEmpty =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<float> and non-empty seeds, got ${t.simpleString}")
    }

  override def nullable: Boolean = true

  private def mix(seed: Int, i: Int): Long = {
    // splitmix64 finalizer over the packed (seed, index) pair
    var z = (seed.toLong << 32) ^ (i.toLong & 0xFFFFFFFFL)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val out = new Array[Any](seeds.length)
    var t = 0
    while (t < seeds.length) {
      val projs = new Array[Double](nBits)
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i)) return null
        val x = v.getFloat(i).toDouble
        val h = mix(seeds(t), i)
        var b = 0
        while (b < nBits) {
          if (((h >>> b) & 1L) != 0L) projs(b) += x else projs(b) -= x
          b += 1
        }
        i += 1
      }
      var bucket = 0L
      var b = 0
      while (b < nBits) {
        if (projs(b) >= 0.0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): LshBuckets =
    copy(child = c)
}

/** One-pass text statistics for the text-analysis stack: whitespace
  * token count + total token length + stopword hits (the former
  * TokenStats trio), PLUS the BPE-ish pre-tokenizer match count and the
  * punctuation-character count, all from a single code-point scan of the
  * text. Supersedes TokenStats (split("\\s+") allocated a token array per
  * row) and, more importantly, the two `regexp_count` calls whose
  * alternation patterns dominated q_text_stats at sf10 (~2,900 CPU-s of
  * java.util.regex over 1.3 GB of text — the #3 CPU query of the leg).
  *
  * Exact semantic contract (property-pinned in NativeExpressionsSpec
  * against the regex forms on arbitrary unicode input):
  *   - n_tokens / sum_len / n_stop: tokens are maximal runs of
  *     non-whitespace where whitespace is java regex `\s` = exactly
  *     [ \t\n\x0B\f\r] (NOT Character.isWhitespace); lengths in UTF-16
  *     units (String.length semantics); stopword match on the token's
  *     default-locale lowercase, as TokenStats did.
  *   - n_bpeish == regexp_count(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"):
  *     a maximal ASCII-letter run counts 1, a maximal ASCII-digit run
  *     counts 1, every other non-whitespace CODE POINT counts 1 (java
  *     regex character classes match per code point, so a surrogate
  *     pair is ONE match — the scan advances by Character.charCount).
  *   - n_punct == regexp_count(text, "[^A-Za-z0-9\s]"): non-alnum
  *     non-whitespace code points.
  */
case class TextScanStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("n_bpeish", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false)))
  override def prettyName: String = "text_scan_stats"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a string input, got ${t.simpleString}")
    }

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    TextScanStats.scan(input.asInstanceOf[UTF8String], stopSet)

  /** Full codegen (this sits in the hottest map pass the engine has —
    * the one-scan-per-document corpus statistics projection): the
    * generated code passes the child's UTF8String straight into the
    * shared [[TextScanStats.scan]] kernel, so the projection stays
    * inside its WholeStageCodegen span with no per-row InternalRow
    * boxing (CodegenFallback routed every row through
    * `expr.eval(inputRow)` with boxed dispatch). The kernel is ONE JVM
    * method for both paths, so codegen/interpreted bit-equality holds by
    * construction — and is still property-pinned in
    * NativeExprPropertySpec against the exact regex/split machinery the
    * expression replaced.
    */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopRef = ctx.addReferenceObj("stopSet", stopSet,
      "java.util.HashSet<String>")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextScanStats$$.MODULE$$.scan($c, $stopRef);")
  }

  override protected def withNewChildInternal(c: Expression): TextScanStats =
    copy(child = c)
}

object TextScanStats {

  // java regex \s without UNICODE_CHARACTER_CLASS — exactly these six
  @inline private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'
  @inline private def isAlpha(cp: Int): Boolean =
    (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')
  @inline private def isDigit(cp: Int): Boolean = cp >= '0' && cp <= '9'

  /** The one-pass code-point scan — the SINGLE kernel behind both the
    * interpreted eval and the generated code (see doGenCode above).
    */
  def scan(input: UTF8String,
      stopSet: java.util.HashSet[String])
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val s = input.toString
    val len = s.length
    val checkStops = !stopSet.isEmpty
    var nTok = 0
    var sumLen = 0L
    var nStop = 0
    var nBpe = 0
    var nPunct = 0
    var tokStart = -1
    // 0 = none/whitespace/other, 1 = in letter run, 2 = in digit run
    var runClass = 0
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      val w = Character.charCount(cp)
      if (isWs(cp)) {
        if (tokStart >= 0) {
          nTok += 1
          sumLen += i - tokStart
          if (checkStops && stopSet.contains(s.substring(tokStart, i).toLowerCase))
            nStop += 1
          tokStart = -1
        }
        runClass = 0
      } else {
        if (tokStart < 0) tokStart = i
        if (isAlpha(cp)) {
          if (runClass != 1) nBpe += 1
          runClass = 1
        } else if (isDigit(cp)) {
          if (runClass != 2) nBpe += 1
          runClass = 2
        } else {
          nBpe += 1
          nPunct += 1
          runClass = 0
        }
      }
      i += w
    }
    if (tokStart >= 0) {
      nTok += 1
      sumLen += len - tokStart
      if (checkStops && stopSet.contains(s.substring(tokStart, len).toLowerCase))
        nStop += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, sumLen, nStop, nBpe, nPunct))
  }
}

/** Hashed char-n-gram linear scorer — the inference half of a
  * fastText-style learned quality classifier (Joulin et al. 2016,
  * "Bag of Tricks for Efficient Text Classification"): every char
  * n-gram of the (caller-lowercased) text hashes into one of `dim`
  * buckets and the document's logit is the sum of the bucket weights —
  * a linear model over hashed bag-of-ngrams, evaluated in one pass.
  *
  * Arithmetic is EXACT by construction so a SQL oracle can replay it:
  * weights are fixed-point integers (scale 1000) and the returned
  * logit is their integer sum; any float (mean score, sigmoid) is
  * derived OUTSIDE the expression from the two exact integers. The
  * bucket hash is the md5-prefix fold the fingerprint operator already
  * uses (engine-independent, available in DuckDB), not murmur.
  *
  * Scale posture: map-side projection only — the weight vector rides
  * the expression as an O(dim) literal (a trained model is a few KB;
  * at fastText's 2M-bucket default it would move to a broadcast), the
  * corpus text never shuffles, and scoring fuses into the scan
  * projection like every other scalar here.
  *
  * CodegenFallback per the file's convention: per-row cost is the
  * internal ngram/md5 loop, so interpreted dispatch around a tight JVM
  * loop is already the optimum.
  *
  * Returns struct(n_grams LONG, logit LONG); null text → null.
  */
case class HashedNgramLogit(child: Expression, n: Int, dim: Int,
    weights: Array[Long])
    extends UnaryExpression with CodegenFallback {

  require(n > 0 && dim > 0 && weights.length == dim,
    s"ngram_logit: need weights.length == dim, got ${weights.length} != $dim")

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("logit", LongType, nullable = false)))
  override def prettyName: String = "ngram_logit"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a string input, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    // String (UTF-16) indexing: BMP chars are one unit each, matching
    // DuckDB's per-character substr for every fixture script (CJK incl.);
    // the md5 is over the ngram's UTF-8 bytes on both engines.
    val s = input.asInstanceOf[UTF8String].toString
    val md = java.security.MessageDigest.getInstance("MD5")
    val total = s.length - n + 1
    var grams = 0L
    var logit = 0L
    var i = 0
    while (i < total) {
      val bytes = s.substring(i, i + n)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.reset()
      val d = md.digest(bytes)
      // first 8 hex chars == first 4 bytes, big-endian, unsigned
      val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      logit += weights((h % dim).toInt)
      grams += 1L
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](grams, logit))
  }

  override protected def withNewChildInternal(c: Expression): HashedNgramLogit =
    copy(child = c)
}

/** Per-document hashed char-n-gram BUCKET COUNTS — the FEATURE side of
  * the [[HashedNgramLogit]] classifier, for TRAINING (operators
  * .QualityTrainer). Identical hashing arithmetic (UTF-16 substring →
  * UTF-8 md5 → first 4 bytes big-endian unsigned mod dim), so
  * `dot(counts, w) == HashedNgramLogit(text, w).logit` exactly — the
  * invariant QualityTrainerSpec pins, guaranteeing a trained weight
  * vector scores through the existing inference path without feature
  * skew. Returns array<long>(dim). CodegenFallback: once per row, cost
  * is the md5 loop itself.
  */
case class HashedNgramCounts(child: Expression, n: Int, dim: Int)
    extends UnaryExpression with CodegenFallback {

  require(n > 0 && dim > 0, s"ngram_counts: need n > 0 and dim > 0, got $n, $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_counts"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a string input, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Long](dim)
    val total = s.length - n + 1
    var i = 0
    while (i < total) {
      val bytes = s.substring(i, i + n)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.reset()
      val d = md.digest(bytes)
      val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      counts((h % dim).toInt) += 1L
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(c: Expression): HashedNgramCounts =
    copy(child = c)
}
