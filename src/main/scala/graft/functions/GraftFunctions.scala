package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** 64-bit SimHash: majority vote per bit position over an array of
  * 64-bit token hashes. Native Catalyst expression — evaluated on
  * `ArrayData` without deserializing to JVM collections; doGenCode
  * emits a call into the static evaluator so the surrounding
  * projection stays one WholeStageCodegen span.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<bigint>, got ${other.catalogString}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHash64.eval(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.SimHash64$$.MODULE$$.eval($arr);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def eval(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** k-element MinHash signature over an `array<bigint>` of shingle
  * hashes, computed in ONE pass: for permutation i, min over shingles x
  * of (aᵢ·(x mod 2³²) + bᵢ) mod P, P the smallest prime > 2³².
  *
  * Native Catalyst expression replacing k separate `aggregate` HOF
  * folds (round-1 q_minhash_lsh spent 63% of the bench re-folding the
  * shingle array 64 times per document in interpreted expression code).
  * Here the k×|shingles| multiply-mod loop runs as tight JVM code over
  * `ArrayData` — O(k·n) with no per-element expression dispatch.
  *
  * Parameters derive from a fixed seed, so signatures are deterministic
  * across runs and executors; aᵢ < 2³¹ and x < 2³² keep aᵢ·x + bᵢ
  * under 2⁶³ (no silent long overflow).
  *
  * Generates real Java (doGenCode) — the parameter arrays ride along
  * as referenced objects — so the signature projection stays inside
  * WholeStageCodegen.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature requires array<bigint>, got ${other.catalogString}")
    }
  }

  @transient private lazy val (pa, pb) = MinHashSignature.params(k)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        // x = hash mod 2^32 (power of two ⇒ mask == pmod)
        val x = arr.getLong(i) & 0xFFFFFFFFL
        var j = 0
        while (j < k) {
          val v = (pa(j) * x + pb(j)) % MinHashSignature.P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val paRef = ctx.addReferenceObj("minhashA", pa, "long[]")
      val pbRef = ctx.addReferenceObj("minhashB", pb, "long[]")
      val mins = ctx.freshName("mins")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      s"""
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $x = $arr.getLong($i) & 0xFFFFFFFFL;
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $v = ($paRef[$j] * $x + $pbRef[$j]) % ${MinHashSignature.P}L;
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Distinct word n-gram shingle HASHES in one pass over the UTF-8
  * bytes: tokenize on ASCII whitespace, hash every n-token window
  * joined with single spaces, return the sorted distinct 64-bit
  * hashes. Bit-compatible with the composed-HOF pipeline it replaces —
  * each value equals `xxhash64(array_join(slice(tokens,i,n), ' '))`
  * (Spark's XXH64, seed 42) — so MinHash signatures, LSH candidates
  * and Jaccard counts are unchanged; only the ~|text|·n intermediate
  * string materializations disappear.
  *
  * Documents with fewer than n tokens fall back to one whole-text
  * shingle (tokens joined by single spaces), matching the HOF form.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, "shingle length must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_hashes requires string, got ${other.catalogString}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ShingleHashes.eval(bytes, n))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleHashes$$.MODULE$$.eval($s.getBytes(), $n));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** The ONE byte-level tokenizer behind every windowed text expression:
  * the ASCII Java-regex \s boundary class (space, \t, \n, \x0B, \f,
  * \r — the rule of TextOps.tokens' "\\S+") and the maximal-run offset
  * scan. Shared so the boundary rule cannot desynchronize between
  * passes that must agree on token positions — e.g. substring dedup's
  * anchor pass ([[PositionalShingleHashes]]) and its cut pass
  * ([[RemoveTokenSpans]]).
  */
private[functions] object ByteTokens {
  def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Maximal non-whitespace runs as parallel (start, end) offset
    * lists (always the same length). */
  def offsets(bytes: Array[Byte])
      : (java.util.ArrayList[Int], java.util.ArrayList[Int]) = {
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < bytes.length) {
      if (!isSpace(bytes(i))) {
        val s = i
        while (i < bytes.length && !isSpace(bytes(i))) i += 1
        starts.add(s); ends.add(i)
      } else i += 1
    }
    (starts, ends)
  }

  /** Assemble tokens [from, from+count) into `scratch` joined by
    * single spaces; returns the assembled byte length. `scratch` must
    * hold bytes.length + 1 bytes. */
  def joinWindow(
      bytes: Array[Byte],
      starts: java.util.ArrayList[Int],
      ends: java.util.ArrayList[Int],
      scratch: Array[Byte],
      from: Int,
      count: Int): Int = {
    var len = 0
    var t = from
    val until = from + count
    while (t < until) {
      if (t > from) { scratch(len) = ' '; len += 1 }
      val s = starts.get(t); val e = ends.get(t)
      System.arraycopy(bytes, s, scratch, len, e - s)
      len += e - s
      t += 1
    }
    len
  }
}

object ShingleHashes {
  private val Seed = 42L // Spark's xxhash64 default seed

  def eval(bytes: Array[Byte], n: Int): Array[Long] = {
    val (starts, ends) = ByteTokens.offsets(bytes)
    val m = starts.size()
    val scratch = new Array[Byte](bytes.length + 1)

    def hashWindow(from: Int, count: Int): Long = {
      val len = ByteTokens.joinWindow(bytes, starts, ends, scratch, from, count)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, Seed)
    }

    if (m < n) return Array(hashWindow(0, m)) // incl. empty text → hash("")
    val set = new java.util.TreeSet[java.lang.Long]()
    var w = 0
    while (w <= m - n) { set.add(hashWindow(w, n)); w += 1 }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }
}

/** Distinct word n-gram shingle STRINGS in one pass — the same
  * tokenize/window walk as [[ShingleHashes]] but materializing the
  * joined shingle instead of its hash. Exists because the composed-HOF
  * form (`transform(sequence(...), i => array_join(slice(tokens ...)))`
  * in [[graft.dedup.Dedup.shingles]]) re-evaluates the tokenizing
  * `regexp_extract_all` subexpression once per window — ~|tokens|
  * regex passes per document, measured 3.3 s of the 4.0 s
  * q_top_ngrams at sf0.1. Set-equal to `shingles(text, n)` per
  * document (proven in DedupSpec); element order is first-occurrence
  * rather than array_distinct order — identical under any downstream
  * explode+aggregate.
  */
case class ShingleStrings(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, "shingle length must be positive")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_strings requires string, got ${other.catalogString}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ShingleStrings.eval(bytes, n)
        .asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (Object[]) graft.functions.ShingleStrings$$.MODULE$$.eval($s.getBytes(), $n));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

object ShingleStrings {
  def eval(bytes: Array[Byte], n: Int)
      : Array[org.apache.spark.unsafe.types.UTF8String] = {
    import org.apache.spark.unsafe.types.UTF8String
    val (starts, ends) = ByteTokens.offsets(bytes)
    val m = starts.size()
    val scratch = new Array[Byte](bytes.length + 1)

    def window(from: Int, count: Int): UTF8String = {
      val len = ByteTokens.joinWindow(bytes, starts, ends, scratch, from, count)
      UTF8String.fromBytes(java.util.Arrays.copyOf(scratch, len))
    }

    if (m < n) return Array(window(0, m)) // incl. empty text → ""
    val set = new java.util.LinkedHashSet[UTF8String]()
    var w = 0
    while (w <= m - n) { set.add(window(w, n)); w += 1 }
    set.toArray(new Array[UTF8String](set.size))
  }
}

/** Word n-gram shingle hashes IN POSITION ORDER — element i is the
  * xxhash64 (same bytes walk and seed as [[ShingleHashes]], so values
  * are bit-compatible) of the n-token window starting at token i.
  * The positional form is the anchor pass of exact substring dedup
  * ([[graft.dedup.Dedup.substringDedup]]): duplicate-span detection
  * needs to know WHERE a shared window sits, so neither the distinct
  * nor the sorted normalization of [[ShingleHashes]] applies here.
  * Documents with fewer than n tokens return an EMPTY array — no
  * window, no anchor (whole-document duplicates are
  * [[graft.dedup.Dedup.exactDedup]]'s job, not a substring matter).
  */
case class PositionalShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, "shingle length must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "positional_shingle_hashes"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"positional_shingle_hashes requires string, got ${other.catalogString}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PositionalShingleHashes.eval(bytes, n))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PositionalShingleHashes$$.MODULE$$.eval($s.getBytes(), $n));
       """.stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): PositionalShingleHashes =
    copy(child = newChild)
}

object PositionalShingleHashes {
  private val Seed = 42L // Spark's xxhash64 default seed

  def eval(bytes: Array[Byte], n: Int): Array[Long] = {
    val (starts, ends) = ByteTokens.offsets(bytes)
    val m = starts.size()
    if (m < n) return Array.emptyLongArray
    val scratch = new Array[Byte](bytes.length + 1)
    val out = new Array[Long](m - n + 1)
    var w = 0
    while (w <= m - n) {
      val len = ByteTokens.joinWindow(bytes, starts, ends, scratch, w, n)
      out(w) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, Seed)
      w += 1
    }
    out
  }
}

/** Reassembly pass of exact substring dedup: given the original text
  * and the ASCENDING token-index start positions of duplicate k-token
  * windows, drop every covered token and join the kept tokens with
  * single spaces (the same canonical-whitespace output contract as the
  * chunking/boilerplate reassembly in [[graft.text.TextOps]]). One
  * linear two-pointer pass over token offsets — O(tokens + starts)
  * regardless of how densely the spans overlap, where the HOF form
  * (`exists` per token over the start set) would be O(tokens·starts)
  * and quadratic on boilerplate-heavy documents.
  */
case class RemoveTokenSpans(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  require(k > 0, "span length must be positive")

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "remove_token_spans"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.StringType,
            ArrayType(org.apache.spark.sql.types.IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"remove_token_spans requires (string, array<int>), " +
            s"got (${l.catalogString}, ${r.catalogString})")
    }
  }

  override def nullSafeEval(t: Any, s: Any): Any =
    RemoveTokenSpans.eval(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes,
      s.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (t, s) =>
      s"""${ev.value} = graft.functions.RemoveTokenSpans$$.MODULE$$.eval(
         |  $t.getBytes(), $s, $k);
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveTokenSpans =
    copy(left = newLeft, right = newRight)
}

object RemoveTokenSpans {
  def eval(
      bytes: Array[Byte],
      spanStarts: org.apache.spark.sql.catalyst.util.ArrayData,
      k: Int): org.apache.spark.unsafe.types.UTF8String = {
    val (starts, ends) = ByteTokens.offsets(bytes)
    val m = starts.size()
    val ns = spanStarts.numElements()
    // kept-token bytes + single-space joins never exceed the original
    val scratch = new Array[Byte](bytes.length)
    var len = 0
    var si = 0
    var coveredUntil = -1 // highest token index covered by spans seen
    var t = 0
    while (t < m) {
      while (si < ns && spanStarts.getInt(si) <= t) {
        val e = spanStarts.getInt(si) + k - 1
        if (e > coveredUntil) coveredUntil = e
        si += 1
      }
      if (t > coveredUntil) {
        if (len > 0) { scratch(len) = ' '; len += 1 }
        val s = starts.get(t); val e = ends.get(t)
        System.arraycopy(bytes, s, scratch, len, e - s)
        len += e - s
      }
      t += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(
      java.util.Arrays.copyOf(scratch, len))
  }
}

/** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken,
  * SIGMOD'03): hash every k-byte gram with a multiplicative rolling
  * hash, slide a w-gram window, keep each window's minimum; the
  * DISTINCT minima (sorted) are the fingerprint set. Guarantee: any
  * shared run of ≥ w+k−1 bytes between two documents contributes at
  * least one shared fingerprint — the standard plagiarism/near-dup
  * selection sketch.
  *
  * One O(n) pass (monotone deque for the sliding min) over the UTF-8
  * bytes as a native expression; map-side, no shuffle.
  */
case class Winnow(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k > 0 && w > 0, "k and w must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow requires string, got ${other.catalogString}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val hashes = Winnow.gramHashes(bytes, k)
    val mins = Winnow.windowMins(hashes, w)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.Winnow$$.MODULE$$.windowMins(
         |    graft.functions.Winnow$$.MODULE$$.gramHashes($s.getBytes(), $k), $w));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

object Winnow {
  private val B = 1000000007L // rolling base (odd ⇒ invertible mod 2^64)

  /** Multiplicative rolling hash of every k-gram: h_{i+1} derived from
    * h_i in O(1) by subtracting the outgoing byte's B^(k−1) term.
    * Wrapping 64-bit arithmetic — deterministic everywhere.
    */
  def gramHashes(bytes: Array[Byte], k: Int): Array[Long] = {
    val n = bytes.length
    if (n == 0) return Array(0L)
    if (n <= k) { // short doc: one gram = the whole byte string
      var h = 0L
      var i = 0
      while (i < n) { h = h * B + (bytes(i) & 0xFF); i += 1 }
      return Array(h)
    }
    var bk = 1L // B^(k-1)
    var i = 1
    while (i < k) { bk *= B; i += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xFF); i += 1 }
    out(0) = h
    i = k
    while (i < n) {
      h = (h - (bytes(i - k) & 0xFF) * bk) * B + (bytes(i) & 0xFF)
      out(i - k + 1) = h
      i += 1
    }
    out
  }

  /** Sorted distinct minima of every w-length window (monotone deque,
    * O(n)); windows shorter than w collapse to the global min.
    */
  def windowMins(hashes: Array[Long], w: Int): Array[Long] = {
    val m = hashes.length
    if (m <= w) return Array(hashes.min)
    val sel = new java.util.TreeSet[java.lang.Long]()
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0 // [head, tail) holds candidate indices, hashes ascending
    var i = 0
    while (i < m) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) sel.add(hashes(deque(head)))
      i += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }
}

/** Dot product of two `array<double>` columns in one tight JVM loop —
  * replaces the interpreted `aggregate(zip_with(...))` fold in the
  * similarity hot path (scored once per candidate pair).
  *
  * Accumulation is left-to-right from element 0 with a 0.0 init,
  * bit-identical to the HOF fold it replaces (and to a left-fold SQL
  * oracle), so existing hash-compared results are unchanged.
  *
  * Generates real Java (doGenCode), so scoring projections stay inside
  * WholeStageCodegen instead of falling back to interpreted eval.
  */
object HyperplaneSignatures {
  /** Flattened plane matrix [table][bit][dim], generated per-table from
    * `new Random(seed + t)` — the EXACT gaussian sequence of
    * [[graft.similarity.Knn.hyperplaneSignature]], so the native batch
    * form is bit-identical to the Column-composed single-table form.
    */
  def planes(dim: Int, bits: Int, tables: Int, seed: Long): Array[Double] = {
    val out = new Array[Double](tables * bits * dim)
    var idx = 0
    (0 until tables).foreach { t =>
      val rnd = new scala.util.Random(seed + t)
      var i = 0
      while (i < bits * dim) { out(idx) = rnd.nextGaussian(); idx += 1; i += 1 }
    }
    out
  }
}

/** All `tables` random-hyperplane LSH signatures of a vector in ONE
  * pass: bit b of signature t is sign(v · h_{t,b}). The OR-amplified
  * LSH paths need tables×bits dot products per row; composing them
  * from per-plane Column expressions builds a projection past
  * codegen's method limits (interpreted fallback, 10× slower measured
  * at sf0.1) and re-compiles tables×bits literal arrays per stage —
  * here it is one tight loop over one plane matrix held as a single
  * reference object.
  */
case class HyperplaneSignatures(
    child: Expression, dim: Int, bits: Int, tables: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_signatures"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_signatures requires array<double>, got ${other.catalogString}")
    }
  }

  @transient private lazy val planes =
    HyperplaneSignatures.planes(dim, bits, tables, seed)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    val sigs = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var s = 0L
      var b = 0
      while (b < bits) {
        val off = (t * bits + b) * dim
        var d = 0.0
        var j = 0
        while (j < n) { d += v.getDouble(j) * planes(off + j); j += 1 }
        if (d >= 0) s |= (1L << b)
        b += 1
      }
      sigs(t) = s
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val pRef = ctx.addReferenceObj("hyperplanes", planes, "double[]")
      val n = ctx.freshName("n")
      val sigs = ctx.freshName("sigs")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |long[] $sigs = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $s = 0L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    int $off = ($t * $bits + $b) * $dim;
         |    double $d = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      $d += $v.getDouble($j) * $pRef[$off + $j];
         |    }
         |    if ($d >= 0) $s |= (1L << $b);
         |  }
         |  $sigs[$t] = $s;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignatures =
    copy(child = newChild)
}

/** `nprobe` best coarse-quantizer cells for a vector by dot product —
  * the IVF assignment step as ONE native expression. Replaces the
  * composed form (`slice(sort_array(array(<nlist> structs of
  * VectorDot(v, typedlit(centroid))), desc), 1, nprobe)`), which
  * builds and fully sorts an nlist-element struct array per row and
  * inflates the generated code with nlist inlined literal dots.
  * Tie rule matches the struct sort exactly: (dot, index) descending —
  * equal dots resolve to the LARGER index.
  *
  * Centroids ride along as a plan-reference object (like the LSH
  * hyperplanes), flattened row-major; selection is O(nlist·nprobe)
  * with no allocation beyond the output.
  */
case class ArgTopCells(
    child: Expression,
    centroids: Vector[Vector[Double]],
    nprobe: Int) extends UnaryExpression {
  require(nprobe > 0, "nprobe must be positive")
  require(centroids.nonEmpty, "need at least one centroid")

  private val nlist = centroids.length
  private val dim = centroids.head.length

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "arg_top_cells"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"arg_top_cells requires array<double>, got ${other.catalogString}")
    }
  }

  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](nlist * dim)
    var i = 0
    while (i < nlist) {
      var j = 0
      while (j < dim) { a(i * dim + j) = centroids(i)(j); j += 1 }
      i += 1
    }
    a
  }

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ArgTopCells.eval(input.asInstanceOf[ArrayData], flat, nlist, dim,
        math.min(nprobe, nlist)))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cRef = ctx.addReferenceObj("centroids", flat, "double[]")
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ArgTopCells$$.MODULE$$.eval(
         |    $v, $cRef, $nlist, $dim, ${math.min(nprobe, nlist)}));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArgTopCells =
    copy(child = newChild)
}

object ArgTopCells {
  def eval(v: ArrayData, flat: Array[Double], nlist: Int, dim: Int,
      nprobe: Int): Array[Int] = {
    val n = math.min(dim, v.numElements())
    val dots = new Array[Double](nlist)
    var i = 0
    while (i < nlist) {
      var d = 0.0
      var j = 0
      val off = i * dim
      while (j < n) { d += v.getDouble(j) * flat(off + j); j += 1 }
      dots(i) = d
      i += 1
    }
    val out = new Array[Int](nprobe)
    val taken = new Array[Boolean](nlist)
    var k = 0
    while (k < nprobe) {
      var best = -1
      var bestD = Double.NegativeInfinity
      var c = 0
      while (c < nlist) {
        // (dot, index) descending via Double.compare — ties to the
        // larger index, and NaN ranks ABOVE every double, matching
        // Spark's sort order (the struct-sort form this replaces)
        if (!taken(c) &&
            (best < 0 || java.lang.Double.compare(dots(c), bestD) >= 0)) {
          best = c; bestD = dots(c)
        }
        c += 1
      }
      taken(best) = true
      out(k) = best
      k += 1
    }
    out
  }
}

/** The IVF-PQ asymmetric-distance lookup table of a query vector
  * (Jégou et al., TPAMI 2011): for each of the `m` subspaces, the dots
  * of the query's `dsub`-slice with every codebook entry, as
  * `array<array<double>>` (m × entries). ONE native expression in
  * place of the composed form, m·ksub `VectorDot(slice(v, s·dsub + 1,
  * dsub), array(<literals>))` trees whose generated code outgrew the
  * 64 KB method limit and dropped the whole stage to interpreted
  * execution. Each cell is the same sequential fold over the same
  * slice bounds as that form, so the doubles are bit-equal: a vector
  * shorter than `m·dsub` folds over what its slice holds (an empty
  * slice gives 0.0), a longer one is cut at `dsub` per subspace.
  *
  * Codebooks ride along as a plan-reference object (the
  * [[ArgTopCells]] precedent), flattened row-major.
  */
case class PqLookupTable(
    child: Expression,
    codebooks: Vector[Vector[Vector[Double]]],
    dsub: Int) extends UnaryExpression {
  require(dsub > 0, "dsub must be positive")
  require(codebooks.forall(_.forall(_.length == dsub)),
    s"every codebook entry must have $dsub dims")

  override def dataType: DataType = ArrayType(
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false),
    containsNull = false)
  override def prettyName: String = "pq_lookup_table"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_lookup_table requires array<double>, got ${other.catalogString}")
    }
  }

  @transient private lazy val sizes: Array[Int] = codebooks.map(_.length).toArray
  @transient private lazy val flat: Array[Double] =
    codebooks.iterator.flatMap(_.iterator.flatMap(_.iterator)).toArray

  override def nullSafeEval(input: Any): Any =
    PqLookupTable.eval(input.asInstanceOf[ArrayData], flat, sizes, dsub)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cRef = ctx.addReferenceObj("codebooks", flat, "double[]")
      val sRef = ctx.addReferenceObj("codebookSizes", sizes, "int[]")
      s"${ev.value} = graft.functions.PqLookupTable$$.MODULE$$.eval(" +
        s"$v, $cRef, $sRef, $dsub);"
    })

  override protected def withNewChildInternal(newChild: Expression): PqLookupTable =
    copy(child = newChild)
}

object PqLookupTable {
  def eval(v: ArrayData, flat: Array[Double], sizes: Array[Int],
      dsub: Int): ArrayData = {
    val tables = new Array[Any](sizes.length)
    var off = 0
    var s = 0
    while (s < sizes.length) {
      val start = s * dsub
      val n = math.max(0, math.min(dsub, v.numElements() - start))
      val dots = new Array[Double](sizes(s))
      var c = 0
      while (c < sizes(s)) {
        var d = 0.0
        var j = 0
        while (j < n) { d += v.getDouble(start + j) * flat(off + j); j += 1 }
        dots(c) = d
        off += dsub
        c += 1
      }
      tables(s) = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(dots)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(tables)
  }
}

case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "vector_dot"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.DoubleType, _),
            ArrayType(org.apache.spark.sql.types.DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vector_dot requires (array<double>, array<double>), " +
            s"got (${l.catalogString}, ${r.catalogString})")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

object MinHashSignature {
  /** Smallest prime > 2^32. */
  val P = 4294967311L

  /** Universal-hash parameters (aᵢ, bᵢ), fixed seed. The generation
    * sequence is bit-identical to round 1's column-level implementation
    * so signatures (and the measured LSH recall) are unchanged.
    */
  def params(k: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(k)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
                             rnd.nextInt(Int.MaxValue).toLong))
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }
}

/** Greedy sequence-packing fold: given per-document token counts in
  * fold order, assign each document the index of the context window it
  * lands in — a new window opens whenever adding the document would
  * overflow `capacity` (a document larger than `capacity` occupies a
  * window alone). The per-group greedy scan is inherently sequential,
  * so it runs as ONE linear native pass over the already-grouped
  * array; the composed `aggregate()` HOF form would re-copy the
  * accumulator array per element (O(g²) in group size). Mirrors the
  * recursive-CTE oracle exactly.
  */
case class PackWindows(child: Expression, capacity: Long)
    extends UnaryExpression {
  require(capacity > 0, "window capacity must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pack_windows"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pack_windows requires array<bigint>, got ${other.catalogString}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PackWindows.eval(input.asInstanceOf[ArrayData], capacity))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PackWindows$$.MODULE$$.eval($s, ${capacity}L));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): PackWindows =
    copy(child = newChild)
}

object PackWindows {
  def eval(counts: ArrayData, capacity: Long): Array[Long] = {
    val n = counts.numElements()
    val out = new Array[Long](n)
    var win = 0L
    var fill = 0L
    var i = 0
    while (i < n) {
      // null counts (null text upstream) pack as zero-width — the
      // expression is total even via the registered SQL function
      val c = if (counts.isNullAt(i)) 0L else counts.getLong(i)
      // ONLY the first element is exempt from rolling (the oracle
      // CTE's seed row): an oversize first doc sits alone in window 0
      // and forces the NEXT doc to roll. Gating on fill>0 instead
      // would diverge from the oracle when zero-token docs lead a
      // bucket — the recursive step rolls on fill+c > capacity even
      // at fill 0.
      if (i > 0 && fill + c > capacity) { win += 1; fill = c }
      else fill += c
      out(i) = win
      i += 1
    }
    out
  }
}

/** Shannon entropy of the character (codepoint) distribution — the
  * classic degenerate-text signal (key-mash, repeated-char padding,
  * binary-in-text all score far from natural language's ~2.5–4.5
  * bits·ln2). One shuffle-free native pass per row: a sorted codepoint
  * histogram folded in ascending order, which makes the double result
  * reproducible and lets the DuckDB oracle replay the identical fold
  * (UTF-8 byte order == codepoint order). The explode+groupBy SQL form
  * shuffles |corpus| character rows; this expression shuffles nothing.
  */
case class CharEntropy(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "char_entropy"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"char_entropy requires string, got ${other.catalogString}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(CharEntropy.eval(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} =
         |  graft.functions.CharEntropy$$.MODULE$$.eval($s.toString());
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {
  def eval(s: String): Double = {
    if (s.isEmpty) return 0.0
    // TreeMap: fold runs in ascending codepoint order — the same order
    // as the oracle's sorted-list reduce, so the FP sum is identical
    val counts = new java.util.TreeMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1L
      i += Character.charCount(cp)
      n += 1L
    }
    var acc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next()(0).toDouble / n
      acc += p * math.log(p)
    }
    // 0.0 - acc, not -acc: a single-class doc has acc == 0.0 and unary
    // negation would emit -0.0 (a different bit pattern than the
    // oracle's `0 - ...`)
    0.0 - acc
  }
}

/** Unicode NFC normalization (java.text.Normalizer, canonical
  * composition) as a native codegen'd expression — the first step of
  * corpus text cleanup: visually-identical strings with different
  * codepoint sequences (e + combining acute vs precomposed é) md5 to
  * DIFFERENT fingerprints and dedup misses them until normalized.
  * DuckDB's `nfc_normalize` implements the same Unicode algorithm, so
  * cleanup queries stay oracle-checkable.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nfc_normalize requires string, got ${other.catalogString}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.eval(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} =
         |  graft.functions.NfcNormalize$$.MODULE$$.eval($s);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  def eval(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    // already-normalized fast path: isNormalized is a scan without
    // allocation, and real corpora are mostly NFC already
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Segment text with a learned BPE merge table
  * ([[graft.text.Bpe.Codec]]) into subword tokens — the apply side of
  * vocabulary induction. The codec is an expression FIELD (serialized
  * with the plan, handed to generated code via `addReferenceObj`, the
  * same pattern as the MinHash parameter arrays), so encoding is a
  * shuffle-free map-side pass that stays inside WholeStageCodegen: at
  * 100 TB the corpus is scanned once and only the (tiny) merge table
  * rides in the closure.
  */
case class BpeTokens(child: Expression, codec: graft.text.Bpe.Codec)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "bpe_tokens"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_tokens requires string, got ${other.catalogString}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    BpeTokens.encode(codec,
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("bpeCodec", codec, "graft.text.Bpe.Codec")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.BpeTokens$$.MODULE$$.encode($ref, $s);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)
}

object BpeTokens {
  def encode(
      codec: graft.text.Bpe.Codec,
      s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = codec.encodeText(s.toString)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(toks(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Membership probe against a serialized
  * [[org.apache.spark.util.sketch.BloomFilter]]: `false` ⇒ the string
  * was CERTAINLY never put (no false negatives); `true` ⇒ present up
  * to the filter's false-positive rate. The map-side prefilter for
  * incremental exact dedup ([[graft.dedup.Dedup.exactAgainstCorpus]]):
  * a batch row failing the probe skips the corpus-index join entirely.
  *
  * Transport: generated code references the serialized BYTES — the
  * very same array object as the expression's own field, so the task
  * binary carries ONE copy (Java serialization back-references the
  * second occurrence) — and deserializes into a per-plan-instance
  * mutable slot on first probe. Referencing a driver-deserialized
  * filter object instead would ship the payload twice (field bytes +
  * an unrelated object graph of the same size), which matters at the
  * GB sizes a corpus-scale bloom reaches. Interpreted eval keeps a
  * transient lazy twin. Hash input is the child string's UTF-8 bytes;
  * [[graft.dedup.Dedup.exactBloomIndex]] puts exactly the same bytes,
  * so build and probe can never disagree on encoding. Standard null
  * propagation (null text ⇒ null probe); call sites coalesce to their
  * routing default.
  */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_might_contain requires string, got ${other.catalogString}")
    }
  }

  @transient private lazy val filter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(bloomBytes)

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(filter.mightContainBinary(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val bytesRef = ctx.addReferenceObj("bloomBytes", bloomBytes, "byte[]")
    val bf = ctx.addMutableState(
      "org.apache.spark.util.sketch.BloomFilter", "bloomFilter")
    nullSafeCodeGen(ctx, ev, s =>
      s"""if ($bf == null) {
         |  $bf = graft.functions.BloomMightContain$$.MODULE$$.deserialize($bytesRef);
         |}
         |${ev.value} = $bf.mightContainBinary($s.getBytes());""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object BloomMightContain {
  def deserialize(bytes: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
}

/** Column-level entry points for the custom Catalyst expressions plus
  * SQL registration (`graft.functions.GraftFunctions.register(spark)`
  * exposes them to `spark.sql`).
  */
object GraftFunctions {

  private def toColumn(e: Expression): Column =
    org.apache.spark.sql.GraftSqlShims.column(e)

  private def exprOf(c: Column): Expression =
    org.apache.spark.sql.GraftSqlShims.expression(c)

  def simhash64(tokenHashes: Column): Column =
    toColumn(SimHash64(exprOf(tokenHashes)))

  def bloomMightContain(s: Column, bloom: Array[Byte]): Column =
    toColumn(BloomMightContain(exprOf(s), bloom))

  def minhashSignature(shingleHashes: Column, k: Int): Column =
    toColumn(MinHashSignature(exprOf(shingleHashes), k))

  def vectorDot(a: Column, b: Column): Column =
    toColumn(VectorDot(exprOf(a), exprOf(b)))

  def argTopCells(vec: Column, centroids: Seq[Array[Double]], nprobe: Int): Column =
    toColumn(ArgTopCells(exprOf(vec),
      centroids.iterator.map(_.toVector).toVector, nprobe))

  /** Column-API only, like [[bpeTokens]] (codebooks are a JVM object). */
  def pqLookupTable(
      vec: Column, codebooks: Seq[Seq[Array[Double]]], dsub: Int): Column =
    toColumn(PqLookupTable(exprOf(vec),
      codebooks.iterator.map(_.iterator.map(_.toVector).toVector).toVector,
      dsub))

  def hyperplaneSignatures(
      vec: Column, dim: Int, bits: Int, tables: Int, seed: Long = 7L): Column =
    toColumn(HyperplaneSignatures(exprOf(vec), dim, bits, tables, seed))

  /** Defaults are the SIGMOD'03 deployment range (k=25 noise
    * threshold, w=50 guarantee window ⇒ any shared run of ≥74 chars is
    * caught at ~4% sketch density) — the same parameters
    * [[graft.dedup.Dedup.winnowOverlapPairs]] standardizes on. Smaller
    * toy values (k=5/w=4) are for unit-testing the algorithm, not for
    * corpus work: they fingerprint ~33% of positions.
    */
  def winnow(text: Column, k: Int = 25, w: Int = 50): Column =
    toColumn(Winnow(exprOf(text), k, w))

  def shingleHashes(text: Column, n: Int): Column =
    toColumn(ShingleHashes(exprOf(text), n))

  def shingleStrings(text: Column, n: Int): Column =
    toColumn(ShingleStrings(exprOf(text), n))

  def positionalShingleHashes(text: Column, n: Int): Column =
    toColumn(PositionalShingleHashes(exprOf(text), n))

  def removeTokenSpans(text: Column, spanStarts: Column, k: Int): Column =
    toColumn(RemoveTokenSpans(exprOf(text), exprOf(spanStarts), k))

  def packWindows(tokenCounts: Column, capacity: Long): Column =
    toColumn(PackWindows(exprOf(tokenCounts), capacity))

  def charEntropy(text: Column): Column =
    toColumn(CharEntropy(exprOf(text)))

  def nfcNormalize(text: Column): Column =
    toColumn(NfcNormalize(exprOf(text)))

  /** Column-API only (the codec is a JVM object, not a SQL literal,
    * so this one has no `builders` entry).
    */
  def bpeTokens(text: Column, codec: graft.text.Bpe.Codec): Column =
    toColumn(BpeTokens(exprOf(text), codec))

  private def intArg(e: Expression): Int =
    e.eval(null) match {
      case i: Int  => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"expected integer literal, got $other")
    }

  private def doubleArg(e: Expression): Double =
    e.eval(null) match {
      case d: Double  => d
      case f: Float   => f.toDouble
      case i: Int     => i.toDouble
      case l: Long    => l.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"expected numeric literal, got $other")
    }

  /** (name, builder) for every native expression — shared by the
    * session-local [[register]] and the [[GraftExtensions]] injection.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (exprs => SimHash64(exprs.head)),
    "shingle_hashes" -> (exprs => ShingleHashes(exprs.head, intArg(exprs(1)))),
    "shingle_strings" -> (exprs => ShingleStrings(exprs.head, intArg(exprs(1)))),
    "minhash_signature" -> (exprs =>
      MinHashSignature(exprs.head, intArg(exprs(1)))),
    "vector_dot" -> (exprs => VectorDot(exprs.head, exprs(1))),
    "winnow" -> (exprs =>
      Winnow(exprs.head, intArg(exprs(1)), intArg(exprs(2)))),
    "pack_windows" -> (exprs =>
      PackWindows(exprs.head, intArg(exprs(1)).toLong)),
    "char_entropy" -> (exprs => CharEntropy(exprs.head)),
    "nfc_normalize" -> (exprs => NfcNormalize(exprs.head)),
    "positional_shingle_hashes" -> (exprs =>
      PositionalShingleHashes(exprs.head, intArg(exprs(1)))),
    "remove_token_spans" -> (exprs =>
      RemoveTokenSpans(exprs.head, exprs(1), intArg(exprs(2)))),
    // mergeable sketch aggregates (SketchAggs.scala) — the registry
    // wraps AggregateFunctions in AggregateExpression at resolution,
    // same as the built-in aggregates
    "kll_sketch_agg" -> (exprs =>
      if (exprs.size > 1) KllSketchAgg(exprs.head, intArg(exprs(1)))
      else KllSketchAgg(exprs.head)),
    "kll_merge_agg" -> (exprs => KllMergeAgg(exprs.head)),
    "kll_quantile" -> (exprs =>
      KllQuantile(exprs.head, doubleArg(exprs(1)))),
    "theta_sketch_agg" -> (exprs => ThetaSketchAgg(exprs.head)),
    "theta_union_agg" -> (exprs => ThetaUnionAgg(exprs.head)),
    "theta_intersect_agg" -> (exprs => ThetaIntersectAgg(exprs.head)),
    "theta_estimate" -> (exprs => ThetaEstimate(exprs.head)),
    "freq_sketch_agg" -> (exprs =>
      if (exprs.size > 1) FreqSketchAgg(exprs.head, intArg(exprs(1)))
      else FreqSketchAgg(exprs.head)),
    "freq_merge_agg" -> (exprs =>
      if (exprs.size > 1) FreqMergeAgg(exprs.head, intArg(exprs(1)))
      else FreqMergeAgg(exprs.head)),
    "freq_items" -> (exprs => FreqItems(exprs.head)),
    "freq_max_error" -> (exprs => FreqMaxError(exprs.head)))

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, b, "scala_udf")
    }
}
