package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The Bloom probe geometry shared by both expressions here and by
  * [[Curation.contaminationBloom]]'s DuckDB oracle: position i of a
  * shingle is the 12-bit value of lowercase-hex md5 characters
  * [3i, 3i+3) — `hexDigit(c0)·256 + hexDigit(c1)·16 + hexDigit(c2)`,
  * the exact arithmetic of Curation's `bloomPos`/`bloomPosSql`. Hex char
  * at 0-based index j is the high nibble of digest byte j/2 when j is
  * even, the low nibble when odd — so the positions come straight off
  * the digest bytes with no hex-string materialization.
  *
  * Why expressions and not Column compositions: a composed
  * `md5(sh).as("d")` probed k times re-evaluates the md5 wherever the
  * optimizer inlines the alias into the probes' many `substr(d, …)`
  * references (predicate pushdown substitutes through projections) —
  * measured as a >8× regression when the 3-probe membership filter
  * replaced the explode+join form at sf100. Here the digest is computed
  * exactly once per shingle inside the expression, and the bit tests are
  * three loads — the `MinHashSlices` discipline applied to the Bloom
  * probe.
  */
private[functions] object BloomHash {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def digest(sh: UTF8String): Array[Byte] = md5.get().digest(sh.getBytes)

  /** The thread's digest instance, for callers hashing byte RANGES
    * (shingle walks) without per-shingle string materialization.
    */
  def md5ThreadLocal: java.security.MessageDigest = md5.get()

  /** 12-bit probe position i of a digest (hex chars [3i, 3i+3)). */
  def pos(d: Array[Byte], i: Int): Int =
    (nib(d, 3 * i) << 8) | (nib(d, 3 * i + 1) << 4) | nib(d, 3 * i + 2)

  private def nib(d: Array[Byte], j: Int): Int =
    if ((j & 1) == 0) (d(j >> 1) >> 4) & 0xf else d(j >> 1) & 0xf
}

/** `bloom_positions(shingle)` → the `hashes` probe positions of a
  * shingle, as an int array — the build-side primitive: explode,
  * distinct (≤4096 values → map-side partial aggregation collapses it),
  * bit-pack.
  */
case class BloomPositions(child: Expression, hashes: Int) extends UnaryExpression {
  require(hashes >= 1 && hashes * 3 <= 32,
    "bloom_positions: need 1 <= hashes <= 10 (3 hex chars each of one md5)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_positions"

  override def nullSafeEval(input: Any): Any =
    BloomPositions.compute(input.asInstanceOf[UTF8String], hashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.BloomPositions.compute($v, $hashes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomPositions {
  def compute(sh: UTF8String, hashes: Int): ArrayData = {
    val d = BloomHash.digest(sh)
    val out = new Array[Int](hashes)
    var i = 0
    while (i < hashes) { out(i) = BloomHash.pos(d, i); i += 1 }
    new GenericArrayData(out)
  }
}

/** `bloom_member(shingle, words)` → true iff ALL `hashes` probe
  * positions of the shingle are set in the packed bitset `words`
  * (array<long>, bit p = bit (p&63) of word (p>>6)) — the probe-side
  * primitive: one digest, `hashes` bit loads, zero joins.
  */
case class BloomMember(left: Expression, right: Expression, hashes: Int)
    extends BinaryExpression {
  require(hashes >= 1 && hashes * 3 <= 32,
    "bloom_member: need 1 <= hashes <= 10 (3 hex chars each of one md5)")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, ARRAY<BIGINT>) inputs, got $other")
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_member"

  override def nullSafeEval(sh: Any, words: Any): Any =
    BloomMember.compute(sh.asInstanceOf[UTF8String], words.asInstanceOf[ArrayData], hashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, words) =>
      s"${ev.value} = graft.functions.BloomMember.compute($sh, $words, $hashes);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomMember {
  def compute(sh: UTF8String, words: ArrayData, hashes: Int): Boolean = {
    val d = BloomHash.digest(sh)
    var i = 0
    while (i < hashes) {
      val p = BloomHash.pos(d, i)
      if (((words.getLong(p >> 6) >>> (p & 63)) & 1L) == 0L) return false
      i += 1
    }
    true
  }
}

/** Byte-offset walk shared by the two whole-document Bloom expressions:
  * visits every `stride`-spaced width-`width` CHARACTER shingle of the
  * text (identical slicing to SQL `substring` and
  * [[TextAnalysis.shingles]] — the [[MinHashSlices]] walk), calling
  * `f(bytes, from, len)` once per shingle. Returns false when the text
  * is shorter than `width` characters (no shingle — the composition's
  * length filter).
  */
private[functions] object ShingleWalk {
  def foreach(text: UTF8String, width: Int, stride: Int)(
      f: (Array[Byte], Int, Int) => Unit): Boolean = {
    val bytes = text.getBytes
    val numChars = text.numChars()
    if (numChars < width) return false
    val offs = new Array[Int](numChars + 1)
    var c = 0
    var b = 0
    while (c < numChars) {
      offs(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    offs(numChars) = bytes.length
    var p = 0
    val last = numChars - width
    while (p <= last) {
      f(bytes, offs(p), offs(p + width) - offs(p))
      p += stride
    }
    true
  }
}

/** `bloom_doc_bits(text)` → the packed `words`-long bitset of ALL probe
  * positions set by the document's shingles — the build side collapses
  * to one row per benchmark document (no shingle rows, no position
  * rows), and the corpus-level bitset is a `words`-way bit_or aggregate
  * over those. Null/short texts contribute nothing (null out, bit_or
  * skips nulls), exactly like the composition's length filter.
  */
case class BloomDocBits(child: Expression, width: Int, stride: Int,
                        hashes: Int, words: Int) extends UnaryExpression {
  require(width >= 1 && stride >= 1 && hashes >= 1 && hashes * 3 <= 32,
    "bloom_doc_bits: width/stride >= 1, 1 <= hashes <= 10")
  require(words * 64 >= 4096,
    "bloom_doc_bits: positions are 12-bit — need words*64 >= 4096")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_doc_bits"

  override def nullSafeEval(input: Any): Any =
    BloomDocBits.compute(input.asInstanceOf[UTF8String], width, stride, hashes, words)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("bdb")
    nullSafeCodeGen(ctx, ev, v =>
      s"""org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.functions.BloomDocBits.compute($v, $width, $stride, $hashes, $words);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomDocBits {
  /** Shared by eval and codegen. Null for texts shorter than `width`. */
  def compute(text: UTF8String, width: Int, stride: Int,
              hashes: Int, words: Int): ArrayData = {
    val out = new Array[Long](words)
    val md = BloomHash.md5ThreadLocal
    val any = ShingleWalk.foreach(text, width, stride) { (bytes, from, len) =>
      md.update(bytes, from, len)
      val d = md.digest()
      var j = 0
      while (j < hashes) {
        val p = BloomHash.pos(d, j)
        out(p >> 6) |= 1L << (p & 63)
        j += 1
      }
    }
    if (!any) null else new GenericArrayData(out)
  }
}

/** `bloom_flag_count(text, words)` → the number of DISTINCT flagged
  * shingle digests in the document: every probe position of the digest
  * set in the packed bitset `words`. This is the whole candidate side of
  * [[Curation.contaminationBloom]] in one row-local pass — the pipeline
  * that exploded ~2.5 B shingle rows per sf100 scan (then 3 position
  * rows each through a join and a shingle-grain aggregate) produces ONE
  * row per document with no shuffle anywhere. Distinctness is exact on
  * the 128-bit digest (a HashSet allocated lazily — the overwhelmingly
  * common no-flag document allocates nothing), matching the
  * composition's distinct-(doc, digest) grain; distinct-shingle vs
  * distinct-digest differ only under an md5 collision between two
  * 8-char shingles, which has never been exhibited. Null for texts
  * shorter than `width` (callers filter `> 0`, so null and 0 both drop,
  * matching the composition's length filter + inner-count semantics).
  */
case class BloomFlagCount(left: Expression, right: Expression, width: Int,
                          stride: Int, hashes: Int) extends BinaryExpression {
  require(width >= 1 && stride >= 1 && hashes >= 1 && hashes * 3 <= 32,
    "bloom_flag_count: width/stride >= 1, 1 <= hashes <= 10")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, ARRAY<BIGINT>) inputs, got $other")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_flag_count"

  override def nullSafeEval(text: Any, words: Any): Any =
    BloomFlagCount.compute(text.asInstanceOf[UTF8String],
      words.asInstanceOf[ArrayData], width, stride, hashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("bfc")
    nullSafeCodeGen(ctx, ev, (t, w) =>
      s"""Long $res = graft.functions.BloomFlagCount.compute($t, $w, $width, $stride, $hashes);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res.longValue(); }
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `bloom_flagged_shingles(text, words)` → the document's DISTINCT
  * shingles whose every probe position is set in the packed bitset
  * `words`, as a string array. This is the PRE-FILTER half of the exact
  * [[TextAnalysis.contaminationCheck]]: the Bloom direction has no false
  * negatives (positions are md5-derived, deterministic), so every truly
  * benchmark-shared shingle survives, and the handful of false positives
  * are rejected by the exact join that consumes this array — the result
  * is bit-identical to joining ALL distinct candidate shingles, at the
  * cost of exploding only the flagged ones (≈ contaminated + FP ≈ none)
  * instead of ~1 B rows. Null for texts shorter than `width`; an empty
  * array explodes to no rows, matching the composition's inner join.
  */
case class BloomFlaggedShingles(left: Expression, right: Expression, width: Int,
                                stride: Int, hashes: Int) extends BinaryExpression {
  require(width >= 1 && stride >= 1 && hashes >= 1 && hashes * 3 <= 32,
    "bloom_flagged_shingles: width/stride >= 1, 1 <= hashes <= 10")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, ARRAY<BIGINT>) inputs, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_flagged_shingles"

  override def nullSafeEval(text: Any, words: Any): Any =
    BloomFlaggedShingles.compute(text.asInstanceOf[UTF8String],
      words.asInstanceOf[ArrayData], width, stride, hashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("bfs")
    nullSafeCodeGen(ctx, ev, (t, w) =>
      s"""org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.functions.BloomFlaggedShingles.compute($t, $w, $width, $stride, $hashes);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomFlaggedShingles {
  /** Shared by eval and codegen. Null for texts shorter than `width`. */
  def compute(text: UTF8String, words: ArrayData, width: Int, stride: Int,
              hashes: Int): ArrayData = {
    val w = words.toLongArray()
    val md = BloomHash.md5ThreadLocal
    // LinkedHashSet: dedup on shingle CONTENT; deterministic (walk) order
    var set: java.util.LinkedHashSet[UTF8String] = null
    val any = ShingleWalk.foreach(text, width, stride) { (bytes, from, len) =>
      md.update(bytes, from, len)
      val d = md.digest()
      var j = 0
      var all = true
      while (all && j < hashes) {
        val p = BloomHash.pos(d, j)
        all = ((w(p >> 6) >>> (p & 63)) & 1L) != 0L
        j += 1
      }
      if (all) {
        if (set == null) set = new java.util.LinkedHashSet[UTF8String]()
        set.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, from, from + len)))
      }
    }
    if (!any) null
    else if (set == null) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(set.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** `min_shingle_md5(text)` → the minimum `md5(shingle)` hex string over
  * the document's stride-spaced shingles — the winnowing half of
  * [[TextAnalysis.fingerprint]] in one row-local pass. Lowercase-hex
  * ordering equals unsigned byte ordering of the digest, so the minimum
  * tracks as two big-endian-compared longs and only the winner is
  * hex-rendered. Replaces an explode + per-doc min aggregate + left
  * join back to the corpus (one full (doc, 32-hex) shuffle); null for
  * texts shorter than `width`, exactly the left join's null for
  * shingle-less docs.
  */
case class MinShingleMd5(child: Expression, width: Int, stride: Int)
    extends UnaryExpression {
  require(width >= 1 && stride >= 1, "min_shingle_md5: width/stride >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "min_shingle_md5"

  override def nullSafeEval(input: Any): Any =
    MinShingleMd5.compute(input.asInstanceOf[UTF8String], width, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("msm")
    nullSafeCodeGen(ctx, ev, v =>
      s"""org.apache.spark.unsafe.types.UTF8String $res =
         |  graft.functions.MinShingleMd5.compute($v, $width, $stride);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinShingleMd5 {
  private val hex = "0123456789abcdef".toCharArray

  /** Shared by eval and codegen. Null for texts shorter than `width`. */
  def compute(text: UTF8String, width: Int, stride: Int): UTF8String = {
    val md = BloomHash.md5ThreadLocal
    // current minimum digest as two unsigned big-endian longs
    var hi = -1L // unsigned max
    var lo = -1L
    var found = false
    val any = ShingleWalk.foreach(text, width, stride) { (bytes, from, len) =>
      md.update(bytes, from, len)
      val d = md.digest()
      var dhi = 0L
      var dlo = 0L
      var i = 0
      while (i < 8) { dhi = (dhi << 8) | (d(i) & 0xffL); dlo = (dlo << 8) | (d(i + 8) & 0xffL); i += 1 }
      val less = java.lang.Long.compareUnsigned(dhi, hi) < 0 ||
        (dhi == hi && java.lang.Long.compareUnsigned(dlo, lo) < 0)
      if (!found || less) { hi = dhi; lo = dlo; found = true }
    }
    if (!any) return null
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val b = (if (i < 8) (hi >>> ((7 - i) * 8)) else (lo >>> ((15 - i) * 8))).toInt & 0xff
      out(2 * i) = hex(b >> 4).toByte
      out(2 * i + 1) = hex(b & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

object BloomFlagCount {
  /** Shared by eval and codegen. Null for texts shorter than `width`;
    * boxed so codegen can distinguish null from 0.
    */
  def compute(text: UTF8String, words: ArrayData, width: Int, stride: Int,
              hashes: Int): java.lang.Long = {
    val w = words.toLongArray()
    val md = BloomHash.md5ThreadLocal
    var set: java.util.HashSet[java.nio.ByteBuffer] = null
    val any = ShingleWalk.foreach(text, width, stride) { (bytes, from, len) =>
      md.update(bytes, from, len)
      val d = md.digest()
      var j = 0
      var all = true
      while (all && j < hashes) {
        val p = BloomHash.pos(d, j)
        all = ((w(p >> 6) >>> (p & 63)) & 1L) != 0L
        j += 1
      }
      if (all) {
        if (set == null) set = new java.util.HashSet[java.nio.ByteBuffer]()
        set.add(java.nio.ByteBuffer.wrap(d))
      }
    }
    if (!any) null
    else if (set == null) java.lang.Long.valueOf(0L)
    else java.lang.Long.valueOf(set.size.toLong)
  }
}

/** `distinct_shingles(text, width, stride)` → the document's DISTINCT
  * stride-spaced character shingles as `array<string>`, one row-local
  * pass — null for texts shorter than `width`, exactly
  * [[TextAnalysis.shingles]]'s length filter. Replaces the
  * generate_series-posexplode + per-row `substring` + global distinct
  * shape on the BENCHMARK side of [[TextAnalysis.contaminationCheck]]
  * (the dominant term after the r19 Bloom prefilter): the Generate now
  * emits only per-doc-distinct shingles, and the per-shingle substring
  * machinery collapses into [[ShingleWalk]]'s offset arithmetic
  * (zero-copy views during dedup, cloned on emit). The global
  * `.distinct()` downstream is unchanged — within-doc dedup commutes
  * with it.
  */
case class DistinctShingles(child: Expression, width: Int, stride: Int)
    extends UnaryExpression {
  require(width >= 1 && stride >= 1, "distinct_shingles: width/stride >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "distinct_shingles"

  override def nullSafeEval(input: Any): Any =
    DistinctShingles.compute(input.asInstanceOf[UTF8String], width, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("dsh")
    nullSafeCodeGen(ctx, ev, v =>
      s"""org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.functions.DistinctShingles.compute($v, $width, $stride);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DistinctShingles {
  /** Shared by eval and codegen. Null for texts shorter than `width`. */
  def compute(text: UTF8String, width: Int, stride: Int): ArrayData = {
    // LinkedHashSet: dedup on shingle CONTENT; deterministic (walk) order
    var set: java.util.LinkedHashSet[UTF8String] = null
    val any = ShingleWalk.foreach(text, width, stride) { (bytes, from, len) =>
      if (set == null) set = new java.util.LinkedHashSet[UTF8String]()
      set.add(UTF8String.fromBytes(bytes, from, len))
    }
    if (!any) return null
    val out = new Array[AnyRef](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().clone(); j += 1 }
    new GenericArrayData(out)
  }
}

/** Wide-bloom probe geometry for [[TextAnalysis.contaminationCheck]]'s
  * INTERNAL right-sized prefilter (r21 — VERDICT r20 item 3): positions
  * come from ONE cheap 64-bit byte hash via Kirsch–Mitzenmacher double
  * hashing (pos_j = h1 + j·h2 over a power-of-two space, h2 forced odd
  * so it generates the whole ring). Unlike [[BloomHash]]'s md5 hex-nibble
  * positions — the ORACLE arithmetic of `contamination_bloom`, capped at
  * 4096 bits and measured SATURATED at sf100 — this prefilter never
  * appears in any oracle: false positives die in the exact join and
  * false negatives are impossible under ANY position function, so both
  * the SIZE and the HASH are free. That freedom matters twice: the
  * filter sizes itself to the benchmark slice, and the probe walk drops
  * the per-shingle MessageDigest (an md5 block + a 16-byte allocation
  * per shingle — measured as a net REGRESSION at sf100, 48.4 → 63.7 s,
  * when this prefilter first shipped md5-based) for a few multiply-mix
  * rounds. Build and probe sides share this object, which is the only
  * equality the correctness argument needs.
  */
private[functions] object WideBloomHash {
  /** splitmix64 finalizer — the avalanche step. */
  @inline private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 64-bit hash of a byte range: 8-byte little-endian chunks through a
    * rotate-multiply round, length folded in, splitmix finalizer.
    */
  def hash64(b: Array[Byte], from: Int, len: Int): Long = {
    var h = len.toLong * 0x9E3779B97F4A7C15L
    var i = from
    val end = from + len
    while (end - i >= 8) {
      var k = 0L
      var j = 0
      while (j < 8) { k |= (b(i + j) & 0xffL) << (8 * j); j += 1 }
      h ^= mix(k)
      h = java.lang.Long.rotateLeft(h, 27) * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
      i += 8
    }
    if (i < end) {
      var k = 0L
      var j = 0
      while (i + j < end) { k |= (b(i + j) & 0xffL) << (8 * j); j += 1 }
      h ^= mix(k)
    }
    mix(h)
  }

  /** The KM step hash, derived (odd) so one byte walk serves all k. */
  @inline def hash2(h1: Long): Long = mix(h1) | 1L

  /** Probe position j over `mask + 1` bits (mask = bits−1, bits pow2). */
  @inline def pos(h1: Long, h2: Long, j: Int, mask: Int): Int =
    ((h1 + j.toLong * h2) & mask.toLong).toInt
}

/** `wide_bloom_positions(sh, hashes, bits)` → the `hashes` wide-bloom
  * probe positions of ONE shingle string ([[WideBloomHash]] geometry) —
  * the build-side primitive over the already-distinct benchmark shingle
  * frame: explode, group by word index, bit_or into the packed bitset.
  */
case class WideBloomPositions(child: Expression, hashes: Int, bits: Int)
    extends UnaryExpression {
  require(hashes >= 1 && hashes <= 8,
    "wide_bloom_positions: need 1 <= hashes <= 8")
  require(bits >= 64 && Integer.bitCount(bits) == 1,
    "wide_bloom_positions: bits must be a power of two >= 64")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "wide_bloom_positions"

  override def nullSafeEval(input: Any): Any =
    WideBloomPositions.compute(input.asInstanceOf[UTF8String], hashes, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WideBloomPositions.compute($v, $hashes, $bits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WideBloomPositions {
  def compute(sh: UTF8String, hashes: Int, bits: Int): ArrayData = {
    val b = sh.getBytes
    val h1 = WideBloomHash.hash64(b, 0, b.length)
    val h2 = WideBloomHash.hash2(h1)
    val mask = bits - 1
    val out = new Array[Int](hashes)
    var i = 0
    while (i < hashes) { out(i) = WideBloomHash.pos(h1, h2, i, mask); i += 1 }
    new GenericArrayData(out)
  }
}

/** `wide_bloom_flagged_shingles(text, words)` → the document's DISTINCT
  * shingles whose every [[WideBloomHash]] probe position is set in the
  * packed bitset `words` — [[BloomFlaggedShingles]] at right-sized
  * geometry. `words` is the broadcast one-row bitset column; because it
  * can be half a million longs, the long[] is extracted once per task
  * (`constantArray`, see [[ArrayMemo]]) instead of per row. Null
  * for texts shorter than `width`; empty array for no flagged shingle.
  */
case class WideBloomFlaggedShingles(left: Expression, right: Expression,
                                    width: Int, stride: Int, hashes: Int,
                                    constantArray: Boolean = false)
    extends BinaryExpression {
  require(width >= 1 && stride >= 1 && hashes >= 1 && hashes <= 8,
    "wide_bloom_flagged_shingles: width/stride >= 1, 1 <= hashes <= 8")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, ARRAY<BIGINT>) inputs, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "wide_bloom_flagged_shingles"

  // the flag changes how the argument is cached, not the result
  override protected def stringArgs: Iterator[Any] = Iterator(left, right, width, stride, hashes)

  /** `words` is the same on every row of a task: flagged, or a literal. */
  def constantArg: Boolean = constantArray || right.foldable

  @transient private lazy val words = new ArrayMemo(WideBloomFlaggedShingles.decode, constantArg)

  override def nullSafeEval(text: Any, w: Any): Any =
    WideBloomFlaggedShingles.compute(text.asInstanceOf[UTF8String],
      words(w.asInstanceOf[ArrayData]).asInstanceOf[Array[Long]], width, stride, hashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val memo = ArrayMemo.state(ctx, "wideBloomWords", WideBloomFlaggedShingles.decode, constantArg)
    val res = ctx.freshName("wbfs")
    nullSafeCodeGen(ctx, ev, (t, w) =>
      s"""org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.functions.WideBloomFlaggedShingles.compute($t, (long[]) $memo.apply($w),
         |    $width, $stride, $hashes);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object WideBloomFlaggedShingles {
  val decode: ArrayData => AnyRef = _.toLongArray()

  /** Shared by eval and codegen. Null for texts shorter than `width`.
    * `w.length * 64` must be a power of two (the builder guarantees it).
    */
  def compute(text: UTF8String, w: Array[Long], width: Int, stride: Int,
              hashes: Int): ArrayData = {
    val mask = w.length * 64 - 1
    // LinkedHashSet: dedup on shingle CONTENT; deterministic (walk) order
    var set: java.util.LinkedHashSet[UTF8String] = null
    val any = ShingleWalk.foreach(text, width, stride) { (bytes, from, len) =>
      val h1 = WideBloomHash.hash64(bytes, from, len)
      val h2 = WideBloomHash.hash2(h1)
      var j = 0
      var all = true
      while (all && j < hashes) {
        val p = WideBloomHash.pos(h1, h2, j, mask)
        all = ((w(p >> 6) >>> (p & 63)) & 1L) != 0L
        j += 1
      }
      if (all) {
        if (set == null) set = new java.util.LinkedHashSet[UTF8String]()
        set.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, from, from + len)))
      }
    }
    if (!any) null
    else if (set == null) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(set.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** One value decoded from an array argument, kept while the argument
  * holds the same array, for expressions whose array argument is costly to
  * decode and usually the same on every row. How "the same array" is told:
  *  - `constantArray` (the argument is a literal, or the caller promises
  *    one value per task, as graft's own callers do with a broadcast
  *    one-row cross join): by where the bytes live, i.e. the backing
  *    object (an `UnsafeArrayData`'s buffer, otherwise the `ArrayData`
  *    itself), the offset in it and the element count, as
  *    [[ShingleSet.setFor]] keys its JVM-wide set. O(1) a row. A caller
  *    that promises it for a row-varying column gets stale results.
  *  - otherwise: by the bytes themselves, compared with a copy of the last
  *    decoded `UnsafeArrayData` (any other array is decoded again). A
  *    row-varying column can arrive in ONE reused buffer at one offset (a
  *    shuffle reader, an unsafe projection), so where the bytes live does
  *    not tell its rows apart. O(array bytes) a row, less than a decode.
  * The bytes compare is too slow for graft's callers: their array grows
  * with the corpus and is compared once per row. Forced on them at sf1
  * (BASELINE.md, "Constant array arguments"), `contamination_check` took
  * 15.7 s instead of 2.6 s and the PQ keys 19-49% longer.
  * One instance per expression instance or generated class, so per task
  * and never shared between threads.
  */
final class ArrayMemo(decode: ArrayData => AnyRef, constantArray: Boolean) {
  private var value: AnyRef = _
  private var base: AnyRef = _
  private var offset = 0L
  private var n = -1
  private var bytes: Array[Byte] = _

  def apply(a: ArrayData): AnyRef = {
    if (value == null || !holds(a)) {
      value = decode(a)
      if (constantArray) {
        base = ArrayMemo.base(a)
        offset = ArrayMemo.offset(a)
        n = a.numElements()
      } else bytes = a match {
        case u: UnsafeArrayData => u.copy().getBaseObject.asInstanceOf[Array[Byte]]
        case _ => null
      }
    }
    value
  }

  private def holds(a: ArrayData): Boolean =
    if (constantArray)
      (ArrayMemo.base(a) eq base) && ArrayMemo.offset(a) == offset && a.numElements() == n
    else a match {
      case u: UnsafeArrayData =>
        bytes != null && u.getSizeInBytes == bytes.length &&
          org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(u.getBaseObject,
            u.getBaseOffset, bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length)
      case _ => false
    }
}

object ArrayMemo {
  def base(a: ArrayData): AnyRef = a match {
    case u: UnsafeArrayData => u.getBaseObject
    case other => other
  }

  def offset(a: ArrayData): Long = a match {
    case u: UnsafeArrayData => u.getBaseOffset
    case _ => 0L
  }

  /** A generated class's memo over `decode`; returns the field name. */
  def state(ctx: CodegenContext, name: String, decode: ArrayData => AnyRef,
            constantArray: Boolean): String = {
    val f = ctx.addReferenceObj(name + "Decode", decode, "scala.Function1")
    ctx.addMutableState("graft.functions.ArrayMemo", name,
      v => s"$v = new graft.functions.ArrayMemo($f, $constantArray);")
  }
}

/** Compact exact string-membership set over the benchmark's distinct
  * shingles: one UTF-8 blob plus an open-addressing index from
  * [[WideBloomHash.hash64]] to blob ranges — ~25 bytes/shingle instead
  * of a boxed HashSet's ~150. Built once per task from the broadcast
  * shingle array ([[SharedShingleCount]] caches the build), probed
  * row-locally. Serializable plain arrays.
  */
final class ShingleSet private (blob: Array[Byte], offs: Array[Int],
                                table: Array[Int]) extends Serializable {
  private val mask = table.length - 1

  /** Blob index of the byte range's shingle, or −1 when absent. */
  def indexOf(b: Array[Byte], from: Int, len: Int): Int = {
    var slot = (WideBloomHash.hash64(b, from, len) & mask.toLong).toInt
    var e = table(slot)
    while (e != 0) {
      val i = e - 1
      val o = offs(i)
      if (offs(i + 1) - o == len) {
        var j = 0
        while (j < len && blob(o + j) == b(from + j)) j += 1
        if (j == len) return i
      }
      slot = (slot + 1) & mask
      e = table(slot)
    }
    -1
  }
}

object ShingleSet {
  /** Build from the broadcast `array<string>` column value. Strings are
    * written straight into the blob (`writeToMemory`) — no per-element
    * temporary arrays.
    */
  def fromArrayData(a: ArrayData): ShingleSet = {
    val n = a.numElements()
    var total = 0L
    var i = 0
    while (i < n) { total += a.getUTF8String(i).numBytes(); i += 1 }
    require(total <= Int.MaxValue, s"ShingleSet: blob would be $total bytes")
    val blob = new Array[Byte](total.toInt)
    val offs = new Array[Int](n + 1)
    i = 0
    var o = 0
    while (i < n) {
      val s = a.getUTF8String(i)
      s.writeToMemory(blob, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + o)
      offs(i) = o
      o += s.numBytes()
      i += 1
    }
    offs(n) = o
    var cap = 16
    while (cap < 2 * n) cap <<= 1
    val table = new Array[Int](cap)
    val mask = cap - 1
    val set = new ShingleSet(blob, offs, table)
    i = 0
    while (i < n) {
      val from = offs(i)
      val len = offs(i + 1) - from
      if (set.indexOf(blob, from, len) < 0) { // inputs are distinct; belt-and-braces
        var slot = (WideBloomHash.hash64(blob, from, len) & mask.toLong).toInt
        while (table(slot) != 0) slot = (slot + 1) & mask
        table(slot) = i + 1
      }
      i += 1
    }
    set
  }

  // ONE set per JVM, not one per task: 32 concurrent scan tasks each
  // building a private ~130 MB structure put ~4 GB of duplicates on the
  // 8 GB contract heap — measured as a GC collapse (4-core utilization
  // on 32 cores). The memo keys on where the array's bytes live: the
  // BACKING BUFFER identity (UnsafeArrayData wrappers are created per
  // access, but the TorrentBroadcast-cached row's byte[] is one object
  // per JVM) plus the array's offset and length in it — two array
  // columns of one UnsafeRow share the buffer and differ only there.
  // A fresh broadcast — every bench run — rebuilds. Weak/soft refs keep
  // the slot from pinning a dead set across queries; key and set live in
  // one immutable slot so a reader never pairs a key with another's set.
  private final class Slot(base: AnyRef, offset: Long, n: Int, set: ShingleSet) {
    private val baseRef = new java.lang.ref.WeakReference(base)
    private val setRef = new java.lang.ref.SoftReference(set)
    def get(b: AnyRef, off: Long, len: Int): ShingleSet =
      if ((baseRef.get eq b) && offset == off && n == len) setRef.get else null
  }
  @volatile private var slot: Slot = _

  /** The JVM-wide set for `a`, built on the first call for where its bytes
    * live. `a` must be a constant array (a broadcast or a literal): an
    * array handed out in a reused buffer (a scan's unsafe projection, a
    * shuffle reader) keeps its buffer and offset while its contents change,
    * and would get the previous array's set.
    */
  private[graft] def setFor(a: ArrayData): ShingleSet = {
    val base = ArrayMemo.base(a)
    val offset = ArrayMemo.offset(a)
    val n = a.numElements()
    def cached: ShingleSet = { val s = slot; if (s == null) null else s.get(base, offset, n) }
    val hit = cached
    if (hit != null) return hit
    this.synchronized {
      val hit2 = cached
      if (hit2 != null) return hit2
      val built = fromArrayData(a)
      slot = new Slot(base, offset, n, built)
      built
    }
  }
}

/** `shared_shingle_count(text, bench_shingles)` → the number of DISTINCT
  * stride-spaced shingles of the document that appear in the benchmark's
  * distinct-shingle set — the ENTIRE candidate side of
  * [[TextAnalysis.contaminationCheck]] in one row-local pass: no shingle
  * explode, no 300 M-row join, no shuffle (r21 — the probe measured the
  * exact join itself as the dominant term once the walks were compiled,
  * because this corpus's true per-shingle contamination rate is ~100%
  * and NO prefilter can shrink a join whose probe side all matches).
  * The benchmark set arrives as a broadcast one-row `array<string>`
  * column — constant-size relative to the corpus, the same scale
  * contract as [[Curation.contaminationBloom]]'s bitset but EXACT — and
  * is compiled into a [[ShingleSet]] once per task (`constantArray`, see
  * [[ArrayMemo]]).
  *
  * Bit-parity with the join formulation: the count equals
  * |distinct-in-doc shingles ∩ bench set| = the per-doc row count of
  * `flagged ⋈ bench` (both sides distinct at their grain). Null for
  * texts shorter than `width`; callers filter `> 0`, so null and 0 both
  * drop, matching the inner join's absent rows.
  */
case class SharedShingleCount(left: Expression, right: Expression,
                              width: Int, stride: Int, constantArray: Boolean = false)
    extends BinaryExpression {
  require(width >= 1 && stride >= 1, "shared_shingle_count: width/stride >= 1")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, ARRAY<STRING>) inputs, got $other")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "shared_shingle_count"

  // the flag changes how the argument is cached, not the result
  override protected def stringArgs: Iterator[Any] = Iterator(left, right, width, stride)

  /** `right` is the same on every row of a task: flagged, or a literal. */
  def constantArg: Boolean = constantArray || right.foldable

  @transient private lazy val sets =
    new ArrayMemo(SharedShingleCount.decoder(constantArg), constantArg)

  override def nullSafeEval(text: Any, shingles: Any): Any =
    SharedShingleCount.compute(text.asInstanceOf[UTF8String],
      sets(shingles.asInstanceOf[ArrayData]).asInstanceOf[ShingleSet], width, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val memo = ArrayMemo.state(ctx, "benchShingleSet",
      SharedShingleCount.decoder(constantArg), constantArg)
    val res = ctx.freshName("ssc")
    nullSafeCodeGen(ctx, ev, (t, w) =>
      s"""Long $res = graft.functions.SharedShingleCount.compute($t,
         |  (graft.functions.ShingleSet) $memo.apply($w), $width, $stride);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res.longValue(); }
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SharedShingleCount {
  /** A constant array shares [[ShingleSet.setFor]]'s one set per JVM,
    * which is keyed on where the bytes live; any other is built afresh.
    */
  def decoder(constantArray: Boolean): ArrayData => AnyRef =
    if (constantArray) ShingleSet.setFor else ShingleSet.fromArrayData

  /** Shared by eval and codegen. Null for texts shorter than `width`;
    * boxed so codegen can distinguish null from 0.
    */
  def compute(text: UTF8String, set: ShingleSet, width: Int,
              stride: Int): java.lang.Long = {
    var hits: Array[Int] = null
    var nh = 0
    val any = ShingleWalk.foreach(text, width, stride) { (bytes, from, len) =>
      val idx = set.indexOf(bytes, from, len)
      if (idx >= 0) {
        if (hits == null) hits = new Array[Int](16)
        else if (nh == hits.length) hits = java.util.Arrays.copyOf(hits, nh * 2)
        hits(nh) = idx
        nh += 1
      }
    }
    if (!any) return null
    if (nh == 0) return java.lang.Long.valueOf(0L)
    // distinct hit count: blob index ↔ unique shingle string
    java.util.Arrays.sort(hits, 0, nh)
    var c = 1L
    var i = 1
    while (i < nh) { if (hits(i) != hits(i - 1)) c += 1; i += 1 }
    java.lang.Long.valueOf(c)
  }
}
