package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}

/** Native Catalyst expression for float-vector dot products.
  *
  * The composable alternative (`aggregate(zip_with(...))`) is a
  * higher-order function: HOFs are interpreted per row (no codegen) and
  * materialize an intermediate array per pair — profiled at ~20× slower on
  * the all-pairs similarity workloads. This expression generates a tight
  * primitive loop inside WholeStageCodegen: no boxing, no intermediate
  * array, no virtual calls in the hot path.
  *
  * Determinism contract (oracle parity): accumulation is sequential
  * left-to-right in double after an exact float→double widening per
  * element — bit-identical to both the HOF formulation and DuckDB's
  * `list_inner_product` on `DOUBLE[]`. Each side independently accepts
  * ARRAY&lt;FLOAT&gt; (raw embeddings) or ARRAY&lt;DOUBLE&gt; (derived
  * vectors — IVF-PQ residuals are double by construction, the exact
  * difference semantics both engines share); double elements are used
  * as-is, so the accumulated value is the one DuckDB computes either way.
  */
case class VectorDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> or ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  private def isDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (isDouble(left), isDouble(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += (if (xd) x.getDouble(i) else x.getFloat(i).toDouble) *
        (if (yd) y.getDouble(i) else y.getFloat(i).toDouble)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      def get(arr: String, e: Expression): String =
        if (isDouble(e)) s"$arr.getDouble($i)" else s"((double) $arr.getFloat($i))"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${get(a, left)} * ${get(b, right)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All sign-LSH band keys of a float vector in ONE compiled loop.
  *
  * The composable form — `numPlanes` separate [[VectorDotProduct]] calls
  * wrapped in when()/shiftleft()/sum chains inside one projection — is
  * correct but BLOWS THE JIT METHOD LIMIT once planes reach production
  * width (8 bands × 16 bits = 128 inlined dot loops in the generated
  * method): HotSpot refuses to compile it and the whole banding
  * projection runs in the bytecode interpreter, measured ~2 µs per dot —
  * 570 of the 597 s sf100 inline LSH run, and the entirety of the
  * round-13 "vlsh build 688 s" entry (the staged SERVE of the same data
  * is 29 s). Same failure mode as the round-1 SimHash lesson, one level
  * up. This expression emits ONE call into a pre-compiled helper whose
  * plane×dim loop JITs once: generated code stays tiny at any geometry.
  *
  * Key parity contract: bit r of band b is `dot(v, plane[b·bits+r]) > 0`
  * with the SAME arithmetic as [[VectorDotProduct]] (per-element
  * float→double widening, sequential left-to-right double accumulation
  * — and IEEE multiplication is commutative bitwise, so plane·v == v·plane),
  * so keys are bit-identical to the old projection: existing stores stay
  * valid, oracles unchanged.
  *
  * Planes arrive FLAT (plane p occupies [p·dim, (p+1)·dim)); a vector of
  * any other length than `dim` fails fast — truncating would silently
  * band on a prefix.
  */
case class VectorSignBands(child: Expression, planes: Seq[Float],
                           dim: Int, bitsPerBand: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(dim > 0 && bitsPerBand > 0 && planes.nonEmpty &&
    planes.length % (dim * bitsPerBand) == 0,
    "vector_sign_bands: planes must hold whole bands of whole planes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, false)
  override def prettyName: String = "vector_sign_bands"

  @transient private lazy val flat: Array[Float] = planes.toArray

  override def nullSafeEval(input: Any): Any =
    VectorSignBands.compute(input.asInstanceOf[ArrayData], flat, dim, bitsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", flat, "float[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorSignBands.compute(" +
        s"$v, $planesRef, $dim, $bitsPerBand);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorSignBands {
  /** Shared by eval and codegen — one JIT-compiled loop for any geometry. */
  def compute(v: ArrayData, planes: Array[Float], dim: Int, bitsPerBand: Int): ArrayData = {
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"embeddingLshPairs: expected $dim-dim vectors, got ${v.numElements()}")
    val numBands = planes.length / (dim * bitsPerBand)
    val keys = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var key = 0L
      var r = 0
      while (r < bitsPerBand) {
        var s = 0.0
        var i = 0
        var off = (b * bitsPerBand + r) * dim
        while (i < dim) {
          s += planes(off).toDouble * v.getFloat(i).toDouble
          i += 1
          off += 1
        }
        if (s > 0) key |= (1L << r)
        r += 1
      }
      keys(b) = key
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }
}

/** `pq_assign_code(sv, m, cbs)` → the nearest PQ code for subvector `sv`
  * in subspace `m`, scanning a broadcast-attached whole-codebook array
  * `cbs: array<struct<m:int, code:int, cv:array<float>>>` row-locally —
  * the compiled form of [[Similarity.pqAssign]]'s
  * `join(broadcast(codebook)) → min(struct(dist, code))`, which expanded
  * every (vector, subspace) slice ×numCodes through a join and re-ground
  * it in a slice-grain hash aggregate (256 M generated rows at sf100 for
  * a 16 M-slice corpus).
  *
  * Bit-parity contract: the distance is the SAME
  * `dot(sv,sv) − 2.0·dot(sv,cv) + dot(cv,cv)` double arithmetic
  * ([[VectorDotProduct]]'s sequential float→double accumulation, three
  * independent accumulators, combined left-to-right), and the tie-break
  * is `min(struct(dist, code))`: callers attach `cbs` SORTED ascending
  * by (m, code), so the first strict improvement (`Double.compare`,
  * mirroring Spark's double ordering) in ascending code order is the
  * same winner. Null when no codebook entry carries subspace `m` — in
  * the join form that (id, m) row simply did not exist; every subspace
  * always has ≥1 code (seeds slice all of them), so this is unreachable
  * in practice and would fail the oracle gate loudly, not silently.
  */
case class PqAssignCode(first: Expression, second: Expression, third: Expression,
                        constantArray: Boolean = false)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), org.apache.spark.sql.types.IntegerType,
            ArrayType(s: org.apache.spark.sql.types.StructType, _))
          if s.length == 3 && (s.fields(2).dataType match {
            case ArrayType(FloatType | DoubleType, _) => true; case _ => false }) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<FLOAT|DOUBLE>, INT, ARRAY<STRUCT<m,code,cv:ARRAY<FLOAT|DOUBLE>>>) inputs, got $other")
    }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_assign_code"

  // float-vs-double reads, resolved at plan time like VectorDotProduct's:
  // the residual-PQ path (ivfpq) carries double arrays end to end
  @transient private lazy val svDouble =
    first.dataType.asInstanceOf[ArrayType].elementType == DoubleType
  @transient private lazy val cvDouble =
    third.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields(2).dataType.asInstanceOf[ArrayType].elementType == DoubleType

  // the flag changes how the argument is cached, not the result
  override protected def stringArgs: Iterator[Any] = Iterator(first, second, third)

  /** `third` is the same on every row of a task: flagged, or a literal. */
  def constantArg: Boolean = constantArray || third.foldable

  @transient private lazy val codebooks =
    new ArrayMemo(PqCodebook.decoder(cvDouble), constantArg)

  override def nullSafeEval(sv: Any, m: Any, cbs: Any): Any =
    PqAssignCode.compute(sv.asInstanceOf[ArrayData], m.asInstanceOf[Int],
      codebooks(cbs.asInstanceOf[ArrayData]).asInstanceOf[PqCodebook], svDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val memo = ArrayMemo.state(ctx, "pqCodebook", PqCodebook.decoder(cvDouble), constantArg)
    val res = ctx.freshName("pqc")
    nullSafeCodeGen(ctx, ev, (sv, m, cbs) =>
      s"""Integer $res = graft.functions.PqAssignCode.compute($sv, $m,
         |  (graft.functions.PqCodebook) $memo.apply($cbs), $svDouble);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res.intValue(); }
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** The broadcast codebook decoded once per task (`constantArray`, see
  * [[ArrayMemo]]) into primitive arrays —
  * r21: the per-row form walked all `numSub·numCodes` codebook structs
  * through `ArrayData.getStruct`/`getArray` wrapper allocations for
  * every (vector, subspace) row (128 allocations/row × 16 M rows at
  * sf100, measured ~86 µs/row — the bulk of pq assignment). Entry order
  * is preserved (callers attach sorted by (m, code)), and every element
  * is stored as the DOUBLE the per-row struct read widened it to, so
  * the distance arithmetic and the first-strict-improvement tie-break
  * are bit-identical.
  */
final class PqCodebook(val ms: Array[Int], val codes: Array[Int],
                       val offs: Array[Int], val vals: Array[Double])

object PqCodebook {
  def decoder(cvDouble: Boolean): ArrayData => AnyRef = fromArrayData(_, cvDouble)

  def fromArrayData(cbs: ArrayData, cvDouble: Boolean): PqCodebook = {
    val n = cbs.numElements()
    val ms = new Array[Int](n)
    val codes = new Array[Int](n)
    val offs = new Array[Int](n + 1)
    var total = 0
    var i = 0
    while (i < n) { total += cbs.getStruct(i, 3).getArray(2).numElements(); i += 1 }
    val vals = new Array[Double](total)
    var o = 0
    i = 0
    while (i < n) {
      val e = cbs.getStruct(i, 3)
      ms(i) = e.getInt(0)
      codes(i) = e.getInt(1)
      offs(i) = o
      val cv = e.getArray(2)
      val d = cv.numElements()
      var j = 0
      while (j < d) {
        vals(o) = if (cvDouble) cv.getDouble(j) else cv.getFloat(j).toDouble
        o += 1
        j += 1
      }
      i += 1
    }
    offs(n) = o
    new PqCodebook(ms, codes, offs, vals)
  }
}

object PqAssignCode {
  /** Shared by eval and codegen. `cb` preserves the caller's (m, code)
    * sort order; same distance arithmetic and tie-break as the struct
    * walk it replaces.
    */
  def compute(sv: ArrayData, m: Int, cb: PqCodebook,
              svDouble: Boolean): java.lang.Integer = {
    val d = sv.numElements()
    var best = 0.0
    var bestCode = -1
    var found = false
    val n = cb.ms.length
    var i = 0
    while (i < n) {
      if (cb.ms(i) == m) {
        val off = cb.offs(i)
        var d1 = 0.0
        var d2 = 0.0
        var d3 = 0.0
        var j = 0
        while (j < d) {
          val x = if (svDouble) sv.getDouble(j) else sv.getFloat(j).toDouble
          val c = cb.vals(off + j)
          d1 += x * x
          d2 += x * c
          d3 += c * c
          j += 1
        }
        val dist = d1 - 2.0 * d2 + d3
        if (!found || java.lang.Double.compare(dist, best) < 0) {
          found = true; best = dist; bestCode = cb.codes(i)
        }
      }
      i += 1
    }
    if (!found) null else java.lang.Integer.valueOf(bestCode)
  }
}

/** Column handles for graft's custom expressions, and the catalog that
  * makes the same expressions callable from SQL text.
  *
  * A handle builds its expression directly, so building a DataFrame
  * neither reads nor writes the session's function registry: a session
  * that binds another function to one of these names still gets graft's
  * semantics from graft's operators.
  */
object VectorExpressions {
  import org.apache.spark.sql.GraftColumns.{column, expression => expr}

  /** Column handle for [[VectorDotProduct]]. */
  def vectorDot(a: Column, b: Column): Column =
    column(VectorDotProduct(expr(a), expr(b)))

  /** Column handle for [[VectorSignBands]]. */
  def vectorSignBands(v: Column, planesFlat: Seq[Float], dim: Int, bitsPerBand: Int): Column =
    column(VectorSignBands(expr(v), planesFlat, dim, bitsPerBand))

  /** Column handle for [[MinHashSlices]]. */
  def minhashSlices(text: Column, numHashes: Int, width: Int, stride: Int): Column =
    column(MinHashSlices(expr(text), numHashes, width, stride))

  /** Column handle for [[SimHash60]]. */
  def simhash60(text: Column): Column = column(SimHash60(expr(text)))

  /** Column handle for [[TextStats]]. */
  def textStats(text: Column, markers: Seq[String]): Column =
    column(TextStats(expr(text), markers))

  /** Column handle for [[NormalizeText]]. */
  def normalizeText(text: Column): Column = column(NormalizeText(expr(text)))

  /** Column handle for [[BloomPositions]]. */
  def bloomPositions(sh: Column, hashes: Int): Column =
    column(BloomPositions(expr(sh), hashes))

  /** Column handle for [[BloomMember]]. */
  def bloomMember(sh: Column, words: Column, hashes: Int): Column =
    column(BloomMember(expr(sh), expr(words), hashes))

  /** Column handle for [[BloomDocBits]]. */
  def bloomDocBits(text: Column, width: Int, stride: Int, hashes: Int, words: Int): Column =
    column(BloomDocBits(expr(text), width, stride, hashes, words))

  /** Column handle for [[BloomFlagCount]]. */
  def bloomFlagCount(text: Column, bloomWords: Column, width: Int, stride: Int, hashes: Int): Column =
    column(BloomFlagCount(expr(text), expr(bloomWords), width, stride, hashes))

  /** Column handle for [[BloomFlaggedShingles]]. */
  def bloomFlaggedShingles(text: Column, bloomWords: Column, width: Int, stride: Int, hashes: Int): Column =
    column(BloomFlaggedShingles(expr(text), expr(bloomWords), width, stride, hashes))

  /** Column handle for [[MinShingleMd5]]. */
  def minShingleMd5(text: Column, width: Int, stride: Int): Column =
    column(MinShingleMd5(expr(text), width, stride))

  /** Column handle for [[RepetitionStats]]. */
  def repetitionStats(text: Column): Column = column(RepetitionStats(expr(text)))

  /** Column handle for [[PqAssignCode]]. `constantArray`: `cbs` is the
    * same on every row of a task ([[ArrayMemo]]).
    */
  def pqAssignCode(sv: Column, m: Column, cbs: Column, constantArray: Boolean): Column =
    column(PqAssignCode(expr(sv), expr(m), expr(cbs), constantArray))

  /** Column handle for [[BigramCounts]]. */
  def bigramCounts(text: Column): Column = column(BigramCounts(expr(text)))

  /** Column handle for [[TokenCounts]]. */
  def tokenCounts(text: Column): Column = column(TokenCounts(expr(text)))

  /** Column handle for [[BpePairCounts]]. */
  def bpePairCounts(text: Column): Column = column(BpePairCounts(expr(text)))

  /** Column handle for [[SpanTiles]]. */
  def spanTiles(text: Column, spanTokens: Int): Column =
    column(SpanTiles(expr(text), spanTokens))

  /** Column handle for [[DistinctShingles]]. */
  def distinctShingles(text: Column, width: Int, stride: Int): Column =
    column(DistinctShingles(expr(text), width, stride))

  /** Column handle for [[TokenizeCounts]]. */
  def tokenizeCounts(text: Column): Column = column(TokenizeCounts(expr(text)))

  /** Column handle for [[LangMarkerCounts]]. Each set becomes the
    * `ArraySeq` the SQL builder decodes, so a plan prints the same either way.
    */
  def langMarkerCounts(text: Column, sets: Seq[Seq[String]]): Column =
    column(LangMarkerCounts(expr(text), sets.map(_.toArray.toSeq)))

  /** Column handle for [[PiiScrubStats]]. */
  def piiScrubStats(text: Column): Column = column(PiiScrubStats(expr(text)))

  /** Column handle for [[WideBloomPositions]]. */
  def wideBloomPositions(sh: Column, hashes: Int, bits: Int): Column =
    column(WideBloomPositions(expr(sh), hashes, bits))

  /** Column handle for [[JsonFastLong]]. */
  def jsonFastLong(json: Column, field: String): Column =
    column(JsonFastLong(expr(json), field))

  /** Column handle for [[SharedShingleCount]]. `constantArray`:
    * `shingles` is the same on every row of a task ([[ArrayMemo]]).
    */
  def sharedShingleCount(text: Column, shingles: Column, width: Int, stride: Int,
                         constantArray: Boolean): Column =
    column(SharedShingleCount(expr(text), expr(shingles), width, stride, constantArray))

  /** Column handle for [[WideBloomFlaggedShingles]]. `constantArray`:
    * `bloomWords` is the same on every row of a task ([[ArrayMemo]]).
    */
  def wideBloomFlaggedShingles(text: Column, bloomWords: Column, width: Int,
                               stride: Int, hashes: Int, constantArray: Boolean): Column =
    column(WideBloomFlaggedShingles(expr(text), expr(bloomWords), width, stride, hashes,
      constantArray))

  /** The SQL spelling of every handle above, one row each: its signature
    * and the builder from the call's arguments. Geometry, marker sets and
    * planes are part of an operator's identity, so they must be literals;
    * `constant_array` is the optional trailing flag of [[ArrayMemo]].
    * [[register]] and [[GraftExtensions]] both read this table.
    */
  val catalog: Seq[SqlFunction[_ <: Expression]] = Seq(
    new SqlFunction("vector_dot(a, b)")(a => VectorDotProduct(a(0), a(1))),
    new SqlFunction("vector_sign_bands(vec, planesFlat, dim, bitsPerBand)")(a =>
      VectorSignBands(a(0), a.floats(1), a.int(2), a.int(3))),
    new SqlFunction("minhash_slices(text, numHashes, width, stride)")(a =>
      MinHashSlices(a(0), a.int(1), a.int(2), a.int(3))),
    new SqlFunction("simhash60(text)")(a => SimHash60(a(0))),
    new SqlFunction("text_stats(text, markers)")(a => TextStats(a(0), a.strings(1))),
    new SqlFunction("normalize_text(text)")(a => NormalizeText(a(0))),
    new SqlFunction("bloom_positions(sh, hashes)")(a => BloomPositions(a(0), a.int(1))),
    new SqlFunction("bloom_member(sh, words, hashes)")(a => BloomMember(a(0), a(1), a.int(2))),
    new SqlFunction("bloom_doc_bits(text, width, stride, hashes, words)")(a =>
      BloomDocBits(a(0), a.int(1), a.int(2), a.int(3), a.int(4))),
    new SqlFunction("bloom_flag_count(text, words, width, stride, hashes)")(a =>
      BloomFlagCount(a(0), a(1), a.int(2), a.int(3), a.int(4))),
    new SqlFunction("bloom_flagged_shingles(text, words, width, stride, hashes)")(a =>
      BloomFlaggedShingles(a(0), a(1), a.int(2), a.int(3), a.int(4))),
    new SqlFunction("min_shingle_md5(text, width, stride)")(a =>
      MinShingleMd5(a(0), a.int(1), a.int(2))),
    new SqlFunction("repetition_stats(text)")(a => RepetitionStats(a(0))),
    new SqlFunction("pq_assign_code(sv, m, cbs, [constant_array])")(a =>
      PqAssignCode(a(0), a(1), a(2), a.flag(3))),
    new SqlFunction("bigram_counts(text)")(a => BigramCounts(a(0))),
    new SqlFunction("token_counts(text)")(a => TokenCounts(a(0))),
    new SqlFunction("bpe_pair_counts(text)")(a => BpePairCounts(a(0))),
    new SqlFunction("span_tiles(text, spanTokens)")(a => SpanTiles(a(0), a.int(1))),
    new SqlFunction("distinct_shingles(text, width, stride)")(a =>
      DistinctShingles(a(0), a.int(1), a.int(2))),
    new SqlFunction("tokenize_counts(text)")(a => TokenizeCounts(a(0))),
    // one space-joined marker string per language (markers are ASCII and
    // space-free, so the join is unambiguous)
    new SqlFunction("lang_marker_counts(text, sets)")(a =>
      LangMarkerCounts(a(0), a.strings(1).map(_.split(" ").toSeq))),
    new SqlFunction("pii_scrub_stats(text)")(a => PiiScrubStats(a(0))),
    new SqlFunction("wide_bloom_positions(sh, hashes, bits)")(a =>
      WideBloomPositions(a(0), a.int(1), a.int(2))),
    new SqlFunction("json_fast_long(json, field)")(a => JsonFastLong(a(0), a.string(1))),
    new SqlFunction("shared_shingle_count(text, shingles, width, stride, [constant_array])")(a =>
      SharedShingleCount(a(0), a(1), a.int(2), a.int(3), a.flag(4))),
    new SqlFunction("wide_bloom_flagged_shingles(text, words, width, stride, hashes, [constant_array])")(a =>
      WideBloomFlaggedShingles(a(0), a(1), a.int(2), a.int(3), a.int(4), a.flag(5))))

  /** Makes the catalog callable from `spark.sql` text in this session
    * (graft's operators do not need it). A name already bound to graft's
    * expression is left alone; a name bound to any other function is
    * rebound to graft's.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    catalog.map(_.description).foreach { case (id, info, builder) =>
      if (!registry.lookupFunction(id).exists(_.getClassName == info.getClassName))
        registry.registerFunction(id, info, builder)
    }
  }
}

/** One SQL function of [[VectorExpressions.catalog]]. `signature` names
  * its arguments, an optional one in brackets; a call with another number
  * of arguments fails with the signature in the message.
  */
final class SqlFunction[T <: Expression](val signature: String)(make: SqlArgs => T)(
    implicit tag: scala.reflect.ClassTag[T]) {
  val name: String = signature.takeWhile(_ != '(')
  private[functions] val params: Seq[String] = signature.drop(name.length + 1).dropRight(1).split(", ").toSeq
  val arity: Range = params.count(!_.startsWith("[")) to params.length

  private def build(exprs: Seq[Expression]): T = {
    if (!arity.contains(exprs.length)) {
      val takes = if (arity.size == 1) s"${arity.start}" else s"${arity.start} or ${arity.end}"
      throw new IllegalArgumentException(
        s"$signature takes $takes arguments, got ${exprs.length}")
    }
    make(new SqlArgs(this, exprs))
  }

  /** The (name, info, builder) triple Spark's registry and extensions take. */
  def description: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo, Seq[Expression] => Expression) =
    (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(tag.runtimeClass.getName, name),
      build(_))
}

/** The arguments of one SQL call, with readers for the literal ones. */
final class SqlArgs(fn: SqlFunction[_], exprs: Seq[Expression]) {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.unsafe.types.UTF8String

  def apply(i: Int): Expression = exprs(i)

  def int(i: Int): Int = literal(i, "an int") { case Literal(k: Int, _) => k }

  def string(i: Int): String =
    literal(i, "a string") { case Literal(s: UTF8String, StringType) => s.toString }

  def strings(i: Int): Seq[String] = literal(i, "a string-array") {
    case Literal(a: ArrayData, ArrayType(StringType, _)) =>
      a.toObjectArray(StringType).map(_.asInstanceOf[UTF8String].toString).toSeq
  }

  def floats(i: Int): Seq[Float] = literal(i, "a float-array") {
    case Literal(a: ArrayData, ArrayType(FloatType, _)) => a.toFloatArray().toSeq
  }

  /** An optional trailing boolean literal; false when absent. */
  def flag(i: Int): Boolean =
    exprs.length > i && literal(i, "a boolean") { case Literal(b: Boolean, _) => b }

  private def literal[T](i: Int, kind: String)(read: PartialFunction[Expression, T]): T =
    read.applyOrElse(exprs(i), (e: Expression) => throw new IllegalArgumentException(
      s"${fn.signature}: ${fn.params(i).stripPrefix("[").stripSuffix("]")} must be $kind literal, got $e"))
}

/** SparkSessionExtensions entry point: a session built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` resolves every
  * function of [[VectorExpressions.catalog]] in SQL text.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    VectorExpressions.catalog.foreach(f => ext.injectFunction(f.description))
}
