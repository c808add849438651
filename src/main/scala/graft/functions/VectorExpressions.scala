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

object VectorExpressions {
  /** Column-API handle for [[VectorDotProduct]]. Spark 4's Column no longer
    * exposes the catalyst expression directly, so the handle goes through
    * the function registry: call [[register]] on the session first (every
    * engine entry point that scores vectors does).
    */
  def vectorDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vector_dot", a, b)

  /** Idempotent registration; also makes `vector_dot(a, b)` available in
    * spark.sql text queries. Guarded on an existing entry so repeated
    * defensive calls from operators don't spam
    * "replaced a previously registered function" warnings.
    *
    * The guard means register() DEFERS to whatever `vector_dot` is already
    * in the session registry — fine for the expected cases (this function,
    * or the identical one injected by [[GraftExtensions]]), but a session
    * that pre-registered a different `vector_dot` keeps its own semantics;
    * the engine's operators never re-assert theirs. Callers needing a
    * guarantee should wire [[GraftExtensions]] at session build.
    */
  def register(spark: SparkSession): Unit = {
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("vector_dot")
    if (!spark.sessionState.functionRegistry.functionExists(id)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "vector_dot", exprs => VectorDotProduct(exprs(0), exprs(1)), "built-in")
    }
    val sb = org.apache.spark.sql.catalyst.FunctionIdentifier("vector_sign_bands")
    if (!spark.sessionState.functionRegistry.functionExists(sb)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "vector_sign_bands", signBandsFromExprs, "built-in")
    }
    val mh = org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_slices")
    if (!spark.sessionState.functionRegistry.functionExists(mh)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "minhash_slices", minHashFromExprs, "built-in")
    }
    val sh = org.apache.spark.sql.catalyst.FunctionIdentifier("simhash60")
    if (!spark.sessionState.functionRegistry.functionExists(sh)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "simhash60", exprs => SimHash60(exprs.head), "built-in")
    }
    val ts = org.apache.spark.sql.catalyst.FunctionIdentifier("text_stats")
    if (!spark.sessionState.functionRegistry.functionExists(ts)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "text_stats", textStatsFromExprs, "built-in")
    }
    val nt = org.apache.spark.sql.catalyst.FunctionIdentifier("normalize_text")
    if (!spark.sessionState.functionRegistry.functionExists(nt)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "normalize_text", exprs => NormalizeText(exprs.head), "built-in")
    }
    val bp = org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_positions")
    if (!spark.sessionState.functionRegistry.functionExists(bp)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bloom_positions", exprs => intLitArg(exprs, 2, "bloom_positions(sh, hashes)")(
          k => BloomPositions(exprs.head, k)), "built-in")
    }
    val bm = org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_member")
    if (!spark.sessionState.functionRegistry.functionExists(bm)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bloom_member", exprs => intLitArg(exprs, 3, "bloom_member(sh, words, hashes)")(
          k => BloomMember(exprs(0), exprs(1), k)), "built-in")
    }
    val bd = org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_doc_bits")
    if (!spark.sessionState.functionRegistry.functionExists(bd)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bloom_doc_bits", exprs => {
          require(exprs.length == 5, "bloom_doc_bits(text, width, stride, hashes, words) takes 5 arguments")
          val sig = "bloom_doc_bits geometry"
          BloomDocBits(exprs.head, intLit(exprs(1), sig), intLit(exprs(2), sig),
            intLit(exprs(3), sig), intLit(exprs(4), sig))
        }, "built-in")
    }
    val bf = org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_flag_count")
    if (!spark.sessionState.functionRegistry.functionExists(bf)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bloom_flag_count", exprs => {
          require(exprs.length == 5, "bloom_flag_count(text, words, width, stride, hashes) takes 5 arguments")
          val sig = "bloom_flag_count geometry"
          BloomFlagCount(exprs(0), exprs(1), intLit(exprs(2), sig),
            intLit(exprs(3), sig), intLit(exprs(4), sig))
        }, "built-in")
    }
    val bfs = org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_flagged_shingles")
    if (!spark.sessionState.functionRegistry.functionExists(bfs)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bloom_flagged_shingles", exprs => {
          require(exprs.length == 5, "bloom_flagged_shingles(text, words, width, stride, hashes) takes 5 arguments")
          val sig = "bloom_flagged_shingles geometry"
          BloomFlaggedShingles(exprs(0), exprs(1), intLit(exprs(2), sig),
            intLit(exprs(3), sig), intLit(exprs(4), sig))
        }, "built-in")
    }
    val msm = org.apache.spark.sql.catalyst.FunctionIdentifier("min_shingle_md5")
    if (!spark.sessionState.functionRegistry.functionExists(msm)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "min_shingle_md5", exprs => {
          require(exprs.length == 3, "min_shingle_md5(text, width, stride) takes 3 arguments")
          val sig = "min_shingle_md5 geometry"
          MinShingleMd5(exprs.head, intLit(exprs(1), sig), intLit(exprs(2), sig))
        }, "built-in")
    }
    val rs = org.apache.spark.sql.catalyst.FunctionIdentifier("repetition_stats")
    if (!spark.sessionState.functionRegistry.functionExists(rs)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "repetition_stats", exprs => RepetitionStats(exprs.head), "built-in")
    }
    val pac = org.apache.spark.sql.catalyst.FunctionIdentifier("pq_assign_code")
    if (!spark.sessionState.functionRegistry.functionExists(pac)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "pq_assign_code", exprs =>
          PqAssignCode(exprs(0), exprs(1), exprs(2),
            constantArrayArg(exprs, 3, "pq_assign_code(sv, m, cbs[, constant_array])")),
        "built-in")
    }
    val bgc = org.apache.spark.sql.catalyst.FunctionIdentifier("bigram_counts")
    if (!spark.sessionState.functionRegistry.functionExists(bgc)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bigram_counts", exprs => BigramCounts(exprs.head), "built-in")
    }
    val tkc = org.apache.spark.sql.catalyst.FunctionIdentifier("token_counts")
    if (!spark.sessionState.functionRegistry.functionExists(tkc)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "token_counts", exprs => TokenCounts(exprs.head), "built-in")
    }
    val bpc = org.apache.spark.sql.catalyst.FunctionIdentifier("bpe_pair_counts")
    if (!spark.sessionState.functionRegistry.functionExists(bpc)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bpe_pair_counts", exprs => BpePairCounts(exprs.head), "built-in")
    }
    val spt = org.apache.spark.sql.catalyst.FunctionIdentifier("span_tiles")
    if (!spark.sessionState.functionRegistry.functionExists(spt)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "span_tiles", exprs => intLitArg(exprs, 2, "span_tiles(text, spanTokens)")(
          k => SpanTiles(exprs.head, k)), "built-in")
    }
    val dsh = org.apache.spark.sql.catalyst.FunctionIdentifier("distinct_shingles")
    if (!spark.sessionState.functionRegistry.functionExists(dsh)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "distinct_shingles", exprs => {
          require(exprs.length == 3, "distinct_shingles(text, width, stride) takes 3 arguments")
          val sig = "distinct_shingles geometry"
          DistinctShingles(exprs.head, intLit(exprs(1), sig), intLit(exprs(2), sig))
        }, "built-in")
    }
    val tzc = org.apache.spark.sql.catalyst.FunctionIdentifier("tokenize_counts")
    if (!spark.sessionState.functionRegistry.functionExists(tzc)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "tokenize_counts", exprs => TokenizeCounts(exprs.head), "built-in")
    }
    val lmc = org.apache.spark.sql.catalyst.FunctionIdentifier("lang_marker_counts")
    if (!spark.sessionState.functionRegistry.functionExists(lmc)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "lang_marker_counts", langMarkerCountsFromExprs, "built-in")
    }
    val pss = org.apache.spark.sql.catalyst.FunctionIdentifier("pii_scrub_stats")
    if (!spark.sessionState.functionRegistry.functionExists(pss)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "pii_scrub_stats", exprs => PiiScrubStats(exprs.head), "built-in")
    }
    val wbp = org.apache.spark.sql.catalyst.FunctionIdentifier("wide_bloom_positions")
    if (!spark.sessionState.functionRegistry.functionExists(wbp)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "wide_bloom_positions", exprs => {
          require(exprs.length == 3, "wide_bloom_positions(sh, hashes, bits) takes 3 arguments")
          val sig = "wide_bloom_positions geometry"
          WideBloomPositions(exprs.head, intLit(exprs(1), sig), intLit(exprs(2), sig))
        }, "built-in")
    }
    val jfl = org.apache.spark.sql.catalyst.FunctionIdentifier("json_fast_long")
    if (!spark.sessionState.functionRegistry.functionExists(jfl)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "json_fast_long", exprs => {
          import org.apache.spark.sql.catalyst.expressions.Literal
          require(exprs.length == 2, "json_fast_long(json, field) takes 2 arguments")
          val fld = exprs(1) match {
            case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
            case other => throw new IllegalArgumentException(
              s"json_fast_long: field must be a string literal, got $other")
          }
          JsonFastLong(exprs(0), fld)
        }, "built-in")
    }
    val ssc = org.apache.spark.sql.catalyst.FunctionIdentifier("shared_shingle_count")
    if (!spark.sessionState.functionRegistry.functionExists(ssc)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "shared_shingle_count", exprs => {
          val constant = constantArrayArg(exprs, 4,
            "shared_shingle_count(text, shingles, width, stride[, constant_array])")
          val sig = "shared_shingle_count geometry"
          SharedShingleCount(exprs(0), exprs(1), intLit(exprs(2), sig), intLit(exprs(3), sig),
            constant)
        }, "built-in")
    }
    val wbf = org.apache.spark.sql.catalyst.FunctionIdentifier("wide_bloom_flagged_shingles")
    if (!spark.sessionState.functionRegistry.functionExists(wbf)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "wide_bloom_flagged_shingles", exprs => {
          val constant = constantArrayArg(exprs, 5,
            "wide_bloom_flagged_shingles(text, words, width, stride, hashes[, constant_array])")
          val sig = "wide_bloom_flagged_shingles geometry"
          WideBloomFlaggedShingles(exprs(0), exprs(1), intLit(exprs(2), sig),
            intLit(exprs(3), sig), intLit(exprs(4), sig), constant)
        }, "built-in")
    }
  }

  /** Column-API handle for [[TokenizeCounts]] (see [[register]]). */
  def tokenizeCounts(text: Column): Column =
    org.apache.spark.sql.functions.call_function("tokenize_counts", text)

  /** Column-API handle for [[LangMarkerCounts]] (see [[register]]): each
    * marker set travels as ONE space-joined literal string (markers are
    * ASCII and space-free, so the join is unambiguous).
    */
  def langMarkerCounts(text: Column, sets: Seq[Seq[String]]): Column =
    org.apache.spark.sql.functions.call_function("lang_marker_counts",
      text, org.apache.spark.sql.functions.typedLit(sets.map(_.mkString(" "))))

  /** Registry/extension constructor — marker sets are part of the
    * operator's identity, so they must arrive as a string-array literal
    * (one space-joined entry per language).
    */
  private[functions] def langMarkerCountsFromExprs(exprs: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(exprs.length == 2, "lang_marker_counts(text, sets) takes 2 arguments")
    val sets = exprs(1) match {
      case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(StringType, _)) =>
        a.toObjectArray(StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString.split(" ").toSeq).toSeq
      case other => throw new IllegalArgumentException(
        s"lang_marker_counts: sets must be a string-array literal, got $other")
    }
    LangMarkerCounts(exprs(0), sets)
  }

  /** Column-API handle for [[PiiScrubStats]] (see [[register]]). */
  def piiScrubStats(text: Column): Column =
    org.apache.spark.sql.functions.call_function("pii_scrub_stats", text)

  /** Column-API handle for [[JsonFastLong]] (see [[register]]). */
  def jsonFastLong(json: Column, field: String): Column =
    org.apache.spark.sql.functions.call_function("json_fast_long",
      json, org.apache.spark.sql.functions.lit(field))

  /** Column-API handle for [[SharedShingleCount]] (see [[register]]).
    * `constantArray`: `shingles` is the same on every row of a task
    * ([[ArrayMemo]]).
    */
  def sharedShingleCount(text: Column, shingles: Column, width: Int, stride: Int,
                         constantArray: Boolean): Column =
    org.apache.spark.sql.functions.call_function("shared_shingle_count",
      text, shingles, org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(stride), org.apache.spark.sql.functions.lit(constantArray))

  /** Column-API handle for [[WideBloomPositions]] (see [[register]]). */
  def wideBloomPositions(sh: Column, hashes: Int, bits: Int): Column =
    org.apache.spark.sql.functions.call_function("wide_bloom_positions",
      sh, org.apache.spark.sql.functions.lit(hashes), org.apache.spark.sql.functions.lit(bits))

  /** Column-API handle for [[WideBloomFlaggedShingles]] (see [[register]]).
    * `constantArray`: `bloomWords` is the same on every row of a task
    * ([[ArrayMemo]]).
    */
  def wideBloomFlaggedShingles(text: Column, bloomWords: Column, width: Int,
                               stride: Int, hashes: Int, constantArray: Boolean): Column =
    org.apache.spark.sql.functions.call_function("wide_bloom_flagged_shingles",
      text, bloomWords, org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(stride), org.apache.spark.sql.functions.lit(hashes),
      org.apache.spark.sql.functions.lit(constantArray))

  /** Column-API handle for [[BigramCounts]] (see [[register]]). */
  def bigramCounts(text: Column): Column =
    org.apache.spark.sql.functions.call_function("bigram_counts", text)

  /** Column-API handle for [[TokenCounts]] (see [[register]]). */
  def tokenCounts(text: Column): Column =
    org.apache.spark.sql.functions.call_function("token_counts", text)

  /** Column-API handle for [[BpePairCounts]] (see [[register]]). */
  def bpePairCounts(text: Column): Column =
    org.apache.spark.sql.functions.call_function("bpe_pair_counts", text)

  /** Column-API handle for [[SpanTiles]] (see [[register]]). */
  def spanTiles(text: Column, spanTokens: Int): Column =
    org.apache.spark.sql.functions.call_function("span_tiles",
      text, org.apache.spark.sql.functions.lit(spanTokens))

  /** Column-API handle for [[DistinctShingles]] (see [[register]]). */
  def distinctShingles(text: Column, width: Int, stride: Int): Column =
    org.apache.spark.sql.functions.call_function("distinct_shingles",
      text, org.apache.spark.sql.functions.lit(width), org.apache.spark.sql.functions.lit(stride))

  /** Column-API handle for [[PqAssignCode]] (see [[register]]).
    * `constantArray`: `cbs` is the same on every row of a task
    * ([[ArrayMemo]]).
    */
  def pqAssignCode(sv: Column, m: Column, cbs: Column, constantArray: Boolean): Column =
    org.apache.spark.sql.functions.call_function("pq_assign_code", sv, m, cbs,
      org.apache.spark.sql.functions.lit(constantArray))

  /** Column-API handle for [[BloomFlaggedShingles]] (see [[register]]). */
  def bloomFlaggedShingles(text: Column, bloomWords: Column, width: Int, stride: Int, hashes: Int): Column =
    org.apache.spark.sql.functions.call_function("bloom_flagged_shingles",
      text, bloomWords, org.apache.spark.sql.functions.lit(width), org.apache.spark.sql.functions.lit(stride),
      org.apache.spark.sql.functions.lit(hashes))

  /** Column-API handle for [[MinShingleMd5]] (see [[register]]). */
  def minShingleMd5(text: Column, width: Int, stride: Int): Column =
    org.apache.spark.sql.functions.call_function("min_shingle_md5",
      text, org.apache.spark.sql.functions.lit(width), org.apache.spark.sql.functions.lit(stride))

  /** Column-API handle for [[RepetitionStats]] (see [[register]]). */
  def repetitionStats(text: Column): Column =
    org.apache.spark.sql.functions.call_function("repetition_stats", text)

  /** Geometry args must be int literals (part of the operator's identity). */
  private def intLit(e: Expression, sig: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    e match {
      case Literal(k: Int, _) => k
      case other => throw new IllegalArgumentException(s"$sig: must be an int literal, got $other")
    }
  }

  /** The optional trailing `constant_array` boolean literal after `n`
    * arguments ([[ArrayMemo]]); false when absent.
    */
  private def constantArrayArg(exprs: Seq[Expression], n: Int, sig: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(exprs.length == n || exprs.length == n + 1, s"$sig takes $n or ${n + 1} arguments")
    exprs.length > n && (exprs(n) match {
      case Literal(b: Boolean, _) => b
      case other => throw new IllegalArgumentException(
        s"$sig: constant_array must be a boolean literal, got $other")
    })
  }

  /** The last of `n` args must be an int literal (probe-count geometry is
    * part of the operator's identity, like minhash_slices' arguments).
    */
  private def intLitArg(exprs: Seq[Expression], n: Int, sig: String)(
      build: Int => Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(exprs.length == n, s"$sig takes $n arguments")
    exprs.last match {
      case Literal(k: Int, _) => build(k)
      case other => throw new IllegalArgumentException(
        s"$sig: the count must be an int literal, got $other")
    }
  }

  /** Column-API handle for [[BloomPositions]] (see [[register]]). */
  def bloomPositions(sh: Column, hashes: Int): Column =
    org.apache.spark.sql.functions.call_function("bloom_positions",
      sh, org.apache.spark.sql.functions.lit(hashes))

  /** Column-API handle for [[BloomMember]] (see [[register]]). */
  def bloomMember(sh: Column, words: Column, hashes: Int): Column =
    org.apache.spark.sql.functions.call_function("bloom_member",
      sh, words, org.apache.spark.sql.functions.lit(hashes))

  /** Column-API handle for [[BloomDocBits]] (see [[register]]). */
  def bloomDocBits(text: Column, width: Int, stride: Int, hashes: Int, words: Int): Column =
    org.apache.spark.sql.functions.call_function("bloom_doc_bits",
      text, org.apache.spark.sql.functions.lit(width), org.apache.spark.sql.functions.lit(stride),
      org.apache.spark.sql.functions.lit(hashes), org.apache.spark.sql.functions.lit(words))

  /** Column-API handle for [[BloomFlagCount]] (see [[register]]). */
  def bloomFlagCount(text: Column, bloomWords: Column, width: Int, stride: Int, hashes: Int): Column =
    org.apache.spark.sql.functions.call_function("bloom_flag_count",
      text, bloomWords, org.apache.spark.sql.functions.lit(width), org.apache.spark.sql.functions.lit(stride),
      org.apache.spark.sql.functions.lit(hashes))

  /** Column-API handle for [[TextStats]] (see [[register]]). */
  def textStats(text: Column, markers: Seq[String]): Column =
    org.apache.spark.sql.functions.call_function("text_stats",
      text, org.apache.spark.sql.functions.typedLit(markers))

  /** Column-API handle for [[NormalizeText]] (see [[register]]). */
  def normalizeText(text: Column): Column =
    org.apache.spark.sql.functions.call_function("normalize_text", text)

  /** Registry/extension constructor — the marker set is part of the
    * operator's identity, so it must be a string-array literal.
    */
  private[functions] def textStatsFromExprs(exprs: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(exprs.length == 2, "text_stats(text, markers) takes 2 arguments")
    val markers = exprs(1) match {
      case Literal(a: ArrayData, ArrayType(StringType, _)) =>
        a.toObjectArray(StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString).toSeq
      case other => throw new IllegalArgumentException(
        s"text_stats: markers must be a string-array literal, got $other")
    }
    TextStats(exprs(0), markers)
  }

  /** Column-API handle for [[SimHash60]] (see [[register]]). */
  def simhash60(text: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash60", text)

  /** Column-API handle for [[MinHashSlices]] (see [[register]]). */
  def minhashSlices(text: Column, numHashes: Int, width: Int, stride: Int): Column =
    org.apache.spark.sql.functions.call_function("minhash_slices",
      text,
      org.apache.spark.sql.functions.lit(numHashes),
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(stride))

  /** Registry/extension constructor — geometry arguments must be int
    * literals (signature geometry is part of the operator's identity).
    */
  private[functions] def minHashFromExprs(exprs: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(exprs.length == 4,
      "minhash_slices(text, numHashes, width, stride) takes 4 arguments")
    (exprs(1), exprs(2), exprs(3)) match {
      case (Literal(n: Int, _), Literal(w: Int, _), Literal(s: Int, _)) =>
        MinHashSlices(exprs(0), n, w, s)
      case other => throw new IllegalArgumentException(
        s"minhash_slices: numHashes/width/stride must be int literals, got $other")
    }
  }

  /** Column-API handle for [[VectorSignBands]] (see [[register]]). */
  def vectorSignBands(v: Column, planesFlat: Seq[Float], dim: Int, bitsPerBand: Int): Column =
    org.apache.spark.sql.functions.call_function("vector_sign_bands",
      v, org.apache.spark.sql.functions.typedLit(planesFlat),
      org.apache.spark.sql.functions.lit(dim),
      org.apache.spark.sql.functions.lit(bitsPerBand))

  /** Registry/extension constructor: the planes/dim/bits arguments must
    * be LITERALS (the planes are plan-time constants by design — the
    * md5-derived hyperplane table is part of the operator's identity).
    */
  private[functions] def signBandsFromExprs(exprs: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(exprs.length == 4,
      "vector_sign_bands(vec, planesFlat, dim, bitsPerBand) takes 4 arguments")
    val planes = exprs(1) match {
      case Literal(a: ArrayData, ArrayType(FloatType, _)) => a.toFloatArray().toSeq
      case other => throw new IllegalArgumentException(
        s"vector_sign_bands: planes must be a float-array literal, got $other")
    }
    (exprs(2), exprs(3)) match {
      case (Literal(dim: Int, _), Literal(bits: Int, _)) =>
        VectorSignBands(exprs(0), planes, dim, bits)
      case other => throw new IllegalArgumentException(
        s"vector_sign_bands: dim and bitsPerBand must be int literals, got $other")
    }
  }
}

/** SparkSessionExtensions entry point: lets deployments wire the engine's
  * custom expressions at session-build time —
  * a session builder's `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` — instead of the
  * per-session [[VectorExpressions.register]] call the operators make
  * defensively.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("vector_dot"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[VectorDotProduct].getName, "vector_dot"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          VectorDotProduct(exprs(0), exprs(1))))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("vector_sign_bands"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[VectorSignBands].getName, "vector_sign_bands"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          VectorExpressions.signBandsFromExprs(exprs)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_slices"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[MinHashSlices].getName, "minhash_slices"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          VectorExpressions.minHashFromExprs(exprs)))
  }
}
