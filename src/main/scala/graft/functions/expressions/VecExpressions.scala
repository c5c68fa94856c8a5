package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.functions.{ChamferAggregator, Round9}

/** Native Catalyst expressions for the hot vector kernels — the codegen
  * tier of SURVEY §7.4's ledger (the reference's AVX-512 kernels,
  * `/root/reference/include/efanna2e/distance.h:21-225`).
  *
  * The HOF forms in [[graft.functions.VectorFunctions]] allocate an
  * intermediate array per pair (`zip_with`) before folding; these emit a
  * single fused loop over the two `ArrayData`s — same arithmetic, same
  * float→double promotion, same sequential accumulation order, so results
  * are bit-identical to the HOF/oracle forms, but with zero per-row
  * allocation and full whole-stage-codegen fusion.
  */
private[expressions] trait VecElemType { self: Expression =>
  protected def elemType(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  /** Java accessor snippet for element i of an ArrayData of `et`. */
  protected def getter(et: DataType, arr: String, i: String): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case other => throw new IllegalArgumentException(s"unsupported element $other")
  }

  protected def getElem(et: DataType, arr: ArrayData, i: Int): Double = et match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case other => throw new IllegalArgumentException(s"unsupported element $other")
  }

  /** Fail loudly on ragged input — same contract as VectorStore's
    * "ragged dim" require; silent truncation would diverge from the HOF
    * forms exactly on malformed data. */
  protected def checkSameLength(op: String, a: Int, b: Int): Unit =
    if (a != b) throw new IllegalArgumentException(
      s"$op: vector dimension mismatch ($a vs $b)")

  /** Codegen twin of [[checkSameLength]]. */
  protected def lengthGuard(op: String, a: String, b: String): String =
    s"""if ($a.numElements() != $b.numElements()) {
       |  throw new IllegalArgumentException(
       |    "$op: vector dimension mismatch (" + $a.numElements() + " vs " + $b.numElements() + ")");
       |}""".stripMargin
}

/** Σ aᵢ·bᵢ with double accumulation (`distance.h:91-225`, un-negated). */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with VecElemType {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val etL = elemType(left.dataType)
    val etR = elemType(right.dataType)
    checkSameLength("graft_vec_dot", x.numElements(), y.numElements())
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += getElem(etL, x, i) * getElem(etR, y, i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etL = elemType(left.dataType)
    val etR = elemType(right.dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |${lengthGuard("graft_vec_dot", a, b)}
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${getter(etL, a, i)} * ${getter(etR, b, i)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDotExpr =
    copy(left = l, right = r)
}

/** Σ (aᵢ−bᵢ)² with double accumulation (`distance.h:21-89`). */
case class VecL2SqExpr(left: Expression, right: Expression)
    extends BinaryExpression with VecElemType {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val etL = elemType(left.dataType)
    val etR = elemType(right.dataType)
    checkSameLength("graft_vec_l2sq", x.numElements(), y.numElements())
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = getElem(etL, x, i) - getElem(etR, y, i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etL = elemType(left.dataType)
    val etR = elemType(right.dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |${lengthGuard("graft_vec_l2sq", a, b)}
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ${getter(etL, a, i)} - ${getter(etR, b, i)};
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecL2SqExpr =
    copy(left = l, right = r)
}

/** Cosine similarity Σaᵢbᵢ / (‖a‖·‖b‖) in ONE fused loop — the most
  * common SQL similarity spelling (the reference treats cosine as a
  * first-class metric: `distance.h:91-225` + normalize-at-load,
  * `src/index_bipartite.cpp:37-39`). Arithmetic is exactly
  * `graft_vec_dot(a,b) / (graft_vec_norm(a) * graft_vec_norm(b))` —
  * double accumulation in array order, sqrt at the end — so values are
  * bit-identical to the composed form (and to the DuckDB oracle's
  * list_dot/norm spelling). A zero-norm side yields IEEE 0/0 = NaN,
  * same as the composed form. */
case class VecCosineExpr(left: Expression, right: Expression)
    extends BinaryExpression with VecElemType {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val etL = elemType(left.dataType)
    val etR = elemType(right.dataType)
    checkSameLength("graft_vec_cosine", x.numElements(), y.numElements())
    val n = x.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val u = getElem(etL, x, i)
      val v = getElem(etR, y, i)
      dot += u * v; na += u * u; nb += v * v
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etL = elemType(left.dataType)
    val etR = elemType(right.dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val u = ctx.freshName("u")
      val v = ctx.freshName("v")
      s"""
         |${lengthGuard("graft_vec_cosine", a, b)}
         |int $n = $a.numElements();
         |double $dot = 0.0;
         |double $na = 0.0;
         |double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $u = ${getter(etL, a, i)};
         |  double $v = ${getter(etR, b, i)};
         |  $dot += $u * $v;
         |  $na += $u * $u;
         |  $nb += $v * $v;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosineExpr =
    copy(left = l, right = r)
}

/** ‖a‖₂ = sqrt(Σ aᵢ²) (`distance.h:226-321`'s norm cache kernel). */
case class VecNormExpr(child: Expression)
    extends UnaryExpression with VecElemType {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val et = elemType(child.dataType)
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = getElem(et, x, i); s += v * v; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = elemType(child.dataType)
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = ${getter(et, a, i)};
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): VecNormExpr =
    copy(child = c)
}

/** Sign-bit LSH band keys in one fused pass: dot the input vector against
  * `nPlanes` hyperplanes (a flattened row-major matrix baked in at plan
  * time), take sign bits, and pack each consecutive `rowsPerBand` bits
  * into one long band key — `array<long>` of nPlanes/rowsPerBand keys.
  *
  * Exists because the HOF formulation (`transform(planes, p ->
  * vec_dot(p, v))`) evaluates the lambda interpreted per plane per row —
  * ~100× the cost of this single generated loop nest — and LSH banding
  * sits on the candidate-generation hot path of knn_lsh /
  * dedup_embedding_threshold (the reference's hash-bucketed candidate
  * tier analog). Plane count and dim are compile-time-constant per plan,
  * so the whole signature stays inside whole-stage codegen with zero
  * per-plane allocation.
  */
case class VecLshBandKeysExpr(vec: Expression, planesFlat: Seq[Double],
                              rowsPerBand: Int)
    extends UnaryExpression with VecElemType {

  override def child: Expression = vec
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // Seq in the case-class fields (an Array would compare by reference and
  // defeat canonicalization / subexpression elimination); flat array for
  // the hot loop and the codegen reference object.
  private lazy val planesArr: Array[Double] = planesFlat.toArray

  private def keysOf(x: ArrayData, et: DataType): Array[Long] = {
    val dim = x.numElements()
    require(dim > 0, "graft_lsh_bands: zero-length input vector")
    require(planesArr.length % dim == 0,
      s"graft_lsh_bands: planes matrix (${planesArr.length}) not a multiple of dim $dim")
    val nPlanes = planesArr.length / dim
    val nBands = nPlanes / rowsPerBand
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = getElem(et, x, i); i += 1 }
    val keys = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var key = 0L
      var r = 0
      while (r < rowsPerBand) {
        val off = (b * rowsPerBand + r) * dim
        var s = 0.0
        var j = 0
        while (j < dim) { s += planesArr(off + j) * v(j); j += 1 }
        key = (key << 1) | (if (s >= 0) 1L else 0L)
        r += 1
      }
      keys(b) = key
      b += 1
    }
    keys
  }

  override protected def nullSafeEval(a: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      keysOf(a.asInstanceOf[ArrayData], elemType(vec.dataType)))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = elemType(vec.dataType)
    val mat = ctx.addReferenceObj("lshPlanes", planesArr, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val dim = ctx.freshName("dim")
      val nBands = ctx.freshName("nBands")
      val keys = ctx.freshName("keys")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      val off = ctx.freshName("off")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val key = ctx.freshName("key")
      s"""
         |int $dim = $a.numElements();
         |if ($dim == 0) {
         |  throw new IllegalArgumentException(
         |    "graft_lsh_bands: zero-length input vector");
         |}
         |if ($mat.length % $dim != 0) {
         |  throw new IllegalArgumentException(
         |    "graft_lsh_bands: planes matrix (" + $mat.length + ") not a multiple of dim " + $dim);
         |}
         |int $nBands = $mat.length / $dim / $rowsPerBand;
         |long[] $keys = new long[$nBands];
         |for (int $b = 0; $b < $nBands; $b++) {
         |  long $key = 0L;
         |  for (int $r = 0; $r < $rowsPerBand; $r++) {
         |    int $off = ($b * $rowsPerBand + $r) * $dim;
         |    double $s = 0.0;
         |    for (int $j = 0; $j < $dim; $j++) {
         |      $s += $mat[$off + $j] * ${getter(et, a, j)};
         |    }
         |    $key = ($key << 1) | ($s >= 0 ? 1L : 0L);
         |  }
         |  $keys[$b] = $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): VecLshBandKeysExpr =
    copy(vec = c)
}

/** Seeded random-projection of one vector onto `nRows` fixed directions
  * in one fused pass: component j = round9(⟨v, s_j⟩ / ‖s_j‖) as float —
  * the [[graft.operators.RandomProjection]] arithmetic as a native
  * column expression, so the projection stays inside whole-stage
  * codegen (no Dataset encode/decode kernel boundary) and composes
  * under any plan (filters push past it, streaming uses it unchanged).
  *
  * The direction matrix is baked in flat row-major at plan time (the
  * [[VecLshBandKeysExpr]] convention: Seq field for by-value equality /
  * canonicalization, flat array for the hot loop); row norms are
  * derived once per plan. The 9-decimal HALF_UP quantization is the
  * kernels' shared [[graft.functions.Round9]], so generated code calls
  * [[projectOne]] on the referenced expression object rather than
  * re-deriving the rounding in Java — one virtual call per row, loop
  * JIT-compiled, still inside the codegen stage.
  */
case class VecProjectExpr(vec: Expression, seedsFlat: Seq[Double], dim: Int)
    extends UnaryExpression with VecElemType {

  require(dim > 0 && seedsFlat.nonEmpty && seedsFlat.length % dim == 0,
    s"graft_vec_project: seed matrix (${seedsFlat.length}) not a " +
      s"positive multiple of dim $dim")

  override def child: Expression = vec
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  private lazy val seedsArr: Array[Double] = seedsFlat.toArray
  // ‖s_j‖ derived once per plan, not per row (the kernel's precompute)
  private lazy val rowNorms: Array[Double] = {
    val nRows = seedsFlat.length / dim
    Array.tabulate(nRows) { j =>
      var s = 0.0
      var k = 0
      while (k < dim) {
        val x = seedsArr(j * dim + k)
        s += x * x
        k += 1
      }
      math.sqrt(s)
    }
  }

  /** Public for generated code (referenced via addReferenceObj). */
  def projectOne(x: ArrayData): ArrayData = {
    val et = elemType(vec.dataType)
    require(x.numElements() == dim,
      s"graft_vec_project: input dim ${x.numElements()} != seed dim $dim")
    val nRows = seedsArr.length / dim
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = getElem(et, x, i); i += 1 }
    val out = new Array[Float](nRows)
    var j = 0
    while (j < nRows) {
      val off = j * dim
      var dot = 0.0
      var k = 0
      while (k < dim) { dot += seedsArr(off + k) * v(k); k += 1 }
      out(j) = Round9(dot / rowNorms(j)).toFloat
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    projectOne(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecProject", this,
      classOf[VecProjectExpr].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $ref.projectOne($a);")
  }

  override protected def withNewChildInternal(c: Expression): VecProjectExpr =
    copy(vec = c)
}

/** Smooth-Chamfer similarity between two VECTOR SETS (`array<array
  * <float|double>>`), the reference's set-level scoring function
  * (`/root/reference/src/multivector_reranker.cpp:377-430`) as a SQL
  * expression — `graft_chamfer_score(query_set, data_set)`. Makes the
  * engine's flagship question ("which corpus sets best match this query
  * set") EXPRESSIBLE in SQL: the exhaustive form is a full scan ranked
  * by this expression, and the ANN rewrite routes that exact shape to
  * the G9 kernel + chamfer-rescore tail.
  *
  * Pairwise cosine in promoted doubles, then the one shared finish,
  * [[graft.functions.ChamferAggregator.score]] (two stable LSE passes
  * at τ=16/txtScale=1, cQ = query-set cardinality, denominator 2), so
  * the routed plan's exact rescoring equals this expression's values
  * bit-for-bit. The first argument is the QUERY set (cQ and the row
  * LSE come from it) — the function is NOT symmetric.
  *
  * Codegen calls [[scoreOf]] through a reference object (the
  * [[VecProjectExpr]] pattern): the O(c²·dim) kernel stays one JVM
  * method, rows stay inside whole-stage codegen. This expression serves
  * the SQL surface and the routed plan's bounded candidate rescore; the
  * DataFrame rerank (`Rerank.chamferTopK`) scores its gathered set pairs
  * with [[VecChamferPairExpr]], and the exhaustive scans aggregate sim
  * triples with the ChamferAggregator — all three share one finish. */
case class VecChamferExpr(left: Expression, right: Expression)
    extends BinaryExpression with VecElemType {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  private def innerType(dt: DataType): DataType = dt match {
    case ArrayType(ArrayType(et, _), _) => et
    case other => throw new IllegalArgumentException(
      s"graft_chamfer_score: expected array<array<numeric>>, got $other")
  }

  private def setOf(a: ArrayData, et: DataType): Array[Array[Double]] = {
    val n = a.numElements()
    val out = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val row = a.getArray(i)
      val v = new Array[Double](row.numElements())
      var j = 0
      while (j < v.length) { v(j) = getElem(et, row, j); j += 1 }
      out(i) = v
      i += 1
    }
    out
  }

  def scoreOf(qa: ArrayData, da: ArrayData): Double = {
    val q = setOf(qa, innerType(left.dataType))
    val d = setOf(da, innerType(right.dataType))
    require(q.nonEmpty && d.nonEmpty,
      "graft_chamfer_score: empty vector set")
    val dim = q(0).length
    (q ++ d).foreach(v => checkSameLength("graft_chamfer_score", v.length, dim))
    def norm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val qn = q.map(norm)
    val dn = d.map(norm)
    val nI = q.length
    val nJ = d.length
    val m = new Array[Double](nI * nJ)
    var i = 0
    while (i < nI) {
      var j = 0
      while (j < nJ) {
        var dot = 0.0
        var k = 0
        while (k < dim) { dot += q(i)(k) * d(j)(k); k += 1 }
        m(i * nJ + j) = dot / (qn(i) * dn(j))
        j += 1
      }
      i += 1
    }
    ChamferAggregator.score(m, nI, nJ, nI)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    scoreOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("chamfer", this,
      classOf[VecChamferExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $ref.scoreOf($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecChamferExpr =
    copy(left = l, right = r)
}

/** Smooth-Chamfer score of one (query set, candidate set) pair of the
  * DataFrame rerank ([[graft.operators.Rerank]]), from the two sets as
  * gathered rows: each side is `array<struct<sub: int, vec:
  * array<float|double>, norm: double>>`, one element per member, with
  * the member's sub id and its precomputed `graft_vec_norm`.
  *
  * It builds the same nI×nJ matrix the ChamferAggregator builds from
  * sim triples — nI/nJ = largest sub id + 1, cell (q_sub, d_sub) =
  * `graft_vec_dot(q, d) / (q_norm · d_norm)`, zero where a sub id is
  * absent — and finishes with the same
  * [[graft.functions.ChamferAggregator.score]], so scores are
  * bit-identical to the triple path. Denominator rule: `cQ > 0` divides
  * by that fixed query cardinality; `cQ == 0` scores at cardinality 1
  * and divides by the query set's own number of distinct sub ids (the
  * variable-cardinality rerank). Elements are in any order. */
case class VecChamferPairExpr(left: Expression, right: Expression, cQ: Int)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  private def isFloat(dt: DataType): Boolean = dt match {
    case ArrayType(st: StructType, _)
        if st.fieldNames.toSeq == Seq("sub", "vec", "norm") => st("vec").dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case other => throw new IllegalArgumentException(
        s"chamfer pair: expected a float or double vector, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"chamfer pair: expected array<struct<sub, vec, norm>>, got $other")
  }

  private lazy val qFloat = isFloat(left.dataType)
  private lazy val dFloat = isFloat(right.dataType)

  private def elem(v: ArrayData, isFloat: Boolean, k: Int): Double =
    if (isFloat) v.getFloat(k).toDouble else v.getDouble(k)

  /** Largest sub id + 1. */
  private def nSubs(a: ArrayData): Int = {
    var n = 0
    var r = 0
    while (r < a.numElements()) {
      val sub = a.getStruct(r, 3).getInt(0)
      if (sub >= n) n = sub + 1
      r += 1
    }
    n
  }

  def scoreOf(qa: ArrayData, da: ArrayData): Double = {
    val (qf, df) = (qFloat, dFloat)
    val nI = nSubs(qa)
    val nJ = nSubs(da)
    val m = new Array[Double](nI * nJ)
    var i = 0
    while (i < qa.numElements()) {
      val q = qa.getStruct(i, 3)
      val qv = q.getArray(1)
      val row = q.getInt(0) * nJ
      var j = 0
      while (j < da.numElements()) {
        val d = da.getStruct(j, 3)
        val dv = d.getArray(1)
        val n = qv.numElements()
        if (n != dv.numElements()) throw new IllegalArgumentException(
          s"chamfer pair: vector dimension mismatch ($n vs ${dv.numElements()})")
        var dot = 0.0
        var k = 0
        while (k < n) { dot += elem(qv, qf, k) * elem(dv, df, k); k += 1 }
        val norms = q.getDouble(2) * d.getDouble(2)
        // the triple path's SQL division fails on a zero divisor too
        if (norms == 0.0) throw new ArithmeticException("chamfer pair: zero-norm vector")
        m(row + d.getInt(0)) = dot / norms
        j += 1
      }
      i += 1
    }
    if (cQ > 0) ChamferAggregator.score(m, nI, nJ, cQ)
    else {
      val subs = new java.util.BitSet(nI)
      i = 0
      while (i < qa.numElements()) { subs.set(qa.getStruct(i, 3).getInt(0)); i += 1 }
      ChamferAggregator.score(m, nI, nJ, 1) / subs.cardinality()
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    scoreOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("chamferPair", this,
      classOf[VecChamferPairExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $ref.scoreOf($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecChamferPairExpr =
    copy(left = l, right = r)
}

/** `round(x, 9)` of a double through [[graft.functions.Round9]]: the
  * same bits as Spark's `Round(x, 9)` for every input (NaN and ±∞ pass
  * through unchanged, as `Round` passes them), without building a
  * decimal unless the rounding decision is a near tie. The rerank ranks
  * on it once per scored pair. */
case class Round9Expr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"round9 expects a double, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[Double]
    if (x.isNaN || x.isInfinite) x else Round9(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = (Double.isNaN($x) || Double.isInfinite($x)) ? $x
         |  : graft.functions.Round9.apply($x);""".stripMargin)

  override protected def withNewChildInternal(c: Expression): Round9Expr =
    copy(child = c)
}

/** Summed-max similarity (ColBERT MaxSim) between two VECTOR SETS —
  * the reference's second set-level scoring function
  * (`ComputeSummedMaxSimilarity`,
  * `/root/reference/src/multivector_reranker.cpp:432-438`) as a SQL
  * expression: `graft_maxsim_score(query_set, data_set)` =
  * Σ_i max_j cosine(q_i, d_j), summed in ascending i order (the same
  * deterministic accumulation as [[graft.functions.MaxSimAggregator]]'s
  * finish). First argument is the QUERY set (the max runs over the
  * data side per query sub-vector) — NOT symmetric.
  *
  * Same design as [[VecChamferExpr]]: pairwise cosine in promoted
  * doubles, one fused JVM kernel invoked from codegen through a
  * reference object; the distributed corpus-wide path stays the
  * single-shuffle MaxSimAggregator, this expression serves the SQL
  * surface and the bounded candidate rescore of the routed plan. */
case class VecMaxSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with VecElemType {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  private def innerType(dt: DataType): DataType = dt match {
    case ArrayType(ArrayType(et, _), _) => et
    case other => throw new IllegalArgumentException(
      s"graft_maxsim_score: expected array<array<numeric>>, got $other")
  }

  private def setOf(a: ArrayData, et: DataType): Array[Array[Double]] = {
    val n = a.numElements()
    val out = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val row = a.getArray(i)
      val v = new Array[Double](row.numElements())
      var j = 0
      while (j < v.length) { v(j) = getElem(et, row, j); j += 1 }
      out(i) = v
      i += 1
    }
    out
  }

  def scoreOf(qa: ArrayData, da: ArrayData): Double = {
    val q = setOf(qa, innerType(left.dataType))
    val d = setOf(da, innerType(right.dataType))
    require(q.nonEmpty && d.nonEmpty,
      "graft_maxsim_score: empty vector set")
    val dim = q(0).length
    (q ++ d).foreach(v => checkSameLength("graft_maxsim_score", v.length, dim))
    def norm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val qn = q.map(norm)
    val dn = d.map(norm)
    var sum = 0.0
    var i = 0
    while (i < q.length) {
      var mx = Double.NegativeInfinity
      var j = 0
      while (j < d.length) {
        var dot = 0.0
        var k = 0
        while (k < dim) { dot += q(i)(k) * d(j)(k); k += 1 }
        val c = dot / (qn(i) * dn(j))
        if (c > mx) mx = c
        j += 1
      }
      sum += mx
      i += 1
    }
    sum
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    scoreOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("maxsim", this,
      classOf[VecMaxSimExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $ref.scoreOf($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecMaxSimExpr =
    copy(left = l, right = r)
}
