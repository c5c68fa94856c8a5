package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

import graft.functions.expressions.{Round9Expr, VecChamferExpr, VecChamferPairExpr, VecCosineExpr, VecDotExpr, VecL2SqExpr, VecLshBandKeysExpr, VecMaxSimExpr, VecNormExpr, VecProjectExpr}

/** Column-level vector kernels over `array<float>` columns.
  *
  * Re-expresses the reference's SIMD distance kernels
  * (`/root/reference/include/efanna2e/distance.h:21-225` — AVX-512 L2 /
  * inner-product) in two tiers:
  *
  *  - [[vecDot]]/[[vecL2Sq]]/[[vecNorm]] — native Catalyst expressions
  *    (`graft.functions.expressions`) emitting one fused codegen loop,
  *    zero per-row allocation. The default for every hot path.
  *  - [[vecDotHof]]/[[vecL2SqHof]]/[[vecNormHof]] — `zip_with`+`aggregate`
  *    higher-order-function forms: the DuckDB-checkable SQL spec the
  *    oracle queries mirror (`list_zip`+`list_sum`), kept as the
  *    readable semantic definition and property-tested against the
  *    native tier.
  *
  * Both tiers accumulate float32→float64 promoted, sequential left-fold
  * over array order — bit-identical results, deterministic regardless of
  * parallelism.
  *
  * Sign convention: the reference negates inner product so that
  * "smaller = closer" everywhere (`distance.h:222`). This engine uses
  * SIMILARITY (higher = better) everywhere instead; adapters at fixture
  * boundaries negate where binary parity matters (graft.index uses the
  * distance convention inside kernels).
  */
object VectorFunctions {

  private def expr2(f: (org.apache.spark.sql.catalyst.expressions.Expression,
                        org.apache.spark.sql.catalyst.expressions.Expression) =>
                       org.apache.spark.sql.catalyst.expressions.Expression)
                   (a: Column, b: Column): Column =
    GraftColumnBridge.column(f(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** ⟨a,b⟩ accumulated in double (native codegen). distance.h:91-225. */
  def vecDot(a: Column, b: Column): Column = expr2(VecDotExpr.apply)(a, b)

  /** Σ (a_i − b_i)² — squared L2 (native codegen). distance.h:21-89. */
  def vecL2Sq(a: Column, b: Column): Column = expr2(VecL2SqExpr.apply)(a, b)


  /** ‖a‖₂ (native codegen; the FastL2 norm-cache kernel). */
  def vecNorm(a: Column): Column =
    GraftColumnBridge.column(VecNormExpr(GraftColumnBridge.expression(a)))

  /** Project onto the `seeds` directions: component j =
    * round9(⟨v, s_j⟩ / ‖s_j‖) as float — the seeded JL reduction as a
    * native expression (codegen-resident; row norms precomputed per
    * plan). The operator surface is [[graft.operators.RandomProjection]]. */
  def vecProject(v: Column, seeds: Array[Array[Float]]): Column = {
    require(seeds.nonEmpty, "empty seed set")
    GraftColumnBridge.column(VecProjectExpr(GraftColumnBridge.expression(v),
      seeds.flatMap(_.map(_.toDouble)).toIndexedSeq, seeds(0).length))
  }

  /** Packed sign-bit LSH band keys (native codegen) — one fused loop over
    * a plan-time hyperplane matrix; `array<long>` of
    * planesFlat.length/dim/rowsPerBand keys. See
    * [[graft.operators.LshAnn]]. */
  def vecLshBands(a: Column, planesFlat: Array[Double], rowsPerBand: Int): Column =
    GraftColumnBridge.column(
      // immutable copy: the expression compares planes by VALUE (equality
      // drives canonicalization), so it must not share a mutable array
      VecLshBandKeysExpr(GraftColumnBridge.expression(a),
        planesFlat.toIndexedSeq, rowsPerBand))

  /** HOF spec form of [[vecDot]] — mirrors the oracle SQL. */
  def vecDotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** HOF spec form of [[vecL2Sq]]. */
  def vecL2SqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0),
      (acc, x) => acc + x)

  /** Σ a_i² (squared norm, HOF form). */
  def vecNormSq(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))

  /** HOF spec form of [[vecNorm]]. */
  def vecNormHof(a: Column): Column = sqrt(vecNormSq(a))

  /** Smooth-Chamfer similarity between two vector SETS
    * (`array<array<float>>`; first arg = QUERY set — asymmetric). The
    * SQL face is `graft_chamfer_score`; see [[VecChamferExpr]]. */
  def chamferScore(q: Column, d: Column): Column =
    expr2(VecChamferExpr.apply)(q, d)

  /** Smooth-Chamfer score of a gathered (query set, candidate set) pair,
    * each `array<struct<sub, vec, norm>>` — the rerank's fused scorer,
    * [[VecChamferPairExpr]]. `cQ > 0`: fixed query cardinality; `0`: each
    * query set's own. */
  def chamferPair(q: Column, d: Column, cQ: Int): Column =
    expr2(VecChamferPairExpr(_, _, cQ))(q, d)

  /** `round(x, 9)` of a double column, bit for bit, through the shared
    * [[Round9]] quantizer ([[Round9Expr]], native codegen). */
  def round9(x: Column): Column =
    GraftColumnBridge.column(Round9Expr(GraftColumnBridge.expression(x)))

  /** Summed-max similarity (MaxSim) of two vector sets — the fused
    * [[VecMaxSimExpr]] (SQL: `graft_maxsim_score`); query set first. */
  def maxSimScore(q: Column, d: Column): Column =
    expr2(VecMaxSimExpr.apply)(q, d)

  /** cosine(a, b) = ⟨a,b⟩ / (‖a‖‖b‖) in ONE fused native-codegen loop
    * ([[VecCosineExpr]], also the SQL `graft_vec_cosine`) — bit-identical
    * to the composed `vecDot / (vecNorm * vecNorm)` form (same double
    * accumulation per term, sqrt at the end). The reference gets cosine
    * by L2-normalizing at load then taking IP
    * (`index_bipartite.cpp:37-39`); this form works on un-normalized
    * input. On hot paths materialize the norms ONCE per side (see
    * KnnJoin) instead of calling this per pair. */
  def vecCosine(a: Column, b: Column): Column = expr2(VecCosineExpr.apply)(a, b)

  /** L2-normalize (util.h:214-229). NOTE: inline use recomputes the norm
    * per element under Catalyst — for hot paths materialize the norm in a
    * separate column first, then [[vecScale]]. */
  def vecNormalize(a: Column): Column = vecScale(a, vecNorm(a))

  /** a / s with float output, keeping `array<float>` type stable. */
  def vecScale(a: Column, s: Column): Column =
    transform(a, x => (x.cast("double") / s.cast("double")).cast("float"))
}
