package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{BeamSearch, GraphBuild, Hnsw, Metrics, VectorStore, VisitedSet}

/** Baseline-arm ORDERING gate — the reference's qualitative claim as a
  * suite failure, not just a bend in a sweep TSV.
  *
  * The RoarGraph paper's claim (`CITATION.cff:7-12`, VLDB'24): on
  * OUT-OF-DISTRIBUTION (cross-modal) workloads, RoarGraph reaches the
  * same recall (≥0.9) at higher QPS than the best graph baselines,
  * HNSW included — because the bipartite projection builds the graph
  * FROM the query distribution, while HNSW only ever sees the corpus.
  *
  * This spec pins that ordering on a deterministic synthetic OOD
  * fixture: corpus directions uniform on the sphere; every query pulled
  * toward one FIXED off-corpus direction (the distribution shift — all
  * queries live in a cone the corpus does not), with a per-query corpus
  * anchor so ground truth is meaningful. RoarGraph builds from 400
  * training queries of that distribution; HNSW (reference knobs M=35,
  * efC=500) builds from the corpus alone.
  *
  * The compared quantity is DISTANCE COMPUTATIONS per query at equal
  * beam budget, not wall-clock QPS: on a time-shared VM wall-clock is
  * machine noise (the r15-r17 bench archaeology), while comparisons
  * are exact, machine-independent, and are what in-memory graph-kernel
  * QPS is proportional to (both kernels do one metric.dist per visited
  * node and nothing else data-dependent). A kernel regression that
  * flips the ordering — roar needing MORE work than HNSW for the same
  * ≥0.9 recall on OOD queries — fails here deterministically.
  */
class SweepSpec extends AnyFunSuite {
  import TestSpark._

  private val Dim = 32
  private val N = 2000
  private val NTrain = 400
  private val NEval = 50
  private val K = 10

  private def normalize(v: Array[Float]): Array[Float] = {
    val nm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (nm == 0) v else v.map(x => (x / nm).toFloat)
  }

  private def unit(r: scala.util.Random): Array[Float] =
    normalize(Array.fill(Dim)(r.nextGaussian().toFloat))

  private lazy val corpus: Array[Array[Float]] = {
    val r = new scala.util.Random(11)
    Array.fill(N)(unit(r))
  }

  // the FIXED off-corpus pull: one direction shared by every query —
  // the distribution shift that makes the workload OOD
  private lazy val shift: Array[Float] = unit(new scala.util.Random(13))

  /** One OOD query: anchored at a corpus point (so GT is meaningful),
    * pulled hard toward the shared shift direction, plus noise. */
  private def oodQuery(j: Int, seed: Long): Array[Float] = {
    val c = corpus(math.abs(j * 37) % N)
    val nz = unit(new scala.util.Random(seed))
    normalize(Array.tabulate(Dim)(i =>
      0.6f * c(i) + 0.8f * shift(i) + 0.25f * nz(i)))
  }

  private lazy val trainQs: Seq[Array[Float]] =
    (0 until NTrain).map(j => oodQuery(j, 100000L + j))
  private lazy val evalQs: Seq[Array[Float]] =
    (0 until NEval).map(j => oodQuery(7919 * (j + 1), 900000L + j))

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < Dim) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Exact top-K ids per eval query (cosine desc, id asc). */
  private lazy val gt: Seq[Set[Int]] = evalQs.map { q =>
    corpus.zipWithIndex
      .map { case (v, i) => (cosine(q, v), i) }
      .sortBy { case (s, i) => (-s, i) }
      .take(K).map(_._2).toSet
  }

  private lazy val fixture = {
    import spark.implicits._
    val corpusDf = corpus.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val trainDf = trainQs.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    // reference-shape knobs scaled to the 2k corpus (the production
    // knobs are 100/35/100; degree must scale with corpus size)
    val params = graft.queries.IndexQueries.FixtureParams
      .copy(mSq = 50, mPjbp = 35, lPjpq = 100)
    val idx = GraphBuild.build(spark, corpusDf, trainDf, params)
    val hnsw = Hnsw.buildParallel(idx.vecs, "cosine")
    (idx, hnsw)
  }

  /** (mean Recall@K, total distance computations) per arm at beam
    * budget `l`. */
  private def roarAt(l: Int): (Double, Long) = {
    val (idx, _) = fixture
    val metric = Metrics("cosine")
    val visited = new VisitedSet(idx.graph.n)
    var cmps = 0L
    var hit = 0
    for ((q, qi) <- evalQs.zipWithIndex) {
      val (queue, c, _) = BeamSearch.searchSingle(idx.graph, idx.vecs,
        metric, VectorStore.normalized(q), l, visited)
      cmps += c
      val ids = (0 until math.min(K, queue.size)).map(queue.id)
      hit += ids.count(gt(qi).contains)
    }
    (hit.toDouble / (K * NEval), cmps)
  }

  private def hnswAt(ef: Int): (Double, Long) = {
    val (idx, hnsw) = fixture
    var cmps = 0L
    var hit = 0
    for ((q, qi) <- evalQs.zipWithIndex) {
      val (res, c) = Hnsw.searchKnnCounted(hnsw, idx.vecs, q, K, ef)
      cmps += c
      hit += res.map(_._1).count(gt(qi).contains)
    }
    (hit.toDouble / (K * NEval), cmps)
  }

  /** NSG interop arm (the reference's vendored baseline shape,
    * `tests/nsg/search_rerank_nsg.cpp`): the SAME built graph exported
    * to the NSG byte format, re-imported, served by the same kernel —
    * the format and serving path are what the arm locks, exactly as in
    * Sweep's nsg arm. */
  private lazy val nsgGraph = {
    val (idx, _) = fixture
    val f = java.nio.file.Files.createTempFile("graft_sweepspec_nsg_", ".nsg")
    graft.index.CsrGraph.saveNsg(idx.graph, f.toString)
    val g = graft.index.CsrGraph.loadNsg(f.toString)
    java.nio.file.Files.delete(f)
    g
  }

  private def nsgAt(l: Int): (Double, Long) = {
    val (idx, _) = fixture
    val metric = Metrics("cosine")
    val visited = new VisitedSet(nsgGraph.n)
    var cmps = 0L
    var hit = 0
    for ((q, qi) <- evalQs.zipWithIndex) {
      val (queue, c, _) = BeamSearch.searchSingle(nsgGraph, idx.vecs,
        metric, VectorStore.normalized(q), l, visited)
      cmps += c
      val ids = (0 until math.min(K, queue.size)).map(queue.id)
      hit += ids.count(gt(qi).contains)
    }
    (hit.toDouble / (K * NEval), cmps)
  }

  test("OOD ordering: RoarGraph reaches recall>=0.9 with no more distance work than HNSW at equal budget") {
    val budgets = Seq(20, 30, 40, 60, 80, 120)
    val rows = budgets.map { b =>
      val (rr, rc) = roarAt(b)
      val (hr, hc) = hnswAt(b)
      info(f"budget $b%4d  roar recall $rr%.3f cmps $rc%7d   " +
        f"hnsw recall $hr%.3f cmps $hc%7d")
      (b, rr, rc, hr, hc)
    }
    // the gate: at every budget point where BOTH arms clear the
    // paper's 0.9 recall bar, roar must not need more distance work;
    // and at least two such points must exist (the gate must never be
    // vacuously green)
    val both = rows.filter { case (_, rr, _, hr, _) => rr >= 0.9 && hr >= 0.9 }
    assert(both.size >= 2,
      s"fewer than 2 grid points with both arms at recall>=0.9: $rows")
    for ((b, rr, rc, hr, hc) <- both)
      assert(rc <= hc,
        f"ordering flipped at budget $b: roar $rc cmps (recall $rr%.3f) " +
          f"> hnsw $hc cmps (recall $hr%.3f)")
    // and roar must not need a LARGER budget to clear the bar at all
    val roarFirst = rows.find(_._2 >= 0.9).map(_._1)
    val hnswFirst = rows.find(_._4 >= 0.9).map(_._1)
    assert(roarFirst.isDefined, s"roar never reached 0.9 on the grid: $rows")
    assert(hnswFirst.forall(h => roarFirst.get <= h),
      s"roar needed a larger budget than hnsw to reach 0.9: $rows")
  }

  test("NSG arm gate: the format-roundtripped graph holds the same >=0.9 ordering vs HNSW, and is bit-faithful to roar") {
    val budgets = Seq(20, 30, 40, 60, 80, 120)
    val rows = budgets.map { b =>
      val (nr, nc) = nsgAt(b)
      val (hr, hc) = hnswAt(b)
      info(f"budget $b%4d  nsg recall $nr%.3f cmps $nc%7d   " +
        f"hnsw recall $hr%.3f cmps $hc%7d")
      (b, nr, nc, hr, hc)
    }
    // format FIDELITY: the NSG roundtrip preserves entry point and
    // adjacency, so the same kernel must do exactly the same work —
    // any divergence is a save/load regression, caught before the
    // weaker ordering gate can paper over it
    for (b <- budgets)
      assert(nsgAt(b) === roarAt(b),
        s"NSG roundtrip diverged from the source graph at budget $b")
    // same non-vacuous ordering gate as the roar arm: wherever both
    // arms clear the 0.9 bar, the NSG-served graph needs no more
    // distance work than HNSW, and it never needs a larger budget to
    // clear the bar at all
    val both = rows.filter { case (_, nr, _, hr, _) => nr >= 0.9 && hr >= 0.9 }
    assert(both.size >= 2,
      s"fewer than 2 grid points with both arms at recall>=0.9: $rows")
    for ((b, nr, nc, hr, hc) <- both)
      assert(nc <= hc,
        f"ordering flipped at budget $b: nsg $nc cmps (recall $nr%.3f) " +
          f"> hnsw $hc cmps (recall $hr%.3f)")
    val nsgFirst = rows.find(_._2 >= 0.9).map(_._1)
    val hnswFirst = rows.find(_._4 >= 0.9).map(_._1)
    assert(nsgFirst.isDefined, s"nsg never reached 0.9 on the grid: $rows")
    assert(hnswFirst.forall(h => nsgFirst.get <= h),
      s"nsg needed a larger budget than hnsw to reach 0.9: $rows")
  }

  test("varc budget policy at scale: sharded ragged search recovers recall>=0.9 on the pinned ladder point") {
    // the suite-gate form of SWEEP_VARC.tsv's budget ladder (r19
    // verdict task 5): ragged query sets (cards 1..5, the S7 skew)
    // against a SHARDED index on the same deterministic OOD fixture
    // the roar-vs-HNSW ordering gate uses. The sharded tier hands each
    // shard the full per-query budget, so effective work scales with
    // the shard count — the policy that held recall at 100x in the
    // committed sweep. The gate pins (a) the default production budget
    // (120) stays above the floor it measured when this was pinned,
    // and (b) some point on the ladder recovers the paper's 0.9 bar —
    // a kernel or merge regression that starves ragged recall at scale
    // fails here deterministically instead of waiting for a 100x sweep.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.index.ShardedIndex
    import graft.operators.{Recall, Rerank}
    val c = 4 // corpus grid cardinality (dsets of 4, as the fixtures)
    val corpusDf = corpus.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      .coalesce(2)
    // ragged OOD query sets: card cycles 1..5 inside every 5-set cycle
    val ragged = (0 until 40).flatMap { sId =>
      val card = sId % 5 + 1
      (0 until card).map(j =>
        (sId.toLong, j, oodQuery(31 * sId + 7 * j + 3, 500000L + 97 * sId + j)))
    }.toDF("qset_id", "q_sub", "q_vec")
    val nQ = 40
    val K = 10
    val path = TempDir("graft_sweepspec_varc_")
    ShardedIndex.resetResidencyTracking()
    val params = graft.queries.IndexQueries.FixtureParams
      .copy(mSq = 50, mPjbp = 35, lPjpq = 100)
    val ref = ShardedIndex.buildPersisted(spark, corpusDf, params, 4, path)
    // GT: exhaustive ragged chamfer (one candidate per dset suffices)
    val dsetReps = corpusDf
      .select(((col("vec_id") / c).cast("long") * c).as("d_id")).distinct()
    val allCands = ragged.select("qset_id").distinct().crossJoin(dsetReps)
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("qset_id").as("query_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("rank"), col("dset_id")))),
          x => x.getField("dset_id")).as("ids"))
    val gtIds = idsOf(Rerank.chamferTopKVarc(corpusDf, ragged, allCands, c, K))
      .withColumnRenamed("ids", "gt_ids").localCheckpoint(true)
    def recallAt(budget: Int): Double = {
      val cands = ShardedIndex.searchMultiDf(spark, ragged, ref,
          minPq = 10, maxPq = 200, budget = budget, adaptive = true)
        .select(col("qset_id"), col("d_id"))
      val ranked = Rerank.chamferTopKVarc(corpusDf, ragged, cands, c, K)
      Recall.atK(idsOf(ranked), gtIds, K)
        .agg(avg(col("recall"))).head().getDouble(0)
    }
    val ladder = Seq(3, 6, 12, 24, 60, 120).map { b =>
      val r = recallAt(b)
      info(f"budget $b%4d  sharded varc recall $r%.3f  (qsets $nQ)")
      b -> r
    }
    val byBudget = ladder.toMap
    // pinned from the measured curve (0.920 / 0.920 / 0.932 / 0.975 /
    // 1.000 / 1.000 when landed), with build-nondeterminism margin:
    // the sub-saturation point guards kernel/merge QUALITY (a ragged
    // path that visits the wrong subsets collapses here first), the
    // budget-60 point is the paper's 0.9 bar with margin — the
    // recovery the shard-scaled policy must keep buying at scale
    assert(byBudget(12) >= 0.85,
      s"sub-saturation ragged recall collapsed below its pinned floor: $ladder")
    assert(byBudget(60) >= 0.95,
      s"ladder recovery point regressed below its pinned floor: $ladder")
    assert(ladder.exists(_._2 >= 0.9),
      s"no ladder point recovered recall>=0.9: $ladder")
  }
}
