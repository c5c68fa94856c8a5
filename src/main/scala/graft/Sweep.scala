package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{BeamSearch, GraphBuild, Hnsw}
import graft.operators.{IvfAnn, KnnKernel, PqAnn, RandomProjection, Recall, Rerank}
import graft.queries.{Fixtures, IndexQueries, VectorQueries}

/** M5 — experiment harness parity: the reference's budget-sweep runner
  * (`scripts/roargraph/run_roargraph_search_multivector_rerank_expr.sh`:
  * for each beam budget, search + rerank, then report
  * (budget, recall, QPS) — `test_search_multivector_rerank.cpp:341-347`)
  * with BOTH reference arms:
  *
  *  - `roar`  — RoarGraph adaptive multivector search (G9)
  *  - `hnsw`  — the hnswlib baseline (`tests/hnsw/search_rerank_hnsw.cpp`:
  *    M=35, ef_construction=500, per-subquery `ef = budget/c`, union of
  *    per-subvector candidates into the same chamfer rerank)
  *  - `pq`    — the compression-tier baseline (beyond reference parity):
  *    per-subquery PQ ADC top-ef over the encoded corpus, union into the
  *    same chamfer rerank — what the curve looks like when the scan
  *    reads codes instead of vectors
  *  - `randproj` — the dimensionality-reduction baseline (beyond
  *    reference parity): per-subquery exact cosine top-ef in the seeded
  *    16-dim projected space (1/4 the scan arithmetic), union into the
  *    same chamfer rerank — the Johnson-Lindenstrauss tier's curve
  *  - `ivfpq` — the composed 100 TB layout (beyond reference parity):
  *    per-subquery probe of the codes-only cell-partitioned index
  *    (partition-pruned scan + ADC), union into the same chamfer
  *    rerank — what the curve looks like when a probe reads ~2% of the
  *    corpus bytes
  *  - `sharded` — the persisted graph tier (beyond reference parity):
  *    the SAME G9 adaptive search run per persisted shard through the
  *    resident-LRU lifecycle instead of one broadcast graph — the
  *    past-the-broadcast-ceiling posture's curve. Shard count follows
  *    [[graft.index.ShardedIndex.autoShards]] (target shard size
  *    [[ShardTargetRows]], min 2): shard SIZE stays fixed as the corpus
  *    grows, so effective exploration (= budget × shards) grows with
  *    the data — the budget policy the 100× flat-budget recall droop
  *    (SWEEP_SF10) demands.
  *  - `mv_sharded` — the flagship's GROWN-registration posture (beyond
  *    reference parity): base auto-sharded over half the corpus, the
  *    rest delta-ingested, per-shard beam budget scaled by the growth
  *    ratio through [[graft.index.BudgetPolicy.scaledL]] — the
  *    serving-side policy a registered mv tier applies
  *    (registerMvSharded), measured as set-level Recall@K.
  *  - `nsg`  — the NSG-format interop arm (the reference's vendored
  *    baseline, `tests/nsg/search_rerank_nsg.cpp`: search a prebuilt
  *    NSG index, rerank, report): the built graph is exported to NSG
  *    bytes ([[graft.index.CsrGraph.saveNsg]]), re-imported via
  *    [[graft.index.CsrGraph.loadNsg]], and searched through the SAME
  *    shared beam kernel — proof the byte-format boundary round-trips
  *    into serving, not just through SourcesSpec.
  *
  * `SPARK_GRAFT_SWEEP_ARMS` (csv, default all) picks a subset of arms —
  * offline halves (index builds, codebook training) run only for
  * selected arms, so a targeted re-sweep never pays for the others.
  *
  * and the reference's second quality metric, relative distance error
  * (`ComputeRderr`, `test_search_roargraph.cpp:38-62`), rank-aligned on
  * the negated chamfer scores, reported beside Recall@K per row — plus
  * the reference's rerank-time fraction (`rerank_time / total` per
  * budget row, `test_search_multivector_rerank.cpp:343-347`): the search
  * stage is materialized and timed separately from the chamfer rerank,
  * and `rerank_frac` = rerank / (search + rerank).
  *
  * Usage: `runMain graft.Sweep [sfDir] [budgets-csv] [out.tsv] [params]` —
  * defaults: sf0.01 fixtures, budgets 40,80,120,200, stdout TSV only.
  * With out.tsv set, the rows also land in that file. `params` picks the
  * RoarGraph build knobs: `fixture` (default — the 2k-vector fixture
  * scale-down, 20/8/40) or `ref` (the reference's production knobs
  * 100/35/100, `build_roargraph_index.sh:27-29`) — graph DEGREE must
  * scale with the corpus, so a 10×-corpus sweep run with fixture knobs
  * measures an undersized graph, not the algorithm.
  */
object Sweep {
  import VectorQueries.{C, NQ, K}

  /** Target rows per shard for the sharded arm: sized so the sf0.1
    * fixture (2k vectors) keeps its historical 2 shards while scaled
    * corpora grow shard COUNT, not shard size (sf5/100k → 4, sf10/200k
    * → 8) — exploration scales with the corpus at fixed per-shard
    * memory. */
  val ShardTargetRows = 25000L

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val budgets = args.lift(1).getOrElse("40,80,120,200")
      .split(",").map(_.trim.toInt).toSeq
    // "" = stdout only, so a positional caller can skip to the params
    // arg without the sink write failing after a long sweep
    val out = args.lift(2).filter(_.nonEmpty)
    val params = Harness.buildParams(args.lift(3))
    val arms = sys.env.get("SPARK_GRAFT_SWEEP_ARMS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(AllArms)
    // a typo'd arm name must fail here, not silently produce an empty
    // sweep TSV that downstream reads as "no regression data"
    require(arms.subsetOf(AllArms),
      s"unknown sweep arm(s) ${arms -- AllArms}; valid: ${AllArms.toSeq.sorted.mkString(",")}")
    val spark = Harness.session()

    val table = new Harness.Table("arm", "budget", "recall", "rderr", "qps",
      "search_sec", "rerank_frac")
    run(spark, sfDir, budgets, params, arms)
      .foreach { case (arm, b, r, e, q, t, f) =>
        table.add(arm, b, f"$r%.4f", f"$e%.5f", f"$q%.1f", f"$t%.3f",
          f"$f%.3f")
      }
    out.foreach(table.write)
    spark.stop()
  }

  val AllArms: Set[String] =
    Set("roar", "hnsw", "pq", "randproj", "ivfpq", "sharded", "sq8", "nsg",
      "mv_sharded")

  /** One (arm, budget, Recall@K, rel-dist-err, QPS, search wall sec,
    * rerank_frac) row per (arm × budget); `arms` picks a subset (their
    * offline halves are built lazily, so unselected arms cost
    * nothing). */
  def run(spark: SparkSession, sfDir: String, budgets: Seq[Int],
          params: graft.index.BuildParams = IndexQueries.FixtureParams,
          arms: Set[String] = AllArms)
      : Seq[(String, Int, Double, Double, Double, Double, Double)] = {
    val emb = Tables.embeddings(spark, sfDir)
    lazy val idx = GraphBuild.build(spark, emb, emb, params)
    lazy val graphB = spark.sparkContext.broadcast(idx.graph)
    lazy val vecsB = spark.sparkContext.broadcast(idx.vecs)
    // HNSW arm SHARES the corpus broadcast (vecsB) — the index itself
    // carries only adjacency; reference knobs M=35, efC=500; the
    // deterministic batch-parallel build (same recall gate, all cores)
    lazy val hnswB = spark.sparkContext.broadcast(
      Hnsw.buildParallel(idx.vecs, idx.params.metric))
    // NSG interop arm: the built graph exported to the reference's NSG
    // byte format, re-imported, and served by the same kernel — the
    // search_rerank_nsg.cpp baseline shape (the vendored NSG builder is
    // not reimplemented; the FORMAT and serving path are the boundary)
    lazy val nsgB = {
      val f = java.nio.file.Files.createTempFile("graft_sweep_nsg_", ".nsg")
      graft.index.CsrGraph.saveNsg(idx.graph, f.toString)
      val g = graft.index.CsrGraph.loadNsg(f.toString)
      java.nio.file.Files.delete(f)
      require(g.n == idx.graph.n, "NSG roundtrip changed node count")
      spark.sparkContext.broadcast(g)
    }
    val querySets = emb.filter(col("vec_id") < NQ * C).select(
      (col("vec_id") / C).cast("long").as("qset_id"),
      (col("vec_id") % C).cast("int").as("q_sub"),
      col("embedding").as("q_vec"))
    val queryVecs = emb.filter(col("vec_id") < NQ * C)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

    // fullscan chamfer GT (W3 role): ids for recall, scores for rderr
    val gtRanked = VectorQueries.queries("a1_smooth_chamfer_topk")(spark, sfDir)
      .cache()
    val gt = gtRanked
      .groupBy(col("qset_id").as("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("rank"), col("dset_id")))),
        x => x.getField("dset_id")).as("gt_ids"))
      .cache()
    gt.count()
    // negated-similarity distance convention (the reference's IP branch)
    val gtLong = gtRanked.select(col("qset_id").as("query_id"), col("rank"),
      (-col("score")).as("gt_dist"))

    def evalArm(arm: String, budget: Int,
                cands0: DataFrame): (String, Int, Double, Double, Double, Double, Double) = {
      // search stage timed on its own: materialize the candidate set
      // (localCheckpoint is eager) before the rerank plan sees it
      val (cands, searchSec) = Harness.timed(cands0.localCheckpoint(true))
      val ((reranked, recalls), rerankSec) = Harness.timed {
        val reranked = Rerank.chamferTopK(emb, querySets, cands, C, K).cache()
        val res = reranked.groupBy(col("qset_id").as("query_id"))
          .agg(transform(array_sort(collect_list(struct(col("rank"), col("dset_id")))),
            x => x.getField("dset_id")).as("ids"))
        (reranked, Recall.atK(res, gt, K).collect())
      }
      val resLong = reranked.select(col("qset_id").as("query_id"), col("rank"),
        (-col("score")).as("dist"))
      val errRows = Recall.rderr(resLong, gtLong).collect()
      val rderr = errRows.map(_.getDouble(1)).sum / math.max(errRows.length, 1)
      reranked.unpersist()
      val recall = recalls.map(_.getDouble(1)).sum / recalls.length
      val total = searchSec + rerankSec
      (arm, budget, recall, rderr, recalls.length / total, searchSec,
        rerankSec / total)
    }

    // PQ arm index: one sampled codebook train + one encode pass, shared
    // by every budget row (the offline half of the tier)
    val corpus = emb.select(col("vec_id").as("d_id"),
      col("embedding").as("d_vec"))
    lazy val pqCbs = PqAnn.trainCodebooks(
      IvfAnn.collectSample(corpus, 2000, 42L), nSub = 8, ncode = 32)
    lazy val pqEncoded = PqAnn.encode(corpus, pqCbs).localCheckpoint(true)

    // ivfpq arm offline half: coarse centroids + the codes-only
    // cell-partitioned index on disk, shared by every budget row
    lazy val ivfCentroids = IvfAnn.trainCentroids(
      IvfAnn.collectSample(corpus, 2000, 42L), 16, seed = 42L)
    lazy val ivfPqPath = {
      val p = Fixtures.tempDir("graft_sweep_ivfpq_")
      graft.operators.IvfPq.writeIndex(spark, corpus, p, ivfCentroids, pqCbs)
      p
    }

    // sharded arm offline half: an AUTO-SHARDED persisted build (shard
    // size fixed at ShardTargetRows, min 2 shards — shard count, and
    // with it total exploration, grows with the corpus), shared by
    // every budget row (resident LRU sized by conf)
    lazy val shardedRef = graft.index.ShardedIndex.buildPersistedAuto(
      spark, emb, params, Fixtures.tempDir("graft_sweep_sharded_"),
      targetShardRows = ShardTargetRows, minShards = 2)

    // mv_sharded arm offline half: the flagship's REGISTRATION growth
    // posture, measured rather than spec'd — base auto-sharded over the
    // FIRST HALF of the corpus (the registration-time index), the
    // second half delta-ingested afterwards in two batches, so
    // rows-per-shard GROWS past the registration size and the serving
    // side must scale its beam budget through the same
    // [[graft.index.BudgetPolicy.scaledL]] path registerMvSharded
    // derives its adaptive budget from. The plain `sharded` arm
    // measures autoShards at steady state; THIS arm measures set-level
    // recall on a grown index served through the policy.
    lazy val mvShardedState = {
      val n = emb.count()
      val cut = n / 2
      val base = graft.index.ShardedIndex.buildPersistedAuto(spark,
        emb.filter(col("vec_id") < cut), params,
        Fixtures.tempDir("graft_sweep_mvsharded_"),
        targetShardRows = ShardTargetRows, minShards = 2)
      val regPerShard = graft.index.ShardedIndex
        .totalRows(spark, base).toDouble / base.nShards
      val mid = cut + (n - cut) / 2
      val grown = Seq((cut, mid), (mid, n)).foldLeft(base) {
        case (r, (lo, hi)) =>
          if (hi > lo)
            graft.index.ShardedIndex.appendDelta(spark,
              emb.filter(col("vec_id") >= lo && col("vec_id") < hi), r,
              params)
          else r
      }
      (grown, regPerShard)
    }

    // sq8 arm offline half: per-dim bounds + one byte-encode pass,
    // shared by every budget row (4× smaller coarse scan than float32)
    lazy val sq8Bounds = graft.operators.Sq8Ann.trainBounds(corpus)
    lazy val sq8Encoded = graft.operators.Sq8Ann.encode(corpus, sq8Bounds)
      .localCheckpoint(true)

    // randproj arm offline half: one seeded 64→16 projection of corpus
    // and queries, shared by every budget row
    lazy val rpSeeds = IvfAnn.seededCentroids(corpus, 16)
    lazy val rpCorpus = RandomProjection.project(corpus, "d_id", "d_vec", rpSeeds)
      .select(col("d_id"), col("pvec").as("d_vec")).localCheckpoint(true)
    lazy val rpQueries = RandomProjection
      .project(queryVecs, "q_id", "q_vec", rpSeeds)
      .select(col("q_id"), col("pvec").as("q_vec")).localCheckpoint(true)

    budgets.flatMap { budget =>
      val ef = math.max(budget / C, 1)
      def multiCands(gB: org.apache.spark.broadcast.Broadcast[graft.index.CsrGraph]) =
        BeamSearch.searchMultiDf(spark, querySets, gB, vecsB,
          params.metric, minPq = math.min(10, budget / C),
          maxPq = math.max(budget * 2, 32), budget = budget, adaptive = true)
          .select(col("qset_id"), col("d_id"))
      val armCands: Seq[(String, () => DataFrame)] = Seq(
        "roar" -> (() => multiCands(graphB)),
        "hnsw" -> (() =>
          Hnsw.searchDf(spark, queryVecs, hnswB, vecsB, k = ef, ef = ef)
            .select((col("q_id") / C).cast("long").as("qset_id"), col("d_id"))),
        "pq" -> (() =>
          PqAnn.searchEncoded(queryVecs, pqEncoded, corpus, pqCbs,
            k = ef, nCand = math.max(2 * ef, K))
            .select((col("q_id") / C).cast("long").as("qset_id"), col("d_id"))),
        "randproj" -> (() =>
          KnnKernel.bruteForce(spark, rpQueries, rpCorpus, ef)
            .select((col("q_id") / C).cast("long").as("qset_id"), col("d_id"))),
        "ivfpq" -> (() =>
          graft.operators.IvfPq.knnOverIndexBlocked(spark,
            queryVecs, ivfPqPath, corpus, ivfCentroids, pqCbs,
            k = ef, nCand = math.max(2 * ef, K))
            .select((col("q_id") / C).cast("long").as("qset_id"), col("d_id"))),
        "sharded" -> (() =>
          graft.index.ShardedIndex.searchMultiDf(spark,
            querySets, shardedRef, minPq = math.min(10, budget / C),
            maxPq = math.max(budget * 2, 32), budget = budget,
            adaptive = true)
            .select(col("qset_id"), col("d_id"))),
        "mv_sharded" -> (() => {
          val (ref, regPerShard) = mvShardedState
          val perShard = graft.index.ShardedIndex
            .totalRowsCached(spark, ref).toDouble /
            math.max(ref.nShards + ref.nDeltas, 1)
          // the registration's own budget derivation (registerMvSharded):
          // grown rows-per-shard scale the registered budget
          val eff = graft.index.BudgetPolicy.scaledL(spark, budget,
            regPerShard, perShard)
          graft.index.ShardedIndex.searchMultiDf(spark, querySets, ref,
            minPq = math.max(10, eff / math.max(C, 1)),
            maxPq = math.max(200, eff * 2), budget = eff, adaptive = true)
            .select(col("qset_id"), col("d_id"))
        }),
        "sq8" -> (() =>
          graft.operators.Sq8Ann.searchEncoded(queryVecs,
            sq8Encoded, corpus, sq8Bounds, k = ef, nCand = math.max(2 * ef, K))
            .select((col("q_id") / C).cast("long").as("qset_id"), col("d_id"))),
        "nsg" -> (() => multiCands(nsgB)))
      armCands.collect { case (arm, cands) if arms.contains(arm) =>
        evalArm(arm, budget, cands())
      }
    }
  }
}
