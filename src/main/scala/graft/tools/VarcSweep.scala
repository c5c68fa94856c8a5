package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Harness, Tables}
import graft.index.{BeamSearch, GraphBuild, ShardedIndex, ShardedIndexRef}
import graft.operators.{Recall, Rerank}
import graft.queries.{IndexQueries, VarcQueries, VectorQueries}

/** VARIABLE-CARDINALITY scale sweep — the last face without 100×
  * evidence (r18 verdict item 7). The committed 100× sweep family
  * (build / deletion / re-shard / revoke / serve-compact / fold /
  * hybrid) covers fixed-c query sets; `g9_varc`'s ragged path (the S7
  * cardinality mapping, reference
  * `multivector_reranker.cpp:767-809,377-430`, feeding
  * `searchMultiDf` + `chamferTopKVarc`) had only fixture-scale
  * evidence. This tool runs ragged search + per-set-denominator rerank
  * across the deterministic scale ladder with the COCO-style c∈{1..5}
  * cardinality skew the S7 cycle mapping implies (mean card 3, maximal
  * skew 5:1 inside every 5-set cycle).
  *
  * Arms per factor:
  *  - `varc_fullscan` — exhaustive ragged chamfer over every data set
  *    (the GT the other arms' recall is measured against, and the
  *    baseline QPS curve);
  *  - `varc_roar`     — broadcast RoarGraph (IVF kNN lists), the
  *    `g9_varc` query shape verbatim. Skipped past
  *    `SPARK_GRAFT_VARC_ROAR_MAX` (default 10× — the broadcast build
  *    is priced out at 100×, exactly why the sharded tier exists);
  *  - `varc_sharded`  — the 100 TB posture: per-shard ragged search,
  *    bounded merge, same rerank. The persisted index is built once
  *    per factor under [[Harness.workRoot]] (`x<f>/sharded<n>`, next
  *    to the scaled corpus) and REUSED across runs.
  *
  * Per row: arm, factor, n (corpus vectors), qsets (ragged sets),
  * budget (per-shard beam budget; 0 for the fullscan GT arm),
  * build_sec (0 = reused/none), search_sec, rerank_sec, recall@10 vs
  * the fullscan GT, qps. Output MERGES with an existing TSV by
  * (arm, factor, budget), like BuildSweep — the ladder accretes one
  * expensive point at a time.
  *
  * The sharded arm runs a BUDGET LADDER per factor (r19 verdict task
  * 5: the fixed-c face has SWEEP_SF10_POLICY.tsv, varc had only the
  * default point): budgets from `SPARK_GRAFT_VARC_BUDGETS` (default
  * "120,240,480,960"), stopping at the first point that recovers the
  * paper's ≥0.9 recall — the (factor, budget) recovery frontier a
  * 100 TB deployment reads to size ragged-query serving.
  *
  * Usage: `runMain graft.tools.VarcSweep [srcDir] [factors-csv] [out]`
  * — defaults /root/testdata/sf0.1, "1,10,100", SWEEP_VARC.tsv.
  */
object VarcSweep {
  import VectorQueries.{C, K}

  private val QSets = 100 // ragged query sets (cards 1..5 → ~300 vectors)

  private[graft] val Columns = Seq("arm", "factor", "n", "qsets", "budget",
    "build_sec", "search_sec", "rerank_sec", "recall", "qps")
  private val ArmOrder = Seq("varc_fullscan", "varc_roar", "varc_sharded")

  /** Merge key: a re-run (arm, factor, budget) replaces its row; rows
    * sort factor-major, then by arm, then by budget. */
  private[graft] def mergeKey(c: String => String): (Int, Int, Int) =
    (c("factor").toInt, ArmOrder.indexOf(c("arm")), c("budget").toInt)

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val out = args.lift(2).getOrElse("SWEEP_VARC.tsv")
    val roarMax = sys.env.getOrElse("SPARK_GRAFT_VARC_ROAR_MAX", "10").toInt
    val budgets = sys.env.getOrElse("SPARK_GRAFT_VARC_BUDGETS",
      "120,240,480,960").split(",").map(_.trim.toInt).toSeq
    val spark = Harness.session()
    import Harness.timed

    def idsOf(df: DataFrame): DataFrame =
      df.groupBy(col("qset_id").as("query_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("rank"), col("dset_id")))),
          x => x.getField("dset_id")).as("ids"))

    // untimed warmup (JIT/codegen/shuffle paths) on the base corpus
    GraphBuild.build(spark, Tables.embeddings(spark, srcDir),
      Tables.embeddings(spark, srcDir), IndexQueries.FixtureParams)

    val table = new Harness.Table(Columns: _*)

    factors.foreach { f =>
      val dir = Harness.scaledDir(spark, srcDir, f)
      val e = Tables.embeddings(spark, dir)
      val n = e.count()
      val params = IndexQueries.FixtureParams

      // the ragged query sets: the S7 cycle mapping's first QSets sets
      // — every 5-set cycle carries the full 1..5 cardinality skew
      val querySets = VarcQueries.membership(spark, dir)
        .filter(col("set_id") < QSets)
        .select(col("set_id").as("qset_id"),
          col("sub_idx").cast("int").as("q_sub"),
          col("embedding").as("q_vec"))
        .localCheckpoint(true)
      val nQ = querySets.select("qset_id").distinct().count()

      // ---- varc_fullscan: exhaustive ragged chamfer = the GT ----
      // one candidate per data set suffices (rerank gathers members by
      // dset = d_id / C), so the candidate relation is qsets × n/C rows
      val dsetReps = e
        .select(((col("vec_id") / C).cast("long") * C).as("d_id")).distinct()
      val allCands = querySets.select("qset_id").distinct()
        .crossJoin(dsetReps)
      val (gtRanked, tGt) = timed(
        Rerank.chamferTopKVarc(e, querySets, allCands, C, K)
          .localCheckpoint(true))
      val gt = idsOf(gtRanked)
        .withColumnRenamed("ids", "gt_ids").localCheckpoint(true)
      table.add("varc_fullscan", f, n, nQ, 0, "0.0", f"$tGt%.1f", "0.0",
        "1.0000", f"${nQ / tGt}%.1f")

      def evalArm(arm: String, buildSec: Double, budget: Int,
                  search: => DataFrame): Double = {
        val (cands, tS) = timed(
          search.select(col("qset_id"), col("d_id")).localCheckpoint(true))
        val (ranked, tR) = timed(
          Rerank.chamferTopKVarc(e, querySets, cands, C, K)
            .localCheckpoint(true))
        val rec = Recall.atK(idsOf(ranked), gt, K)
          .agg(avg(col("recall"))).head().getDouble(0)
        table.add(arm, f, n, nQ, budget, f"$buildSec%.1f", f"$tS%.1f",
          f"$tR%.1f", f"$rec%.4f", f"${nQ / (tS + tR)}%.1f")
        rec
      }

      // ---- varc_roar: the g9_varc broadcast shape ----
      if (f <= roarMax) {
        val (idx, tB) = timed(GraphBuild.build(spark, e, e,
          params.copy(knnSource = "ivf")))
        val graphB = spark.sparkContext.broadcast(idx.graph)
        val vecsB = spark.sparkContext.broadcast(idx.vecs)
        evalArm("varc_roar", tB, 120,
          BeamSearch.searchMultiDf(spark, querySets, graphB, vecsB,
            params.metric, minPq = 10, maxPq = 200, budget = 120,
            adaptive = true))
        graphB.destroy(); vecsB.destroy()
      } else println(s"varc_roar skipped at $f (broadcast build priced " +
        s"out past ${roarMax}x; SWEEP_BUILD.tsv prices it)")

      // ---- varc_sharded: the 100 TB posture, index reused on disk,
      // one row per budget-ladder point until recall recovers 0.9 ----
      val nShards = math.max(2, math.ceil(n / 5000.0).toInt)
      val shardPath = s"${Harness.workRoot}/x$f/sharded$nShards"
      val (ref, tSh) =
        if (Files.exists(Paths.get(shardPath, "shard0")))
          (ShardedIndex.discover(spark,
            ShardedIndexRef(shardPath, nShards, params.metric)), 0.0)
        else {
          Files.createDirectories(Paths.get(shardPath))
          timed(ShardedIndex.buildPersisted(spark, e, params, nShards,
            shardPath))
        }
      ShardedIndex.resetResidencyTracking()
      val recovered = budgets.zipWithIndex.exists { case (b, i) =>
        val rec = evalArm("varc_sharded", if (i == 0) tSh else 0.0, b,
          ShardedIndex.searchMultiDf(spark, querySets, ref,
            minPq = 10, maxPq = 200, budget = b, adaptive = true))
        rec >= 0.9
      }
      if (!recovered)
        println(s"varc_sharded at ${f}x: no ladder point " +
          s"(${budgets.mkString(",")}) recovered recall>=0.9 — extend " +
          "SPARK_GRAFT_VARC_BUDGETS")
    }

    table.merge(out)(mergeKey)
    spark.stop()
  }
}
