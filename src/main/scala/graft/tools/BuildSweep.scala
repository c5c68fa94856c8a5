package graft.tools

import graft.{Harness, Tables}
import graft.index.{CsrGraph, GraphBuild, ShardedIndex}
import graft.queries.{Fixtures, IndexQueries}

/** BUILD-side scale sweep — the offline half of the scale evidence. The
  * committed search sweeps (SWEEP_SF1/SF5/SF10) time the ONLINE path at
  * 10–100× data; this tool times INDEX CONSTRUCTION itself across the
  * same deterministic scale ladder, per arm:
  *
  *  - `roar_exact`   — the fixture posture: one broadcast RoarGraph,
  *    exact learn→base kNN lists (O(N²) scoring — the reference's own
  *    offline GT posture, `gen_vector_groundtruth.cpp`). The arm that
  *    must go super-linear: its curve is the baseline the scale arms
  *    are judged against.
  *  - `roar_ivf`     — same graph, kNN lists from the IVF-bucketed
  *    generator (`BuildParams.knnSource="ivf"`): the probe scan reads
  *    ~nProbe/nlist of the pairs — the list-generation posture a large
  *    corpus runs.
  *  - `sharded`      — the past-the-broadcast-ceiling layout
  *    ([[ShardedIndex.buildPersisted]]): shard count grows with the
  *    corpus, per-shard exact kNN is O((N/S)²·S) = O(N²/S), and each
  *    shard build is an independent job — the arm that parallelizes
  *    across a cluster (here sequential per shard, so wall-clock curves
  *    report the WORK, an upper bound on cluster wall-clock).
  *
  * Per row: arm, factor, n, build seconds, mean/max out-degree (the
  * quality tripwire — a scale arm that wins wall-clock by emitting a
  * degenerate graph shows up here, and the search sweeps already gate
  * its recall).
  *
  * Usage: `runMain graft.tools.BuildSweep [srcDir] [factors-csv] [out]`
  * — defaults /root/testdata/sf0.1, "1,2,5,10", SWEEP_BUILD.tsv.
  * Scaled corpora are materialized once by [[Harness.scaledDir]] under
  * /tmp/graft_buildsweep/x<f> (`SPARK_GRAFT_BUILD_WORK` moves the root;
  * deterministic, similarity-breaking rotations) and reused across runs.
  *
  * `SPARK_GRAFT_BUILD_ARMS` (csv, default all) restricts the arms —
  * the O(N²) `roar_exact` baseline is priced out past ~50k rows and a
  * 100× point only needs the scale arms. Output MERGES with an
  * existing TSV: re-run rows replace their (arm, factor) key, others
  * survive — so the ladder accretes one expensive point at a time.
  */
object BuildSweep {

  private[graft] val Columns = Seq("arm", "factor", "n", "shards",
    "build_sec", "avg_degree", "max_degree")
  private[graft] val ArmOrder = Seq("roar_exact", "roar_ivf", "sharded")

  /** Merge key: a re-run (arm, factor) replaces its row; rows sort
    * factor-major, then in [[ArmOrder]] (the committed TSV's shape). */
  private[graft] def mergeKey(c: String => String): (Int, Int) =
    (c("factor").toInt, ArmOrder.indexOf(c("arm")))

  private def degStats(g: CsrGraph): (Double, Int) = {
    var maxd = 0
    var i = 0
    while (i < g.n) {
      val d = g.offsets(i + 1) - g.offsets(i)
      if (d > maxd) maxd = d
      i += 1
    }
    (g.nbrs.length.toDouble / math.max(g.n, 1), maxd)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("1,2,5,10")
      .split(",").map(_.trim.toInt).toSeq
    val out = args.lift(2).getOrElse("SWEEP_BUILD.tsv")
    val spark = Harness.session()

    // untimed warmup build (base corpus): JIT + codegen + shuffle-path
    // warmup, so the first timed row isn't JVM-cold-start inflated
    GraphBuild.build(spark, Tables.embeddings(spark, srcDir),
      Tables.embeddings(spark, srcDir), IndexQueries.FixtureParams)

    val arms = sys.env.get("SPARK_GRAFT_BUILD_ARMS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(ArmOrder.toSet)
    require(arms.subsetOf(ArmOrder.toSet),
      s"unknown build arm(s) ${arms -- ArmOrder.toSet}")

    val table = new Harness.Table(Columns: _*)
    factors.foreach { f =>
      val e = Tables.embeddings(spark, Harness.scaledDir(spark, srcDir, f))
      val n = e.count()
      val params = IndexQueries.FixtureParams

      // arm: broadcast graph, exact kNN lists (the O(N²) baseline)
      if (arms("roar_exact")) {
        val (idx, t) = Harness.timed(GraphBuild.build(spark, e, e, params))
        val (avg, max) = degStats(idx.graph)
        table.add("roar_exact", f, n, 1, f"$t%.1f", f"$avg%.2f", max)
      }

      // arm: broadcast graph, IVF-bucketed kNN lists (the scale posture
      // for list generation)
      if (arms("roar_ivf")) {
        val (idx, t) = Harness.timed(
          GraphBuild.build(spark, e, e, params.copy(knnSource = "ivf")))
        val (avg, max) = degStats(idx.graph)
        table.add("roar_ivf", f, n, 1, f"$t%.1f", f"$avg%.2f", max)
      }

      // arm: persisted sharded layout — shard count grows with the
      // corpus (≈5k vectors per shard), per-shard exact kNN
      if (arms("sharded")) {
        val nShards = math.max(2, math.ceil(n / 5000.0).toInt)
        val (_, t) = Harness.timed(ShardedIndex.buildPersisted(spark, e,
          params, nShards, Fixtures.tempDir("graft_buildsweep_sh_")))
        table.add("sharded", f, n, nShards, f"$t%.1f", "-", "-")
      }
    }

    table.merge(out)(mergeKey)
    spark.stop()
  }
}
