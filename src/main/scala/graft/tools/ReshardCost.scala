package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Harness, Tables}
import graft.index.{BuildParams, Generations, ShardedIndex}
import graft.queries.Fixtures

/** Wall-clock cost of the three maintenance folds a grown sharded
  * index can run — the number the maintenance-loop sizing needs
  * (GenerationSpec certifies the 2→4 re-shard's CORRECTNESS; this
  * measures what it costs):
  *
  *  - `inplace` — [[ShardedIndex.compact]]: fold deltas at the same
  *    shard count, quiescence required (readers excluded).
  *  - `versioned` — [[ShardedIndex.compactVersioned]]: the same fold
  *    into a successor generation, readers served throughout.
  *  - `versioned_reshard` — [[ShardedIndex.compactVersioned]] with
  *    `targetShardRows` forcing [[ShardedIndex.autoShards]] to double
  *    the shard count: the growth re-stripe at the generation flip.
  *
  * All three start from IDENTICAL state: a base build of the first
  * 80% of the corpus at `nShards`, the remaining 20% delta-appended.
  * The interesting output: versioned ≈ inplace (the generation layer
  * adds a manifest write, not a rebuild), and the re-shard's premium
  * over a same-count fold — the rebuild dominates, the stripe count
  * is almost free, so re-sharding WHEN a fold is due anyway costs
  * little extra and the maintenance loop should fold growth and
  * re-stripe in the same flip.
  *
  * Usage: `runMain graft.tools.ReshardCost [sfDir] [nShards] [out.tsv]
  * [params]` — defaults /tmp/graft_sf1, 4, stdout-only, `fixture`.
  * Committed artifact: SWEEP_RESHARD.tsv.
  */
object ReshardCost {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val nShards = args.lift(1).map(_.toInt).getOrElse(4)
    val out = args.lift(2).filter(_.nonEmpty)
    val params = Harness.buildParams(args.lift(3))
    val spark = Harness.session(
      "spark.graft.index.residentShards" -> nShards.toString)
    val table = new Harness.Table("op", "shards_from", "shards_to", "rows",
      "sec")
    run(spark, sfDir, nShards, params).foreach { case (op, f, t, n, sec) =>
      table.add(op, f, t, n, f"$sec%.1f") }
    out.foreach(table.write)
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, nShards: Int,
          params: BuildParams): Seq[(String, Int, Int, Long, Double)] = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val cut = n * 4 / 5
    def grownIndex(tag: String): String = {
      val root = Fixtures.tempDir(s"graft_reshard_$tag")
      ShardedIndex.buildVersioned(spark,
        emb.filter(col("vec_id") < cut), params, nShards, root)
      ShardedIndex.appendVersioned(spark,
        emb.filter(col("vec_id") >= cut), root, params)
      root
    }
    // the re-shard target: per-shard rows that make autoShards ask for
    // DOUBLE the current count over the grown corpus
    val target = math.max(1L, n / (2L * nShards))
    val inplaceRoot = grownIndex("inplace")
    val (_, inplaceSec) = Harness.timed {
      ShardedIndex.compact(spark,
        ShardedIndex.resolveVersioned(spark, inplaceRoot, params.metric),
        params)
      // the in-place fold mutated gen0 under quiescence; no flip
    }
    val versionedRoot = grownIndex("versioned")
    val (_, versionedSec) = Harness.timed {
      ShardedIndex.compactVersioned(spark, versionedRoot, params)
    }
    val reshardRoot = grownIndex("reshard")
    val (resharded, reshardSec) = Harness.timed {
      ShardedIndex.compactVersioned(spark, reshardRoot, params,
        targetShardRows = target)
    }
    val reshardTo = resharded.nShards
    require(reshardTo != nShards,
      s"re-shard point did not change the shard count (still $reshardTo)")
    require(Generations.live(spark, reshardRoot).contains("gen1"),
      "re-shard did not publish a successor generation")
    Seq(
      ("inplace", nShards, nShards, n, inplaceSec),
      ("versioned", nShards, nShards, n, versionedSec),
      ("versioned_reshard", nShards, reshardTo, n, reshardSec))
  }
}
