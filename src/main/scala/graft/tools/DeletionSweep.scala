package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Harness, Tables}
import graft.index.{BuildParams, ShardedIndex, ShardedIndexRef}
import graft.operators.{KnnJoin, Recall, TopK}
import graft.queries.{Fixtures, VectorQueries}

/** Deleted-fraction RECALL sweep for the sharded graph tier — the
  * evidence the deletion lifecycle's certificates cannot give: every
  * deletion certificate runs at SATURATING budgets, where graph
  * navigability is irrelevant by construction, so nothing there
  * measures what a growing deleted fraction does to recall at
  * PRODUCTION budgets. hnswlib's own markDelete guidance caps the
  * marked fraction for exactly this reason (the reference vendors it,
  * `/root/reference/include/hnswlib`): marked nodes stay traversable
  * but waste beam slots, and post-compact their zeroed payloads score
  * a mid-range similarity 0, not far.
  *
  * For each deleted fraction f ∈ `fractions` (tranche = vec_id % 100 <
  * 100f — deterministic, shard-uniform under the strided layout) and
  * each per-shard budget l, three stages of the SAME corpus:
  *
  *  - `pre_compact`  — tranche tombstoned, nodes still carry their
  *    real payloads (they route AND compete for beam slots; the
  *    per-query anti-join hides them from results);
  *  - `post_compact` — payloads zeroed, erased ids retired into the
  *    per-shard dead sidecars (result emission filters them; zeroed
  *    stubs still ride beams at similarity 0);
  *  - `fresh_rebuild` — the survivors renumbered dense and rebuilt
  *    from scratch: the upper bound a re-shard would recover.
  *
  * Recall@K is measured against the exact cosine top-K over the
  * SURVIVORS. The gap between `post_compact` and `fresh_rebuild` at a
  * given f is the price of keeping dead routing stubs; when it exceeds
  * noise the answer is a re-shard — [[ShardedIndex.maybeCompact]]'s
  * `maxDeletedFrac` trigger (default 0.2) is the documented knob, and
  * IndexSpec gates post-compact recall at 30% deleted against the
  * fresh-rebuild bound. Committed output: SWEEP_DELETION.tsv.
  *
  * Usage: `runMain graft.tools.DeletionSweep [sfDir] [fractions-csv]
  * [budgets-csv] [out.tsv] [params] [nShards] [mode]` — defaults
  * /tmp/graft_sf1 (20k rows), 0.1,0.3,0.5, budgets 40,80,200,
  * `fixture` knobs (`ref` = the reference's production 100/35/100 —
  * graph degree must scale with the corpus, same argument as
  * [[graft.Sweep]]), 2 shards, mode `uniform`. Mode `skew` runs
  * [[runSkewed]] instead: the fractions are then HOT-SHARD deleted
  * fractions and the TSV gains global_frac + recall_hot columns. */
object DeletionSweep {
  import VectorQueries.{C, K, NQ}

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val fractions = args.lift(1).getOrElse("0.1,0.3,0.5")
      .split(",").map(_.trim.toDouble).toSeq
    val budgets = args.lift(2).getOrElse("40,80,200")
      .split(",").map(_.trim.toInt).toSeq
    val out = args.lift(3).filter(_.nonEmpty)
    val params = Harness.buildParams(args.lift(4))
    val nShards = args.lift(5).map(_.toInt).getOrElse(2)
    val mode = args.lift(6).getOrElse("uniform")
    val spark = Harness.session(
      "spark.graft.index.residentShards" -> nShards.toString)
    val table =
      if (mode == "skew") {
        val t = new Harness.Table("frac_hot", "global_frac", "stage",
          "budget", "recall", "recall_hot", "search_sec")
        runSkewed(spark, sfDir, fractions, budgets, params, nShards)
          .foreach { case (fh, fg, st, b, r, rh, sec) =>
            t.add(f"$fh%.2f", f"$fg%.4f", st, b, f"$r%.4f", f"$rh%.4f",
              f"$sec%.3f")
          }
        t
      } else {
        val t = new Harness.Table("frac", "stage", "budget", "recall",
          "search_sec")
        run(spark, sfDir, fractions, budgets, params, nShards)
          .foreach { case (f, st, b, r, sec) =>
            t.add(f"$f%.2f", st, b, f"$r%.4f", f"$sec%.3f")
          }
        t
      }
    out.foreach(table.write)
    spark.stop()
  }

  /** One (frac, stage, budget, Recall@K vs exact survivor top-K, search
    * wall sec) row per (fraction × stage × budget). Callable from specs
    * at fixture scale (the IndexSpec gate). */
  def run(spark: SparkSession, sfDir: String, fractions: Seq[Double],
          budgets: Seq[Int], params: BuildParams, nShards: Int)
      : Seq[(Double, String, Int, Double, Double)] = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < NQ * C)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .localCheckpoint(true)

    // ONE base build per sweep; each fraction mutates a cheap dir copy
    val basePath = Fixtures.tempDir("graft_delsweep_base_")
    ShardedIndex.buildPersisted(spark, emb, params, nShards, basePath)

    def recallRows(fr: Double, stage: String, ref: ShardedIndexRef,
                   gt: DataFrame,
                   remap: DataFrame => DataFrame = identity)
        : Seq[(Double, String, Int, Double, Double)] =
      budgets.map { l =>
        val (hits, searchSec) = Harness.timed( // search stage on its own
          remap(ShardedIndex.searchSingleDf(spark, queries, ref,
            l = l, k = 4 * K)).localCheckpoint(true))
        val res = TopK.perGroupAgg(hits, Seq(col("q_id")), col("score"),
            col("d_id"), K, idName = "d_id")
          .groupBy(col("q_id").as("query_id"))
          .agg(transform(array_sort(collect_list(struct(col("rank"),
            col("d_id")))), x => x.getField("d_id")).as("ids"))
        val rs = Recall.atK(res, gt, K).agg(avg(col("recall"))).first()
          .getDouble(0)
        (fr, stage, l, rs, searchSec)
      }

    val out = fractions.flatMap { f =>
      val path = Fixtures.tempDir(f"graft_delsweep_${(f * 100).toInt}%d_")
      copyDir(basePath, path)
      val ref = ShardedIndexRef(path, nShards, params.metric)
      val tranche = emb
        .filter(col("vec_id") % 100 < math.round(100 * f))
        .select(col("vec_id").as("gid"))
      require(ShardedIndex.deleteFromIndex(spark, path, tranche) > 0)
      val survivors = emb.filter(col("vec_id") % 100 >= math.round(100 * f))
      // exact survivor ground truth (recall's denominator for every stage)
      val gt = KnnJoin.bruteForce(queries,
          survivors.select(col("vec_id").as("d_id"),
            col("embedding").as("d_vec")), K, "cosine")
        .groupBy(col("q_id").as("query_id"))
        .agg(transform(array_sort(collect_list(struct(col("rank"),
          col("d_id")))), x => x.getField("d_id")).as("gt_ids"))
        .localCheckpoint(true)

      val pre = recallRows(f, "pre_compact", ref, gt)
      val refC = ShardedIndex.compact(spark, ref, params)
      val post = recallRows(f, "post_compact", refC, gt)

      // fresh-rebuild bound: survivors renumbered dense (the strided
      // contract), searched, mapped back to original gids for recall
      val freshPath =
        Fixtures.tempDir(f"graft_delsweep_fresh_${(f * 100).toInt}%d_")
      import org.apache.spark.sql.expressions.Window
      val renum = survivors.withColumn("new_id",
          (row_number().over(Window.orderBy(col("vec_id"))) - 1)
            .cast("long"))
        .localCheckpoint(true)
      val freshRef = ShardedIndex.buildPersisted(spark,
        renum.select(col("new_id").as("vec_id"), col("embedding")),
        params, nShards, freshPath)
      val mapping = broadcast(renum.select(col("new_id"), col("vec_id")))
      val fresh = recallRows(f, "fresh_rebuild", freshRef, gt,
        remap = hits => hits.join(mapping, hits("d_id") === mapping("new_id"))
          .select(col("q_id"), mapping("vec_id").as("d_id"), col("score")))
      pre ++ post ++ fresh
    }
    ShardedIndex.resetResidencyTracking() // drop cached temp-dir shards
    out
  }

  /** Skewed-takedown twin of [[run]]: the tranche lands ENTIRELY in one
    * shard — gid ≡ 0 (mod nShards), the stride class a single source /
    * licensing bucket maps to under the strided layout — deleting
    * `hotFrac` of that shard's rows while every sibling stays clean.
    * The global deleted fraction is only hotFrac/nShards, which is the
    * point: [[ShardedIndex.deletedFraction]]'s global trigger sleeps
    * through a poisoned shard, and
    * [[ShardedIndex.maxShardDeletedFraction]] (the per-shard trigger
    * this sweep motivates, default-on in maybeCompact) does not.
    *
    * Each row reports overall survivor Recall@K AND `recall_hot`: the
    * per-query top-K restricted to HOT-SHARD survivors against the
    * exact hot-shard ranking — the number that shows whether the
    * poisoned shard still serves its own survivors. Output tuple:
    * (hotFrac, globalFrac, stage, budget, recall, recallHot,
    * searchSec). */
  def runSkewed(spark: SparkSession, sfDir: String,
                hotFractions: Seq[Double], budgets: Seq[Int],
                params: BuildParams, nShards: Int)
      : Seq[(Double, Double, String, Int, Double, Double, Double)] = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val total = emb.count()
    val queries = emb.filter(col("vec_id") < NQ * C)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .localCheckpoint(true)
    val basePath = Fixtures.tempDir("graft_delskew_base_")
    ShardedIndex.buildPersisted(spark, emb, params, nShards, basePath)

    def gtOf(survivors: DataFrame): DataFrame =
      KnnJoin.bruteForce(queries,
          survivors.select(col("vec_id").as("d_id"),
            col("embedding").as("d_vec")), K, "cosine")
        .groupBy(col("q_id").as("query_id"))
        .agg(transform(array_sort(collect_list(struct(col("rank"),
          col("d_id")))), x => x.getField("d_id")).as("gt_ids"))
        .localCheckpoint(true)
    def topkOf(hits: DataFrame): DataFrame =
      TopK.perGroupAgg(hits, Seq(col("q_id")), col("score"),
          col("d_id"), K, idName = "d_id")
        .groupBy(col("q_id").as("query_id"))
        .agg(transform(array_sort(collect_list(struct(col("rank"),
          col("d_id")))), x => x.getField("d_id")).as("ids"))
    def recallOf(res: DataFrame, gt: DataFrame): Double =
      Recall.atK(res, gt, K).agg(avg(col("recall"))).first().getDouble(0)

    hotFractions.flatMap { fh =>
      val path = Fixtures.tempDir(f"graft_delskew_${(fh * 100).toInt}%d_")
      copyDir(basePath, path)
      val ref = ShardedIndexRef(path, nShards, params.metric)
      val inHot = col("vec_id") % nShards === 0
      val trancheCond = inHot &&
        (expr(s"(vec_id div $nShards) % 100") < math.round(100 * fh))
      val tranche = emb.filter(trancheCond).select(col("vec_id").as("gid"))
      val nDeleted = ShardedIndex.deleteFromIndex(spark, path, tranche)
      require(nDeleted > 0, s"skew tranche empty at hotFrac=$fh")
      val globalFrac = nDeleted.toDouble / total
      val survivors = emb.filter(!trancheCond).localCheckpoint(true)
      val gt = gtOf(survivors)
      val gtHot = gtOf(survivors.filter(inHot))

      def rows(stage: String, r: ShardedIndexRef,
               remap: DataFrame => DataFrame = identity)
          : Seq[(Double, Double, String, Int, Double, Double, Double)] =
        budgets.map { l =>
          val (hits, searchSec) = Harness.timed(
            remap(ShardedIndex.searchSingleDf(spark, queries, r,
              l = l, k = 4 * K)).localCheckpoint(true))
          val rec = recallOf(topkOf(hits), gt)
          val recHot = recallOf(
            topkOf(hits.filter(col("d_id") % nShards === 0)), gtHot)
          (fh, globalFrac, stage, l, rec, recHot, searchSec)
        }

      val pre = rows("pre_compact", ref)
      val refC = ShardedIndex.compact(spark, ref, params)
      val post = rows("post_compact", refC)
      val freshPath =
        Fixtures.tempDir(f"graft_delskew_fresh_${(fh * 100).toInt}%d_")
      import org.apache.spark.sql.expressions.Window
      val renum = survivors.withColumn("new_id",
          (row_number().over(Window.orderBy(col("vec_id"))) - 1)
            .cast("long"))
        .localCheckpoint(true)
      val freshRef = ShardedIndex.buildPersisted(spark,
        renum.select(col("new_id").as("vec_id"), col("embedding")),
        params, nShards, freshPath)
      val mapping = broadcast(renum.select(col("new_id"), col("vec_id")))
      val fresh = rows("fresh_rebuild", freshRef,
        remap = hits => hits
          .join(mapping, hits("d_id") === mapping("new_id"))
          .select(col("q_id"), mapping("vec_id").as("d_id"), col("score")))
      ShardedIndex.resetResidencyTracking()
      pre ++ post ++ fresh
    }
  }

  private def copyDir(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    val s0 = Paths.get(src)
    val d0 = Paths.get(dst)
    val walk = Files.walk(s0)
    try walk.forEach { p: Path =>
      val t = d0.resolve(s0.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}
