package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Harness, Tables}
import graft.index.{BuildParams, ShardedIndex}
import graft.operators.{KnnJoin, Recall, TopK}
import graft.queries.{Fixtures, VectorQueries}

/** Serve-through-compaction MEASUREMENT — the latency/recall evidence
  * behind the [[graft.index.Generations]] manifest design: a reader
  * keeps answering production-budget queries BEFORE, DURING, and AFTER
  * a [[ShardedIndex.compactVersioned]] that runs to completion on the
  * same index, resolving the manifest once per batch exactly like a
  * serving loop would — under a READER LEASE
  * ([[ShardedIndex.withReaderLease]]) with `keepGens = 0`, so the
  * lease (not the grace window) is what keeps each in-flight batch's
  * generation on disk through the flip. GenerationSpec proves the
  * correctness contract at fixture scale; this tool measures what
  * serving actually pays:
  * per-batch wall latency by phase plus survivor Recall@10 per batch
  * (a batch that resolved the pre-flip manifest answers from the grace
  * generation, one that resolved post-flip from the successor — both
  * must hold recall; the flip itself is one atomic rename).
  *
  * On this single host the DURING phase shares cores with the
  * compactor, so its latencies bound the worst case; on a cluster the
  * compactor is a separate job and the reader contends only for the
  * (immutable) files. The interesting outputs are: no failed batch, no
  * recall droop in any phase, and the after-phase latency returning to
  * the before-phase floor with the deltas folded and the mask retired.
  *
  * Usage: `runMain graft.tools.ServeThroughCompact [sfDir] [nShards]
  * [out.tsv] [params] [minBatches]` — defaults /tmp/graft_sf1, 2,
  * stdout-only, `fixture` knobs (`ref` = 100/35/100), 3 batches per
  * steady phase. Committed artifact: SWEEP_SERVE_COMPACT.tsv.
  */
object ServeThroughCompact {
  import VectorQueries.{C, K, NQ}

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val nShards = args.lift(1).map(_.toInt).getOrElse(2)
    val out = args.lift(2).filter(_.nonEmpty)
    val params = Harness.buildParams(args.lift(3))
    val minBatches = args.lift(4).map(_.toInt).getOrElse(3)
    // "seq", "par", or "both": whether the reader's per-shard search
    // jobs run through the sequential loop, a submitter pool sized to
    // the shard count, or one full measurement of each
    val modes = args.lift(5).getOrElse("both") match {
      case "seq" => Seq(false)
      case "par" => Seq(true)
      case _ => Seq(false, true)
    }
    val spark = Harness.session(
      "spark.graft.index.residentShards" -> nShards.toString)
    val table = new Harness.Table("mode", "phase", "batch", "latency_sec",
      "qps", "recall")
    modes.foreach { par =>
      spark.conf.set("spark.graft.index.parallelShardSearch",
        if (par) math.min(nShards, Harness.cpus).toString else "1")
      run(spark, sfDir, nShards, params, minBatches)
        .foreach { case (ph, i, lat, qps, rec) =>
          table.add(if (par) "par" else "seq", ph, i, f"$lat%.3f",
            f"$qps%.1f", f"$rec%.4f")
        }
    }
    out.foreach(table.write)
    spark.stop()
  }

  /** One (phase, batch index, latency sec, QPS, Recall@K) row per
    * reader batch. The reader thread loops: resolve manifest → search
    * at production budget → score recall; the main thread flips phases
    * around a full compactVersioned. */
  def run(spark: SparkSession, sfDir: String, nShards: Int,
          params: BuildParams, minBatches: Int)
      : Seq[(String, Int, Double, Double, Double)] = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val root = Fixtures.tempDir("graft_serve_compact_")
    ShardedIndex.buildVersioned(spark, emb, params, nShards, root)
    val victimCond = col("vec_id") % 10 === 3
    require(ShardedIndex.deleteVersioned(spark, root,
      emb.filter(victimCond).select(col("vec_id").as("gid"))) > 0)
    val queries = emb.filter(col("vec_id") < NQ * C)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .localCheckpoint(true)
    val gt = KnnJoin.bruteForce(queries,
        emb.filter(!victimCond).select(col("vec_id").as("d_id"),
          col("embedding").as("d_vec")), K, "cosine")
      .groupBy(col("q_id").as("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("rank"),
        col("d_id")))), x => x.getField("d_id")).as("gt_ids"))
      .localCheckpoint(true)

    val nq = queries.count().toDouble
    // keepGens=0: NO grace generation — the flip retires the
    // predecessor immediately, so the READER LEASE (not grace) is what
    // keeps an in-flight batch's generation on disk through the
    // compaction. This makes the lease API load-bearing in the
    // measurement: a recall droop or a failed batch here means the
    // lease contract broke.
    spark.conf.set("spark.graft.gen.keepGens", "0")
    val phase = new AtomicReference[String]("before")
    val stop = new AtomicBoolean(false)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Int, Double, Double, Double)]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def phaseCount(p: String): Int = {
      var n = 0
      out.forEach(r => if (r._1 == p) n += 1)
      n
    }
    val reader = new Thread(() => {
      var i = 0
      try while (!stop.get()) {
        val ph = phase.get()
        // resolve + search under a reader lease: the batch's
        // generation survives the concurrent flip despite keepGens=0
        val (hits, lat) = Harness.timed(ShardedIndex.withReaderLease(spark,
            root, params.metric) { ref =>
          ShardedIndex.searchSingleDf(spark, queries, ref,
            l = 80, k = 4 * K).localCheckpoint(true)
        })
        val res = TopK.perGroupAgg(hits, Seq(col("q_id")), col("score"),
            col("d_id"), K, idName = "d_id")
          .groupBy(col("q_id").as("query_id"))
          .agg(transform(array_sort(collect_list(struct(col("rank"),
            col("d_id")))), x => x.getField("d_id")).as("ids"))
        val rec = Recall.atK(res, gt, K)
          .agg(avg(col("recall"))).first().getDouble(0)
        out.add((ph, i, lat, nq / lat, rec))
        i += 1
      } catch { case t: Throwable => errors.add(t) }
    })
    reader.start()
    while (phaseCount("before") < minBatches && errors.isEmpty)
      Thread.sleep(100)
    phase.set("during")
    ShardedIndex.compactVersioned(spark, root, params)
    phase.set("after")
    while (phaseCount("after") < minBatches && errors.isEmpty)
      Thread.sleep(100)
    stop.set(true)
    reader.join(600000)
    if (!errors.isEmpty) throw errors.peek()
    out.toArray(Array.empty[(String, Int, Double, Double, Double)]).toSeq
  }
}
