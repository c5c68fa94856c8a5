package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Harness, ScaleSmoke, Tables}
import graft.Harness.timed
import graft.index.{BuildParams, Generations, ShardedIndex, ShardedIndexRef}
import graft.operators.{HybridRetrieval, InvertedIndex, IvfAnn, IvfPq, KnnJoin,
  MinHashLsh, PqAnn, Recall, SemDedup, Sq8Ann, TopK}
import graft.queries.{Fixtures, TextQueries, VectorQueries}

/** What each maintenance operation on a versioned or persisted index
  * costs, and what a reader sees while it runs. The specs certify each
  * lifecycle's correctness at fixture scale; these arms price it. The
  * first argument picks the arm, the rest are the arm's positional
  * arguments; each arm prints one TSV table and writes it to its
  * `out.tsv` argument. `params` is `fixture` (the default) or `ref`, the
  * reference's production 100/35/100 ([[Harness.buildParams]]).
  *
  *  - `fold [sfDir] [delPct] [out.tsv]` — defaults /tmp/graft_sf1, 10.
  *    The `compactVersioned` fold on the four faces with versioned
  *    lifecycles: IVF-PQ codes, SQ8 codes+bounds, MinHash band keys and
  *    SemDeDup cells. Each face is built from the full corpus, a
  *    `delPct`% takedown tranche is tombstoned, and the fold into the
  *    successor generation is timed. Every fold is one scan + anti-join +
  *    write, so its cost tracks the face's on-disk footprint, not the
  *    tranche. Committed: SWEEP_FOLD_FACES.tsv.
  *  - `revoke [sfDir] [nShards] [frac] [out.tsv] [params]` — defaults
  *    /tmp/graft_sf10, 20, 0.3. A mass-revocation flip (every
  *    1/`frac`-th id erased in one compactVersioned), once with the
  *    erasure set riding the driver
  *    (`spark.graft.ann.deadSidecar.maxDriverIds` above its size) and
  *    once through the distributive join writer (threshold 1). The two
  *    must write the same dead sidecars. Committed: SWEEP_REVOKE.tsv.
  *  - `reshard [sfDir] [nShards] [out.tsv] [params]` — defaults
  *    /tmp/graft_sf1, 4. The three folds of a grown sharded index (80%
  *    built at `nShards`, 20% delta-appended): `inplace`
  *    ([[ShardedIndex.compact]] under quiescence), `versioned`
  *    (compactVersioned, readers served) and `versioned_reshard`
  *    (compactVersioned with a `targetShardRows` that doubles the shard
  *    count). Committed: SWEEP_RESHARD.tsv.
  *  - `serve [sfDir] [nShards] [out.tsv] [params] [minBatches]
  *    [seq|par|both]` — defaults /tmp/graft_sf1, 2, 3, both. A reader
  *    answers production-budget (l = 80) batches before, during and
  *    after a compactVersioned of the same index ([[phased]]); per batch
  *    its latency, QPS and Recall@K over the survivors of a 10% takedown.
  *    The last argument runs the reader's per-shard searches
  *    sequentially, on a pool sized to the shard count, or once each way.
  *    Committed: SWEEP_SERVE_COMPACT.tsv.
  *  - `hybrid [srcDir] [factor] [workDir] [out.tsv] [minBatches]` —
  *    defaults the sf0.1 test corpus, 100, /tmp/graft_hybrid100, 3. The
  *    same loop on the inverted face, over the documents scaled
  *    `factor`× into `workDir`: the two-arm BM25 + semantic query fused
  *    by RRF. A takedown lands between the before and during phases, and
  *    each batch must equal its phase's quiesced answer (`match`); a
  *    mismatch fails the run after the table is written. Committed:
  *    SWEEP_HYBRID.tsv.
  *  - `deletion` and `deletion_skew [sfDir] [fractions] [budgets]
  *    [out.tsv] [params] [nShards]` — defaults /tmp/graft_sf1,
  *    0.1,0.3,0.5, 40,80,200, 2. Sharded-tier Recall@K at production
  *    budgets as the deleted fraction grows ([[deletion]],
  *    [[deletionSkew]]). Committed: SWEEP_DELETION.tsv,
  *    SWEEP_DELETION_SKEW.tsv.
  *
  * docs/SERVE_COMPACT.md and docs/SWEEP_DELETION.md read the committed
  * tables.
  */
object LifecycleSweep {
  import VectorQueries.{C, K, NQ}

  private val Arms =
    Seq("fold", "revoke", "reshard", "serve", "hybrid", "deletion", "deletion_skew")

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    try sweep(spark, args.toSeq) finally spark.stop()
  }

  /** Runs the arm `args.head` names on `spark` with its positional
    * arguments `args.tail`. Every conf an arm sets is restored when it
    * ends, so arms can share one session. */
  def sweep(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.headOption.exists(Arms.contains),
      s"usage: LifecycleSweep <${Arms.mkString("|")}> [arm arguments]")
    val arg = args.drop(1).lift.andThen(_.filter(_.nonEmpty))
    def sfDir(default: String) = arg(0).getOrElse(default)
    def int(i: Int, default: Int) = arg(i).fold(default)(_.toInt)
    def params(i: Int) = Harness.buildParams(arg(i))
    def sec(s: Double) = f"$s%.1f"
    def sharded[T](n: Int, confs: (String, String)*)(body: => T): T =
      Harness.withConfs(spark,
        ("spark.graft.index.residentShards" -> n.toString) +: confs: _*)(body)
    def table(out: Int, columns: String*)(rows: Seq[Seq[Any]]): Unit = {
      val t = new Harness.Table(columns: _*)
      rows.foreach(t.add(_: _*))
      arg(out).foreach(t.write)
    }
    args.head match {
      case "fold" =>
        table(2, "face", "rows", "del_rows", "build_sec", "delete_sec",
          "fold_sec")(fold(spark, sfDir("/tmp/graft_sf1"), int(1, 10)).map {
          case (f, n, d, b, del, c) => Seq(f, n, d, sec(b), sec(del), sec(c)) })
      case "revoke" =>
        val n = int(1, 20)
        table(3, "mode", "rows", "deleted", "compact_sec")(sharded(n)(
          revoke(spark, sfDir("/tmp/graft_sf10"), n, arg(2).fold(0.3)(_.toDouble),
            params(4))).map { case (m, rows, d, s) => Seq(m, rows, d, sec(s)) })
      case "reshard" =>
        val n = int(1, 4)
        table(2, "op", "shards_from", "shards_to", "rows", "sec")(sharded(n)(
          reshard(spark, sfDir("/tmp/graft_sf1"), n, params(3))).map {
          case (op, from, to, rows, s) => Seq(op, from, to, rows, sec(s)) })
      case "serve" =>
        val n = int(1, 2)
        val modes = arg(5) match {
          case Some("seq") => Seq(false)
          case Some("par") => Seq(true)
          case _ => Seq(false, true)
        }
        table(2, "mode", "phase", "batch", "latency_sec", "qps", "recall")(
          modes.flatMap { par =>
            val threads = if (par) math.min(n, Harness.cpus) else 1
            sharded(n, "spark.graft.index.parallelShardSearch" -> threads.toString)(
              serve(spark, sfDir("/tmp/graft_sf1"), n, params(3), int(4, 3)))
              .map { case (ph, i, (lat, qps, rec)) => Seq(if (par) "par" else "seq",
                ph, i, f"$lat%.3f", f"$qps%.1f", f"$rec%.4f") }
          })
      case "hybrid" =>
        val workDir = arg(2).getOrElse("/tmp/graft_hybrid100")
        ScaleSmoke.scaleDocuments(spark, sfDir("/root/testdata/sf0.1"), workDir,
          int(1, 100))
        val rows = hybrid(spark, workDir, int(4, 3))
        table(3, "phase", "batch", "latency_sec", "match")(rows.map {
          case (ph, i, (lat, ok)) => Seq(ph, i, f"$lat%.3f", if (ok) 1 else 0) })
        val bad = rows.filterNot(_._3._2)
        require(bad.isEmpty, s"HYBRID SERVE-COMPACT FAILED: ${bad.size} " +
          s"batches diverged: ${bad.map(r => (r._1, r._2))}")
      case arm =>
        val skew = arm == "deletion_skew"
        val n = int(5, 2)
        def csv[T](i: Int, default: String)(to: String => T): Seq[T] =
          arg(i).getOrElse(default).split(",").toSeq.map(s => to(s.trim))
        val rows = sharded(n)(deletionRows(spark, sfDir("/tmp/graft_sf1"),
          csv(1, "0.1,0.3,0.5")(_.toDouble), csv(2, "40,80,200")(_.toInt),
          params(4), n, skew))
        if (skew)
          table(3, "frac_hot", "global_frac", "stage", "budget", "recall",
            "recall_hot", "search_sec")(rows.map { case (f, g, st, b, r, rh, s) =>
            Seq(f"$f%.2f", f"$g%.4f", st, b, f"$r%.4f", f"$rh%.4f", f"$s%.3f") })
        else
          table(3, "frac", "stage", "budget", "recall", "search_sec")(rows.map {
            case (f, _, st, b, r, _, s) =>
              Seq(f"$f%.2f", st, b, f"$r%.4f", f"$s%.3f") })
    }
  }

  /** A lifecycle fixture at a fresh temp root: built, then given a
    * tombstoned tranche, each step timed. */
  private final case class Fixture(root: String, deleted: Long,
                                   buildSec: Double, deleteSec: Double) {
    /** `compact` run on this fixture's root, and its wall seconds. */
    def fold[T](compact: String => T): (T, Double) = timed(compact(root))
  }

  private def fixture(tag: String, build: String => Any,
                      delete: String => Long): Fixture = {
    val root = Fixtures.tempDir(s"graft_${tag}_")
    val (_, buildSec) = timed(build(root))
    val (deleted, deleteSec) = timed(delete(root))
    Fixture(root, deleted, buildSec, deleteSec)
  }

  /** `deleted`, once it is known to be a real takedown. */
  private def takedown(deleted: Long): Long = {
    require(deleted > 0, "takedown tranche was empty")
    deleted
  }

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))

  /** The first NQ sets' vectors as single-vector (q_id, q_vec) queries. */
  private def queriesOf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < NQ * C)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .localCheckpoint(true)

  /** The exact cosine top-K over `survivors`: the (query_id, gt_ids) every
    * recall here is scored against. */
  private def truth(queries: DataFrame, survivors: DataFrame): DataFrame =
    Recall.topIdArrays(KnnJoin.bruteForce(queries, survivors.select(
        col("vec_id").as("d_id"), col("embedding").as("d_vec")), K, "cosine"),
      "q_id", "d_id", "gt_ids").localCheckpoint(true)

  /** Mean Recall@K of a search's (q_id, d_id, score) hits against `gt`. */
  private def recallOf(hits: DataFrame, gt: DataFrame): Double =
    Recall.meanAtK(Recall.topIdArrays(TopK.perGroupAgg(hits, Seq(col("q_id")),
      col("score"), col("d_id"), K, idName = "d_id"), "q_id", "d_id", "ids"),
      gt, K)

  /** One (face, rows, deleted, build sec, delete sec, fold sec) row per
    * versioned face. */
  def fold(spark: SparkSession, sfDir: String, delPct: Int)
      : Seq[(String, Long, Long, Double, Double, Double)] = {
    // id % 100 < delPct is the exact fraction for any percentage
    require(delPct >= 1 && delPct <= 100,
      s"delPct must be in [1,100], got $delPct")
    val emb = embeddings(spark, sfDir).localCheckpoint(true)
    val d = emb.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val (nEmb, nDocs) = (emb.count(), docs.count())
    def tranche(n: Long, id: String): DataFrame = {
      import spark.implicits._
      (0L until n).filter(_ % 100 < delPct).toDF(id)
    }
    // seeded quantizers: frozen across folds by contract
    val centroids = IvfAnn.seededCentroids(d, 64)
    val codebooks = PqAnn.seededCodebooks(d, nSub = 8, ncode = 32)
    val bandKeys = MinHashLsh.bandKeys(TextQueries.shingleHashes(docs), 8, 2)
    val cells = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    Seq[(String, Long, String => Any, String => Long, String => Any)](
      ("ivfpq", nEmb,
        IvfPq.buildVersioned(spark, d, _, centroids, codebooks, seeded = true),
        IvfPq.deleteVersioned(spark, _, tranche(nEmb, "d_id")),
        IvfPq.compactVersioned(spark, _)),
      ("sq8", nEmb, Sq8Ann.buildVersioned(spark, d, _),
        Sq8Ann.deleteVersioned(spark, _, tranche(nEmb, "d_id")),
        Sq8Ann.compactVersioned(spark, _)),
      // numBands rows per doc
      ("band", nDocs, MinHashLsh.buildVersioned(bandKeys, _),
        MinHashLsh.deleteVersioned(spark, _, tranche(nDocs, "doc_id")),
        MinHashLsh.compactVersioned(spark, _)),
      ("cell", nEmb, SemDedup.buildVersioned(cells, centroids, _),
        SemDedup.deleteVersioned(spark, _, tranche(nEmb, "id")),
        SemDedup.compactVersioned(spark, _))
    ).map { case (face, n, build, delete, compact) =>
      val f = fixture(s"fold_$face", build, delete)
      (face, n, f.deleted, f.buildSec, f.deleteSec, f.fold(compact)._2)
    }
  }

  /** One (mode, rows, deleted, compact sec) row per dead-sidecar writer. */
  def revoke(spark: SparkSession, sfDir: String, nShards: Int, frac: Double,
             params: BuildParams): Seq[(String, Long, Long, Double)] = {
    import spark.implicits._
    val emb = embeddings(spark, sfDir)
    val n = emb.count()
    val every = math.max(1L, math.round(1.0 / frac))
    val wave = spark.range(0, n).filter(col("id") % every === 0)
      .select(col("id").as("gid"))
    def flip(mode: String, maxDriverIds: Long): (String, Long, Long, Double, String) =
      Harness.withConfs(spark,
          "spark.graft.ann.deadSidecar.maxDriverIds" -> maxDriverIds.toString) {
        val f = fixture(s"revoke_$mode",
          ShardedIndex.buildVersioned(spark, emb, params, nShards, _),
          ShardedIndex.deleteVersioned(spark, _, wave))
        val (ref, sec) = f.fold(ShardedIndex.compactVersioned(spark, _, params))
        (mode, n, f.deleted, sec, ref.path)
      }
    val drv = flip("driver", n * 2) // above the set: the driver-array writer
    val dist = flip("distributive", 1)
    (0 until nShards).foreach { s =>
      def deadSet(p: String): Set[Long] =
        spark.read.parquet(s"$p/shard$s/dead")
          .select(col("vec_id")).as[Long].collect().toSet
      require(deadSet(drv._5) == deadSet(dist._5),
        s"sidecar divergence between writers on shard $s")
    }
    Seq(drv, dist).map { case (m, rows, d, sec, _) => (m, rows, d, sec) }
  }

  /** One (op, shards from, shards to, rows, fold sec) row per fold of the
    * same grown index. */
  def reshard(spark: SparkSession, sfDir: String, nShards: Int,
              params: BuildParams): Seq[(String, Int, Int, Long, Double)] = {
    val emb = embeddings(spark, sfDir)
    val n = emb.count()
    val cut = n * 4 / 5
    def grown(op: String) = fixture(s"reshard_$op", { root =>
      ShardedIndex.buildVersioned(spark,
        emb.filter(col("vec_id") < cut), params, nShards, root)
      ShardedIndex.appendVersioned(spark,
        emb.filter(col("vec_id") >= cut), root, params)
    }, _ => 0L)
    // the in-place fold mutates gen0 under quiescence; no flip
    val (_, inplaceSec) = grown("inplace").fold(root => ShardedIndex.compact(
      spark, ShardedIndex.resolveVersioned(spark, root, params.metric), params))
    val (_, versionedSec) =
      grown("versioned").fold(ShardedIndex.compactVersioned(spark, _, params))
    // per-shard rows that make autoShards ask for double the shard count
    val target = math.max(1L, n / (2L * nShards))
    val reshardFix = grown("reshard")
    val (resharded, reshardSec) = reshardFix.fold(ShardedIndex.compactVersioned(
      spark, _, params, targetShardRows = target))
    require(resharded.nShards != nShards,
      s"re-shard point did not change the shard count (still $nShards)")
    require(Generations.live(spark, reshardFix.root).contains("gen1"),
      "re-shard did not publish a successor generation")
    Seq(("inplace", nShards, nShards, n, inplaceSec),
      ("versioned", nShards, nShards, n, versionedSec),
      ("versioned_reshard", nShards, resharded.nShards, n, reshardSec))
  }

  /** One (phase, batch, (latency sec, QPS, Recall@K)) row per reader batch
    * of [[phased]] around a compactVersioned of a sharded index whose
    * takedown tranche (vec_id % 10 == 3) is tombstoned. Each batch
    * resolves and searches under a reader lease, so a batch in flight
    * across the flip answers from the predecessor generation. */
  def serve(spark: SparkSession, sfDir: String, nShards: Int,
            params: BuildParams, minBatches: Int)
      : Seq[(String, Int, (Double, Double, Double))] = {
    val emb = embeddings(spark, sfDir)
    val victim = col("vec_id") % 10 === 3
    val f = fixture("serve_compact",
      ShardedIndex.buildVersioned(spark, emb, params, nShards, _),
      root => takedown(ShardedIndex.deleteVersioned(spark, root,
        emb.filter(victim).select(col("vec_id").as("gid")))))
    val queries = queriesOf(emb)
    val gt = truth(queries, emb.filter(!victim))
    val nq = queries.count().toDouble
    phased(spark, minBatches,
      "during" -> (() => ShardedIndex.compactVersioned(spark, f.root, params))) { _ =>
      val (hits, lat) = timed(ShardedIndex.withReaderLease(spark, f.root,
          params.metric) { ref =>
        ShardedIndex.searchSingleDf(spark, queries, ref, l = 80, k = 4 * K)
          .localCheckpoint(true)
      })
      (lat, nq / lat, recallOf(hits, gt))
    }
  }

  /** The same fixed query as the hybrid certificates (common words: the
    * worst-case postings volume for the lexical arm). */
  private val Terms = Seq("the", "data", "model", "learning", "neural")

  /** One (phase, batch, (latency sec, matched)) row per reader batch of
    * [[phased]] over a versioned inverted index of the documents at `dir`:
    * BM25 top-50 under a reader lease + hash-embedding cosine top-50, RRF
    * fused to top-20. A doc_id % 13 == 0 takedown lands in the pause
    * before the during phase, then compactVersioned folds it; each batch
    * must equal its phase's quiesced answer (pre- or post-takedown), and
    * the folded successor must still give the post-takedown answer. */
  def hybrid(spark: SparkSession, dir: String, minBatches: Int)
      : Seq[(String, Int, (Double, Boolean))] = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
    val root = Fixtures.tempDir("graft_hybrid_serve_")
    val half = d.agg(max(col("doc_id"))).first().getLong(0) / 2
    InvertedIndex.buildVersioned(spark, d.filter(col("doc_id") <= half), root)
    InvertedIndex.appendVersioned(spark, d.filter(col("doc_id") > half), root)

    // semantic arm offline half: ONE tokenize + hash-embed pass over the
    // full corpus (at scale this slot is any registered ANN tier; the
    // sparse-cosine scan keeps the arm exact) — per batch it is filtered
    // to the phase's survivors, mirroring the takedown mask the lexical
    // arm serves through its tombstones
    val toks = TextQueries.tokenizedOf(d)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
    val dv = HybridRetrieval.hashEmbed(toks).localCheckpoint(true)
    val qv = HybridRetrieval.hashEmbed(
      Terms.toDF("term").select(lit(0L).as("qid"), col("term").as("tok")),
      idCol = "qid").localCheckpoint(true)

    val victim = col("doc_id") % 13 === 0
    def fusedTop20(survivorsOnly: Boolean): Seq[(Long, Long)] = {
      // the lexical arm resolves the live generation once and answers
      // entirely from that snapshot: the serving loop's shape
      val lex = Generations.withReaderLease(spark, root) { gen =>
        InvertedIndex.bm25Query(spark, gen, Terms, k = 50).localCheckpoint(true)
      }
      val sem = HybridRetrieval.sparseCosineTopK(
        if (survivorsOnly) dv.filter(!victim) else dv, qv, k = 50)
      HybridRetrieval.rrfFuse(lex, sem, k = 20)
        .select(col("rank"), col("doc_id")).as[(Long, Long)]
        .collect().toSeq.sortBy(_._1)
    }

    val expected = new AtomicReference(fusedTop20(survivorsOnly = false))
    val rows = phased(spark, minBatches,
      Pause -> { () =>
        takedown(InvertedIndex.deleteVersioned(spark, root,
          d.filter(victim).select(col("doc_id"))))
        expected.set(fusedTop20(survivorsOnly = true))
      },
      "during" -> (() => InvertedIndex.compactVersioned(spark, root))) { ph =>
      val exp = expected.get()
      val (got, lat) = timed(fusedTop20(survivorsOnly = ph != "before"))
      (lat, got == exp)
    }
    // the flip is invisible to the hybrid answer
    require(fusedTop20(survivorsOnly = true) == expected.get(),
      "post-compaction hybrid answer diverged from the masked answer")
    rows
  }

  /** The phase in which the reader runs no batch, so a step can land
    * without a batch straddling it. */
  private[graft] val Pause = "pause"

  /** The phased reader loop of `serve` and `hybrid`. A reader thread runs
    * `batch(phase)` back to back while the main thread moves the phase:
    * "before" until it holds `minBatches` batches, then each of `steps`
    * in order — (the phase the reader sees while the step runs, the step)
    * — then "after" until it holds `minBatches`. A [[Pause]] step first
    * waits for the batch in flight to drain.
    *
    * The loop runs at `spark.graft.gen.keepGens = 0`: no grace
    * generation, a flip retires its predecessor at once, so the READER
    * LEASE alone keeps an in-flight batch's generation on disk. A failed
    * batch or a recall droop here means the lease contract broke.
    *
    * However the steps end, the reader is stopped and joined and
    * `keepGens` is restored; the first error of a step or a batch is
    * rethrown, and a reader still alive after the join fails the loop.
    * Returns (phase, batch index, batch result) per batch. */
  private[graft] def phased[R](spark: SparkSession, minBatches: Int,
                               steps: (String, () => Any)*)(
      batch: String => R): Seq[(String, Int, R)] =
    Harness.withConfs(spark, "spark.graft.gen.keepGens" -> "0") {
      val phase = new AtomicReference("before")
      val stop = new AtomicBoolean(false)
      val busy = new AtomicBoolean(false)
      val out = new ConcurrentLinkedQueue[(String, Int, R)]
      val errors = new ConcurrentLinkedQueue[Throwable]
      val reader = new Thread(() => {
        var i = 0
        try while (!stop.get()) {
          if (phase.get() == Pause) Thread.sleep(10)
          else {
            busy.set(true)
            try {
              // re-read the phase AFTER raising busy, and run the batch
              // only if it is still un-paused: the main thread lands a
              // pause step once it sees busy == false after setting the
              // pause, so a phase read taken BEFORE busy went up can be
              // stale, and its batch would be scored against the wrong
              // expectation. With the re-check, either this read follows
              // the pause (nothing runs), or busy was up before the main
              // thread's drain check (the batch completes first).
              val ph = phase.get()
              if (ph != Pause) {
                out.add((ph, i, batch(ph)))
                i += 1
              }
            } finally busy.set(false)
          }
        } catch { case t: Throwable => errors.add(t) }
      }, "graft-lifecycle-reader")
      reader.setDaemon(true)
      def waitWhile(cond: => Boolean, ms: Long): Unit = while (cond) {
        if (!errors.isEmpty) throw errors.peek()
        Thread.sleep(ms)
      }
      def batches(p: String): Int = out.asScala.count(_._1 == p)
      reader.start()
      try {
        waitWhile(batches("before") < minBatches, 100)
        steps.foreach { case (ph, step) =>
          phase.set(ph)
          if (ph == Pause) waitWhile(busy.get(), 10)
          step()
        }
        phase.set("after")
        waitWhile(batches("after") < minBatches, 100)
      } finally {
        stop.set(true)
        reader.join(600000)
      }
      require(!reader.isAlive, "the reader was still running 600 s after its stop")
      if (!errors.isEmpty) throw errors.peek()
      out.asScala.toSeq
    }

  /** One (frac, stage, budget, Recall@K, search sec) row per (deleted
    * fraction × stage × budget) of [[deletionRows]] under a uniform
    * tranche: vec_id % 100 < 100f, deterministic and shard-uniform under
    * the strided layout. IndexSpec gates it at fixture scale. */
  def deletion(spark: SparkSession, sfDir: String, fractions: Seq[Double],
               budgets: Seq[Int], params: BuildParams, nShards: Int)
      : Seq[(Double, String, Int, Double, Double)] =
    deletionRows(spark, sfDir, fractions, budgets, params, nShards, skew = false)
      .map { case (f, _, st, b, r, _, sec) => (f, st, b, r, sec) }

  /** [[deletionRows]] under a skewed takedown: the tranche lands entirely
    * in one shard — gid ≡ 0 (mod nShards), the stride class a single
    * source or licensing bucket maps to — deleting `hotFrac` of that
    * shard while every sibling stays clean. The global deleted fraction
    * is only hotFrac/nShards, so [[ShardedIndex.deletedFraction]]'s
    * global trigger sleeps through the poisoned shard while
    * [[ShardedIndex.maxShardDeletedFraction]] does not. Each row also
    * reports `recall_hot`: the top-K restricted to hot-shard survivors
    * against the exact hot-shard ranking. Rows: (hotFrac, globalFrac,
    * stage, budget, recall, recallHot, searchSec). */
  def deletionSkew(spark: SparkSession, sfDir: String,
                   hotFractions: Seq[Double], budgets: Seq[Int],
                   params: BuildParams, nShards: Int)
      : Seq[(Double, Double, String, Int, Double, Double, Double)] =
    deletionRows(spark, sfDir, hotFractions, budgets, params, nShards, skew = true)

  /** The deleted-fraction recall sweep for the sharded graph tier: what a
    * growing deleted fraction does to recall at PRODUCTION budgets, which
    * the deletion certificates (all at saturating budgets, where
    * navigability cannot fail) never measure. Marked nodes stay
    * traversable but waste beam slots — hnswlib caps its markDelete
    * fraction for this reason.
    *
    * One base build; per fraction f, a copy of it gets the tranche, then
    * each budget l is searched at three stages of the same corpus:
    *
    *  - `pre_compact`: the tranche tombstoned, its nodes still carrying
    *    their payloads (they route and compete for beam slots; the
    *    per-query anti-join hides them from results);
    *  - `post_compact`: payloads zeroed, erased ids retired into the
    *    per-shard dead sidecars (zeroed stubs still ride beams);
    *  - `fresh_rebuild`: the survivors renumbered dense and rebuilt, the
    *    bound a re-shard would recover.
    *
    * Recall@K is against the exact cosine top-K over the survivors. The
    * post_compact → fresh_rebuild gap is the price of keeping dead routing
    * stubs; [[ShardedIndex.maybeCompact]]'s `maxDeletedFrac` trigger is
    * the knob for it. Rows: (f, global deleted fraction, stage, l, recall,
    * hot-shard recall — NaN unless `skew` —, search sec). */
  private def deletionRows(spark: SparkSession, sfDir: String,
                           fractions: Seq[Double], budgets: Seq[Int],
                           params: BuildParams, nShards: Int, skew: Boolean)
      : Seq[(Double, Double, String, Int, Double, Double, Double)] = {
    val emb = embeddings(spark, sfDir)
    val total = emb.count()
    val queries = queriesOf(emb)
    val base = Fixtures.tempDir("graft_delsweep_base_")
    ShardedIndex.buildPersisted(spark, emb, params, nShards, base)
    val inHot = col("vec_id") % nShards === 0

    fractions.flatMap { fr =>
      val pct = math.round(100 * fr)
      val inTranche =
        if (skew) inHot && expr(s"(vec_id div $nShards) % 100") < pct
        else col("vec_id") % 100 < pct
      val f = fixture(s"delsweep_$pct", Fixtures.copyDir(base, _),
        root => takedown(ShardedIndex.deleteFromIndex(spark, root,
          emb.filter(inTranche).select(col("vec_id").as("gid")))))
      val survivors = emb.filter(!inTranche).localCheckpoint(true)
      val gt = truth(queries, survivors)
      lazy val gtHot = truth(queries, survivors.filter(inHot))

      def rows(stage: String, ref: ShardedIndexRef,
               remap: DataFrame => DataFrame = identity) =
        budgets.map { l =>
          val (hits, searchSec) = timed( // the search stage on its own
            remap(ShardedIndex.searchSingleDf(spark, queries, ref,
              l = l, k = 4 * K)).localCheckpoint(true))
          val recallHot =
            if (skew) recallOf(hits.filter(col("d_id") % nShards === 0), gtHot)
            else Double.NaN
          (fr, f.deleted.toDouble / total, stage, l, recallOf(hits, gt),
            recallHot, searchSec)
        }

      val ref = ShardedIndexRef(f.root, nShards, params.metric)
      val pre = rows("pre_compact", ref)
      val post = rows("post_compact", ShardedIndex.compact(spark, ref, params))
      // fresh-rebuild bound: survivors renumbered dense (the strided
      // contract), searched, mapped back to original gids for recall
      val renum = survivors.withColumn("new_id",
          (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("long"))
        .localCheckpoint(true)
      val freshRef = ShardedIndex.buildPersisted(spark,
        renum.select(col("new_id").as("vec_id"), col("embedding")),
        params, nShards, Fixtures.tempDir(s"graft_delsweep_fresh_${pct}_"))
      val mapping = broadcast(renum.select(col("new_id"), col("vec_id")))
      val fresh = rows("fresh_rebuild", freshRef, hits => hits
        .join(mapping, hits("d_id") === mapping("new_id"))
        .select(col("q_id"), mapping("vec_id").as("d_id"), col("score")))
      ShardedIndex.resetResidencyTracking() // drop cached temp-dir shards
      pre ++ post ++ fresh
    }
  }
}
