package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.index._
import graft.operators.{Rerank, SetSim, TopK}

/** The flagship batch (`BeamSearch.searchMultiDf` + `Rerank.chamferTopK`)
  * pinned three ways: digests of the beam kernels' exact outputs over a
  * parameter grid (with the single-vector and bipartite searches, exact
  * kNN and a driver-side graph build, which share the beam queue), the
  * rerank's rows against the sim-triple formulation it is defined by, and
  * the number of tasks a batch's kernel runs on. */
class FlagshipBatchSpec extends AnyFunSuite {
  import TestSpark._

  // ---------------------------------------------------------------- kernels

  private val Dim = 32

  /** Clustered unit vectors, an exact 8-NN graph plus two seeded random
    * links per node (so every cluster is reachable), and raw query
    * vectors near corpus points. Everything is built in-process, so the
    * digests below depend only on the kernels. */
  private lazy val kernelFixture: (CsrGraph, VectorStore, Array[Array[Float]]) = {
    val raw = ClusteredFixture.df(spark, nClusters = 20, perCluster = 30, dim = Dim)
      .orderBy("vec_id").collect().map(_.getSeq[Float](1).toArray)
    val unit = raw.map(VectorStore.normalized)
    val n = unit.length
    val vecs = new VectorStore(n, Dim, unit.flatten)
    val m = Metrics.Cosine
    val rnd = new Random(11)
    val adj: Array[(Long, Seq[Long])] = Array.tabulate(n) { i =>
      val near = (0 until n).filter(_ != i)
        .map(j => (m.dist(vecs.data, vecs.offset(j), unit(i), 0, Dim), j))
        .sorted.take(8).map(_._2)
      (i.toLong, (near ++ Seq(rnd.nextInt(n), rnd.nextInt(n))).distinct
        .filter(_ != i).map(_.toLong))
    }
    val graph = CsrGraph.fromAdjacency(adj, n, entryPoint = 0)
    val queries = Array.tabulate(64) { s =>
      val v = raw((s * 37) % n)
      v.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat)
    }
    (graph, vecs, queries)
  }

  /** Query set `s` of cardinality `c` (raw vectors). */
  private def querySet(s: Int, c: Int): Array[Array[Float]] = {
    val qs = kernelFixture._3
    Array.tabulate(c)(j => qs((s * 5 + j * 13) % qs.length))
  }

  private def digest(write: DataOutputStream => Unit): String = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    write(out)
    out.flush()
    MessageDigest.getInstance("SHA-256").digest(bytes.toByteArray)
      .take(8).map("%02x".format(_)).mkString
  }

  private def writeBeams(out: DataOutputStream,
                         res: Array[(Array[Int], Array[Float], Int, Int)]): Unit =
    res.foreach { case (ids, ds, cmps, hops) =>
      out.writeInt(ids.length)
      ids.foreach(out.writeInt)
      ds.foreach(d => out.writeInt(java.lang.Float.floatToIntBits(d)))
      out.writeInt(cmps)
      out.writeInt(hops)
    }

  private val Sets = 12

  test("searchMulti output digest over a budget x minPq x maxPq x c x adaptive grid") {
    val (graph, vecs, _) = kernelFixture
    val d = digest { out =>
      for (budget <- Seq(12, 40, 120, 400); minPq <- Seq(3, 10);
           maxPq <- Seq(20, 200, 800); c <- Seq(1, 3, 4);
           adaptive <- Seq(true, false); s <- 0 until Sets) {
        val qs = querySet(s, c).map(VectorStore.normalized)
        val pool = Array.fill(c)(new VisitedSet(graph.n))
        writeBeams(out, BeamSearch.searchMulti(graph, vecs, Metrics.Cosine, qs,
          minPq, maxPq, budget, adaptive, pool))
      }
    }
    assert(d === "9df30b392c192277")
  }

  test("searchMultiShared output digest over a budget x maxPq x c grid") {
    val (graph, vecs, _) = kernelFixture
    val d = digest { out =>
      for (budget <- Seq(12, 40, 120, 400); maxPq <- Seq(20, 200, 800);
           c <- Seq(1, 3, 4); s <- 0 until Sets) {
        val qs = querySet(s, c).map(VectorStore.normalized)
        writeBeams(out, BeamSearch.searchMultiShared(graph, vecs, Metrics.Cosine,
          qs, maxPq, budget, new VisitedSet(graph.n), new VisitedSet(graph.n)))
      }
    }
    assert(d === "5a4b2525caeac342")
  }

  private def writeQueue(out: DataOutputStream, q: BeamQueue): Unit = {
    out.writeInt(q.size)
    (0 until q.size).foreach { i =>
      out.writeInt(q.id(i))
      out.writeInt(java.lang.Float.floatToIntBits(q.dist(i)))
    }
  }

  test("searchSingle beams and scored logs digest over an l grid") {
    val (graph, vecs, queries) = kernelFixture
    val visited = new VisitedSet(graph.n)
    val d = digest { out =>
      for (l <- Seq(1, 5, 20, 80, 600); q <- queries) {
        val scored = new scala.collection.mutable.ArrayBuffer[(Int, Float)]
        val (queue, cmps, hops) = BeamSearch.searchSingle(graph, vecs,
          Metrics.Cosine, VectorStore.normalized(q), l, visited, scored)
        writeQueue(out, queue)
        out.writeInt(cmps); out.writeInt(hops)
        out.writeInt(scored.length)
        scored.foreach { case (id, dist) =>
          out.writeInt(id); out.writeInt(java.lang.Float.floatToIntBits(dist))
        }
      }
    }
    assert(d === "9ea2fcb02556eec4")
  }

  /** The kernel fixture's noisy queries as (q_id, q_vec) rows. */
  private def queriesDf: DataFrame = {
    import spark.implicits._
    kernelFixture._3.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("q_id", "q_vec")
  }

  /** The kernel fixture's corpus as (id, vec) rows under `idName`/`vecName`. */
  private def corpusDf(idName: String, vecName: String, rows: Int): DataFrame =
    ClusteredFixture.df(spark, nClusters = 20, perCluster = 30, dim = Dim)
      .filter(col("vec_id") < rows)
      .select(col("vec_id").as(idName), col("embedding").as(vecName))

  test("GraphBuild.exactKnn digest (queries and self-excluding corpus rows, k grid)") {
    import spark.implicits._
    val (_, vecs, _) = kernelFixture
    val vB = spark.sparkContext.broadcast(vecs)
    val d = try digest { out =>
      for ((train, excludeSelf) <- Seq((queriesDf, false),
             (corpusDf("q_id", "q_vec", 600), true)); k <- Seq(1, 10, 50)) {
        GraphBuild.exactKnn(spark, train, k, vB, "cosine", excludeSelf)
          .as[(Long, Seq[Long])].collect().sortBy(_._1)
          .foreach { case (q, nbrs) =>
            out.writeLong(q); out.writeInt(nbrs.length)
            nbrs.foreach(out.writeLong)
          }
      }
    } finally vB.destroy()
    assert(d === "1e6eee703333ae7c")
  }

  test("searchBipartite digest over the queries' bipartite graph") {
    import spark.implicits._
    val (_, vecs, queries) = kernelFixture
    val nd = vecs.n
    val vB = spark.sparkContext.broadcast(vecs)
    val bip = try {
      val knn = GraphBuild.exactKnn(spark, queriesDf, 8, vB, "cosine",
        excludeSelf = false)
      CsrGraph.collect(GraphBuild.bipartiteAdjacency(knn, nd, 8),
        nd + queries.length, 0)
    } finally vB.destroy()
    val visited = new VisitedSet(bip.n)
    val d = digest { out =>
      for (l <- Seq(1, 5, 20, 80); s <- 0 until 48) {
        val q = VectorStore.normalized(queries((s * 7) % queries.length))
        val (queue, cmps) = BeamSearch.searchBipartite(bip, nd, vecs,
          Metrics.Cosine, q, l, visited, seed = s * 41L)
        writeQueue(out, queue)
        out.writeInt(cmps)
      }
    }
    assert(d === "7b3d05f81e13eba6")
  }

  test("driver-side GraphBuild CSR digest over the kernel fixture") {
    import spark.implicits._
    val base = corpusDf("vec_id", "embedding", 480)
    val offsetQueries = kernelFixture._3.zipWithIndex
      .map { case (v, i) => (100000L + i, v.toSeq) }.toSeq
      .toDF("vec_id", "embedding")
    val params = BuildParams(mSq = 20, mPjbp = 8, lPjpq = 40, metric = "cosine")
    val d = digest { out =>
      for (train <- Seq(base, offsetQueries)) {
        val g = GraphBuild.build(spark, base, train, params).graph // n <= 512: driver-side
        out.writeInt(g.n); out.writeInt(g.entryPoint)
        g.offsets.foreach(out.writeInt)
        g.nbrs.foreach(out.writeInt)
      }
    }
    assert(d === "cdf9af04ace773d3")
  }

  private def querySetsDf(n: Int, c: Int): DataFrame = {
    import spark.implicits._
    (0 until n).flatMap { s =>
      querySet(s, c).zipWithIndex.map { case (v, j) => (s.toLong, j, v.toSeq) }
    }.toDF("qset_id", "q_sub", "q_vec")
  }

  test("searchMultiDf output digest (rows in beam order per subquery)") {
    import spark.implicits._
    val (graph, vecs, _) = kernelFixture
    val gB = spark.sparkContext.broadcast(graph)
    val vB = spark.sparkContext.broadcast(vecs)
    val qdf = querySetsDf(Sets, 4)
    val d = try digest { out =>
      for ((minPq, maxPq, budget, adaptive) <- Seq((10, 200, 120, true),
             (3, 800, 400, true), (10, 200, 120, false), (3, 20, 40, true))) {
        BeamSearch.searchMultiDf(spark, qdf, gB, vB, "cosine", minPq, maxPq,
            budget, adaptive)
          .as[(Long, Int, Long, Double, Int, Int)].collect()
          .sortBy(r => (r._1, r._2, -r._4, r._3))
          .foreach { case (q, sub, id, sim, cmps, hops) =>
            out.writeLong(q); out.writeInt(sub); out.writeLong(id)
            out.writeLong(java.lang.Double.doubleToLongBits(sim))
            out.writeInt(cmps); out.writeInt(hops)
          }
      }
    } finally { gB.destroy(); vB.destroy() }
    assert(d === "36ceeefd66e672fa")
  }

  test("a 64-set searchMultiDf batch runs its kernel on min(64, defaultParallelism) tasks") {
    val (graph, vecs, _) = kernelFixture
    val gB = spark.sparkContext.broadcast(graph)
    val vB = spark.sparkContext.broadcast(vecs)
    val qdf = querySetsDf(64, 4)
    // the tasks that read query rows out of the shuffle are the tasks
    // that run the kernel; the counter's marker jobs are left out
    val markerStages = ConcurrentHashMap.newKeySet[Int]()
    val readers = new AtomicLong
    val rowsRead = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (JobCounter.MarkerDesc ==
            j.properties.getProperty("spark.job.description"))
          j.stageIds.foreach(markerStages.add)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val read = Option(t.taskMetrics).map(_.shuffleReadMetrics.recordsRead)
          .getOrElse(0L)
        if (read > 0 && !markerStages.contains(t.stageId)) {
          readers.incrementAndGet()
          rowsRead.addAndGet(read)
        }
      }
    }
    val counter = new JobCounter(spark)
    spark.sparkContext.addSparkListener(listener)
    val hits = try counter.measure {
      BeamSearch.searchMultiDf(spark, qdf, gB, vB, "cosine", minPq = 10,
        maxPq = 200, budget = 120, adaptive = true).collect()
    }._1 finally {
      spark.sparkContext.removeSparkListener(listener)
      counter.close(); gB.destroy(); vB.destroy()
    }
    assert(hits.map(_.getLong(0)).distinct.length === 64)
    assert(rowsRead.get() === 64 * 4, "every query row is read once")
    assert(readers.get() === math.min(64, spark.sparkContext.defaultParallelism),
      "kernel tasks that received query rows")
  }

  // ----------------------------------------------------------------- rerank

  private val C = 4
  private val K = 4

  /** Rerank fixture: 40 corpus sets of C vectors (sets 30..35 copy set 5,
    * so a query near set 5 sees a seven-way score tie straddling rank K;
    * set 39 lacks member 1). Query sets 0..5 are full noisy sets, 6 is
    * ragged (2 vectors), 7 has gapped sub ids {0, 2, 5}, 8 is set 5
    * itself and 9 has 5 vectors. Candidates repeat ids and include an id
    * outside the corpus. */
  private lazy val rerankFixture: (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new Random(5)
    val dim = 16
    val base = Array.fill(40, C)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    for (s <- 30 to 35) base(s) = base(5)
    val emb = (for (s <- 0 until 40; j <- 0 until C if !(s == 39 && j == 1))
      yield ((s * C + j).toLong, base(s)(j).toSeq)).toDF("vec_id", "embedding")
    def noisy(v: Array[Float]) = v.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq
    val sets: Seq[(Long, Seq[(Int, Seq[Float])])] =
      (0 until 6).map(q => (q.toLong, (0 until C).map(j => (j, noisy(base((q * 3) % 30)(j)))))) ++
        Seq(
          (6L, Seq((0, noisy(base(10)(0))), (1, noisy(base(10)(2))))),
          (7L, Seq((0, noisy(base(12)(0))), (2, noisy(base(12)(1))), (5, noisy(base(12)(3))))),
          (8L, (0 until C).map(j => (j, base(5)(j).toSeq))),
          (9L, (0 until 5).map(j => (j, noisy(base(20)(j % C))))))
    val querySets = sets.flatMap { case (q, vs) => vs.map { case (j, v) => (q, j, v) } }
      .toDF("qset_id", "q_sub", "q_vec")
    val cands = sets.flatMap { case (q, _) =>
      val dsets = (0 until 12).map(i => ((q * 7 + i * 3) % 40).toInt) ++
        (if (q == 8L) 5 +: (30 to 35) else Nil) ++ Seq(5, 39)
      dsets.flatMap(s => (0 until C).map(j => (q, (s * C + j).toLong))) :+ ((q, 40L * C + 1))
    }.toDF("qset_id", "d_id")
    (emb, querySets, cands)
  }

  /** The sim-triple rerank, built from public pieces: every (query set,
    * candidate set) pair expanded to its c_q·c_d cosine cells, scored by
    * `SetSim.smoothChamferAgg`, ranked by `TopK.perGroupAgg`. `cQ = None`
    * is the variable-cardinality form (aggregate at 1, then divide by the
    * query set's own number of distinct sub ids). */
  private def tripleTopK(emb: DataFrame, querySets: DataFrame,
                         cands: DataFrame, cQ: Option[Int]): DataFrame = {
    val candSets = cands.select(col("qset_id"),
      (col("d_id") / C).cast("long").as("dset_id")).distinct()
    val members = emb.select(
      (col("vec_id") / C).cast("long").as("dset_id"),
      (col("vec_id") % C).cast("int").as("d_sub"),
      col("embedding").as("d_vec"))
      .withColumn("d_norm", vecNorm(col("d_vec")))
    val qv = querySets.withColumn("q_norm", vecNorm(col("q_vec")))
    val triples = candSets
      .join(members, Seq("dset_id"))
      .join(broadcast(qv), Seq("qset_id"))
      .select(col("qset_id"), col("dset_id"), col("q_sub"), col("d_sub"),
        (vecDot(col("q_vec"), col("d_vec")) /
          (col("q_norm") * col("d_norm"))).as("sim"))
    val scored = cQ match {
      case Some(n) =>
        SetSim.smoothChamferAgg(triples, n)
          .withColumn("score", round(col("score"), 9))
      case None =>
        val cardQ = querySets.groupBy("qset_id")
          .agg(countDistinct(col("q_sub")).cast("double").as("c_q"))
        SetSim.smoothChamferAgg(triples, 1)
          .join(broadcast(cardQ), Seq("qset_id"))
          .withColumn("score", round(col("score") / col("c_q"), 9))
    }
    TopK.perGroupAgg(scored, Seq(col("qset_id")),
        col("score"), col("dset_id"), K, idName = "dset_id")
      .select(col("qset_id"), col("rank"), col("dset_id"),
        round(col("score"), 6).as("score"))
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(r => (r._1, r._2))

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (rowsOf(got), rowsOf(want))
    assert(w.map(_._1).distinct === (0L to 9L), "every query set answered")
    // set 5 and its six copies tie across rank K for query set 8
    assert(w.filter(_._1 == 8L).map(_._4).distinct.length === 1)
    assert(g.length === w.length)
    g.zip(w).foreach { case (a, b) =>
      assert(a._1 === b._1 && a._2 === b._2 && a._3 === b._3, s"$a vs $b")
      assert(java.lang.Double.doubleToLongBits(a._4) ===
        java.lang.Double.doubleToLongBits(b._4), s"score bits differ: $a vs $b")
    }
  }

  test("chamferTopK (denominator c) equals the sim-triple rerank bit for bit") {
    val (emb, qs, cands) = rerankFixture
    assertSameRows(Rerank.chamferTopK(emb, qs, cands, C, K),
      tripleTopK(emb, qs, cands, Some(C)))
  }

  test("chamferTopK (cQ = 1) equals the sim-triple rerank bit for bit") {
    val (emb, qs, cands) = rerankFixture
    assertSameRows(Rerank.chamferTopK(emb, qs, cands, C, K, cQ = 1),
      tripleTopK(emb, qs, cands, Some(1)))
  }

  test("chamferTopKVarc equals the sim-triple rerank bit for bit") {
    val (emb, qs, cands) = rerankFixture
    assertSameRows(Rerank.chamferTopKVarc(emb, qs, cands, C, K),
      tripleTopK(emb, qs, cands, None))
  }

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` set to `t`. */
  private def withThreshold[T](t: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, t)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The rerank's physical plan as first made, before AQE re-plans it. */
  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  private def shufflesOutsideBroadcasts(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
    case _: BroadcastExchangeExec => Nil
    case sh: ShuffleExchangeExec => sh +: sh.children.flatMap(shufflesOutsideBroadcasts)
    case other => other.children.flatMap(shufflesOutsideBroadcasts)
  }

  private def hashedOn(sh: ShuffleExchangeExec): Seq[String] = sh.outputPartitioning match {
    case HashPartitioning(es, _) => es.flatMap(_.references.map(_.name))
    case _ => Nil
  }

  private def corpusBroadcast(p: SparkPlan): Boolean = p.exists {
    case j: BroadcastHashJoinExec => j.buildSide == BuildRight && j.right.output.exists(_.name == "d_set")
    case _ => false
  }

  test("chamferTopK under the broadcast threshold: the first plan broadcasts the gathered corpus and the top-k has no exchange") {
    val (emb, qs, cands) = rerankFixture
    val p = withThreshold("10MB")(initialPlan(Rerank.chamferTopK(emb, qs, cands, C, K)))
    assert(corpusBroadcast(p), s"gathered corpus is not the broadcast side:\n$p")
    assert(p.collectFirst { case j: SortMergeJoinExec => j }.isEmpty, s"$p")
    // the pairs' qset_id exchange is the only one outside the broadcasts:
    // scoring and top-k run in its partitions
    val sh = shufflesOutsideBroadcasts(p)
    assert(sh.map(hashedOn) === Seq(Seq("qset_id")), s"$p")
  }

  test("chamferTopK with broadcasts off keeps the shuffled member join, with the same rows") {
    val (emb, qs, cands) = rerankFixture
    val (p, rows) = withThreshold("-1") {
      val df = Rerank.chamferTopK(emb, qs, cands, C, K)
      (initialPlan(df), rowsOf(df))
    }
    assert(!corpusBroadcast(p), s"$p")
    assert(p.collectFirst { case j: SortMergeJoinExec => j }.nonEmpty, s"$p")
    // the top-k re-partitions the scored pairs by query set
    assert(shufflesOutsideBroadcasts(p).exists(sh => hashedOn(sh) == Seq("qset_id") &&
      sh.exists(_.isInstanceOf[SortMergeJoinExec])), s"$p")
    val want = withThreshold("10MB")(rowsOf(Rerank.chamferTopK(emb, qs, cands, C, K)))
    assert(rows.map(r => r.copy(_4 = java.lang.Double.doubleToLongBits(r._4))) ===
      want.map(r => r.copy(_4 = java.lang.Double.doubleToLongBits(r._4))))
  }
}
