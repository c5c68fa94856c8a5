package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_sort, col, collect_list, struct, transform}

import graft.functions.GraftFunctions
import graft.operators.Rerank
import graft.plans.{AnnIndexRegistry, AnnStrategy, AnnTopKRule}

/** `mv_sql_interactive`: one query set per SQL statement, routed by
  * `AnnTopKRule` to `MvJoinTopKExec` over the registered RoarGraph tier
  * (set up like `AnnQueries.mvSqlSetup`, registered with
  * `registerMvRoar`). Query cardinality is ragged (1 to 8). Planning,
  * job scheduling and driver collects dominate; the kernel's share is
  * small. */
object MvSqlInteractive {
  val Budget = 120
  val K = 10
  // statement latency keeps falling for the first ~15 statements of a JVM
  val WarmStatements = 12
  val TruthSets = 500
  // the queue bounds registerMvRoar derives from its budget
  val MinPq: Int = math.max(10, Budget / Data.C)
  val MaxPq: Int = math.max(200, Budget * 2)

  val Sql: String =
    s"""SELECT qset_id, dset_id, round(score, 6) AS score FROM (
       |  SELECT q.qset_id, d.dset_id,
       |         graft_chamfer_score(q.vec_set, d.vec_set) AS score,
       |         row_number() OVER (PARTITION BY q.qset_id
       |           ORDER BY graft_chamfer_score(q.vec_set, d.vec_set) DESC,
       |                    d.dset_id ASC) AS rnk
       |  FROM perfbench_queries q CROSS JOIN perfbench_sets d) t
       |WHERE rnk <= $K""".stripMargin

  def run(ctx: Ctx): Result = {
    val g = new GraphCorpus(ctx)
    // statement i asks query set i of one seeded stream
    val card = Data.raggedCard(ctx.seed)
    val pool = Data.querySets(g.world, ctx.seed, 300, g.sets, g.targets, TruthSets, card)
    def statementSet(i: Int): Data.VecSet =
      if (i < pool.length) pool(i)
      else Data.querySets(g.world, ctx.seed, 300L + i, g.sets, g.targets, 1, _ => card(i))(0)
    val truth = Truth.topKAll(pool.toSeq, g.unit, _ => true, K, ctx.nproc)

    val t0 = System.nanoTime()
    val (base, idx) = g.build()
    val buildS = (System.nanoTime() - t0) / 1e9
    val rs = routedSession(ctx.spark)
    val sets = ctx.tracer.span("client.registerMvRoar") {
      val dir = ctx.outDir.resolve(s"sets-${ctx.seed}-${System.nanoTime()}").toString
      base.select((col("vec_id") / Data.C).cast("long").as("dset_id"),
          (col("vec_id") % Data.C).cast("int").as("d_sub"), col("embedding"))
        .groupBy("dset_id")
        .agg(transform(array_sort(collect_list(struct(col("d_sub"), col("embedding")))),
          x => x.getField("embedding")).as("vec_set"))
        .write.parquet(dir)
      val s = rs.read.parquet(dir)
      s.createOrReplaceTempView("perfbench_sets")
      AnnIndexRegistry.registerMvRoar(s, "dset_id", "vec_set",
        rs.sparkContext.broadcast(idx.graph), rs.sparkContext.broadcast(idx.vecs),
        idx.params.metric, Data.C, Data.Dim, budget = Budget)
      s
    }
    val rsImplicits = rs.implicits
    import rsImplicits._

    /** One statement over `qs` (query set ids from 0): answer rows
      * (qset_id, dset_id, score) and whether the plan was routed. */
    def statement(qs: Seq[Data.VecSet]): (Array[(Long, Long, Double)], Boolean) = {
      ctx.tracer.span("client.queryView") {
        qs.zipWithIndex.map { case (q, i) => (i.toLong, q.map(_.toSeq).toSeq) }
          .toDF("qset_id", "vec_set").createOrReplaceTempView("perfbench_queries")
      }
      val df = ctx.tracer.span("plans.sql")(rs.sql(Sql))
      val rows = ctx.tracer.span("spark.collect")(df.collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      (rows, df.queryExecution.executedPlan.toString.contains("MvJoinTopK"))
    }

    /** Checks one statement; returns each query set's answer in rank order. */
    def check(qs: Seq[Data.VecSet], rows: Array[(Long, Long, Double)], routed: Boolean): Map[Long, Seq[Long]] = {
      val bySet = rows.groupBy(_._1).map { case (q, rs) =>
        q -> rs.toSeq.sortBy(r => (-r._3, r._2)) }
      val problems = (if (!routed) Seq("statement was not routed to MvJoinTopKExec") else Nil) ++
        (if (bySet.size != qs.size) Seq(s"${bySet.size} of ${qs.size} query sets answered") else Nil) ++
        bySet.toSeq.flatMap { case (q, rs) =>
          ctx.checks.answerProblems(rs.map(r => (r._2, r._3)), K, g.sets.length, g.exact(qs(q.toInt)))
        }
      ctx.checks.verdict(problems)
      bySet.map { case (q, rs) => q -> rs.map(_._2) }
    }

    val warm = Data.querySets(g.world, ctx.seed, 299, g.sets, g.targets, WarmStatements, card)
    warm.foreach(q => statement(Seq(q)))
    val setupS = (System.nanoTime() - t0) / 1e9
    val heapMb = ctx.heapMb()
    // the first statement after the forced collections ran ~1.5x slower
    // than the next; it goes out untimed
    statement(Seq(warm.head))

    if (ctx.trace) ctx.counters.attach(ctx.spark, rs)
    val split = new CallSplit(ctx)
    var routedTraced = 0
    var candNs, rerankNs = 0L
    var i = 0
    while (split.more(i)) {
      val q = Seq(statementSet(i))
      val traced = split.tracedCall(i)
      ctx.checks.op("mv_sql statement")(split.call(i)(statement(q))).foreach {
        case (rows, routed) =>
          check(q, rows, routed)
          if (traced) {
            if (routed) routedTraced += 1
            val (c, r) = layerCalls(rs, sets, base, q.head)
            candNs += c
            rerankNs += r
          }
      }
      i += 1
    }

    // recall over the whole seeded pool, answered by one routed statement
    // through the same tier and budget (each set is searched and rescored
    // on its own, so batching does not change its answer)
    val poolAnswer = ctx.checks.op("mv_sql recall statement")(
        ctx.tracer.withEnabled(false)(statement(pool.toSeq)))
      .map { case (rows, routed) => check(pool.toSeq, rows, routed) }.getOrElse(Map.empty)
    val recall = Stats.mean(truth.indices.map(q =>
      Truth.recall(poolAnswer.getOrElse(q.toLong, Nil), truth(q))))
    val plain = split.plain
    ctx.callLog = s"untraced: $plain; traced: ${split.traced}"
    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "qsets_per_s" -> (plain.latMs.size / (plain.latMs.sum / 1000), "1/s"),
      "call_p50_ms" -> (plain.p50, "ms"),
      "call_p90_ms" -> (plain.p90, "ms"),
      "recall_at_10" -> (recall, "ratio"),
      "heap_after_setup_mb" -> (heapMb, "MB"))

    if (!ctx.trace) Result(endToEnd, Map.empty)
    else {
      val n = split.traced.latMs.size
      val kernel = Kernel.pass(idx, pool.toSeq, MinPq, MaxPq, Budget)
      val (search, rerank) = (candNs / 1e6 / n, rerankNs / 1e6 / n)
      val perLayer = GraphCorpus.layer(idx, buildS) ++
        Kernel.layer(kernel, K) ++ split.traced.sparkLayer ++ Map(
          "plans.routed_frac" -> (routedTraced.toDouble / n, "ratio"),
          "BeamSearch.search_ms" -> (search, "ms"),
          "Rerank.rerank_ms" -> (rerank, "ms"),
          "Rerank.rerank_frac" -> (rerank / (search + rerank), "ratio")) ++
        split.overhead
      Result(endToEnd, perLayer)
    }
  }

  /** A child session with the ANN rewrite on, the graft SQL functions
    * registered and the routing rule and strategy installed. */
  def routedSession(spark: SparkSession): SparkSession = {
    val rs = spark.newSession()
    rs.conf.set("spark.graft.ann.rewrite", "true")
    GraftFunctions.register(rs)
    val cls = rs.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cls.experimental.extraOptimizations = cls.experimental.extraOptimizations :+ AnnTopKRule
    cls.experimental.extraStrategies = cls.experimental.extraStrategies :+ AnnStrategy
    rs
  }

  /** The route's two layers called directly for one query set, outside
    * the statement: the registered tier's `candidatesBatch` (the beam
    * search) and `Rerank.chamferTopKVarc` over its candidates (the
    * engine's ragged-query rerank). Returns their wall times in ns. */
  private def layerCalls(rs: SparkSession, sets: DataFrame, base: DataFrame,
                         q: Data.VecSet): (Long, Long) = {
    import rs.implicits._
    val entry = AnnIndexRegistry.lookupMvFor("dset_id", "vec_set",
      sets.queryExecution.optimizedPlan).get
    val t0 = System.nanoTime()
    val cands = entry.candidatesBatch(rs, Seq((0L, q)), K).select(col("dset_id")).as[Long].collect()
    val t1 = System.nanoTime()
    Rerank.chamferTopKVarc(base, q.toSeq.zipWithIndex.map { case (v, j) => (0L, j, v.toSeq) }
        .toDF("qset_id", "q_sub", "q_vec"),
      cands.toSeq.map(d => (0L, d * Data.C)).toDF("qset_id", "d_id"), Data.C, K).collect()
    (t1 - t0, System.nanoTime() - t1)
  }
}
