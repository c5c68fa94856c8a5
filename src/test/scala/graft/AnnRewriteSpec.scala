package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.index.{GraphBuild, Metrics, VectorStore}
import graft.plans.{AnnIndexRegistry, AnnStrategy, AnnTopKRule}
import graft.queries.IndexQueries

/** The opt-in ANN auto-routing: ORDER BY graft_vec_dot(...) DESC LIMIT k
  * over a registered corpus plans as AnnTopKExec (the AnnSearch shape),
  * returns exact scores, and recalls >=0.9 of the exhaustive answer.
  * Inert when the conf is off or no index is registered. */
class AnnRewriteSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val setup: Unit = {
    GraftFunctions.register(spark)
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cls.experimental.extraOptimizations.contains(AnnTopKRule)) {
      cls.experimental.extraOptimizations =
        cls.experimental.extraOptimizations :+ AnnTopKRule
      cls.experimental.extraStrategies =
        cls.experimental.extraStrategies :+ AnnStrategy
    }
    val emb = Tables.embeddings(spark, sfDir)
    val idx = GraphBuild.build(spark, emb, emb, IndexQueries.FixtureParams)
    val raw = VectorStore.fromDf(emb, "vec_id", "embedding", Metrics.InnerProduct)
    AnnIndexRegistry.register(emb, "vec_id", "embedding", AnnIndexRegistry.Entry(
      spark.sparkContext.broadcast(idx.graph),
      spark.sparkContext.broadcast(idx.vecs),
      spark.sparkContext.broadcast(raw),
      idx.params.metric, searchL = 80))
    emb.createOrReplaceTempView("ann_corpus")
  }

  private def queryLit: String = {
    val v = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 7)
      .select("embedding").first().getSeq[Float](0)
    v.map(x => s"${x}F").mkString("array(", ", ", ")")
  }

  private val sql =
    (q: String) => s"""SELECT vec_id, graft_vec_dot(embedding, $q) AS score
                      |FROM ann_corpus ORDER BY score DESC LIMIT 10""".stripMargin

  test("rewrite is inert with the conf off") {
    setup
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val plan = spark.sql(sql(queryLit)).queryExecution.executedPlan.toString
    assert(!plan.contains("AnnSearch"))
  }

  test("rewrite routes to AnnSearchExec with exact scores and >=0.9 recall") {
    setup
    val q = queryLit
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(sql(q)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(sql(q))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AnnSearch"), s"not routed:\n$plan")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      // scores are EXACT: every returned id's score matches the
      // exhaustive computation for that id
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift for $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"ANN recall $recall")
      // best-first ordering
      val scores = approx.map(_._2)
      assert(scores.toSeq === scores.sortBy(-_).toSeq)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("l2 route: ORDER BY graft_vec_l2sq ASC routes via an l2-metric index") {
    setup
    // a SECOND index over the same corpus, built on the l2 metric: the
    // registry keys routes by metric kind, so dot-DESC and l2-ASC
    // coexist and each query reaches the index whose geometry matches
    val emb = Tables.embeddings(spark, sfDir)
    val l2Idx = GraphBuild.build(spark, emb, emb,
      IndexQueries.FixtureParams.copy(metric = "l2"))
    val raw = VectorStore.fromDf(emb, "vec_id", "embedding", Metrics.InnerProduct)
    AnnIndexRegistry.register(emb, "vec_id", "embedding", AnnIndexRegistry.Entry(
      spark.sparkContext.broadcast(l2Idx.graph),
      spark.sparkContext.broadcast(l2Idx.vecs),
      spark.sparkContext.broadcast(raw),
      "l2", searchL = 80))
    val q = queryLit
    val l2Sql = s"""SELECT vec_id, graft_vec_l2sq(embedding, $q) AS score
                   |FROM ann_corpus ORDER BY score ASC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(l2Sql).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(l2Sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AnnSearch"), s"l2 query not routed:\n$plan")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift for $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"L2 ANN recall $recall")
      assert(approx.map(_._2).toSeq === approx.map(_._2).sorted.toSeq)
      // farthest-point shapes are NOT index-answerable: dot ASC and
      // l2 DESC both stay exhaustive
      val dotAsc = spark.sql(
        s"""SELECT vec_id, graft_vec_dot(embedding, $q) AS score
           |FROM ann_corpus ORDER BY score ASC LIMIT 10""".stripMargin)
      assert(!dotAsc.queryExecution.executedPlan.toString.contains("AnnSearch"))
      val l2Desc = spark.sql(
        s"""SELECT vec_id, graft_vec_l2sq(embedding, $q) AS score
           |FROM ann_corpus ORDER BY score DESC LIMIT 10""".stripMargin)
      assert(!l2Desc.queryExecution.executedPlan.toString.contains("AnnSearch"))
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("NULL-element query literal: not routed, fails at eval like the exhaustive plan") {
    setup
    // array(1.0F, NULL, ...) folds to a literal with a null element; the
    // rule must bail to the exhaustive plan (which throws at eval) —
    // never NPE inside the optimizer and kill query compilation
    val dims = Tables.embeddings(spark, sfDir)
      .select(size(col("embedding"))).first().getInt(0)
    val nullQ = ("array(CAST(NULL AS FLOAT)" +
      ", 1.0F" * (dims - 1)) + ")"
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(sql(nullQ))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("AnnSearch"),
        s"null-element literal was routed:\n$plan")
      // VecDotExpr is null-intolerant: the whole expression is NULL,
      // ordering puts nulls last — the exhaustive plan still answers
      assert(df.collect().length === 10)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  private def filteredSql(q: String, pred: String, k: Int = 10): String =
    s"""SELECT vec_id, graft_vec_dot(embedding, $q) AS score
       |FROM ann_corpus WHERE $pred
       |ORDER BY score DESC LIMIT $k""".stripMargin

  test("filtered query routes to AnnFilteredTopK; predicate still applies") {
    setup
    val q = queryLit
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(filteredSql(q, "vec_id >= 100"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AnnFilteredTopK"),
        s"filtered query did not route:\n$plan")
      val rows = df.collect()
      assert(rows.length === 10)
      rows.foreach(r => assert(r.getLong(0) >= 100))
      // scores are the query's own expression — spot-check one row
      val (id0, s0) = (rows(0).getLong(0), rows(0).getDouble(1))
      val check = spark.sql(
        s"SELECT graft_vec_dot(embedding, $q) FROM ann_corpus WHERE vec_id = $id0")
        .first().getDouble(0)
      assert(s0 === check)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("filtered routing is OFF-switchable (spark.graft.ann.filtered=false)") {
    setup
    spark.conf.set("spark.graft.ann.rewrite", "true")
    spark.conf.set("spark.graft.ann.filtered", "false")
    try {
      val df = spark.sql(filteredSql(queryLit, "vec_id >= 100"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("AnnFilteredTopK") && !plan.contains("AnnSearch"),
        s"filtered query routed with the switch off:\n$plan")
      df.collect().foreach(r => assert(r.getLong(0) >= 100))
    } finally {
      spark.conf.unset("spark.graft.ann.filtered")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("filtered route: nondeterministic predicate never routes") {
    setup
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(filteredSql(queryLit, "rand() < 2.0"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("AnnFilteredTopK"),
        s"nondeterministic predicate was routed:\n$plan")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("filtered route: selective predicate escalates to saturation = exact") {
    setup
    val q = queryLit
    // only ~n/50 rows match and fewer than k=20 do below id 500: the
    // first fetch cannot find 20 survivors, escalation must run to the
    // saturating beam, and the answer then EQUALS the exhaustive plan's
    val pred = "vec_id % 50 = 3 AND vec_id < 500"
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(filteredSql(q, pred, k = 20)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    // pin the pre-filter short-circuit OFF: this test exercises the
    // ESCALATION mechanic specifically (the short-circuit would answer
    // this selective predicate without ever searching)
    spark.conf.set("spark.graft.ann.filtered.preFilterMax", "0")
    try {
      val df = spark.sql(filteredSql(q, pred, k = 20))
      assert(df.queryExecution.executedPlan.toString
        .contains("AnnFilteredTopK"))
      val routed = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(routed.toSeq === exact.toSeq,
        "saturated filtered route must equal the exhaustive plan")
      val ex = df.queryExecution.executedPlan.collectFirst {
        case e: graft.plans.AnnTopKExec => e
      }.get
      assert(ex.metrics("numRounds").value >= 1L,
        "short-circuit fired despite preFilterMax=0")
    } finally {
      spark.conf.unset("spark.graft.ann.filtered.preFilterMax")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("filtered route: selective predicate short-circuits to the exact pre-filter scan") {
    setup
    val q = queryLit
    // 10 matching rows < preFilterMax (2k=40): the probe detects the
    // selective predicate and the exec scores the survivors directly —
    // zero beam searches, zero candidate fetches, EXACT answer
    val pred = "vec_id % 50 = 3 AND vec_id < 500"
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(filteredSql(q, pred, k = 20)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(filteredSql(q, pred, k = 20))
      assert(df.queryExecution.executedPlan.toString
        .contains("AnnFilteredTopK"))
      val routed = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(routed.toSeq === exact.toSeq,
        "pre-filter short-circuit must equal the exhaustive plan")
      val ex = df.queryExecution.executedPlan.collectFirst {
        case e: graft.plans.AnnTopKExec => e
      }.get
      assert(ex.metrics("numRounds").value === 0L, "escalation ran")
      assert(ex.metrics("numCandidates").value === 0L, "tier was searched")
      assert(ex.metrics("numPreFilterRows").value === 10L)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("filtered route: exact mode equals the exhaustive plan on a permissive predicate") {
    setup
    val q = queryLit
    val pred = "vec_id % 7 = 3"
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(filteredSql(q, pred)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    spark.conf.set("spark.graft.ann.filtered.exact", "true")
    try {
      val routed = spark.sql(filteredSql(q, pred)).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(routed.toSeq === exact.toSeq)
    } finally {
      spark.conf.unset("spark.graft.ann.filtered.exact")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("filtered route: default overfetch recalls >=0.9 of the exhaustive filtered top-k") {
    setup
    val q = queryLit
    val pred = "vec_id % 2 = 1"
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(filteredSql(q, pred)).collect().map(_.getLong(0)).toSet
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val routed = spark.sql(filteredSql(q, pred)).collect().map(_.getLong(0)).toSet
      val recall = (routed & exact).size.toDouble / exact.size
      assert(recall >= 0.9, s"filtered recall $recall < 0.9")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("wrong-dim query literal is NOT routed (fails like the exhaustive plan)") {
    setup
    // 3-dim literal against the 64-dim corpus: the exhaustive VecDotExpr
    // throws on dimension mismatch, so the index path must never instead
    // return truncated-dot scores — the rewrite bails out and the query
    // fails identically on both routes
    val shortQ = "array(1.0F, 2.0F, 3.0F)"
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(sql(shortQ))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("AnnSearch"), s"wrong-dim query was routed:\n$plan")
      val e = intercept[Exception](df.collect())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("dimension mismatch")), s"$e")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  // --- IVF-PQ tier routing: a corpus with NO graph index registered ---
  // Distinct column names (vid, vec) keep these registrations disjoint
  // from the graph entries over (vec_id, embedding): the registry keys by
  // column names and the rule proves the scan fingerprint, so neither
  // tier can leak across the two corpora.
  private lazy val ivfpqSetup: String = {
    setup
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    val dir = "target/tmp/ann_ivfpq_corpus"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("vid"), col("embedding").as("vec"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("ivfpq_corpus")
    val d = corpus.select(col("vid").as("d_id"), col("vec").as("d_vec"))
    val sample = IvfAnn.collectSample(d, 2000, 42L)
    val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
    val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)
    val idxPath = "target/tmp/ann_ivfpq_index"
    IvfPq.writeIndex(spark, d, idxPath, centroids, cbs)
    // knobs sized for EXACT top-10 on the 500-row fixture (the spec
    // asserts hash-equality with the exhaustive plan); at corpus scale
    // the recall-vs-knobs trade is governed by knn_ivfpq's own gates
    AnnIndexRegistry.registerIvfPq(corpus, "vid", "vec",
      AnnIndexRegistry.IvfPqEntry(idxPath, corpus, "vid", "vec",
        centroids, cbs, "l2", nProbe = 12, nCand = 250))
    AnnIndexRegistry.registerIvfPq(corpus, "vid", "vec",
      AnnIndexRegistry.IvfPqEntry(idxPath, corpus, "vid", "vec",
        centroids, cbs, "ip", nProbe = 12, nCand = 250))
    corpus.filter(col("vid") === 7).select("vec").first().getSeq[Float](0)
      .map(x => s"${x}F").mkString("array(", ", ", ")")
  }

  private def routedTier(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case n: graft.plans.AnnTopKNode => n.tier
    }

  test("IVF-PQ tier: l2 query routes when no graph matches, hash-equals exhaustive") {
    val q = ivfpqSetup
    val l2Sql = s"""SELECT vid, graft_vec_l2sq(vec, $q) AS score
                   |FROM ivfpq_corpus ORDER BY score ASC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(l2Sql).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(x => (x._2, x._1))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(l2Sql)
      assert(routedTier(df) === Seq("ivfpq"), "not routed to the ivfpq tier")
      val approx = df.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(x => (x._2, x._1))
      // hash-equality with the exhaustive plan: same ids, same EXACT
      // scores (the rescoring runs the query's own expression)
      assert(approx.toSeq === exact.toSeq,
        s"ivfpq route diverged:\n  approx=${approx.mkString(",")}\n  exact=${exact.mkString(",")}")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("filtered route over a candidate tier: predicate + escalation through IVF-PQ") {
    val q = ivfpqSetup
    val pred = "vid % 3 = 0"
    val fSql = s"""SELECT vid, graft_vec_l2sq(vec, $q) AS score
                  |FROM ivfpq_corpus WHERE $pred
                  |ORDER BY score ASC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(fSql).collect().map(_.getLong(0)).toSet
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(fSql)
      val tiers = df.queryExecution.optimizedPlan.collect {
        case n: graft.plans.AnnTopKNode => n.tier
      }
      assert(tiers === Seq("ivfpq"), "filtered query not on the ivfpq tier")
      val rows = df.collect()
      rows.foreach(r => assert(r.getLong(0) % 3 === 0, "predicate leaked"))
      val recall = (rows.map(_.getLong(0)).toSet & exact).size.toDouble /
        exact.size
      assert(recall >= 0.9, s"filtered ivfpq recall $recall < 0.9")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  // A STARVED generator registration (nProbe=1 of 16 cells): its
  // reachability exhaustion is probe-parameter exhaustion, NOT corpus
  // saturation — exactly the gap the exact-mode and <k-survivors
  // backstops cover. Distinct column names keep it disjoint.
  private lazy val starvedSetup: String = {
    setup
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    val dir = "target/tmp/ann_ivfpq_starved"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("svid"), col("embedding").as("svec"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("starved_corpus")
    val d = corpus.select(col("svid").as("d_id"), col("svec").as("d_vec"))
    val sample = IvfAnn.collectSample(d, 2000, 42L)
    val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
    val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)
    val idxPath = "target/tmp/ann_ivfpq_starved_index"
    IvfPq.writeIndex(spark, d, idxPath, centroids, cbs)
    AnnIndexRegistry.registerIvfPq(corpus, "svid", "svec",
      AnnIndexRegistry.IvfPqEntry(idxPath, corpus, "svid", "svec",
        centroids, cbs, "l2", nProbe = 1, nCand = 10))
    corpus.filter(col("svid") === 7).select("svec").first().getSeq[Float](0)
      .map(x => s"${x}F").mkString("array(", ", ", ")")
  }

  test("filtered route: generator-tier exact mode scores the full filtered scan") {
    val q = starvedSetup
    val pred = "svid % 3 = 0"
    val fSql = s"""SELECT svid, graft_vec_l2sq(svec, $q) AS score
                  |FROM starved_corpus WHERE $pred
                  |ORDER BY score ASC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(fSql).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    spark.conf.set("spark.graft.ann.rewrite", "true")
    spark.conf.set("spark.graft.ann.filtered.exact", "true")
    spark.conf.set("spark.graft.ann.filtered.preFilterMax", "0")
    try {
      val df = spark.sql(fSql)
      assert(df.queryExecution.optimizedPlan.collect {
        case n: graft.plans.AnnTopKNode => n.tier
      } === Seq("ivfpq"))
      // a 1-of-16-cell probe "saturates" at a fraction of the corpus;
      // exact mode must NOT trust it — the answer must still equal the
      // exhaustive plan's, ids AND scores
      assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        === exact, "generator-tier exact mode diverged from exhaustive")
    } finally {
      spark.conf.unset("spark.graft.ann.filtered.exact")
      spark.conf.unset("spark.graft.ann.filtered.preFilterMax")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("filtered route: starved generator with <k survivors falls back to the exhaustive answer") {
    val q = starvedSetup
    // selective predicate × 1-cell probe: escalation cannot reach k=20
    // survivors (the probe never leaves its cell), so without the
    // fallback the route under-returns rows the exhaustive plan finds
    val pred = "svid % 7 = 0"
    val fSql = s"""SELECT svid, graft_vec_l2sq(svec, $q) AS score
                  |FROM starved_corpus WHERE $pred
                  |ORDER BY score ASC LIMIT 20""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(fSql).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(exact.length === 20)
    spark.conf.set("spark.graft.ann.rewrite", "true")
    spark.conf.set("spark.graft.ann.filtered.preFilterMax", "0")
    try {
      val df = spark.sql(fSql)
      assert(df.queryExecution.optimizedPlan.collect {
        case n: graft.plans.AnnTopKNode => n.tier
      } === Seq("ivfpq"))
      assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        === exact, "fallback did not recover the exhaustive answer")
      val exec = df.queryExecution.executedPlan.collect {
        case e: graft.plans.AnnTopKExec => e
      }.head
      assert(exec.metrics("numExhaustiveFallback").value === 1L,
        "exhaustive fallback did not fire")
    } finally {
      spark.conf.unset("spark.graft.ann.filtered.preFilterMax")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("sharded tier: delta-grown corpus is served with a grown budget, no re-registration") {
    setup
    import graft.index.{BudgetPolicy, ShardedIndex}
    // corpus v1 = 100 rows on ONE shard; the delta (400 rows) is 4× the
    // base — per-shard size grows 100 → 250, so the budget policy must
    // scale the registered beam budget, and discovery must serve the
    // delta rows, all WITHOUT re-registering the tier
    val dir = "target/tmp/ann_sharded_grow_corpus"
    val idxPath = "target/tmp/ann_sharded_grow_index"
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("gvid"), col("embedding").as("gvec"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("grow_corpus")
    val ref = ShardedIndex.buildPersisted(spark,
      emb.filter(col("vec_id") < 100).select(col("vec_id"),
        col("embedding")), IndexQueries.FixtureParams, nShards = 1, idxPath)
    AnnIndexRegistry.registerSharded(corpus, "gvid", "gvec", ref,
      dim = 64, metricName = "cosine", searchL = 40,
      refresh = () => spark.read.parquet(dir))
    def topIdFor(vid: Long): Long = {
      val q = emb.filter(col("vec_id") === vid)
        .select("embedding").first().getSeq[Float](0)
        .map(x => s"${x}F").mkString("array(", ", ", ")")
      val df = spark.sql(
        s"""SELECT gvid, graft_vec_cosine(gvec, $q) AS score
           |FROM grow_corpus ORDER BY score DESC LIMIT 5""".stripMargin)
      assert(df.queryExecution.optimizedPlan.collect {
        case n: graft.plans.AnnTopKNode => n.tier
      } === Seq("sharded"), "not routed to the sharded tier")
      df.collect().head.getLong(0)
    }
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      assert(topIdFor(7L) === 7L) // baseline: v1 id answers (self top-1)
      assert(BudgetPolicy.lastAppliedL === 40,
        "ungrown index must keep the registered budget")
      // grow: corpus files + index delta; the REGISTRATION is untouched
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 500)
        .select(col("vec_id").as("gvid"), col("embedding").as("gvec"))
        .write.mode("append").parquet(dir)
      ShardedIndex.appendDelta(spark,
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 500)
          .select(col("vec_id"), col("embedding")),
        ref, IndexQueries.FixtureParams) // returned ref DISCARDED
      // a delta-only row answers: discovery found delta0 on disk and
      // the refreshed corpus read rescored it
      assert(topIdFor(450L) === 450L,
        "delta-ingested row unreachable without re-registration")
      // and the budget grew with per-shard size: 250/100 × 40 = 100
      assert(BudgetPolicy.lastAppliedL === 100,
        s"budget did not scale (got ${BudgetPolicy.lastAppliedL})")
      // flat policy restores the registration-time budget
      spark.conf.set("spark.graft.ann.budget.policy", "flat")
      topIdFor(7L)
      assert(BudgetPolicy.lastAppliedL === 40)
    } finally {
      spark.conf.unset("spark.graft.ann.budget.policy")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("filtered route on the sharded tier, deletion-masked: the past-the-ceiling filtered shape") {
    setup
    import graft.index.ShardedIndex
    // the composition a 100 TB deployment actually runs: a metadata
    // predicate + similarity top-k, candidates from the SHARDED tier
    // (the corpus outgrew the broadcast graph), against an index with
    // live takedowns — all through ONE SQL statement
    val dir = "target/tmp/ann_sharded_filtered_corpus"
    val idxPath = "target/tmp/ann_sharded_filtered_index"
    val emb = Tables.embeddings(spark, sfDir)
    emb.select(col("vec_id").as("fvid"), col("embedding").as("fvec"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("filtered_sharded_corpus")
    val ref = ShardedIndex.buildPersisted(spark,
      emb.select(col("vec_id"), col("embedding")),
      IndexQueries.FixtureParams, nShards = 2, idxPath)
    AnnIndexRegistry.registerSharded(corpus, "fvid", "fvec", ref,
      dim = 64, metricName = "cosine", searchL = 60)
    val q = queryLit
    def fsql(pred: String, k: Int) =
      s"""SELECT fvid, graft_vec_cosine(fvec, $q) AS score
         |FROM filtered_sharded_corpus WHERE $pred
         |ORDER BY score DESC LIMIT $k""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exhaustive = spark.sql(fsql("fvid % 3 = 0", 12)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // victims = the exhaustive filtered top-2: the mask MUST matter
    val victims = exhaustive.take(2).map(_._1).toSeq
    assert(ShardedIndex.deleteFromIndex(spark, idxPath, victims) === 2L)
    val truth = exhaustive.filterNot(r => victims.contains(r._1)).take(10)
    spark.conf.set("spark.graft.ann.rewrite", "true")
    spark.conf.set("spark.graft.ann.tier", "sharded")
    spark.conf.set("spark.graft.ann.filtered.preFilterMax", "0") // no short-circuit
    try {
      val df = spark.sql(fsql("fvid % 3 = 0", 10))
      assert(df.queryExecution.optimizedPlan.collect {
        case n: graft.plans.AnnTopKNode => n.tier
      } === Seq("sharded"), "filtered query not routed to the sharded tier")
      val loads0 = ShardedIndex.shardLoadCount
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(ShardedIndex.shardLoadCount > loads0,
        "sharded tier never loaded a shard — candidates came from elsewhere")
      assert(approx.length === 10)
      // the takedown holds through the whole composition
      assert(!approx.exists(r => victims.contains(r._1)),
        "deleted ids surfaced through the filtered route")
      // scores exact (the route rescores with the query's own expression)
      val truthById = truth.toMap
      approx.foreach { case (id, s) =>
        truthById.get(id).foreach(es => assert(es === s, s"score drift for $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(truth.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"filtered+sharded+deleted recall $recall")
    } finally {
      spark.conf.set("spark.graft.ann.rewrite", "false")
      spark.conf.unset("spark.graft.ann.tier")
      spark.conf.unset("spark.graft.ann.filtered.preFilterMax")
    }
  }

  test("ivfpq tier: append-grown index is served with a grown fetch, no re-registration") {
    setup
    import graft.index.BudgetPolicy
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    // corpus v1 = 100 rows; the append (400 rows) grows every cell 5×
    // at the build-time nlist, so the budget policy must scale the
    // registered ADC fetch, and the refreshed corpus read must rescore
    // the delta rows, all WITHOUT re-registering the tier
    val dir = "target/tmp/ann_ivfpq_grow_corpus"
    val idxPath = "target/tmp/ann_ivfpq_grow_index"
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("pvid"), col("embedding").as("pvec"))
      .write.mode("overwrite").parquet(dir)
    // a stale overwrite from a previous run would make the delta append
    // double-count: rebuild the index dir from scratch
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idxPath), true)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("ivfpq_grow_corpus")
    val d0 = corpus.select(col("pvid").as("d_id"), col("pvec").as("d_vec"))
    val sample = IvfAnn.collectSample(d0, 100, 42L)
    val centroids = IvfAnn.trainCentroids(sample, 4, seed = 42L)
    val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 16, seed = 42L)
    IvfPq.writeIndex(spark, d0, idxPath, centroids, cbs)
    AnnIndexRegistry.registerIvfPq(corpus, "pvid", "pvec",
      AnnIndexRegistry.IvfPqEntry(idxPath, corpus, "pvid", "pvec",
        centroids, cbs, "l2", nProbe = 4, nCand = 50),
      refresh = () => spark.read.parquet(dir))
    def topIdFor(vid: Long): Long = {
      val q = emb.filter(col("vec_id") === vid)
        .select("embedding").first().getSeq[Float](0)
        .map(x => s"${x}F").mkString("array(", ", ", ")")
      val df = spark.sql(
        s"""SELECT pvid, graft_vec_l2sq(pvec, $q) AS score
           |FROM ivfpq_grow_corpus ORDER BY score ASC LIMIT 5""".stripMargin)
      assert(df.queryExecution.optimizedPlan.collect {
        case n: graft.plans.AnnTopKNode => n.tier
      } === Seq("ivfpq"), "not routed to the ivfpq tier")
      df.collect().head.getLong(0)
    }
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      assert(topIdFor(7L) === 7L) // baseline: v1 id answers (self top-1)
      assert(BudgetPolicy.lastAppliedL === 50,
        "ungrown index must keep the registered fetch")
      // grow: corpus files + index append against the BUILD-TIME
      // quantizers; the registration is untouched
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 500)
        .select(col("vec_id").as("pvid"), col("embedding").as("pvec"))
        .write.mode("append").parquet(dir)
      IvfPq.appendIndex(spark,
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 500)
          .select(col("vec_id").as("d_id"), col("embedding").as("d_vec")),
        idxPath, centroids, cbs)
      // a delta-only row answers: footer counts saw the growth and the
      // refreshed corpus read rescored it
      assert(topIdFor(450L) === 450L,
        "append-ingested row unreachable without re-registration")
      // and the fetch grew with the index: 500/100 × 50 = 250
      assert(BudgetPolicy.lastAppliedL === 250,
        s"fetch did not scale (got ${BudgetPolicy.lastAppliedL})")
      // flat policy restores the registration-time fetch
      spark.conf.set("spark.graft.ann.budget.policy", "flat")
      topIdFor(7L)
      assert(BudgetPolicy.lastAppliedL === 50)
    } finally {
      spark.conf.unset("spark.graft.ann.budget.policy")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("sq8 tier: append-grown index is served with a grown window, no re-registration") {
    setup
    import graft.index.BudgetPolicy
    import graft.operators.Sq8Ann
    // same contract as the ivfpq/sharded growth tests, for the
    // full-scan byte tier: a path-backed registration re-reads the
    // codes layout per query, so Sq8Ann.appendIndex rows serve without
    // re-registration, and the candidate window scales with the
    // footer-counted growth
    val dir = "target/tmp/ann_sq8_grow_corpus"
    val idxPath = "target/tmp/ann_sq8_grow_index"
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("gvid8"), col("embedding").as("gvec8"))
      .write.mode("overwrite").parquet(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idxPath), true)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("sq8_grow_corpus")
    val d0 = corpus.select(col("gvid8").as("d_id"), col("gvec8").as("d_vec"))
    val bounds = Sq8Ann.writeIndex(d0, idxPath)
    AnnIndexRegistry.registerSq8(corpus, "gvid8", "gvec8",
      encoded = null, bounds = bounds, metricName = "cosine", nCand = 50,
      indexPath = idxPath, refresh = () => spark.read.parquet(dir))
    def topIdFor(vid: Long): Long = {
      val q = emb.filter(col("vec_id") === vid)
        .select("embedding").first().getSeq[Float](0)
        .map(x => s"${x}F").mkString("array(", ", ", ")")
      val df = spark.sql(
        s"""SELECT gvid8, graft_vec_cosine(gvec8, $q) AS score
           |FROM sq8_grow_corpus ORDER BY score DESC LIMIT 5""".stripMargin)
      assert(df.queryExecution.optimizedPlan.collect {
        case n: graft.plans.AnnTopKNode => n.tier
      } === Seq("sq8"), "not routed to the sq8 tier")
      df.collect().head.getLong(0)
    }
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      assert(topIdFor(7L) === 7L) // baseline: v1 id answers (self top-1)
      assert(BudgetPolicy.lastAppliedL === 50,
        "ungrown index must keep the registered window")
      // grow: corpus files + codes appended under the FROZEN bounds
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 500)
        .select(col("vec_id").as("gvid8"), col("embedding").as("gvec8"))
        .write.mode("append").parquet(dir)
      Sq8Ann.appendIndex(spark, idxPath,
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 500)
          .select(col("vec_id").as("d_id"), col("embedding").as("d_vec")))
      // a delta-only row answers: the per-query codes read saw the
      // appended files and the refreshed corpus read rescored it
      assert(topIdFor(450L) === 450L,
        "append-ingested row unreachable without re-registration")
      // and the window grew with the index: 500/100 × 50 = 250
      assert(BudgetPolicy.lastAppliedL === 250,
        s"window did not scale (got ${BudgetPolicy.lastAppliedL})")
      // flat policy restores the registration-time window
      spark.conf.set("spark.graft.ann.budget.policy", "flat")
      topIdFor(7L)
      assert(BudgetPolicy.lastAppliedL === 50)
    } finally {
      spark.conf.unset("spark.graft.ann.budget.policy")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("mv_sharded tier: delta-grown set corpus is served with a grown budget, no re-registration") {
    setup
    import graft.index.{BudgetPolicy, ShardedIndex}
    // the FLAGSHIP's growth contract: sets ingested after registration
    // (corpus file append + index delta, ids following the dset·C+sub
    // convention) answer the same chamfer SQL, with the adaptive
    // budget scaled by per-shard growth
    val C = 4
    val e = Tables.embeddings(spark, sfDir)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    def setsOf(filter: org.apache.spark.sql.Column) =
      e.filter(filter)
        .select((col("vec_id") / C).cast("long").as("mgid"),
          (col("vec_id") % C).cast("int").as("m_sub"), col("embedding"))
        .groupBy("mgid")
        .agg(transform(
          array_sort(collect_list(struct(col("m_sub"), col("embedding")))),
          x => x.getField("embedding")).as("mgset"))
    val dir = "target/tmp/ann_mv_grow_corpus"
    val idxPath = "target/tmp/ann_mv_grow_index"
    setsOf(col("vec_id") < 100).write.mode("overwrite").parquet(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idxPath), true)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("mv_grow_sets")
    val ref = ShardedIndex.buildPersisted(spark,
      e.filter(col("vec_id") < 100).select(col("vec_id"), col("embedding")),
      IndexQueries.FixtureParams, nShards = 1, idxPath)
    AnnIndexRegistry.registerMvSharded(corpus, "mgid", "mgset", ref,
      C, dim, budget = 60, name = "mv_sharded_grow",
      refresh = () => spark.read.parquet(dir))
    def topSetFor(dset: Long): Long = {
      val qLit = e.filter(col("vec_id") >= dset * C &&
          col("vec_id") < (dset + 1) * C)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).map(x => s"${x}F")
          .mkString("array(", ", ", ")"))
        .mkString("array(", ", ", ")")
      val df = spark.sql(
        s"""SELECT mgid, graft_chamfer_score($qLit, mgset) AS score
           |FROM mv_grow_sets ORDER BY score DESC LIMIT 5""".stripMargin)
      assert(routedTier(df) === Seq("mv_sharded_grow"),
        "not routed to the grown mv_sharded tier")
      df.collect().head.getLong(0)
    }
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      assert(topSetFor(1L) === 1L) // baseline: v1 set answers (self top)
      assert(BudgetPolicy.lastAppliedL === 60,
        "ungrown index must keep the registered budget")
      // grow: set corpus file + index delta; registration untouched
      setsOf(col("vec_id") >= 100 && col("vec_id") < 500)
        .write.mode("append").parquet(dir)
      ShardedIndex.appendDelta(spark,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 500)
          .select(col("vec_id"), col("embedding")),
        ref, IndexQueries.FixtureParams) // returned ref DISCARDED
      // a delta-only SET answers: discovery + refreshed set rescore
      assert(topSetFor(100L) === 100L,
        "delta-ingested set unreachable without re-registration")
      // budget grew with per-shard size (the delta dir counts as a
      // shard): 500 rows / 2 dirs = 250 per shard; 250/100 × 60 = 150
      assert(BudgetPolicy.lastAppliedL === 150,
        s"budget did not scale (got ${BudgetPolicy.lastAppliedL})")
      spark.conf.set("spark.graft.ann.budget.policy", "flat")
      topSetFor(1L)
      assert(BudgetPolicy.lastAppliedL === 60)
    } finally {
      spark.conf.unset("spark.graft.ann.budget.policy")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("IVF-PQ tier: dot query routes via the ip entry with exact scores") {
    val q = ivfpqSetup
    val dotSql = s"""SELECT vid, graft_vec_dot(vec, $q) AS score
                    |FROM ivfpq_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(dotSql).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(dotSql)
      assert(routedTier(df) === Seq("ivfpq"), "dot query not routed to ivfpq")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      // scores EXACT for every returned id; candidate recall gated like
      // the graph tier (the coarse probe is cosine geometry, so dot
      // ordering on this unnormalized fixture may drop a tail id)
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift for $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"ivfpq dot recall $recall")
      val scores = approx.map(_._2)
      assert(scores.toSeq === scores.sortBy(-_).toSeq)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("graph tier takes precedence over an IVF-PQ entry on the same corpus") {
    ivfpqSetup
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    // register an ivfpq entry on the GRAPH corpus (vec_id, embedding):
    // with both tiers matching, the broadcast graph must answer — it is
    // the one-task path; ivfpq is the fallback past the broadcast ceiling
    val emb = Tables.embeddings(spark, sfDir)
    val d = emb.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val sample = IvfAnn.collectSample(d, 2000, 42L)
    val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
    val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)
    val idxPath = "target/tmp/ann_ivfpq_index_emb"
    IvfPq.writeIndex(spark, d, idxPath, centroids, cbs)
    AnnIndexRegistry.registerIvfPq(emb, "vec_id", "embedding",
      AnnIndexRegistry.IvfPqEntry(idxPath, emb, "vec_id", "embedding",
        centroids, cbs, "ip", nProbe = 12, nCand = 250))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(sql(queryLit))
      assert(routedTier(df) === Seq("graph"))
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("broadcast ceiling: past ann.broadcastMaxBytes the chooser falls to the candidate tier") {
    setup
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    // graph + ivfpq both registered over the SAME corpus (as in the
    // precedence test): the ceiling conf is what flips the choice
    val emb = Tables.embeddings(spark, sfDir)
    val d = emb.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val sample = IvfAnn.collectSample(d, 2000, 42L)
    val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
    val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)
    val idxPath = "target/tmp/ann_ivfpq_index_ceiling"
    IvfPq.writeIndex(spark, d, idxPath, centroids, cbs)
    AnnIndexRegistry.registerIvfPq(emb, "vec_id", "embedding",
      AnnIndexRegistry.IvfPqEntry(idxPath, emb, "vec_id", "embedding",
        centroids, cbs, "ip", nProbe = 12, nCand = 250))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      // undersized corpus (default 4g ceiling): the graph stays preferred
      assert(routedTier(spark.sql(sql(queryLit))) === Seq("graph"))
      // oversized: a 1-byte ceiling makes ANY corpus too big for the
      // broadcast tier — the chooser must fall to the registered
      // candidate tier automatically, and the query must still answer
      spark.conf.set("spark.graft.ann.broadcastMaxBytes", "1")
      val df = spark.sql(sql(queryLit))
      assert(routedTier(df) === Seq("ivfpq"),
        "oversized corpus did not fall to the candidate tier")
      assert(df.collect().length === 10)
      // an explicit tier force is the operator's memory-cost assertion:
      // it overrides the ceiling
      spark.conf.set("spark.graft.ann.tier", "graph")
      assert(routedTier(spark.sql(sql(queryLit))) === Seq("graph"))
    } finally {
      spark.conf.unset("spark.graft.ann.broadcastMaxBytes")
      spark.conf.unset("spark.graft.ann.tier")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("custom candidate tier: a user-registered generator serves SQL top-k") {
    setup
    import graft.operators.{IvfAnn, KnnKernel, RandomProjection}
    // register the RANDOM-PROJECTION tier through the public plug-in API
    // (registerTier takes any (spark, queryVec, k) => candidate-ids
    // generator): coarse top-4k cosine in the seeded 16-dim projected
    // space, exact rescoring by the framework — proving the SQL route is
    // open to every tier, not just the built-ins
    val dir = "target/tmp/ann_custom_corpus"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("vid2"), col("embedding").as("vec2"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("custom_corpus")
    val d = corpus.select(col("vid2").as("d_id"), col("vec2").as("d_vec"))
    // 64→32 projection: uniform-random fixture vectors are JL's worst
    // case (all pairwise distances near-tied), so the test tier keeps
    // half the dims; a clustered production corpus would go lower
    val rpSeeds = IvfAnn.seededCentroids(d, 32)
    val rpCorpus = RandomProjection.project(d, "d_id", "d_vec", rpSeeds)
      .select(col("d_id"), col("pvec").as("d_vec")).cache()
    rpCorpus.count()
    AnnIndexRegistry.registerTier(corpus, "vid2", "vec2",
      AnnIndexRegistry.CandidateTierEntry("randproj", corpus, "vid2", "vec2",
        "ip", dim = 64,
        candidates = (s, qv, k) => {
          import s.implicits._
          import graft.functions.VectorFunctions.vecDot
          // coarse ranking by projected DOT (not cosine): JL projections
          // approximately preserve inner products, and the dot objective
          // needs the norm information cosine discards; the framework's
          // exact rescoring keeps scores correct regardless
          val q = Seq((0L, qv.toSeq)).toDF("q_id", "q_vec")
          val pqv = RandomProjection.project(q, "q_id", "q_vec", rpSeeds)
            .first().getSeq[Float](1).toArray
          rpCorpus.select(col("d_id"),
              vecDot(col("d_vec"), typedlit(pqv)).as("s"))
            .orderBy(col("s").desc, col("d_id").asc)
            .limit(math.max(20 * k, 200)).select(col("d_id"))
        }))
    val q = corpus.filter(col("vid2") === 7).select("vec2").first()
      .getSeq[Float](0).map(x => s"${x}F").mkString("array(", ", ", ")")
    val dotSql = s"""SELECT vid2, graft_vec_dot(vec2, $q) AS score
                    |FROM custom_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(dotSql).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(dotSql)
      assert(routedTier(df) === Seq("randproj"), "custom tier not routed")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift for $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"custom-tier recall $recall")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("cosine route: ORDER BY graft_vec_cosine DESC routes with exact scores") {
    setup
    // the fixture graph IS cosine-metric, so the most common similarity
    // spelling routes to the graph tier with no extra registration; the
    // returned scores are the exhaustive expression's own values
    // (VecCosineExpr's fused loop mirrored at rescoring)
    val q = queryLit
    val cosSql = s"""SELECT vec_id, graft_vec_cosine(embedding, $q) AS score
                    |FROM ann_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(cosSql).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(cosSql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AnnSearch"), s"cosine query not routed:\n$plan")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift for $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"cosine ANN recall $recall")
      assert(approx.map(_._2).toSeq === approx.map(_._2).sortBy(-(_: Double)).toSeq)
      // cosine ASC is a farthest-point query: stays exhaustive
      val asc = spark.sql(cosSql.replace("DESC", "ASC"))
      assert(!asc.queryExecution.executedPlan.toString.contains("AnnSearch"),
        "cosine ASC must not route")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("wrapper projection: SELECT extras FROM (routed top-k) still routes") {
    setup
    // Catalyst pushes the outer Project through the limit; the rule
    // must match through it — the common "tag the routed result" shape
    val q = queryLit
    val wrapped =
      s"""SELECT 'mine' AS tag, vec_id, score FROM (
         |  SELECT vec_id, graft_vec_dot(embedding, $q) AS score
         |  FROM ann_corpus ORDER BY score DESC LIMIT 10)""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(wrapped)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AnnSearch"), s"wrapped query not routed:\n$plan")
      val rows = df.collect()
      assert(rows.length === 10)
      assert(rows.forall(_.getString(0) == "mine"))
      // ordering survives the wrapper
      val scores = rows.map(_.getDouble(2))
      assert(scores.toSeq === scores.sortBy(-(_: Double)).toSeq)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("multivector route: chamfer set query routes to the G9 tier with exact scores") {
    setup
    // the reference's flagship question as ONE SQL statement: top-k
    // corpus SETS by smooth chamfer against a query-set literal
    val e = Tables.embeddings(spark, sfDir)
    val C = 4
    val sets = e.select((col("vec_id") / C).cast("long").as("dset_id"),
        (col("vec_id") % C).cast("int").as("d_sub"), col("embedding"))
      .groupBy("dset_id")
      .agg(transform(
        array_sort(collect_list(struct(col("d_sub"), col("embedding")))),
        x => x.getField("embedding")).as("vec_set"))
    val dir = "target/tmp/ann_mv_sets"
    sets.write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("mv_sets")
    val idx = GraphBuild.build(spark, e, e, IndexQueries.FixtureParams)
    AnnIndexRegistry.registerMvRoar(corpus, "dset_id", "vec_set",
      spark.sparkContext.broadcast(idx.graph),
      spark.sparkContext.broadcast(idx.vecs),
      idx.params.metric, C, idx.vecs.dim)
    val qLit = e.filter(col("vec_id") >= C && col("vec_id") < 2 * C)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => s"${x}F")
        .mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    val mvSql = s"""SELECT dset_id, graft_chamfer_score($qLit, vec_set)
                   |  AS score
                   |FROM mv_sets ORDER BY score DESC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(mvSql).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(exact.length === 10)
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(mvSql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AnnSearch"), s"mv query not routed:\n$plan")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      // scores are EXACT (the rescore runs the query's own expression)
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"mv route recall $recall")
      // the query's own set is its best match — sanity of the literal
      assert(approx.head._1 === 1L, s"self set not top: ${approx.head}")
      // farthest-set (ASC) stays exhaustive
      assert(!spark.sql(mvSql.replace("DESC", "ASC"))
        .queryExecution.executedPlan.toString.contains("AnnSearch"),
        "chamfer ASC must not route")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("multivector route over the SHARDED tier: the SQL flagship past the broadcast ceiling") {
    setup
    // same SQL, different physical engine: one registration call swaps
    // the set-level route's candidate generator to the persisted
    // sharded index (delta shard included) — the corpus-outgrew-the-
    // broadcast posture for the flagship query
    val e = Tables.embeddings(spark, sfDir)
    val C = 4
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    val sets = e.select((col("vec_id") / C).cast("long").as("dset_id"),
        (col("vec_id") % C).cast("int").as("d_sub"), col("embedding"))
      .groupBy("dset_id")
      .agg(transform(
        array_sort(collect_list(struct(col("d_sub"), col("embedding")))),
        x => x.getField("embedding")).as("vec_set"))
    val dir = "target/tmp/ann_mv_sets_sharded"
    sets.write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("mv_sets_sh")
    val idxPath = TempDir("graft_mv_sharded_")
    import graft.index.ShardedIndex
    val base = ShardedIndex.buildPersisted(spark,
      e.filter(col("vec_id") < 400), IndexQueries.FixtureParams, 2, idxPath)
    val ref = ShardedIndex.appendDelta(spark,
      e.filter(col("vec_id") >= 400), base, IndexQueries.FixtureParams)
    AnnIndexRegistry.registerMvSharded(corpus, "dset_id", "vec_set", ref,
      C, dim)
    val qLit = e.filter(col("vec_id") >= C && col("vec_id") < 2 * C)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => s"${x}F")
        .mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    val mvSql = s"""SELECT dset_id, graft_chamfer_score($qLit, vec_set)
                   |  AS score
                   |FROM mv_sets_sh ORDER BY score DESC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(mvSql).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(mvSql)
      assert(routedTier(df) === Seq("mv_sharded"),
        "mv query not routed to the sharded tier")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"sharded mv route recall $recall")
      assert(approx.head._1 === 1L, s"self set not top: ${approx.head}")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("query-relation mv route: one statement for all sets, exact at saturating budget") {
    setup
    // the flagship's RELATION spelling: per-query-set top-k as the
    // standard rank-window idiom over Join(query relation, set corpus),
    // routed to ONE batched beam-search job (the MvJoinTopK shape). At
    // saturating budget the routed answer must EQUAL the exhaustive
    // window plan's — the whole-route exactness certificate.
    val e = Tables.embeddings(spark, sfDir)
    val C = 4
    val setsOf = (idName: String, subName: String, filter: org.apache.spark.sql.Column) =>
      e.filter(filter)
        .select((col("vec_id") / C).cast("long").as(idName),
          (col("vec_id") % C).cast("int").as(subName), col("embedding"))
        .groupBy(idName)
        .agg(transform(
          array_sort(collect_list(struct(col(subName), col("embedding")))),
          x => x.getField("embedding")).as("vec_set"))
    val dir = "target/tmp/ann_mv_rel_sets"
    setsOf("dset_id", "d_sub", lit(true)).write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("mv_rel_sets")
    // the QUERY side is an arbitrary subplan (an aggregate over the
    // embeddings scan — no parquet relation, no registration needed)
    setsOf("qset_id", "q_sub", col("vec_id") < 3 * C)
      .createOrReplaceTempView("mv_rel_queries")
    val idx = GraphBuild.build(spark, e, e, IndexQueries.FixtureParams)
    AnnIndexRegistry.registerMvRoar(corpus, "dset_id", "vec_set",
      spark.sparkContext.broadcast(idx.graph),
      spark.sparkContext.broadcast(idx.vecs),
      idx.params.metric, C, idx.vecs.dim,
      budget = 2 * idx.vecs.n, name = "mv_roar_rel")
    val relSql =
      """SELECT qset_id, dset_id, score FROM (
        |  SELECT q.qset_id, d.dset_id,
        |         graft_chamfer_score(q.vec_set, d.vec_set) AS score,
        |         row_number() OVER (PARTITION BY q.qset_id
        |           ORDER BY graft_chamfer_score(q.vec_set, d.vec_set) DESC,
        |                    d.dset_id ASC) AS rnk
        |  FROM mv_rel_queries q CROSS JOIN mv_rel_sets d) t
        |WHERE rnk <= 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(relSql).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(relSql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("MvJoinTopK"), s"relation form not routed:\n$plan")
      val routed = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(routed === exact, "saturated relation route != exhaustive")
      // a FILTER on the corpus side changes the question: must not route
      val filtered = spark.sql(
        relSql.replace("CROSS JOIN mv_rel_sets d",
          "CROSS JOIN (SELECT * FROM mv_rel_sets WHERE dset_id > 5) d"))
      assert(!filtered.queryExecution.executedPlan.toString
        .contains("MvJoinTopK"), "filtered corpus side must not route")
      // chamfer ASC (farthest sets) is not index-answerable: no route
      val asc = spark.sql(relSql.replace("DESC,", "ASC,"))
      assert(!asc.queryExecution.executedPlan.toString.contains("MvJoinTopK"),
        "ASC window order must not route")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("maxsim route: graft_maxsim_score routes through both mv spellings, exact at saturation") {
    setup
    // the A2 scorer (ColBERT summed-max) behind the same mv machinery:
    // the matched function decides the rescorer, the candidate beams
    // are shared — so MaxSim inherits the whole route (relation +
    // literal spellings) from one matcher extension
    val e = Tables.embeddings(spark, sfDir)
    val C = 4
    val setsOf = (idName: String, subName: String, filter: org.apache.spark.sql.Column) =>
      e.filter(filter)
        .select((col("vec_id") / C).cast("long").as(idName),
          (col("vec_id") % C).cast("int").as(subName), col("embedding"))
        .groupBy(idName)
        .agg(transform(
          array_sort(collect_list(struct(col(subName), col("embedding")))),
          x => x.getField("embedding")).as("vec_set"))
    val dir = "target/tmp/ann_mv_maxsim_sets"
    setsOf("dset_id", "d_sub", lit(true)).write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("mv_ms_sets")
    setsOf("qset_id", "q_sub", col("vec_id") < 3 * C)
      .createOrReplaceTempView("mv_ms_queries")
    val idx = GraphBuild.build(spark, e, e, IndexQueries.FixtureParams)
    AnnIndexRegistry.registerMvRoar(corpus, "dset_id", "vec_set",
      spark.sparkContext.broadcast(idx.graph),
      spark.sparkContext.broadcast(idx.vecs),
      idx.params.metric, C, idx.vecs.dim,
      budget = 2 * idx.vecs.n, name = "mv_roar_ms")
    val relSql =
      """SELECT qset_id, dset_id, score FROM (
        |  SELECT q.qset_id, d.dset_id,
        |         graft_maxsim_score(q.vec_set, d.vec_set) AS score,
        |         row_number() OVER (PARTITION BY q.qset_id
        |           ORDER BY graft_maxsim_score(q.vec_set, d.vec_set) DESC,
        |                    d.dset_id ASC) AS rnk
        |  FROM mv_ms_queries q CROSS JOIN mv_ms_sets d) t
        |WHERE rnk <= 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(relSql).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(relSql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("MvJoinTopK"),
        s"maxsim relation form not routed:\n$plan")
      val routed = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(routed === exact, "saturated maxsim route != exhaustive")
      // the LITERAL spelling routes to the AnnSearch shape with the maxsim
      // rescorer and equals the exhaustive answer at saturation too
      val qLit = e.filter(col("vec_id") >= C && col("vec_id") < 2 * C)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).map(x => s"${x}F")
          .mkString("array(", ", ", ")"))
        .mkString("array(", ", ", ")")
      val litSql = s"""SELECT dset_id, graft_maxsim_score($qLit, vec_set)
                      |  AS score
                      |FROM mv_ms_sets ORDER BY score DESC LIMIT 10""".stripMargin
      spark.conf.set("spark.graft.ann.rewrite", "false")
      val exactLit = spark.sql(litSql).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      spark.conf.set("spark.graft.ann.rewrite", "true")
      val dfLit = spark.sql(litSql)
      assert(dfLit.queryExecution.executedPlan.toString.contains("AnnSearch"),
        "maxsim literal form not routed")
      val routedLit = dfLit.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(routedLit === exactLit, "saturated maxsim literal != exhaustive")
      assert(routedLit.head._1 === 1L, s"self set not top: ${routedLit.head}")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("query-relation mv route: a NULL query set fails loudly, never silently misroutes") {
    setup
    val e = Tables.embeddings(spark, sfDir)
    val C = 4
    val dir = "target/tmp/ann_mv_rel_sets_null"
    e.select((col("vec_id") / C).cast("long").as("dset_id"),
        (col("vec_id") % C).cast("int").as("d_sub"), col("embedding"))
      .groupBy("dset_id")
      .agg(transform(
        array_sort(collect_list(struct(col("d_sub"), col("embedding")))),
        x => x.getField("embedding")).as("vec_set"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val idx = GraphBuild.build(spark, e, e, IndexQueries.FixtureParams)
    AnnIndexRegistry.registerMvRoar(corpus, "dset_id", "vec_set",
      spark.sparkContext.broadcast(idx.graph),
      spark.sparkContext.broadcast(idx.vecs),
      idx.params.metric, C, idx.vecs.dim)
    corpus.createOrReplaceTempView("mv_rel_sets_n")
    // a query relation with one RUNTIME-null vec_set row (a literal
    // null would constant-fold the chamfer away and correctly stay
    // exhaustive — covered by the plan shape itself): the exhaustive
    // plan orders NULL scores last; a candidate route cannot reproduce
    // that — the exec must REFUSE with the documented message, not
    // return a silently different answer
    corpus.select(col("dset_id").as("qset_id"),
        when(col("dset_id") === 0, lit(null)).otherwise(col("vec_set"))
          .as("vec_set"))
      .filter(col("qset_id") < 2)
      .createOrReplaceTempView("mv_null_queries")
    val relSql =
      """SELECT qset_id, dset_id, score FROM (
        |  SELECT q.qset_id, d.dset_id,
        |         graft_chamfer_score(q.vec_set, d.vec_set) AS score,
        |         row_number() OVER (PARTITION BY q.qset_id
        |           ORDER BY graft_chamfer_score(q.vec_set, d.vec_set) DESC,
        |                    d.dset_id ASC) AS rnk
        |  FROM mv_null_queries q CROSS JOIN mv_rel_sets_n d) t
        |WHERE rnk <= 5""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(relSql)
      assert(df.queryExecution.executedPlan.toString.contains("MvJoinTopK"))
      val ex = intercept[Exception](df.collect())
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("NULL query set")),
        s"unexpected failure: ${messages(ex)}")
      // a DUPLICATE query-set id: the rescore keys candidates by id, so
      // both sets would merge into one search group with one budget —
      // refused exactly like the single-vector route's duplicate q_id
      corpus.filter(col("dset_id") < 2)
        .select((col("dset_id") / 2).cast("long").as("qset_id"),
          col("vec_set"))
        .createOrReplaceTempView("mv_dup_queries")
      val dup = spark.sql(relSql.replace("mv_null_queries", "mv_dup_queries"))
      assert(dup.queryExecution.executedPlan.toString.contains("MvJoinTopK"))
      val dupEx = intercept[Exception](dup.collect())
      assert(messages(dupEx).exists(_.contains("duplicate qset_id")),
        s"unexpected failure: ${messages(dupEx)}")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("cosine tier route: a cosine-metric candidate tier serves graft_vec_cosine") {
    setup
    import graft.operators.Sq8Ann
    val dir = "target/tmp/ann_cos_corpus"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("vidc"), col("embedding").as("vecc"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("cos_corpus")
    val d = corpus.select(col("vidc").as("d_id"), col("vecc").as("d_vec"))
    val bounds = Sq8Ann.trainBounds(d)
    val encoded = Sq8Ann.encode(d, bounds).cache()
    encoded.count()
    AnnIndexRegistry.registerSq8(corpus, "vidc", "vecc", encoded, bounds,
      metricName = "cosine", nCand = 60)
    val q = corpus.filter(col("vidc") === 7).select("vecc").first()
      .getSeq[Float](0).map(x => s"${x}F").mkString("array(", ", ", ")")
    val cosSql = s"""SELECT vidc, graft_vec_cosine(vecc, $q) AS score
                    |FROM cos_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(cosSql).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(cosSql)
      assert(routedTier(df) === Seq("sq8"), "cosine query not routed to sq8")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"cosine sq8-tier recall $recall")
      // a dot-DESC query must NOT reach the cosine-only registration
      // (no normalized-corpus assertion was made for this corpus);
      // routeMetrics' ip→cosine fallback is for GRAPH entries whose
      // registrant opted in — here the fallback applies identically,
      // so assert the cosine tier DOES also serve dot (the documented
      // normalized-corpus contract), keeping behavior explicit
      val dotSql = s"""SELECT vidc, graft_vec_dot(vecc, $q) AS score
                      |FROM cos_corpus ORDER BY score DESC LIMIT 10""".stripMargin
      assert(routedTier(spark.sql(dotSql)) === Seq("sq8"),
        "documented ip→cosine fallback did not apply to the tier")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("tier chooser: cheapest costHint wins, conf forces a named tier") {
    val q = ivfpqSetup // registers the ivfpq tier (ip + l2) on ivfpq_corpus
    import graft.operators.Sq8Ann
    val corpus = spark.read.parquet("target/tmp/ann_ivfpq_corpus")
    val d = corpus.select(col("vid").as("d_id"), col("vec").as("d_vec"))
    val bounds = Sq8Ann.trainBounds(d)
    val encoded = Sq8Ann.encode(d, bounds).cache()
    encoded.count()
    // second tier on the SAME corpus/columns/metric
    AnnIndexRegistry.registerSq8(corpus, "vid", "vec", encoded, bounds,
      metricName = "ip", nCand = 60)
    val dotSql = s"""SELECT vid, graft_vec_dot(vec, $q) AS score
                    |FROM ivfpq_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      // ivfpq's hint ((nProbe/nlist) · nSub/(4·dim)) ≪ sq8's 0.25
      assert(routedTier(spark.sql(dotSql)) === Seq("ivfpq"),
        "chooser did not pick the cheaper ivfpq tier")
      spark.conf.set("spark.graft.ann.tier", "sq8")
      val df = spark.sql(dotSql)
      assert(routedTier(df) === Seq("sq8"), "conf did not force the sq8 tier")
      assert(df.collect().length === 10)
      // forcing an unregistered name routes nowhere (exhaustive plan)
      spark.conf.set("spark.graft.ann.tier", "no_such_tier")
      assert(routedTier(spark.sql(dotSql)).isEmpty,
        "unknown forced tier must fail safe to the exhaustive plan")
    } finally {
      spark.conf.unset("spark.graft.ann.tier")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("tier chooser: measured coarse cost overrides the static hint once all competitors report") {
    val q = ivfpqSetup // ivfpq tier on (vid, vec, ip)
    import graft.operators.Sq8Ann
    val corpus = spark.read.parquet("target/tmp/ann_ivfpq_corpus")
    val d = corpus.select(col("vid").as("d_id"), col("vec").as("d_vec"))
    val bounds = Sq8Ann.trainBounds(d)
    val encoded = Sq8Ann.encode(d, bounds).cache()
    encoded.count()
    AnnIndexRegistry.registerSq8(corpus, "vid", "vec", encoded, bounds,
      metricName = "ip", nCand = 60)
    val dotSql = s"""SELECT vid, graft_vec_dot(vec, $q) AS score
                    |FROM ivfpq_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    AnnIndexRegistry.clearMeasuredCosts()
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      // static hints: ivfpq ((nProbe/nlist)·nSub/(4·dim)) ≪ sq8 (0.25)
      assert(routedTier(spark.sql(dotSql)) === Seq("ivfpq"),
        "static-hint baseline did not pick ivfpq")
      // measurements are fingerprint-scoped (a same-named tier over a
      // DIFFERENT corpus must not share this one's EWMA), so the spec
      // records against the registered fingerprints
      val fpIvf = AnnIndexRegistry
        .registeredFp("vid", "vec", "ip", "ivfpq").get
      val fpSq8 = AnnIndexRegistry
        .registeredFp("vid", "vec", "ip", "sq8").get
      assert(fpIvf === fpSq8, "same corpus must fingerprint identically")
      // a ONE-SIDED measurement must not flip the race: seconds are
      // only comparable to seconds, never to a bytes-fraction hint
      AnnIndexRegistry.recordMeasuredCost("vid", "vec", "ip", fpIvf,
        "ivfpq", 5.0)
      assert(routedTier(spark.sql(dotSql)) === Seq("ivfpq"),
        "a lone measurement was raced against a static hint")
      // a measurement under a FOREIGN fingerprint (another corpus with
      // the same columns/metric/tier names) must be invisible here
      AnnIndexRegistry.recordMeasuredCost("vid", "vec", "ip",
        "other_corpus_fp", "sq8", 0.000001)
      assert(routedTier(spark.sql(dotSql)) === Seq("ivfpq"),
        "a foreign-corpus measurement steered this corpus's routing")
      // both competitors measured, ordering INVERTED vs the hints: the
      // chooser must believe the measurements
      AnnIndexRegistry.recordMeasuredCost("vid", "vec", "ip", fpSq8,
        "sq8", 0.01)
      assert(routedTier(spark.sql(dotSql)) === Seq("sq8"),
        "measured inversion did not flip the chooser")
      // EWMA recovery: sustained fast ivfpq probes win the race back
      (1 to 40).foreach(_ => AnnIndexRegistry
        .recordMeasuredCost("vid", "vec", "ip", fpIvf, "ivfpq", 0.0001))
      assert(routedTier(spark.sql(dotSql)) === Seq("ivfpq"),
        "EWMA did not converge back to the faster tier")
      // the measured-routed plan still answers with exact scores
      assert(spark.sql(dotSql).collect().length === 10)
      // ... and real executions feed the store (instrumented wrapper)
      assert(AnnIndexRegistry
        .measuredCost("vid", "vec", "ip", fpIvf, "ivfpq")
        .exists(_ > 0.0001), "execution did not record a measured cost")
    } finally {
      AnnIndexRegistry.clearMeasuredCosts()
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("persisted measured costs: a fresh registry seeds from the index sidecars and keeps the learned order") {
    val q = ivfpqSetup
    import graft.operators.{IvfAnn, IvfPq, PqAnn, Sq8Ann}
    val corpus = spark.read.parquet("target/tmp/ann_ivfpq_corpus")
    val d = corpus.select(col("vid").as("d_id"), col("vec").as("d_vec"))
    val sq8Path = "target/tmp/ann_sq8_sidecar_idx"
    val bounds = Sq8Ann.writeIndex(d, sq8Path)
    val (encoded, _) = Sq8Ann.loadIndex(spark, sq8Path)
    // both tiers PATH-backed, so both get persisted-EWMA sidecars
    def registerBoth(): Unit = {
      val sample = IvfAnn.collectSample(d, 2000, 42L)
      val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
      val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)
      AnnIndexRegistry.registerIvfPq(corpus, "vid", "vec",
        AnnIndexRegistry.IvfPqEntry("target/tmp/ann_ivfpq_index", corpus,
          "vid", "vec", centroids, cbs, "ip", nProbe = 12, nCand = 250))
      AnnIndexRegistry.registerSq8(corpus, "vid", "vec", encoded, bounds,
        metricName = "ip", nCand = 60, indexPath = sq8Path)
    }
    val dotSql = s"""SELECT vid, graft_vec_dot(vec, $q) AS score
                    |FROM ivfpq_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    AnnIndexRegistry.clearMeasuredCosts()
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      registerBoth()
      val fp = AnnIndexRegistry
        .registeredFp("vid", "vec", "ip", "ivfpq").get
      // the learned order, INVERTED vs the static hints (ivfpq's hint
      // is far below sq8's): recorded → persisted beside each index
      AnnIndexRegistry.recordMeasuredCost("vid", "vec", "ip", fp,
        "ivfpq", 5.0)
      AnnIndexRegistry.recordMeasuredCost("vid", "vec", "ip", fp,
        "sq8", 0.01)
      assert(routedTier(spark.sql(dotSql)) === Seq("sq8"))
      // "fresh session": the in-memory store is wiped — static hints
      // alone would route back to ivfpq and the first queries would
      // re-learn; re-registration must seed the persisted EWMAs
      AnnIndexRegistry.clearMeasuredCosts()
      registerBoth()
      assert(routedTier(spark.sql(dotSql)) === Seq("sq8"),
        "fresh registry did not seed the persisted measured order")
      // a live in-session measurement is never clobbered by a later
      // registration's seed (seeding is putIfAbsent)
      AnnIndexRegistry.recordMeasuredCost("vid", "vec", "ip", fp,
        "ivfpq", 0.25)
      val liveVal = AnnIndexRegistry
        .measuredCost("vid", "vec", "ip", fp, "ivfpq")
      registerBoth()
      assert(AnnIndexRegistry
        .measuredCost("vid", "vec", "ip", fp, "ivfpq") === liveVal,
        "registration seeding overwrote a live in-session measurement")
    } finally {
      spark.conf.set("spark.graft.ann.rewrite", "false")
      AnnIndexRegistry.clearMeasuredCosts()
      // drop the persisted EWMAs (and their checksum twins) so later
      // registrations in this JVM never seed this test's synthetic
      // values
      Seq("target/tmp/ann_ivfpq_index/_cost_ewma.ivfpq",
          "target/tmp/ann_ivfpq_index/._cost_ewma.ivfpq.crc",
          s"$sq8Path/_cost_ewma.sq8", s"$sq8Path/._cost_ewma.sq8.crc")
        .foreach(p => java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(p)))
    }
  }

  test("persisted measured costs: sidecar persistence is throttled to the min interval") {
    // the EWMA sidecar is a best-effort seed, not a ledger: on the
    // serving hot path an unthrottled write is one remote PUT per
    // measured query batch. Contract: the FIRST measurement persists
    // immediately (a short-lived session still seeds), later ones
    // wait out spark.graft.ann.costSidecarMinIntervalMs; 0 restores
    // write-every-record.
    ivfpqSetup
    val sc = "target/tmp/ann_ivfpq_index/_cost_ewma.ivfpq"
    def sidecar(): Option[Double] =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(sc)))
        Some(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(sc)), "UTF-8").trim.toDouble)
      else None
    AnnIndexRegistry.clearMeasuredCosts()
    val fp = AnnIndexRegistry.registeredFp("vid", "vec", "ip", "ivfpq").get
    try {
      AnnIndexRegistry.recordMeasuredCost("vid", "vec", "ip", fp,
        "ivfpq", 2.0)
      assert(sidecar() === Some(2.0),
        "the first measurement must persist immediately")
      // second record inside the (default 30 s) interval: in-memory
      // EWMA moves, the sidecar does not
      AnnIndexRegistry.recordMeasuredCost("vid", "vec", "ip", fp,
        "ivfpq", 1.0)
      assert(AnnIndexRegistry.measuredCost("vid", "vec", "ip", fp,
        "ivfpq") === Some(0.7 * 2.0 + 0.3 * 1.0))
      assert(sidecar() === Some(2.0),
        "a second record inside the interval wrote the sidecar")
      // interval 0 = write-every-record (and the cadence a test or a
      // shutdown hook can force)
      spark.conf.set("spark.graft.ann.costSidecarMinIntervalMs", "0")
      AnnIndexRegistry.recordMeasuredCost("vid", "vec", "ip", fp,
        "ivfpq", 1.0)
      val expected = 0.7 * (0.7 * 2.0 + 0.3 * 1.0) + 0.3 * 1.0
      assert(sidecar().exists(v => math.abs(v - expected) < 1e-12),
        s"interval=0 did not persist the live EWMA (${sidecar()})")
    } finally {
      spark.conf.unset("spark.graft.ann.costSidecarMinIntervalMs")
      AnnIndexRegistry.clearMeasuredCosts()
      Seq(sc, "target/tmp/ann_ivfpq_index/._cost_ewma.ivfpq.crc")
        .foreach(p => java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(p)))
    }
  }

  test("versioned-root registrations: routing follows generation flips with no re-registration") {
    setup
    import graft.index.ShardedIndex
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    val dir = "target/tmp/ann_vroot_corpus"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("vrid"), col("embedding").as("vrvec"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("vroot_corpus")
    val dim = corpus.select(size(col("vrvec"))).first().getInt(0)
    val qlit = corpus.filter(col("vrid") === 11).select("vrvec").first()
      .getSeq[Float](0).map(x => s"${x}F").mkString("array(", ", ", ")")
    val sqlq = s"""SELECT vrid, graft_vec_cosine(vrvec, $qlit) AS score
                  |FROM vroot_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    def survivors(pred: String): Seq[(Long, Double)] = {
      spark.conf.set("spark.graft.ann.rewrite", "false")
      try spark.sql(
          s"""SELECT vrid, round(score, 6) AS s FROM (
             |  SELECT vrid, graft_vec_cosine(vrvec, $qlit) AS score
             |  FROM vroot_corpus WHERE $pred
             |  ORDER BY score DESC LIMIT 10) t""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      finally spark.conf.set("spark.graft.ann.rewrite", "true")
    }
    def routed(): Seq[(Long, Double)] = {
      val df = spark.sql(sqlq)
      assert(routedTier(df).nonEmpty, "statement did not route")
      df.collect().map(r =>
        (r.getLong(0), math.rint(r.getDouble(1) * 1e6) / 1e6)).toSeq
    }
    // versioned sharded index: build gen0, tombstone a tranche
    val root = TempDir("graft_ann_vroot_")
    ShardedIndex.resetResidencyTracking()
    ShardedIndex.buildVersioned(spark,
      corpus.select(col("vrid").as("vec_id"), col("vrvec").as("embedding")),
      IndexQueries.FixtureParams, nShards = 2, root)
    assert(ShardedIndex.deleteVersioned(spark, root,
      corpus.filter(col("vrid") % 9 === 0)
        .select(col("vrid").as("gid"))) > 0)
    AnnIndexRegistry.registerShardedVersioned(corpus, "vrid", "vrvec",
      root, dim = dim, metricName = "cosine", searchL = 80)
    spark.conf.set("spark.graft.ann.rewrite", "true")
    spark.conf.set("spark.graft.ann.relation.exact", "true")
    try {
      val want = survivors("vrid % 9 <> 0")
      assert(routed() === want, "pre-flip routed ranking wrong")
      // flip 1: fold + erase; the registration follows the manifest
      ShardedIndex.compactVersioned(spark, root, IndexQueries.FixtureParams)
      assert(routed() === want, "post-flip routed ranking diverged")
      // flip 2 retires gen0 entirely (out of grace): a fixed-dir
      // registration would now be stranded — the root registration
      // keeps serving, with the new tranche masked immediately
      assert(ShardedIndex.deleteVersioned(spark, root, Seq(11L)) === 1L)
      ShardedIndex.compactVersioned(spark, root, IndexQueries.FixtureParams)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/gen0")))
      assert(routed() === survivors("vrid % 9 <> 0 AND vrid <> 11"),
        "routing did not follow the second flip")
    } finally {
      spark.conf.set("spark.graft.ann.rewrite", "false")
      spark.conf.unset("spark.graft.ann.relation.exact")
    }

    // the IVF-PQ twin on its own column pair: frozen quantizers, the
    // root resolved per query
    val dir2 = "target/tmp/ann_vroot2_corpus"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("ivid"), col("embedding").as("ivvec"))
      .write.mode("overwrite").parquet(dir2)
    val corpus2 = spark.read.parquet(dir2)
    corpus2.createOrReplaceTempView("vroot2_corpus")
    val d2 = corpus2.select(col("ivid").as("d_id"), col("ivvec").as("d_vec"))
    val sample = IvfAnn.collectSample(d2, 2000, 42L)
    val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
    val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)
    val root2 = TempDir("graft_ann_vroot_ivf_")
    IvfPq.buildVersioned(spark, d2, root2, centroids, cbs)
    assert(IvfPq.deleteVersioned(spark, root2,
      corpus2.filter(col("ivid") % 9 === 0)
        .select(col("ivid").as("d_id"))) > 0)
    AnnIndexRegistry.registerIvfPqVersioned(corpus2, "ivid", "ivvec",
      AnnIndexRegistry.IvfPqEntry(root2, corpus2, "ivid", "ivvec",
        centroids, cbs, "ip", nProbe = 12, nCand = 250))
    val dotSql = s"""SELECT ivid, graft_vec_dot(ivvec, $qlit) AS score
                    |FROM vroot2_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    def routed2(): Seq[Long] = {
      val df = spark.sql(dotSql)
      assert(routedTier(df) === Seq("ivfpq"))
      df.collect().map(_.getLong(0)).toSeq
    }
    spark.conf.set("spark.graft.ann.rewrite", "true")
    spark.conf.set("spark.graft.ann.relation.exact", "true")
    try {
      val want2 = routed2()
      assert(want2.forall(_ % 9 != 0), "masked id surfaced pre-flip")
      IvfPq.compactVersioned(spark, root2)
      assert(routed2() === want2,
        "IVF-PQ routing did not follow the generation flip")
    } finally {
      spark.conf.set("spark.graft.ann.rewrite", "false")
      spark.conf.unset("spark.graft.ann.relation.exact")
    }

    // ... and the SQ8 twin: frozen bounds passed once, codes resolved
    // through the manifest per query
    import graft.operators.Sq8Ann
    val dir3 = "target/tmp/ann_vroot3_corpus"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("svid"), col("embedding").as("svvec"))
      .write.mode("overwrite").parquet(dir3)
    val corpus3 = spark.read.parquet(dir3)
    corpus3.createOrReplaceTempView("vroot3_corpus")
    val d3 = corpus3.select(col("svid").as("d_id"), col("svvec").as("d_vec"))
    val root3 = TempDir("graft_ann_vroot_sq8_")
    val (_, bounds3) = Sq8Ann.buildVersioned(spark, d3, root3)
    assert(Sq8Ann.deleteVersioned(spark, root3,
      corpus3.filter(col("svid") % 9 === 0)
        .select(col("svid").as("d_id"))) > 0)
    AnnIndexRegistry.registerSq8Versioned(corpus3, "svid", "svvec",
      root3, bounds3, metricName = "ip", nCand = 250)
    val dotSql3 = s"""SELECT svid, graft_vec_dot(svvec, $qlit) AS score
                     |FROM vroot3_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    def routed3(): Seq[Long] = {
      val df = spark.sql(dotSql3)
      assert(routedTier(df) === Seq("sq8"))
      df.collect().map(_.getLong(0)).toSeq
    }
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val want3 = routed3()
      assert(want3.forall(_ % 9 != 0), "masked id surfaced pre-flip (sq8)")
      Sq8Ann.compactVersioned(spark, root3)
      assert(routed3() === want3,
        "SQ8 routing did not follow the generation flip")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("SQ8 tier route: byte-code coarse scan serves SQL top-k with exact scores") {
    setup
    import graft.operators.Sq8Ann
    val dir = "target/tmp/ann_sq8_corpus"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("vid3"), col("embedding").as("vec3"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("sq8_corpus")
    val d = corpus.select(col("vid3").as("d_id"), col("vec3").as("d_vec"))
    val bounds = Sq8Ann.trainBounds(d)
    val encoded = Sq8Ann.encode(d, bounds).cache()
    encoded.count()
    AnnIndexRegistry.registerSq8(corpus, "vid3", "vec3", encoded, bounds,
      metricName = "ip", nCand = 60)
    val q = corpus.filter(col("vid3") === 7).select("vec3").first()
      .getSeq[Float](0).map(x => s"${x}F").mkString("array(", ", ", ")")
    val dotSql = s"""SELECT vid3, graft_vec_dot(vec3, $q) AS score
                    |FROM sq8_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(dotSql).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(dotSql)
      assert(routedTier(df) === Seq("sq8"), "not routed to the sq8 tier")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift for $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"sq8-tier recall $recall")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("SQ8 l2 route: dequantized-L2 coarse geometry serves l2sq ASC queries") {
    setup
    import graft.operators.Sq8Ann
    // self-contained corpus write: no ordering dependency on the ip test
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("vid3"), col("embedding").as("vec3"))
      .write.mode("overwrite").parquet("target/tmp/ann_sq8_corpus")
    val corpus = spark.read.parquet("target/tmp/ann_sq8_corpus")
    corpus.createOrReplaceTempView("sq8_corpus")
    val d = corpus.select(col("vid3").as("d_id"), col("vec3").as("d_vec"))
    val bounds = Sq8Ann.trainBounds(d)
    val encoded = Sq8Ann.encode(d, bounds).cache()
    encoded.count()
    AnnIndexRegistry.registerSq8(corpus, "vid3", "vec3", encoded, bounds,
      metricName = "l2", nCand = 60)
    val q = corpus.filter(col("vid3") === 11).select("vec3").first()
      .getSeq[Float](0).map(x => s"${x}F").mkString("array(", ", ", ")")
    val l2Sql = s"""SELECT vid3, graft_vec_l2sq(vec3, $q) AS score
                   |FROM sq8_corpus ORDER BY score ASC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(l2Sql).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(l2Sql)
      assert(routedTier(df) === Seq("sq8"), "l2 query not routed to sq8")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"sq8 l2 recall $recall")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("sharded tier route: persisted shards (incl. a delta) serve SQL top-k") {
    setup
    import graft.index.ShardedIndex
    import graft.queries.IndexQueries
    // past-broadcast-ceiling SQL route: the corpus lives in persisted
    // shards (base + one delta-appended), searched per-shard through the
    // resident LRU; registered via the same public tier API
    val dir = "target/tmp/ann_sharded_corpus"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("vid3"), col("embedding").as("vec3"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("sharded_corpus")
    val emb = corpus.select(col("vid3").as("vec_id"), col("vec3").as("embedding"))
    val idxPath = TempDir("graft_ann_sharded_")
    val base = ShardedIndex.buildPersisted(spark,
      emb.filter(col("vec_id") < 400), IndexQueries.FixtureParams, 2, idxPath)
    val ref = ShardedIndex.appendDelta(spark,
      emb.filter(col("vec_id") >= 400), base, IndexQueries.FixtureParams)
    AnnIndexRegistry.registerSharded(corpus, "vid3", "vec3", ref,
      dim = 64, metricName = "ip", searchL = 80)
    val q = corpus.filter(col("vid3") === 7).select("vec3").first()
      .getSeq[Float](0).map(x => s"${x}F").mkString("array(", ", ", ")")
    val dotSql = s"""SELECT vid3, graft_vec_dot(vec3, $q) AS score
                    |FROM sharded_corpus ORDER BY score DESC LIMIT 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(dotSql).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(dotSql)
      assert(routedTier(df) === Seq("sharded"), "sharded tier not routed")
      val approx = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(approx.length === 10)
      val exactById = exact.toMap
      approx.foreach { case (id, s) =>
        exactById.get(id).foreach(es => assert(es === s, s"score drift for $id"))
      }
      val recall = approx.map(_._1).toSet
        .intersect(exact.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"sharded-route recall $recall")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("single-vector query-relation route: one statement for all queries, exact when saturated") {
    setup
    // the G8 harness multiplicity from SQL: per-query top-k as the
    // standard rank-window idiom over Join(query relation, corpus),
    // routed to ONE batched beam-search job (the SvJoinTopK shape) + exact
    // rescore off the broadcast raw store
    Tables.embeddings(spark, sfDir).filter(col("vec_id") < 12)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .createOrReplaceTempView("sv_rel_queries")
    val relSql =
      """SELECT q_id, vec_id, score FROM (
        |  SELECT q.q_id, d.vec_id,
        |         graft_vec_cosine(q.q_vec, d.embedding) AS score,
        |         row_number() OVER (PARTITION BY q.q_id
        |           ORDER BY graft_vec_cosine(q.q_vec, d.embedding) DESC,
        |                    d.vec_id ASC) AS rnk
        |  FROM sv_rel_queries q CROSS JOIN ann_corpus d) t
        |WHERE rnk <= 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(relSql).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    spark.conf.set("spark.graft.ann.rewrite", "true")
    spark.conf.set("spark.graft.ann.relation.exact", "true")
    try {
      val df = spark.sql(relSql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SvJoinTopK"),
        s"single-vector relation form not routed:\n$plan")
      val routed = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(routed === exact, "saturated sv relation route != exhaustive")
      // cosine ASC (farthest) must not route
      val asc = spark.sql(relSql.replace("DESC,", "ASC,"))
      assert(!asc.queryExecution.executedPlan.toString.contains("SvJoinTopK"),
        "ASC cosine window must not route")
      // default (non-saturating) budget: routed, >=0.9 per-query recall
      spark.conf.unset("spark.graft.ann.relation.exact")
      val approx = spark.sql(relSql).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      val exactByQ = exact.map(t => (t._1, t._2)).groupBy(_._1)
      val recalls = exactByQ.map { case (q, es) =>
        val got = approx.getOrElse(q, Array.empty).map(_._2).toSet
        (es.map(_._2).toSet & got).size.toDouble / es.size
      }
      assert(recalls.sum / recalls.size >= 0.9,
        s"sv relation mean recall ${recalls.sum / recalls.size}")
    } finally {
      spark.conf.unset("spark.graft.ann.relation.exact")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("routed execs expose SQLMetrics; the relation query-side cap fails loudly") {
    setup
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      // filtered route: rounds / candidates / survivors land in the
      // standard metrics surface (Spark UI / plan detail)
      val fdf = spark.sql(filteredSql(queryLit, "vec_id >= 100"))
      val rows = fdf.collect()
      val fexec = fdf.queryExecution.executedPlan.collectFirst {
        case e: graft.plans.AnnTopKExec => e
      }.getOrElse(fail("AnnFilteredTopK not in plan"))
      assert(fexec.metrics("numRounds").value >= 1L)
      assert(fexec.metrics("numCandidates").value > 0L)
      assert(fexec.metrics("numQueries").value === 1L)
      assert(fexec.metrics("numSurvivors").value === rows.length.toLong)
      // literal route: the one-task search reports the same metric set
      val ldf = spark.sql(sql(queryLit))
      val lrows = ldf.collect()
      val lexec = ldf.queryExecution.executedPlan.collectFirst {
        case e: graft.plans.AnnTopKExec => e
      }.getOrElse(fail("AnnSearch not in plan"))
      assert(lexec.nodeName === "AnnSearch")
      assert(lexec.metrics("numQueries").value === 1L)
      assert(lexec.metrics("numCandidates").value > 0L)
      assert(lexec.metrics("numSurvivors").value === lrows.length.toLong)
      // sv relation route: query count + rescored pairs
      Tables.embeddings(spark, sfDir).filter(col("vec_id") < 12)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        .createOrReplaceTempView("metrics_queries")
      val relSql =
        """SELECT q_id, vec_id, score FROM (
          |  SELECT q.q_id, d.vec_id,
          |         graft_vec_cosine(q.q_vec, d.embedding) AS score,
          |         row_number() OVER (PARTITION BY q.q_id
          |           ORDER BY graft_vec_cosine(q.q_vec, d.embedding) DESC,
          |                    d.vec_id ASC) AS rnk
          |  FROM metrics_queries q CROSS JOIN ann_corpus d) t
          |WHERE rnk <= 5""".stripMargin
      val sdf = spark.sql(relSql)
      val srows = sdf.collect()
      val sexec = sdf.queryExecution.executedPlan.collectFirst {
        case e: graft.plans.AnnTopKExec => e
      }.getOrElse(fail("SvJoinTopK not in plan"))
      assert(sexec.metrics("numQueries").value === 12L)
      assert(sexec.metrics("numCandidates").value > 0L)
      assert(sexec.metrics("numSurvivors").value === srows.length.toLong)
      // mv relation route: query sets collected + answer rows
      val emb = Tables.embeddings(spark, sfDir)
      emb.select((col("vec_id") / 4).cast("long").as("dset_id"),
          (col("vec_id") % 4).cast("int").as("d_sub"), col("embedding"))
        .groupBy("dset_id")
        .agg(transform(
          array_sort(collect_list(struct(col("d_sub"), col("embedding")))),
          x => x.getField("embedding")).as("vec_set"))
        .write.mode("overwrite").parquet("target/tmp/ann_metrics_sets")
      val sets = spark.read.parquet("target/tmp/ann_metrics_sets")
      sets.createOrReplaceTempView("metrics_sets")
      sets.filter(col("dset_id") < 3)
        .select(col("dset_id").as("qset_id"), col("vec_set"))
        .createOrReplaceTempView("metrics_mv_queries")
      val idx = GraphBuild.build(spark, emb, emb, IndexQueries.FixtureParams)
      AnnIndexRegistry.registerMvRoar(sets, "dset_id", "vec_set",
        spark.sparkContext.broadcast(idx.graph),
        spark.sparkContext.broadcast(idx.vecs),
        idx.params.metric, 4, idx.vecs.dim)
      val mdf = spark.sql(
        """SELECT qset_id, dset_id, score FROM (
          |  SELECT q.qset_id, d.dset_id,
          |         graft_chamfer_score(q.vec_set, d.vec_set) AS score,
          |         row_number() OVER (PARTITION BY q.qset_id
          |           ORDER BY graft_chamfer_score(q.vec_set, d.vec_set) DESC,
          |                    d.dset_id ASC) AS rnk
          |  FROM metrics_mv_queries q CROSS JOIN metrics_sets d) t
          |WHERE rnk <= 5""".stripMargin)
      val mrows = mdf.collect()
      val mexec = mdf.queryExecution.executedPlan.collectFirst {
        case x: graft.plans.AnnTopKExec => x
      }.getOrElse(fail("MvJoinTopK not in plan"))
      assert(mexec.nodeName === "MvJoinTopK")
      assert(mexec.metrics("numQueries").value === 3L)
      assert(mexec.metrics("numSurvivors").value === mrows.length.toLong)
      // several query sets search in one distributed job
      assert(mexec.metrics("numDriverSearches").value === 0L)
      // one query set searches on the driver, in either spelling; its
      // distinct candidate sets are what the rescoring scan reads
      val qLit = sets.filter(col("dset_id") === 1L).select("vec_set").first()
        .getSeq[scala.collection.Seq[Float]](0)
        .map(_.map(x => s"${x}F").mkString("array(", ", ", ")"))
        .mkString("array(", ", ", ")")
      sets.filter(col("dset_id") === 1L)
        .select(col("dset_id").as("qset_id"), col("vec_set"))
        .createOrReplaceTempView("metrics_mv_one_query")
      for ((oneSql, shape) <- Seq(
          (s"""SELECT dset_id, graft_chamfer_score($qLit, vec_set) AS score
              |FROM metrics_sets ORDER BY score DESC LIMIT 5""".stripMargin,
            "AnnSearch"),
          ("""SELECT qset_id, dset_id, score FROM (
             |  SELECT q.qset_id, d.dset_id,
             |         graft_chamfer_score(q.vec_set, d.vec_set) AS score,
             |         row_number() OVER (PARTITION BY q.qset_id
             |           ORDER BY graft_chamfer_score(q.vec_set, d.vec_set) DESC,
             |                    d.dset_id ASC) AS rnk
             |  FROM metrics_mv_one_query q CROSS JOIN metrics_sets d) t
             |WHERE rnk <= 5""".stripMargin, "MvJoinTopK"))) {
        val odf = spark.sql(oneSql)
        val orows = odf.collect()
        val oexec = odf.queryExecution.executedPlan.collectFirst {
          case x: graft.plans.AnnTopKExec => x
        }.getOrElse(fail(s"$shape not in plan"))
        assert(oexec.nodeName === shape)
        assert(oexec.metrics("numQueries").value === 1L)
        assert(oexec.metrics("numDriverSearches").value === 1L, shape)
        assert(oexec.metrics("numCandidates").value >= orows.length.toLong)
        assert(oexec.metrics("numSurvivors").value === orows.length.toLong)
        assert(orows.length === 5)
      }
      // the query-side cap: a relation past maxQueries fails loudly
      // instead of collecting unboundedly into the driver
      spark.conf.set("spark.graft.ann.relation.maxQueries", "5")
      val e = intercept[Exception](spark.sql(relSql).collect())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("maxQueries")), s"$e")
    } finally {
      spark.conf.unset("spark.graft.ann.relation.maxQueries")
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("single-vector relation route over the IVF-PQ batch tier") {
    val q0 = ivfpqSetup // registers l2 + ip tiers (now batch-capable)
    assert(q0.nonEmpty)
    spark.sql("SELECT vid, vec FROM ivfpq_corpus WHERE vid < 6")
      .select(col("vid").as("q_id"), col("vec").as("q_vec"))
      .createOrReplaceTempView("ivfpq_rel_queries")
    val relSql =
      """SELECT q_id, vid, score FROM (
        |  SELECT q.q_id, d.vid,
        |         graft_vec_l2sq(q.q_vec, d.vec) AS score,
        |         row_number() OVER (PARTITION BY q.q_id
        |           ORDER BY graft_vec_l2sq(q.q_vec, d.vec) ASC,
        |                    d.vid ASC) AS rnk
        |  FROM ivfpq_rel_queries q CROSS JOIN ivfpq_corpus d) t
        |WHERE rnk <= 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(relSql).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(relSql)
      val tiers = df.queryExecution.optimizedPlan.collect {
        case n: graft.plans.AnnTopKNode => n.tier
      }
      assert(tiers === Seq("ivfpq"), "sv relation not on the ivfpq tier")
      val routed = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      // probe coverage is per-query (nProbe cells of nlist): scores on
      // every returned row must be EXACT, the candidate set is gated at
      // >=0.9 mean per-query recall — the tier contract
      val exactScore = exact.map(t => ((t._1, t._2), t._3)).toMap
      routed.foreach { case (q, d, sc) =>
        exactScore.get((q, d)).foreach(es => assert(es === sc, s"drift $q/$d"))
      }
      val exactByQ = exact.groupBy(_._1)
      val routedByQ = routed.groupBy(_._1)
      val recalls = exactByQ.map { case (qk, es) =>
        val got = routedByQ.getOrElse(qk, Seq.empty).map(_._2).toSet
        (es.map(_._2).toSet & got).size.toDouble / es.size
      }
      assert(recalls.sum / recalls.size >= 0.9,
        s"ivfpq batch relation mean recall ${recalls.sum / recalls.size}")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("single-vector relation route over the SHARDED batch tier") {
    setup
    import graft.index.ShardedIndex
    import graft.queries.IndexQueries
    val dir = "target/tmp/ann_sv_sharded_corpus"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("vid4"), col("embedding").as("vec4"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    corpus.createOrReplaceTempView("sv_sh_corpus")
    val emb = corpus.select(col("vid4").as("vec_id"), col("vec4").as("embedding"))
    val idxPath = TempDir("graft_ann_sv_sharded_")
    val ref = ShardedIndex.buildPersisted(spark, emb,
      IndexQueries.FixtureParams, 2, idxPath)
    AnnIndexRegistry.registerSharded(corpus, "vid4", "vec4", ref,
      dim = 64, metricName = "ip", searchL = 120)
    corpus.filter(col("vid4") < 8)
      .select(col("vid4").as("q_id"), col("vec4").as("q_vec"))
      .createOrReplaceTempView("sv_sh_queries")
    val relSql =
      """SELECT q_id, vid4, score FROM (
        |  SELECT q.q_id, d.vid4,
        |         graft_vec_dot(q.q_vec, d.vec4) AS score,
        |         row_number() OVER (PARTITION BY q.q_id
        |           ORDER BY graft_vec_dot(q.q_vec, d.vec4) DESC,
        |                    d.vid4 ASC) AS rnk
        |  FROM sv_sh_queries q CROSS JOIN sv_sh_corpus d) t
        |WHERE rnk <= 10""".stripMargin
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val exact = spark.sql(relSql).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(relSql)
      val tiers = df.queryExecution.optimizedPlan.collect {
        case n: graft.plans.AnnTopKNode => n.tier
      }
      assert(tiers === Seq("sharded"), "sv relation not on the sharded tier")
      val routed = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // exact scores on every returned row, >=0.9 mean per-query recall
      val exactScore = exact.map(t => ((t._1, t._2), t._3)).toMap
      routed.foreach { case (q, d, s) =>
        exactScore.get((q, d)).foreach(es => assert(es === s, s"drift $q/$d"))
      }
      val exactByQ = exact.groupBy(_._1)
      val routedByQ = routed.groupBy(_._1)
      val recalls = exactByQ.map { case (q, es) =>
        val got = routedByQ.getOrElse(q, Array.empty).map(_._2).toSet
        (es.map(_._2).toSet & got).size.toDouble / es.size
      }
      assert(recalls.sum / recalls.size >= 0.9,
        s"sharded sv relation mean recall ${recalls.sum / recalls.size}")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("same-named columns on a DIFFERENT relation are NOT routed") {
    setup
    val q = queryLit
    // a different source with identical column names (vec_id, embedding)
    Tables.embeddings(spark, sfDir)
      .limit(50).write.mode("overwrite")
      .parquet("target/tmp/ann_other_corpus")
    spark.read.parquet("target/tmp/ann_other_corpus")
      .createOrReplaceTempView("other_corpus")
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val df = spark.sql(
        s"""SELECT vec_id, graft_vec_dot(embedding, $q) AS score
           |FROM other_corpus ORDER BY score DESC LIMIT 10""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("AnnSearch"), s"foreign relation was routed:\n$plan")
      assert(df.count() === 10)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("a graph registration over another relation with the same columns leaves a planned statement on its own entry") {
    setup
    val q = queryLit
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val expected = spark.sql(sql(q)).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val df = spark.sql(sql(q))
      assert(df.queryExecution.executedPlan.toString.contains("AnnSearch"))
      // relation B: the first 250 corpus rows under the same column
      // names, with its own graph, registered AFTER df was planned
      val dir = "target/tmp/ann_graph_twin"
      Tables.embeddings(spark, sfDir).filter(col("vec_id") < 250)
        .write.mode("overwrite").parquet(dir)
      val twin = spark.read.parquet(dir)
      val idx = GraphBuild.build(spark, twin, twin, IndexQueries.FixtureParams)
      AnnIndexRegistry.register(twin, "vec_id", "embedding",
        AnnIndexRegistry.Entry(
          spark.sparkContext.broadcast(idx.graph),
          spark.sparkContext.broadcast(idx.vecs),
          spark.sparkContext.broadcast(VectorStore.fromDf(twin, "vec_id",
            "embedding", Metrics.InnerProduct)),
          idx.params.metric, searchL = 80))
      assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))) === expected,
        "the planned statement did not answer from its own relation's entry")
      // both registrations stay routable, each for its own relation
      assert(spark.sql(sql(q)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))) === expected)
      twin.createOrReplaceTempView("ann_graph_twin")
      val onTwin = spark.sql(
        s"""SELECT vec_id, graft_vec_dot(embedding, $q) AS score
           |FROM ann_graph_twin ORDER BY score DESC LIMIT 10""".stripMargin)
      assert(onTwin.queryExecution.executedPlan.toString.contains("AnnSearch"))
      val ids = onTwin.collect().map(_.getLong(0))
      assert(ids.length === 10 && ids.forall(_ < 250),
        s"the twin statement answered outside its relation: ${ids.toSeq}")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("one candidate tier name registered over two relations routes each statement to its own relation") {
    setup
    val q = queryLit
    def twin(name: String, rows: org.apache.spark.sql.Column) = {
      val dir = s"target/tmp/ann_tier_twin_$name"
      Tables.embeddings(spark, sfDir).filter(rows)
        .select(col("vec_id").as("tvid"), col("embedding").as("tvec"))
        .write.mode("overwrite").parquet(dir)
      val corpus = spark.read.parquet(dir)
      corpus.createOrReplaceTempView(s"tier_twin_$name")
      // every row is a candidate: the routed answer must then equal the
      // exhaustive one over the SAME relation exactly
      AnnIndexRegistry.registerTier(corpus, "tvid", "tvec",
        AnnIndexRegistry.CandidateTierEntry("twin_tier", corpus, "tvid",
          "tvec", "ip", dim = 64,
          candidates = (_, _, _) => corpus.select(col("tvid").as("d_id"))))
    }
    twin("a", col("vec_id") < 250)
    twin("b", col("vec_id") >= 250)
    def dotSql(name: String) =
      s"""SELECT tvid, graft_vec_dot(tvec, $q) AS score
         |FROM tier_twin_$name ORDER BY score DESC LIMIT 10""".stripMargin
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    try {
      for (name <- Seq("a", "b")) {
        spark.conf.set("spark.graft.ann.rewrite", "false")
        val exhaustive = rows(spark.sql(dotSql(name)))
        spark.conf.set("spark.graft.ann.rewrite", "true")
        val df = spark.sql(dotSql(name))
        assert(routedTier(df) === Seq("twin_tier"),
          s"statement over relation $name was not routed")
        assert(rows(df) === exhaustive,
          s"statement over relation $name did not answer from its own relation")
      }
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("a sharded registration without a refresh thunk warns once when a delta appears; with one it never warns") {
    setup
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import graft.index.ShardedIndex
    val emb = Tables.embeddings(spark, sfDir)
    /** WARN messages of the registry logger while two routed statements
      * run over a sharded registration that grew by one delta after it
      * was registered. */
    def warnings(withRefresh: Boolean): Seq[String] = {
      val tag = if (withRefresh) "refresh" else "norefresh"
      val dir = s"target/tmp/ann_${tag}_corpus"
      val idxPath = s"target/tmp/ann_${tag}_index"
      emb.filter(col("vec_id") < 100)
        .select(col("vec_id").as("rvid"), col("embedding").as("rvec"))
        .write.mode("overwrite").parquet(dir)
      val corpus = spark.read.parquet(dir)
      corpus.createOrReplaceTempView(s"${tag}_corpus")
      val ref = ShardedIndex.buildPersisted(spark,
        emb.filter(col("vec_id") < 100).select(col("vec_id"), col("embedding")),
        IndexQueries.FixtureParams, nShards = 1, idxPath)
      AnnIndexRegistry.registerSharded(corpus, "rvid", "rvec", ref,
        dim = 64, metricName = "cosine", searchL = 40,
        refresh = if (withRefresh) () => spark.read.parquet(dir) else null)
      ShardedIndex.appendDelta(spark,
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 200)
          .select(col("vec_id"), col("embedding")),
        ref, IndexQueries.FixtureParams)
      val logger = LogManager.getLogger("graft.plans.AnnIndexRegistry")
        .asInstanceOf[Logger]
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val appender = new AbstractAppender(s"capture_$tag", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getLevel == Level.WARN)
            seen.add(e.getMessage.getFormattedMessage)
      }
      appender.start()
      val level = logger.getLevel
      logger.setLevel(Level.WARN)
      logger.addAppender(appender)
      spark.conf.set("spark.graft.ann.rewrite", "true")
      try {
        for (vid <- Seq(7L, 150L)) {
          val qv = emb.filter(col("vec_id") === vid).select("embedding")
            .first().getSeq[Float](0).map(x => s"${x}F")
            .mkString("array(", ", ", ")")
          val df = spark.sql(
            s"""SELECT rvid, graft_vec_cosine(rvec, $qv) AS score
               |FROM ${tag}_corpus ORDER BY score DESC LIMIT 5""".stripMargin)
          assert(routedTier(df) === Seq("sharded"))
          df.collect()
        }
      } finally {
        spark.conf.set("spark.graft.ann.rewrite", "false")
        logger.removeAppender(appender)
        logger.setLevel(level)
        appender.stop()
      }
      seen.toArray(Array.empty[String]).toSeq
    }
    val without = warnings(withRefresh = false)
    assert(without.size === 1, s"expected exactly one warning: $without")
    assert(without.head.contains("registerSharded"), without.head)
    assert(warnings(withRefresh = true).isEmpty)
  }
}
