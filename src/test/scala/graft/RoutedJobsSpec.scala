package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.index.{GraphBuild, Metrics, VectorStore}
import graft.plans.{AnnIndexRegistry, AnnStrategy, AnnTopKRule}
import graft.queries.IndexQueries

/** Exact Spark job, stage and task counts per routed SQL statement, one
  * per routed shape, plus the exhaustive plans of the two multivector
  * flagship statements. These counts do
  * not depend on host load, so they gate the routed operator's Spark
  * work exactly the way `PlanSpec` gates plan shapes: a refactor that
  * adds a collect, a broadcast or a shuffle stage to a shape changes its
  * count here, and one that spreads a one-set search over more tasks
  * changes its task count. Each statement runs once unmeasured (planning
  * caches, footer reads) and is then counted, planning included, through
  * the [[JobCounter]] marker barrier. */
class RoutedJobsSpec extends AnyFunSuite {
  import TestSpark._

  private val C = 4

  private lazy val fixture: Unit = {
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
    val graphB = spark.sparkContext.broadcast(idx.graph)
    val vecsB = spark.sparkContext.broadcast(idx.vecs)

    // graph tier over a private copy of the corpus (own column names:
    // the registry is process-global and other suites register too)
    val gDir = "target/tmp/routed_jobs_graph"
    emb.select(col("vec_id").as("jvid"), col("embedding").as("jvec"))
      .write.mode("overwrite").parquet(gDir)
    val gCorpus = spark.read.parquet(gDir)
    gCorpus.createOrReplaceTempView("jobs_graph")
    AnnIndexRegistry.register(gCorpus, "jvid", "jvec", AnnIndexRegistry.Entry(
      graphB, vecsB,
      spark.sparkContext.broadcast(
        VectorStore.fromDf(emb, "vec_id", "embedding", Metrics.InnerProduct)),
      idx.params.metric, searchL = 80))
    gCorpus.filter(col("jvid") < 8)
      .select(col("jvid").as("q_id"), col("jvec").as("q_vec"))
      .createOrReplaceTempView("jobs_sv_queries")

    // a candidate tier (SQ8 codes) over a second copy, no graph entry
    val tDir = "target/tmp/routed_jobs_tier"
    emb.select(col("vec_id").as("jtid"), col("embedding").as("jtvec"))
      .write.mode("overwrite").parquet(tDir)
    val tCorpus = spark.read.parquet(tDir)
    tCorpus.createOrReplaceTempView("jobs_tier")
    val d = tCorpus.select(col("jtid").as("d_id"), col("jtvec").as("d_vec"))
    val bounds = graft.operators.Sq8Ann.trainBounds(d)
    val encoded = graft.operators.Sq8Ann.encode(d, bounds).cache()
    encoded.count()
    AnnIndexRegistry.registerSq8(tCorpus, "jtid", "jtvec", encoded, bounds,
      metricName = "cosine", nCand = 60)

    // the set-level (multivector) tier
    val setsOf = (idName: String, subName: String,
                  filter: org.apache.spark.sql.Column) =>
      emb.filter(filter)
        .select((col("vec_id") / C).cast("long").as(idName),
          (col("vec_id") % C).cast("int").as(subName), col("embedding"))
        .groupBy(idName)
        .agg(transform(
          array_sort(collect_list(struct(col(subName), col("embedding")))),
          x => x.getField("embedding")).as("jset"))
    val sDir = "target/tmp/routed_jobs_sets"
    setsOf("jsid", "d_sub", lit(true)).write.mode("overwrite").parquet(sDir)
    val sCorpus = spark.read.parquet(sDir)
    sCorpus.createOrReplaceTempView("jobs_sets")
    AnnIndexRegistry.registerMvRoar(sCorpus, "jsid", "jset", graphB, vecsB,
      idx.params.metric, C, idx.vecs.dim, name = "mv_roar_jobs")
    setsOf("qset_id", "q_sub", col("vec_id") < 3 * C)
      .createOrReplaceTempView("jobs_mv_queries")
  }

  private def vecLit(table: String, idCol: String, vecCol: String,
                     id: Long): String =
    spark.table(table).filter(col(idCol) === id).select(vecCol).first()
      .getSeq[Float](0).map(x => s"${x}F").mkString("array(", ", ", ")")

  /** Spark work of one statement (planning + collect) as (jobs, stages,
    * tasks), after one unmeasured warm run; asserts the warm run planned
    * `shape`, or, for "exhaustive", no routed node at all. */
  private def pinOf(sqlText: String, shape: String): (Int, Int, Int) = {
    def run(): DataFrame = { val df = spark.sql(sqlText); df.collect(); df }
    val plan = run().queryExecution.executedPlan.toString
    if (shape == "exhaustive")
      assert(!plan.contains("AnnSearch") && !plan.contains("JoinTopK"),
        s"statement routed with the rewrite off:\n$plan")
    else assert(plan.contains(shape), s"statement not routed to $shape:\n$plan")
    val counter = new JobCounter(spark)
    val n = try counter.measure(run())._2 finally counter.close()
    info(s"$shape: ${n.jobs} jobs, ${n.stages} stages, ${n.tasks} tasks")
    (n.jobs, n.stages, n.tasks)
  }

  private def routed[T](confs: (String, String)*)(body: => T): T = {
    spark.conf.set("spark.graft.ann.rewrite", "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally {
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      spark.conf.set("spark.graft.ann.rewrite", "false")
    }
  }

  test("literal graph route: the search is one single-task job") {
    fixture
    val q = vecLit("jobs_graph", "jvid", "jvec", 7)
    routed() {
      assert(pinOf(
        s"""SELECT jvid, graft_vec_dot(jvec, $q) AS score
           |FROM jobs_graph ORDER BY score DESC LIMIT 10""".stripMargin,
        "AnnSearch") === (1, 1, 1))
    }
  }

  test("literal candidate-tier route: generator jobs, one scan") {
    fixture
    val q = vecLit("jobs_tier", "jtid", "jtvec", 7)
    routed() {
      assert(pinOf(
        s"""SELECT jtid, graft_vec_cosine(jtvec, $q) AS score
           |FROM jobs_tier ORDER BY score DESC LIMIT 10""".stripMargin,
        "AnnSearch") === (4, 4, 4))
    }
  }

  private lazy val mvLiteralSql: String = {
    val qLit = spark.table("jobs_graph")
      .filter(col("jvid") >= C && col("jvid") < 2 * C)
      .orderBy("jvid").select("jvec").collect()
      .map(_.getSeq[Float](0).map(x => s"${x}F").mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    s"""SELECT jsid, graft_chamfer_score($qLit, jset) AS score
       |FROM jobs_sets ORDER BY score DESC LIMIT 10""".stripMargin
  }

  test("literal multivector route: driver search, one rescoring scan") {
    fixture
    routed() {
      // the one query set is searched on the driver: the statement's one
      // job is the scan of the set corpus that rescores its candidates
      assert(pinOf(mvLiteralSql, "AnnSearch") === (1, 1, 1))
    }
  }

  test("literal multivector statement, exhaustive plan") {
    fixture
    assert(pinOf(mvLiteralSql, "exhaustive") === (1, 1, 1))
  }

  private def filteredSql(pred: String, k: Int): String = {
    val q = vecLit("jobs_graph", "jvid", "jvec", 7)
    s"""SELECT jvid, graft_vec_dot(jvec, $q) AS score
       |FROM jobs_graph WHERE $pred
       |ORDER BY score DESC LIMIT $k""".stripMargin
  }

  test("filtered route, selective predicate: probe + exact pre-filter scan") {
    fixture
    routed() {
      assert(pinOf(filteredSql("jvid % 50 = 3 AND jvid < 500", 20),
        "AnnFilteredTopK") === (4, 4, 4))
    }
  }

  test("filtered route, escalation: driver-side beam rounds, one scan each") {
    fixture
    routed("spark.graft.ann.filtered.preFilterMax" -> "0") {
      assert(pinOf(filteredSql("jvid % 50 = 3 AND jvid < 500", 20),
        "AnnFilteredTopK") === (4, 4, 4))
    }
  }

  test("single-vector relation route on the graph tier") {
    fixture
    routed() {
      assert(pinOf(
        """SELECT q_id, jvid, score FROM (
          |  SELECT q.q_id, d.jvid,
          |         graft_vec_cosine(q.q_vec, d.jvec) AS score,
          |         row_number() OVER (PARTITION BY q.q_id
          |           ORDER BY graft_vec_cosine(q.q_vec, d.jvec) DESC,
          |                    d.jvid ASC) AS rnk
          |  FROM jobs_sv_queries q CROSS JOIN jobs_graph d) t
          |WHERE rnk <= 10""".stripMargin,
        "SvJoinTopK") === (2, 2, 5))
    }
  }

  test("single-vector relation route on a candidate tier") {
    fixture
    routed() {
      assert(pinOf(
        """SELECT q_id, jtid, score FROM (
          |  SELECT q.q_id, d.jtid,
          |         graft_vec_cosine(q.q_vec, d.jtvec) AS score,
          |         row_number() OVER (PARTITION BY q.q_id
          |           ORDER BY graft_vec_cosine(q.q_vec, d.jtvec) DESC,
          |                    d.jtid ASC) AS rnk
          |  FROM jobs_sv_queries q CROSS JOIN jobs_tier d) t
          |WHERE rnk <= 10""".stripMargin,
        "SvJoinTopK") === (5, 5, 8))
    }
  }

  private def mvRelationSql(queries: String): String =
    s"""SELECT qset_id, jsid, score FROM (
       |  SELECT q.qset_id, d.jsid,
       |         graft_chamfer_score(q.jset, d.jset) AS score,
       |         row_number() OVER (PARTITION BY q.qset_id
       |           ORDER BY graft_chamfer_score(q.jset, d.jset) DESC,
       |                    d.jsid ASC) AS rnk
       |  FROM $queries q CROSS JOIN jobs_sets d) t
       |WHERE rnk <= 10""".stripMargin

  test("multivector relation route, one local query set: the interactive client's statement") {
    fixture
    import spark.implicits._
    // one row of local data, as an interactive client sends it
    spark.table("jobs_sets").filter(col("jsid") === 1L)
      .select(col("jsid").as("qset_id"), col("jset")).collect()
      .map(r => (r.getLong(0), r.getSeq[scala.collection.Seq[Float]](1).map(_.toSeq)))
      .toSeq.toDF("qset_id", "jset").createOrReplaceTempView("jobs_mv_one_query")
    routed() {
      // read without a job, searched on the driver, then the literal
      // shape's one rescoring scan
      assert(pinOf(mvRelationSql("jobs_mv_one_query"), "MvJoinTopK") ===
        (1, 1, 1))
    }
  }

  test("multivector relation route: one batched search for every query set") {
    fixture
    routed() {
      // the three query sets are searched by three kernel tasks
      assert(pinOf(mvRelationSql("jobs_mv_queries"), "MvJoinTopK") ===
        (6, 6, 11))
    }
  }

  test("multivector relation statement over three query sets, exhaustive plan") {
    fixture
    assert(pinOf(mvRelationSql("jobs_mv_queries"), "exhaustive") ===
      (3, 3, 3))
  }
}
