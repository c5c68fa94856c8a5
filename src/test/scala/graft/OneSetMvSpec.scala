package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.index.{BeamSearch, GraphBuild, Metrics, RoarIndex, VectorStore, VisitedSet}
import graft.plans.{AnnIndexRegistry, AnnStrategy, AnnTopKRule}
import graft.queries.IndexQueries

/** The routed multivector statement that carries ONE query set — a set
  * literal, or a query relation with one row — pinned against the
  * distributed batch path and the exhaustive plan: its candidate sets,
  * its answer rows and its NULL-score handling.
  *
  * Fixture: the sf0.001 embeddings as 125 sets of [[C]] vectors, with
  * sets 119..124 overwritten by copies of set 5 (so set 5 as a query
  * sees a seven-way score tie across rank 4) and set [[NullSet]] holding
  * a NULL vector set in the set corpus (its vectors stay in the graph,
  * so it is a candidate whose score is NULL). Two registrations over two
  * parquet copies: the default budget and a saturating one (2n). */
class OneSetMvSpec extends AnyFunSuite {
  import TestSpark._

  private val C = 4
  private val K = 10
  private val Copies = 119 to 124
  private val NullSet = 7L
  private val Budget = 120

  private case class Fixture(idx: RoarIndex, raw: Array[Array[Float]],
                             sets: DataFrame, satSets: DataFrame)

  private lazy val fixture: Fixture = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cls.experimental.extraOptimizations.contains(AnnTopKRule)) {
      cls.experimental.extraOptimizations =
        cls.experimental.extraOptimizations :+ AnnTopKRule
      cls.experimental.extraStrategies =
        cls.experimental.extraStrategies :+ AnnStrategy
    }
    val rows = Tables.embeddings(spark, sfDir).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
    assert(rows.map(_.getLong(0)).toSeq === rows.indices.map(_.toLong))
    val orig = rows.map(_.getSeq[Float](1).toArray)
    val raw = Array.tabulate(orig.length) { i =>
      if (Copies.contains(i / C)) orig(5 * C + i % C) else orig(i)
    }
    val emb = raw.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
    val idx = GraphBuild.build(spark, emb, emb, IndexQueries.FixtureParams)
    val setRows = emb.select((col("vec_id") / C).cast("long").as("osid"),
        (col("vec_id") % C).cast("int").as("d_sub"), col("embedding"))
      .groupBy("osid")
      .agg(transform(
        array_sort(collect_list(struct(col("d_sub"), col("embedding")))),
        x => x.getField("embedding")).as("oset"))
      .withColumn("oset",
        when(col("osid") === NullSet, lit(null)).otherwise(col("oset")))
    def registered(dir: String, view: String, budget: Int,
                   name: String): DataFrame = {
      setRows.write.mode("overwrite").parquet(dir)
      val s = spark.read.parquet(dir)
      s.createOrReplaceTempView(view)
      AnnIndexRegistry.registerMvRoar(s, "osid", "oset",
        spark.sparkContext.broadcast(idx.graph),
        spark.sparkContext.broadcast(idx.vecs),
        idx.params.metric, C, idx.vecs.dim, budget = budget, name = name)
      s
    }
    Fixture(idx, raw,
      registered("target/tmp/one_set_sets", "one_set_sets", Budget,
        "mv_one_set"),
      registered("target/tmp/one_set_sets_sat", "one_set_sets_sat",
        2 * idx.vecs.n, "mv_one_set_sat"))
  }

  /** Query set of cardinality `c`: noisy copies of corpus vectors. */
  private def querySet(c: Int): Array[Array[Float]] = {
    val rnd = new Random(100 + c)
    val raw = fixture.raw
    Array.tabulate(c) { j =>
      raw((c * 37 + j * 53) % raw.length)
        .map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
    }
  }

  /** The candidate sets of one query set rebuilt from public pieces: the
    * adaptive kernel on the driver with the queue bounds the routed tier
    * derives from its budget, fresh visited sets, hit ids / c. */
  private def reference(q: Array[Array[Float]], budget: Int): Set[Long] = {
    val idx = fixture.idx
    val metric = Metrics(idx.params.metric)
    val qs = if (metric.normalizeAtLoad) q.map(VectorStore.normalized) else q
    BeamSearch.searchMulti(idx.graph, idx.vecs, metric, qs,
        math.max(10, budget / C), math.max(200, budget * 2), budget,
        adaptive = true, Array.fill(qs.length)(new VisitedSet(idx.graph.n)))
      .flatMap(_._1).map(id => (id / C).toLong).toSet
  }

  private def entryOf(sets: DataFrame): AnnIndexRegistry.MvEntry =
    AnnIndexRegistry.lookupMvFor("osid", "oset", sets.queryExecution.optimizedPlan)
      .getOrElse(fail("multivector tier not registered"))

  private def setLit(q: Array[Array[Float]]): String =
    q.map(_.map(x => s"${x}F").mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  private def literalSql(q: Array[Array[Float]], sets: String, k: Int,
                         tieBreak: Boolean = false): String =
    s"""SELECT osid, graft_chamfer_score(${setLit(q)}, oset) AS score
       |FROM $sets ORDER BY score DESC${if (tieBreak) ", osid ASC" else ""}
       |LIMIT $k""".stripMargin

  private def relationSql(queries: String, sets: String, k: Int): String =
    s"""SELECT qset_id, osid, score FROM (
       |  SELECT q.qset_id, d.osid,
       |         graft_chamfer_score(q.qset, d.oset) AS score,
       |         row_number() OVER (PARTITION BY q.qset_id
       |           ORDER BY graft_chamfer_score(q.qset, d.oset) DESC,
       |                    d.osid ASC) AS rnk
       |  FROM $queries q CROSS JOIN $sets d) t
       |WHERE rnk <= $k""".stripMargin

  /** A query relation of local rows (the interactive client's shape). */
  private def queryView(name: String, qs: Seq[(Long, Array[Array[Float]])]): Unit = {
    import spark.implicits._
    qs.map { case (id, q) => (id, q.map(_.toSeq).toSeq) }
      .toDF("qset_id", "qset").createOrReplaceTempView(name)
  }

  private type Answer = Seq[(Long, Long, Option[Double])]

  private def rowsOf(df: DataFrame, literal: Boolean): Answer =
    df.collect().toSeq.map { (r: Row) =>
      val o = if (literal) 0 else 1
      (if (literal) 0L else r.getLong(0), r.getLong(o),
        if (r.isNullAt(o + 1)) None else Some(r.getDouble(o + 1)))
    }

  /** The statement's answer, exhaustive (rewrite off) or routed (the plan
    * must hold `shape`); rows in rank order per query set. */
  private def answer(sqlText: String, shape: Option[String]): Answer = {
    spark.conf.set("spark.graft.ann.rewrite", shape.isDefined.toString)
    try {
      val df = spark.sql(sqlText)
      val plan = df.queryExecution.executedPlan
      shape.foreach(s => assert(plan.toString.contains(s), s"not routed to $s:\n$plan"))
      rowsOf(df, literal = !df.columns.contains("qset_id"))
        .sortBy(r => (r._1, r._3.map(-_).getOrElse(Double.MaxValue), r._2))
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("one-set candidates equal the distributed batch's for cardinalities 1-8, at the registration and a saturating budget") {
    import spark.implicits._
    val f = fixture
    for ((sets, budget) <- Seq((f.sets, Budget), (f.satSets, 2 * f.idx.vecs.n));
         c <- 1 to 8) {
      val q = querySet(c)
      val want = reference(q, budget)
      val batch = entryOf(sets).candidatesBatch(spark, Seq((0L, q)), K)
        .select(col("dset_id")).as[Long].collect()
      assert(batch.length === batch.distinct.length)
      assert(batch.toSet === want, s"batch candidates, c = $c, budget = $budget")
      val driver = entryOf(sets).driverCandidates(q)
      assert(driver.length === driver.distinct.length)
      assert(driver.toSet === want, s"driver candidates, c = $c, budget = $budget")
    }
  }

  test("a one-row relation statement answers like that set's rows of a multi-set statement") {
    val qs = (1 to 8).map(c => (c.toLong, querySet(c)))
    queryView("one_set_multi_q", qs)
    val multi = answer(relationSql("one_set_multi_q", "one_set_sets", K),
      Some("MvJoinTopK"))
    for ((id, q) <- qs) {
      queryView("one_set_one_q", Seq((id, q)))
      val one = answer(relationSql("one_set_one_q", "one_set_sets", K),
        Some("MvJoinTopK"))
      assert(one.length === K)
      assert(one === multi.filter(_._1 == id), s"query set $id")
    }
  }

  test("at a saturating budget both one-set shapes equal the exhaustive plan, a seven-way tie across rank k included") {
    val cases = (1 to 8).map(c => (querySet(c), K)) :+
      // set 5 itself: sets 5 and 119..124 tie for ranks 1-7
      ((fixture.raw.slice(5 * C, 6 * C), 4))
    for (((q, k), i) <- cases.zipWithIndex) {
      // the literal ORDER BY has no id key; the routed plan breaks ties on
      // the id ascending, so its answer must equal that exhaustive order
      val literal = answer(literalSql(q, "one_set_sets_sat", k), Some("AnnSearch"))
      val litWant = answer(literalSql(q, "one_set_sets_sat", k, tieBreak = true), None)
      val litPlain = answer(literalSql(q, "one_set_sets_sat", k), None)
      assert(literal === litWant, s"literal shape, case $i")
      assert(literal.map(_._3) === litPlain.map(_._3), s"literal scores, case $i")
      queryView("one_set_sat_q", Seq((3L, q)))
      val rel = relationSql("one_set_sat_q", "one_set_sets_sat", k)
      val one = answer(rel, Some("MvJoinTopK"))
      val relWant = answer(rel, None)
      assert(one === relWant, s"relation shape, case $i")
      assert(one.length === k)
    }
    val tie = answer(literalSql(fixture.raw.slice(5 * C, 6 * C),
      "one_set_sets_sat", K), None)
    assert(tie.take(7).map(_._3).distinct.length === 1 &&
      tie.take(7).map(_._2).toSet === (5L +: Copies.map(_.toLong)).toSet,
      s"no seven-way tie at the top: $tie")
  }

  test("NULL scores: the literal shape keeps them last, the relation shape drops them") {
    // one query vector at a saturating budget reaches every set; k covers
    // the whole corpus, so the NULL-scored set reaches the answer
    val q = querySet(1)
    val k = 200
    val literal = answer(literalSql(q, "one_set_sets_sat", k), Some("AnnSearch"))
    val litWant = answer(literalSql(q, "one_set_sets_sat", k, tieBreak = true), None)
    assert(literal.length === 125)
    assert(literal.last === ((0L, NullSet, None)))
    assert(literal === litWant)
    queryView("one_set_null_q", Seq((3L, q)))
    val rel = relationSql("one_set_null_q", "one_set_sets_sat", k)
    val one = answer(rel, Some("MvJoinTopK"))
    val relWant = answer(rel, None)
    assert(relWant.exists(_._3.isEmpty))
    assert(one === relWant.filter(_._3.isDefined))
  }
}
