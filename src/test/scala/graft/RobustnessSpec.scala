package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.index.{GraphBuild, Metrics}
import graft.queries.IndexQueries
import graft.sources.Fbin

/** SQL function surface, build determinism, and error paths. */
class RobustnessSpec extends AnyFunSuite {
  import TestSpark._

  test("graft_* SQL functions register and match the Column API") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, sfDir).limit(50).createOrReplaceTempView("e50")
    val viaSql = spark.sql(
      """SELECT a.vec_id, graft_vec_dot(a.embedding, b.embedding) AS dot,
        |       graft_vec_norm(a.embedding) AS nrm,
        |       graft_vec_l2sq(a.embedding, b.embedding) AS l2
        |FROM e50 a JOIN e50 b ON b.vec_id = a.vec_id + 1""".stripMargin)
      .orderBy("vec_id").collect()
    import graft.functions.VectorFunctions._
    val a = Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"), col("embedding").as("ea"))
    val b = Tables.embeddings(spark, sfDir).limit(50)
      .select((col("vec_id") - 1).as("vec_id"), col("embedding").as("eb"))
    val viaCol = a.join(b, "vec_id")
      .select(col("vec_id"), vecDot(col("ea"), col("eb")).as("dot"),
        vecNorm(col("ea")).as("nrm"), vecL2Sq(col("ea"), col("eb")).as("l2"))
      .orderBy("vec_id").collect()
    assert(viaSql.length === viaCol.length && viaSql.nonEmpty)
    viaSql.zip(viaCol).foreach { case (x, y) =>
      assert(x.getLong(0) === y.getLong(0))
      assert(x.getDouble(1) === y.getDouble(1)) // bitwise: same expression
      assert(x.getDouble(2) === y.getDouble(2))
      assert(x.getDouble(3) === y.getDouble(3))
    }
  }

  test("GraftExtensions injects functions, rule and strategy") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    // builders registered for every function name (buildFunction applies
    // the injected seq to a session at creation; here we assert the
    // injections landed by name)
    val names = GraftFunctions.injections.map(_._1.funcName)
    assert(names === Seq("graft_vec_dot", "graft_vec_l2sq",
      "graft_vec_cosine", "graft_chamfer_score", "graft_maxsim_score",
      "graft_vec_norm"))
  }

  test("index build is deterministic across repeated runs") {
    val emb = Tables.embeddings(spark, sfDir)
    val g1 = GraphBuild.build(spark, emb, emb, IndexQueries.FixtureParams).graph
    val g2 = GraphBuild.build(spark, emb, emb, IndexQueries.FixtureParams).graph
    assert(g1.n === g2.n)
    assert(g1.entryPoint === g2.entryPoint)
    (0 until g1.n).foreach { v =>
      assert(g1.neighbors(v).toSeq == g2.neighbors(v).toSeq,
        s"node $v differs between builds")
    }
  }

  test("error paths: unknown metric, truncated fbin, bad knn args") {
    assertThrows[IllegalArgumentException](Metrics("manhattan"))
    val p = "/tmp/graft_truncated.fbin"
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      Array[Byte](5, 0, 0, 0, 4, 0, 0, 0, 1, 2, 3)) // header claims 5x4 floats
    assertThrows[IllegalArgumentException](Fbin.meta(p))
    assertThrows[IllegalArgumentException](
      graft.operators.KnnJoin.bruteForce(
        Tables.embeddings(spark, sfDir).limit(1)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        Tables.embeddings(spark, sfDir)
          .select(col("vec_id").as("d_id"), col("embedding").as("d_vec")),
        3, metric = "manhattan"))
  }

  test("multimodal error paths: bad frame/resize args") {
    import graft.multimodal.MediaPipeline
    val m = MediaPipeline.fromDocuments(spark, sfDir).limit(1)
    assertThrows[IllegalArgumentException](MediaPipeline.frameSample(m, 0, 64))
    assertThrows[IllegalArgumentException](MediaPipeline.frameSample(m, 4, 0))
    assertThrows[IllegalArgumentException](
      MediaPipeline.resizeStub(Array[Byte](1, 2, 3), 0))
  }

  test("pq error paths: indivisible dim, nCand < k") {
    import graft.operators.PqAnn
    val d = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val q = d.limit(2).select(col("d_id").as("q_id"), col("d_vec").as("q_vec"))
    // dim 64 is not divisible by 7 subspaces
    assertThrows[IllegalArgumentException](PqAnn.seededCodebooks(d, 7, 16))
    val cbs = PqAnn.seededCodebooks(d, 8, 16)
    assertThrows[IllegalArgumentException](
      PqAnn.searchEncoded(q, PqAnn.encode(d, cbs), d, cbs, k = 10, nCand = 5))
  }

  test("new-tier edge cases: empty inputs keep schemas, guards fire") {
    import graft.operators.{IvfAnn, IvfPq, PqAnn, RandomProjection}
    import graft.queries.TextQueries
    val d = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val seeds = IvfAnn.seededCentroids(d, 4)
    // empty projection input: empty result, schema intact
    val emptyD = d.filter(col("d_id") < 0)
    val p = RandomProjection.project(emptyD, "d_id", "d_vec", seeds)
    assert(p.columns.toSeq === Seq("d_id", "pvec"))
    assert(p.count() === 0L)
    assertThrows[IllegalArgumentException](
      RandomProjection.project(d, "d_id", "d_vec", Array.empty))
    assertThrows[IllegalArgumentException](
      RandomProjection.knn(spark, d.limit(1)
        .select(col("d_id").as("q_id"), col("d_vec").as("q_vec")),
        d, k = 10, nCand = 5))
    // empty redaction input: empty result, all columns present
    val r = TextQueries.redactPii(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 0))
    assert(r.columns.toSet ===
      Set("doc_id", "n_email", "n_url", "n_phone", "redacted"))
    assert(r.count() === 0L)
    // empty query batch over a seeded IVF-PQ index: empty ranked output
    val cbs = PqAnn.seededCodebooks(d, 8, 16)
    val path = TempDir("graft_ivfpq_edge_")
    IvfPq.writeIndexSeeded(spark, d, path, seeds, cbs)
    val out = IvfPq.knnSeededOverIndex(spark,
      d.filter(col("d_id") < 0)
        .select(col("d_id").as("q_id"), col("d_vec").as("q_vec")),
      path, d, seeds, cbs, k = 5)
    assert(out.columns.toSeq === Seq("q_id", "rank", "d_id", "score"))
    assert(out.count() === 0L)
  }

  test("round-9 edge cases: sq8 degenerate rows, semdedup taus, guards") {
    import spark.implicits._
    import graft.operators.{IvfAnn, SemDedup, Sq8Ann}
    // zero vector and constant dimension: no NaN, zero row ranks last
    val rows = Seq(
      (0L, Array(1.0f, 2.0f, 5.0f)),
      (1L, Array(1.1f, 1.9f, 5.0f)), // dim 2 constant across 0,1,3 rows
      (2L, Array(0.0f, 0.0f, 0.0f)), // zero vector
      (3L, Array(-3.0f, 4.0f, 5.0f)))
    val d = rows.toDF("d_id", "d_vec")
    val b = Sq8Ann.trainBounds(d)
    val q = Seq((0L, rows(0)._2)).toDF("q_id", "q_vec")
    val out = Sq8Ann.searchEncoded(q, Sq8Ann.encode(d, b), d, b,
      k = 3, nCand = 4, excludeSelf = true).collect()
    assert(out.length === 3 && out.forall(r => !r.getDouble(3).isNaN))
    assert(out.sortBy(_.getInt(1)).last.getLong(2) === 2L,
      "zero vector must rank last, not crash or win")
    assertThrows[IllegalArgumentException](
      Sq8Ann.trainBounds(d.filter(col("d_id") < 0)))
    assertThrows[IllegalArgumentException](
      Sq8Ann.searchEncoded(q, Sq8Ann.encode(d, b), d, b, k = 5, nCand = 3))
    // semdedup: tau > 1 marks nothing (quantized cosine can reach 1.0
    // but never exceed it); tau <= -1 marks every non-minimum row
    val corpus = d.select(col("d_id").as("id"), col("d_vec").as("vec"))
      .filter(col("id") =!= 2L) // zero vector has no cosine direction
    val cents = IvfAnn.seededCentroids(
      corpus.select(col("id").as("d_id"), col("vec").as("d_vec")), 2)
    val none = SemDedup.mark(corpus, cents, tau = 1.000001).collect()
    assert(none.forall(_.getLong(2) == 0L), "tau>1 must mark nothing")
    val all = SemDedup.mark(corpus, cents, tau = -1.5).collect()
    val byCell = all.groupBy(_.getLong(1))
    byCell.foreach { case (_, rs) =>
      val minId = rs.map(_.getLong(0)).min
      rs.foreach(r => assert((r.getLong(2) == 0L) == (r.getLong(0) == minId),
        s"tau<=-1 must keep exactly the cell minimum: ${rs.toSeq}"))
    }
  }

  test("operator-face query collects fail loudly past the conf'd cap") {
    // the direct APIs (IvfPq.knnOverIndex / Sq8Ann.searchEncoded)
    // collect their query batch driver-side; an unbounded batch must
    // hit spark.graft.ann.operator.maxQueries, not OOM the driver —
    // and the error must name the blocked drivers as the escape hatch
    import spark.implicits._
    val d = (0L until 8L).map(i => (i, Array(i.toFloat, 1f, 2f)))
      .toDF("d_id", "d_vec")
    val q = d.select(col("d_id").as("q_id"), col("d_vec").as("q_vec"))
    val b = graft.operators.Sq8Ann.trainBounds(d)
    val enc = graft.operators.Sq8Ann.encode(d, b)
    spark.conf.set("spark.graft.ann.operator.maxQueries", "3")
    try {
      val ex = intercept[IllegalArgumentException](
        graft.operators.Sq8Ann.searchEncoded(q, enc, d, b, k = 2,
          nCand = 4))
      assert(ex.getMessage.contains("maxQueries") &&
        ex.getMessage.contains("Blocked"),
        s"cap error must point at the blocked driver: ${ex.getMessage}")
      // under the cap the same call succeeds unchanged
      assert(graft.operators.Sq8Ann.searchEncoded(q.limit(3), enc, d, b,
        k = 2, nCand = 4).count() > 0)
      // the blocked driver slices below the cap and still answers the
      // WHOLE batch (the documented unbounded-batch path)
      spark.conf.set("spark.graft.ann.operator.maxQueries", "4")
      assert(graft.operators.Sq8Ann.searchEncodedBlocked(q, enc, d, b,
        k = 2, nCand = 4, blockSize = 4)
        .select("q_id").distinct().count() === 8L)
    } finally spark.conf.unset("spark.graft.ann.operator.maxQueries")
  }

  test("chunking boundaries: 1 token, exactly size, size+1, empty doc") {
    import spark.implicits._
    import graft.queries.TextQueries
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docsDf = Seq(
      (1L, "solo"), // 1 token → one 1-token chunk
      (2L, words(64)), // exactly size → one full chunk
      (3L, words(65)), // size+1 → second chunk starts at stride 48
      (4L, "   ") // whitespace only → zero tokens → no rows
    ).toDF("doc_id", "text")
    val out = TextQueries.chunkTokens(docsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(out(1L).toSeq === Seq((1L, 0L, 0L, 1L)))
    assert(out(2L).toSeq === Seq((2L, 0L, 0L, 64L)))
    assert(out(3L).sortBy(_._2).toSeq ===
      Seq((3L, 0L, 0L, 64L), (3L, 1L, 48L, 17L)))
    assert(!out.contains(4L), "whitespace-only doc must emit no chunks")
  }

  test("round-8 edge cases: prefix sum, delta ingest, image decode guards") {
    import graft.index.{ShardedIndex, ShardedIndexRef}
    import graft.operators.PrefixSum
    import graft.multimodal.MediaPipeline
    // empty totals: empty offsets at every recursion depth, schema intact
    val empty = spark.range(0).select(col("id").as("bucket"),
      col("id").as("total"))
    for (lv <- Seq(0, 2)) {
      val o = PrefixSum.exclusiveOffsets(empty, "bucket", "total", levels = lv)
      assert(o.columns.toSeq === Seq("bucket", "boff"))
      assert(o.count() === 0L)
    }
    // single bucket: offset 0 regardless of depth
    val one = spark.range(1).select(lit(7L).as("bucket"), lit(42L).as("total"))
    assert(PrefixSum.exclusiveOffsets(one, "bucket", "total", fanout = 2,
      levels = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((7L, 0L)))
    assertThrows[IllegalArgumentException](
      PrefixSum.exclusiveOffsets(one, "bucket", "total", fanout = 1))
    // delta append refuses a metric mismatch; compact is a no-op with no
    // deltas (no filesystem touch, same ref back)
    val ref = ShardedIndexRef("/nonexistent", 2, "cosine")
    assertThrows[IllegalArgumentException](
      ShardedIndex.appendDelta(spark,
        Tables.embeddings(spark, sfDir).limit(1), ref,
        graft.index.BuildParams(mSq = 4, mPjbp = 4, lPjpq = 8, metric = "l2")))
    assert(ShardedIndex.compact(spark, ref,
      IndexQueries.FixtureParams) === ref)
    assert(ShardedIndex.deltaFraction(spark, ref) === 0.0)
    // image decode: empty/garbage bytes → None (stub fallback), never throws
    assert(MediaPipeline.decodeImage(Array.empty[Byte]).isEmpty)
    assert(MediaPipeline.decodeImage("garbage".getBytes).isEmpty)
    assert(MediaPipeline.decode(Array.empty[Byte], "image/png").length === 8)
  }
}
