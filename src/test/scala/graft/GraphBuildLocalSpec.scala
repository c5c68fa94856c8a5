package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{BuildParams, GraphBuild, Metrics, VectorStore}

/** The driver-side small-build fast path must be INVISIBLE: for the
  * same input it must produce the bit-identical graph the distributed
  * phase pipeline produces — entry point, offsets, neighbor arrays.
  * If this ever fails, the fast path has diverged from the build
  * semantics and must be fixed (or removed), never shipped: the
  * threshold would otherwise change what an index contains depending
  * on batch size. */
class GraphBuildLocalSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graphbuild-local-spec")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  test("driver-side build equals distributed build bit-for-bit (incl. a sub-mSq corpus)") {
    spark.sparkContext.setLogLevel("WARN")
    val params = BuildParams(mSq = 20, mPjbp = 8, lPjpq = 40,
      metric = "cosine")
    for (slice <- Seq(7L, 120L)) { // below mSq and a regular small corpus
      val e = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < slice)
        .select(col("vec_id"), col("embedding"))
      val local = GraphBuild.build(spark, e, e, params) // n <= 512 → local
      val dist = GraphBuild.buildDistributed(spark, e, e, params,
        VectorStore.fromDf(e, "vec_id", "embedding", Metrics(params.metric)))
      assert(local.graph.n === dist.graph.n, s"n (slice $slice)")
      assert(local.graph.entryPoint === dist.graph.entryPoint,
        s"entry point (slice $slice)")
      assert(local.graph.offsets.toSeq === dist.graph.offsets.toSeq,
        s"CSR offsets (slice $slice)")
      assert(local.graph.nbrs.toSeq === dist.graph.nbrs.toSeq,
        s"CSR neighbors (slice $slice)")
      assert(local.vecs.data.toSeq === dist.vecs.data.toSeq,
        s"vector store (slice $slice)")
    }
  }
}
