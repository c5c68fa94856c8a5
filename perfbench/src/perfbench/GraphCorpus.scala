package perfbench

import org.apache.spark.sql.DataFrame

import graft.index.{BuildParams, GraphBuild, RoarIndex}

/** The broadcast-RoarGraph corpus that `mv_batch` and
  * `mv_sql_interactive` share: generated from the seed, with exact
  * scoring state for the benchmark's own ground truth. */
final class GraphCorpus(ctx: Ctx) {
  import GraphCorpus._

  val world: Data.World = Data.world
  val sets: Array[Data.VecSet] = Data.sets(world, ctx.seed, 2, Sets)
  val unit: Array[Array[Array[Double]]] = sets.map(Truth.unit)
  val train: Array[Array[Float]] = Data.trainQueries(world, ctx.seed, sets, Train)
  val targets: IndexedSeq[Int] = 0 until Sets

  /** Exact score of query set `q` against corpus set `id`. */
  def exact(q: Data.VecSet)(id: Long): Double = Truth.score(Truth.unit(q), unit(id.toInt))

  /** Load the corpus into Spark and build the graph (`GraphBuild.build`,
    * traced); returns the cached corpus and the index. */
  def build(): (DataFrame, RoarIndex) = {
    import ctx.spark.implicits._
    val base = ctx.vectorsDf(sets).cache()
    base.count()
    val trainDf = train.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
    val idx = ctx.tracer.span("GraphBuild.build")(GraphBuild.build(ctx.spark, base, trainDf, Params))
    (base, idx)
  }
}

object GraphCorpus {
  val Sets = 2500
  val Train = 1250
  /** The reference's own build settings (`build_roargraph_index.sh`). */
  val Params: BuildParams = BuildParams(mSq = 100, mPjbp = 35, lPjpq = 100, metric = "cosine")

  def layer(idx: RoarIndex, buildS: Double): Map[String, (Double, String)] = Map(
    "GraphBuild.build_s" -> (buildS, "s"),
    "GraphBuild.avg_degree" -> (idx.graph.offsets(idx.graph.n).toDouble / idx.graph.n, "count"),
    "GraphBuild.index_bytes" -> (4.0 * (idx.graph.offsets.length + idx.graph.nbrs.length +
      idx.vecs.data.length), "bytes"))
}
