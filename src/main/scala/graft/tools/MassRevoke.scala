package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Harness, Tables}
import graft.index.{BuildParams, ShardedIndex}
import graft.queries.Fixtures

/** Wall-clock cost of a MASS-REVOCATION generation flip — the
  * 30%-of-corpus takedown wave that breaks the bounded-mask contract
  * the driver-array sidecar writer assumes. GenerationSpec pins the
  * two writers byte-identical at fixture scale; this prices them at
  * 100×: the same build + 30% deleteVersioned + compactVersioned
  * lifecycle, once with the erasure set riding the driver
  * (`spark.graft.ann.deadSidecar.maxDriverIds` above the set size)
  * and once through the distributive join writer (threshold 1). The
  * interesting outputs: the distributive flip costs about the same
  * wall clock (the rebuild dominates; the sidecar writes are a few
  * small jobs either way) while the driver path's peak driver
  * footprint scales with the revocation and the distributive path's
  * does not — at a real 100 TB wave (billions of ids) only the
  * distributive path completes at all.
  *
  * Usage: `runMain graft.tools.MassRevoke [sfDir] [nShards] [frac]
  * [out.tsv] [params]` — defaults /tmp/graft_sf10, 20, 0.3,
  * stdout-only, `fixture`. Committed artifact: SWEEP_REVOKE.tsv.
  */
object MassRevoke {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf10")
    val nShards = args.lift(1).map(_.toInt).getOrElse(20)
    val frac = args.lift(2).map(_.toDouble).getOrElse(0.3)
    val out = args.lift(3).filter(_.nonEmpty)
    val params = Harness.buildParams(args.lift(4))
    val spark = Harness.session(
      "spark.graft.index.residentShards" -> nShards.toString)
    val table = new Harness.Table("mode", "rows", "deleted", "compact_sec")
    run(spark, sfDir, nShards, frac, params).foreach { case (m, n, d, sec) =>
      table.add(m, n, d, f"$sec%.1f") }
    out.foreach(table.write)
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, nShards: Int, frac: Double,
          params: BuildParams): Seq[(String, Long, Long, Double)] = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val every = math.max(1L, math.round(1.0 / frac))
    def lifecycle(mode: String): (String, Long, Long, Double, String) = {
      val root = Fixtures.tempDir(s"graft_revoke_$mode")
      ShardedIndex.buildVersioned(spark, emb, params, nShards, root)
      val wave = spark.range(0, n).filter(col("id") % every === 0)
        .select(col("id").as("gid"))
      val deleted = ShardedIndex.deleteVersioned(spark, root, wave)
      val (ref, sec) =
        Harness.timed(ShardedIndex.compactVersioned(spark, root, params))
      (mode, n, deleted, sec, ref.path)
    }
    spark.conf.set("spark.graft.ann.deadSidecar.maxDriverIds",
      (n * 2).toString) // force the driver-array writer
    val drv = lifecycle("driver")
    spark.conf.set("spark.graft.ann.deadSidecar.maxDriverIds", "1")
    val dist = lifecycle("distributive")
    spark.conf.unset("spark.graft.ann.deadSidecar.maxDriverIds")
    // the two writers must agree sidecar-for-sidecar (the fixture-scale
    // GenerationSpec property, re-asserted at this scale)
    (0 until nShards).foreach { s =>
      def deadSet(p: String): Set[Long] =
        spark.read.parquet(s"$p/shard$s/dead")
          .select(col("vec_id")).as[Long].collect().toSet
      require(deadSet(drv._5) == deadSet(dist._5),
        s"sidecar divergence between writers on shard $s")
    }
    Seq(drv, dist).map { case (m, nn, d, sec, _) => (m, nn, d, sec) }
  }
}
