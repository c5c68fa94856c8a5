package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Harness, Tables}
import graft.Harness.timed
import graft.operators.{IvfAnn, IvfPq, MinHashLsh, PqAnn, SemDedup, Sq8Ann}
import graft.queries.{Fixtures, TextQueries}

/** Wall-clock cost of the `compactVersioned` fold on the four faces
  * that gained generation-versioned lifecycles in round 15 — IVF-PQ
  * codes, SQ8 codes+bounds, MinHash band keys, SemDeDup cells.
  * VersionedFacesSpec certifies each fold's CORRECTNESS (erasure +
  * serve-through + re-armed triggers); this measures what the
  * maintenance loop pays per fold, the number its scheduling needs
  * (SWEEP_RESHARD / SWEEP_SERVE_COMPACT already price the sharded
  * graph and inverted faces).
  *
  * Per face: build a versioned generation from the full corpus,
  * tombstone a `delPct`% takedown tranche, then time the fold into
  * the successor generation (readers never paused — the flip is the
  * [[graft.index.Generations]] manifest rename). The interesting
  * outputs: fold ≈ rewrite-of-survivors on every face (each is one
  * scan + anti-join + write, no training and no graph rebuild), so
  * fold cost scales with the face's on-disk footprint, not with
  * tranche size.
  *
  * Usage: `runMain graft.tools.FoldCost [sfDir] [delPct] [out.tsv]` —
  * defaults /tmp/graft_sf1, 10, stdout-only. Committed artifact:
  * SWEEP_FOLD_FACES.tsv (run at /tmp/graft_sf10 = 100x).
  */
object FoldCost {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val delPct = args.lift(1).map(_.toInt).getOrElse(10)
    val out = args.lift(2).filter(_.nonEmpty)
    val spark = Harness.session()
    val table = new Harness.Table("face", "rows", "del_rows", "build_sec",
      "delete_sec", "fold_sec")
    run(spark, sfDir, delPct).foreach { case (f, n, d, b, del, fold) =>
      table.add(f, n, d, f"$b%.1f", f"$del%.1f", f"$fold%.1f") }
    out.foreach(table.write)
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, delPct: Int)
      : Seq[(String, Long, Long, Double, Double, Double)] = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val d = emb.select(col("vec_id").as("d_id"),
      col("embedding").as("d_vec"))
    val nEmb = emb.count()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    // id % 100 < delPct gives the EXACT fraction for any percentage —
    // the previous step-based form (`by 100/delPct`) mislabeled any
    // delPct that does not divide 100 (30 → an actual 33% tranche)
    // and crashed on 0 or >100
    require(delPct >= 1 && delPct <= 100,
      s"delPct must be in [1,100], got $delPct")
    def tranche(n: Long): DataFrame = {
      import spark.implicits._
      (0L until n).filter(_ % 100 < delPct).toDF("id")
    }
    def root(tag: String): String = Fixtures.tempDir(s"graft_fold_$tag")

    // IVF-PQ codes face: seeded quantizers (frozen across folds by
    // contract), one codes relation per generation
    val ivfRow = {
      val r = root("ivfpq")
      val centroids = IvfAnn.seededCentroids(d, 64)
      val cbs = PqAnn.seededCodebooks(d, nSub = 8, ncode = 32)
      val (_, b) = timed(
        IvfPq.buildVersioned(spark, d, r, centroids, cbs, seeded = true))
      val (nDel, del) = timed(IvfPq.deleteVersioned(spark, r,
        tranche(nEmb).select(col("id").as("d_id"))))
      val (_, fold) = timed(IvfPq.compactVersioned(spark, r))
      ("ivfpq", nEmb, nDel, b, del, fold)
    }
    // SQ8 codes+bounds face
    val sq8Row = {
      val r = root("sq8")
      val (_, b) = timed(Sq8Ann.buildVersioned(spark, d, r))
      val (nDel, del) = timed(Sq8Ann.deleteVersioned(spark, r,
        tranche(nEmb).select(col("id").as("d_id"))))
      val (_, fold) = timed(Sq8Ann.compactVersioned(spark, r))
      ("sq8", nEmb, nDel, b, del, fold)
    }
    // MinHash band-key face: numBands rows per doc
    val bandRow = {
      val r = root("band")
      val keys = MinHashLsh.bandKeys(TextQueries.shingleHashes(docs), 8, 2)
      val (_, b) = timed(MinHashLsh.buildVersioned(keys, r))
      val (nDel, del) = timed(MinHashLsh.deleteVersioned(spark, r,
        tranche(nDocs).select(col("id").as("doc_id"))))
      val (_, fold) = timed(MinHashLsh.compactVersioned(spark, r))
      ("band", nDocs, nDel, b, del, fold)
    }
    // SemDeDup cell face: cell-keyed embedding index
    val cellRow = {
      val r = root("cell")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val centroids = IvfAnn.seededCentroids(d, 64)
      val (_, b) = timed(SemDedup.buildVersioned(corpus, centroids, r))
      val (nDel, del) = timed(SemDedup.deleteVersioned(spark, r,
        tranche(nEmb).select(col("id"))))
      val (_, fold) = timed(SemDedup.compactVersioned(spark, r))
      ("cell", nEmb, nDel, b, del, fold)
    }
    Seq(ivfRow, sq8Row, bandRow, cellRow)
  }
}
