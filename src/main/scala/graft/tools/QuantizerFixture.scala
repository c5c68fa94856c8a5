package graft.tools

import org.apache.spark.sql.functions._

import graft.Harness

/** Regenerates the COMMITTED trained-quantizer fixtures that back the
  * `g9_ivfpq` codes-fixture oracle (r19 verdict task 4):
  *
  *  - `fixtures/ivfpq_<sf>_codebooks.parquet` — (sub, code, vec):
  *    every PQ subspace codeword, as DOUBLE lists (exact widening of
  *    the trained floats, so both engines reconstruct identical
  *    codewords);
  *  - `fixtures/ivfpq_<sf>_centroids.parquet` — (cell, vec): the
  *    coarse IVF centroids (committed for completeness/audit; the
  *    certificate arm probes every cell, so serving needs only the
  *    codes);
  *  - `fixtures/ivfpq_<sf>_codes.parquet` — (d_id, cell, sub, code):
  *    the encoded corpus, long form so DuckDB joins codewords without
  *    touching binary layouts.
  *
  * Training is the PRODUCTION recipe verbatim (the `ivfPqIndex`
  * fixture in AnnQueries: 2000-row sample at seed 42, 16 Lloyd cells,
  * 8 subspaces × 32 codes) — the fixture commits real trained output;
  * only the TRAINING stage is pinned, because it is the one stage a
  * SQL oracle cannot reproduce. Run ONLY when the corpus or the
  * trainers change on purpose:
  * `runMain graft.tools.QuantizerFixture [sfDir] [outDir]`.
  */
object QuantizerFixture {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("fixtures")
    val sf = new java.io.File(sfDir).getName
    val spark = Harness.session(16)
    import spark.implicits._
    import graft.operators.{IvfAnn, PqAnn}

    val d = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val sample = IvfAnn.collectSample(d, 2000, 42L)
    val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
    val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def commit(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      MmExpected.writeSorted(df, s"$outDir/$name")
      println(s"$name <- ${df.count()} rows")
    }

    commit(s"ivfpq_${sf}_codebooks.parquet",
      cbs.zipWithIndex.flatMap { case (cb, m) =>
        cb.zipWithIndex.map { case (v, c) =>
          (m, c, v.map(_.toDouble).toSeq)
        }
      }.toSeq.toDF("sub", "code", "vec"))
    commit(s"ivfpq_${sf}_centroids.parquet",
      centroids.zipWithIndex.map { case (v, c) =>
        (c, v.map(_.toDouble).toSeq)
      }.toSeq.toDF("cell", "vec"))
    // the encoded corpus: production assignment + encode against the
    // frozen quantizers (IvfPq.writeRows' arithmetic), long form
    val assigned = IvfAnn.assign(spark, d, "d_id", "d_vec", centroids)
      .select(col("d_id"), col("cell").cast("int").as("cell"))
    commit(s"ivfpq_${sf}_codes.parquet",
      PqAnn.encode(d, cbs).join(assigned, "d_id")
        .select(col("d_id"), col("cell"),
          posexplode(col("codes")).as(Seq("sub", "code"))))
    spark.stop()
  }
}
