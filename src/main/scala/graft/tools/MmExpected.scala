package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.Harness
import graft.queries.Fixtures

/** Regenerates the committed mm-decode EXPECTED parquet fixtures that
  * back the `mm_image_decode` / `mm_video_decode` fixture-checksum
  * oracles (`fixtures/mm_*_expected.parquet`). Both queries are
  * deterministic pure-JVM functions of doc_id alone (synthetic
  * PNG/GIF payloads → real javax.imageio decode → luminance strips),
  * so the expected output is a committed artifact the DuckDB oracle
  * reads back — any behavior drift in the codec path reads as a red
  * hash row. Run this ONLY when the decode semantics change on
  * purpose: `runMain graft.tools.MmExpected [sfDir] [outDir]`.
  */
object MmExpected {

  /** `df` as ONE parquet file at `target`, sorted by every column, so a
    * committed fixture is byte-stable across regenerations (parquet row
    * order is part of the file, not of the compare — compare_oracle
    * hashes sorted rows). */
  private[tools] def writeSorted(df: DataFrame, target: String): Unit = {
    val tmp = Fixtures.tempDir("graft_fixture_")
    df.orderBy(df.columns.map(col).toIndexedSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    Files.copy(part, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("fixtures")
    val spark = Harness.session(16)
    Files.createDirectories(Paths.get(outDir))
    // mm_image/video_decode are pure functions of doc_id (synthetic
    // payloads); mm_frame_pipeline reads the documents TEXT, so its
    // fixture is pinned to the sf0.01 corpus — the driver's correctness
    // gate scale (the oracle compare never runs at another sf)
    for (q <- Seq("mm_image_decode", "mm_video_decode",
        "mm_frame_pipeline")) {
      writeSorted(graft.SparkEntry.queries(q)(spark, sfDir),
        s"$outDir/${q}_expected.parquet")
      println(s"$q -> $outDir/${q}_expected.parquet")
    }
    spark.stop()
  }
}
