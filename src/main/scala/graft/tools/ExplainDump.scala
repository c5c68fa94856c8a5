package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Harness
import graft.queries.Fixtures

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan evidence for optimization rounds
  * (`plans/r<N>/<query>_<suffix>.txt`). Lifecycle queries mutate a temp
  * index while building their result; the captured plan is the plan of
  * the RETURNED DataFrame (the serving plan), which is what the round's
  * plan claims are about.
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> q1,q2,...
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4)
      sys.error("usage: ExplainDump <sfDir> <outDir> <suffix> q1,q2,...")
    val Array(sfDir, outDir, suffix, qlist) = args.take(4)
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Internal plan probes — DataFrames of operator-internal jobs (e.g.
    // a compaction's fold) that no declared query returns but whose
    // shape the round's claims are about. Each probe builds its tiny
    // input state from sfDir, then returns the un-executed DataFrame.
    val probes: Map[String, SparkSession => org.apache.spark.sql.DataFrame] =
      Map(
        "invidx_fold" -> { s =>
          import org.apache.spark.sql.functions._
          val d = graft.Tables.documents(s, sfDir)
            .select(col("doc_id"), col("text"))
          // the plan is captured un-executed, so the probe's index is
          // only read for schema/stats and can go at JVM exit
          val idx = Fixtures.tempDir("graft_explain_inv_")
          graft.operators.InvertedIndex.append(s, d, idx)
          graft.operators.InvertedIndex.deleteDocs(s, idx,
            d.filter(col("doc_id") % 13 === 0).select("doc_id"))
          graft.operators.InvertedIndex.foldPlanProbe(s, idx)
        })
    for (name <- names) {
      val fn = probes.get(name).map(p => (s: SparkSession, _: String) => p(s))
        .orElse(graft.SparkEntry.queries.get(name))
        .getOrElse(sys.error(s"unknown query $name"))
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[explain] $name -> $outDir/${name}_$suffix.txt")
      } catch { case t: Throwable =>
        System.err.println(s"[explain] $name FAILED: ${t.getMessage}")
      }
      graft.Bench.dropLeakedBlocks(spark)
    }
    spark.stop()
  }
}
