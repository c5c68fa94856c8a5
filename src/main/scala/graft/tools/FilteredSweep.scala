package graft.tools

import org.apache.spark.sql.functions.col

import graft.{Harness, Tables}
import graft.index.{GraphBuild, Metrics, VectorStore}
import graft.plans.{AnnIndexRegistry, AnnRewrite}
import graft.queries.IndexQueries

/** Scale behavior of the FILTERED ANN route across predicate
  * selectivity — the axis that decides its physics: a permissive
  * predicate answers from the first candidate fetch; an ultra-selective
  * one (fewer matches than k) must escalate to the saturating fetch,
  * where the answer is exact by construction. Per (factor, selectivity)
  * row: exhaustive wall-clock (rewrite off), routed wall-clock, recall
  * of the routed answer vs the exhaustive one (1.0000 expected at the
  * saturation end AND trivially wherever the candidate stream covers
  * the filtered top-k).
  *
  * Usage: `runMain graft.tools.FilteredSweep [srcDir] [factors-csv]
  * [out]` — defaults /root/testdata/sf0.1, "10,25",
  * SWEEP_FILTERED.tsv. Scaled corpora are shared with BuildSweep
  * ([[Harness.scaledDir]]).
  */
object FilteredSweep {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("10,25")
      .split(",").map(_.trim.toInt).toSeq
    val out = args.lift(2).getOrElse("SWEEP_FILTERED.tsv")
    val spark = Harness.session()
    AnnRewrite.install(spark)

    val table = new Harness.Table("factor", "n", "mod", "match_rows",
      "overfetch", "exhaustive_s", "routed_s", "nosc_s", "strategy", "recall")
    factors.foreach { f =>
      val e = Tables.embeddings(spark, Harness.scaledDir(spark, srcDir, f))
      val n = e.count()
      val idx = GraphBuild.build(spark, e, e, IndexQueries.FixtureParams)
      val raw = VectorStore.fromDf(e, "vec_id", "embedding",
        Metrics.InnerProduct)
      AnnIndexRegistry.register(e, "vec_id", "embedding",
        AnnIndexRegistry.Entry(
          spark.sparkContext.broadcast(idx.graph),
          spark.sparkContext.broadcast(idx.vecs),
          spark.sparkContext.broadcast(raw),
          idx.params.metric, searchL = 80))
      e.createOrReplaceTempView("fs_corpus")
      val qLit = e.filter(col("vec_id") === 7).select("embedding")
        .first().getSeq[Float](0)
        .map(x => s"${x}F").mkString("array(", ", ", ")")

      // overfetch is THE recall knob of the post-filter design (initial
      // candidate fetch = overfetch·k): recall at any (selectivity,
      // overfetch) tracks the underlying beam budget curve (SWEEP_SF1's
      // budget axis), and the ultra-selective end escalates to the
      // saturating fetch where recall is 1.0 by construction
      // n/10 rounds the selectivity grid out with an ULTRA-selective
      // point (≈10 matches ≤ preFilterMax=2k): the pre-filter
      // short-circuit answers it without any search
      Seq(2L, 100L, 1000L, n / 10).foreach { m =>
        val sql =
          s"""SELECT vec_id, graft_vec_cosine(embedding, $qLit) AS score
             |FROM fs_corpus WHERE vec_id % $m = 0
             |ORDER BY score DESC LIMIT 10""".stripMargin
        def query(rewrite: Boolean, overfetch: Int,
                  preFilterMax: Option[Int] = None): (Seq[Long], Double) = {
          spark.conf.set("spark.graft.ann.rewrite", rewrite.toString)
          spark.conf.set("spark.graft.ann.filtered.overfetch",
            overfetch.toString)
          preFilterMax.foreach(p =>
            spark.conf.set("spark.graft.ann.filtered.preFilterMax",
              p.toString))
          try Harness.timed(spark.sql(sql).collect().map(_.getLong(0)).toSeq)
          finally {
            spark.conf.set("spark.graft.ann.rewrite", "false")
            spark.conf.unset("spark.graft.ann.filtered.overfetch")
            spark.conf.unset("spark.graft.ann.filtered.preFilterMax")
          }
        }
        query(rewrite = true, 8) // warm the path once (JIT + broadcasts)
        val (exact, tEx) = query(rewrite = false, 8)
        val matches = n / m + (if (n % m > 0) 1 else 0)
        // default probe ceiling is 2k = 20 for this statement
        val strategy = if (matches <= 20) "prefilter" else "escalate"
        Seq(8, 40, 200).foreach { of =>
          val (routed, tRt) = query(rewrite = true, of)
          // same point with the short-circuit DISABLED: isolates what
          // the probe buys (or costs) against pure escalation
          val (_, tNoSc) = query(rewrite = true, of, preFilterMax = Some(0))
          val recall =
            if (exact.isEmpty) 1.0
            else (routed.toSet & exact.toSet).size.toDouble / exact.size
          table.add(f, n, m, matches, of, f"$tEx%.2f", f"$tRt%.2f",
            f"$tNoSc%.2f", strategy, f"$recall%.4f")
        }
      }
    }
    table.write(out)
    spark.stop()
  }
}
