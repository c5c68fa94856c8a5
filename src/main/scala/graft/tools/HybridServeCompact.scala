package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Harness, ScaleSmoke, Tables}
import graft.index.Generations
import graft.operators.{HybridRetrieval, InvertedIndex}
import graft.queries.{Fixtures, TextQueries}

/** Hybrid (BM25 + semantic) serve-through-compaction at 100× doc count
  * — the INVERTED face's maintenance-loop evidence at the same scale
  * the graph faces already carry (SWEEP_RESHARD / SWEEP_SERVE_COMPACT):
  * a reader keeps answering the full two-arm hybrid query (BM25 top-50
  * from the VERSIONED inverted index + hash-embedding cosine top-50 +
  * RRF fusion to top-20) BEFORE a takedown tranche lands, DURING a
  * concurrent [[InvertedIndex.compactVersioned]] that folds it into a
  * successor generation, and AFTER the flip — under a
  * [[Generations.withReaderLease]] with `keepGens = 0`, so the lease
  * (not the grace window) is what keeps an in-flight batch's
  * generation on disk through the flip.
  *
  * Correctness per batch is EXACT-ANSWER stability, not a recall score:
  * each batch's fused top-20 must equal the quiesced answer for its
  * phase (pre-takedown / post-takedown), and the post-takedown
  * expectation must survive the compaction unchanged (the tombstone
  * anti-join + constant-subtraction path and the folded successor must
  * agree row-for-row). The fixture-scale hash certificates
  * (text_bm25_versioned, hybrid_rrf) prove the same parity against
  * DuckDB; what this adds is the 100×-corpus measurement of what the
  * maintenance loop costs a live hybrid reader.
  *
  * Usage: `runMain graft.tools.HybridServeCompact [srcDir] [factor]
  * [workDir] [out.tsv] [minBatches]` — defaults /root/testdata/sf0.1,
  * 100, /tmp/graft_hybrid100, stdout-only, 3 batches per steady phase.
  * Committed artifact: SWEEP_HYBRID.tsv.
  */
object HybridServeCompact {

  /** Same fixed query as the hybrid certificates (common words — the
    * worst-case postings volume for the lexical arm). */
  private val Terms = Seq("the", "data", "model", "learning", "neural")

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(100)
    val workDir = args.lift(2).getOrElse("/tmp/graft_hybrid100")
    val out = args.lift(3).filter(_.nonEmpty)
    val minBatches = args.lift(4).map(_.toInt).getOrElse(3)
    val spark = Harness.session()

    ScaleSmoke.scaleDocuments(spark, srcDir, workDir, factor)
    val rows = run(spark, workDir, minBatches)
    val table = new Harness.Table("phase", "batch", "latency_sec", "match")
    rows.foreach { case (ph, i, lat, ok) =>
      table.add(ph, i, f"$lat%.3f", if (ok) 1 else 0) }
    out.foreach(table.write)
    val bad = rows.filterNot(_._4)
    spark.stop()
    if (bad.nonEmpty) {
      System.err.println(s"HYBRID SERVE-COMPACT FAILED: " +
        s"${bad.size} batches diverged: ${bad.map(r => (r._1, r._2))}")
      sys.exit(1)
    }
  }

  /** One (phase, batch, latency sec, matched) row per reader batch. */
  def run(spark: SparkSession, dir: String, minBatches: Int)
      : Seq[(String, Int, Double, Boolean)] = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
    val root = Fixtures.tempDir("graft_hybrid_serve_")
    val half = d.agg(max(col("doc_id"))).first().getLong(0) / 2
    InvertedIndex.buildVersioned(spark, d.filter(col("doc_id") <= half), root)
    InvertedIndex.appendVersioned(spark, d.filter(col("doc_id") > half), root)

    // semantic arm offline half: ONE tokenize + hash-embed pass over
    // the full scaled corpus (at scale this slot is any registered ANN
    // tier; the sparse-cosine scan keeps the arm exact) — per batch it
    // is filtered to the phase's survivors, mirroring the takedown
    // mask the lexical arm serves through its tombstones
    val toks = TextQueries.tokenizedOf(d)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
    val dv = HybridRetrieval.hashEmbed(toks).localCheckpoint(true)
    val qv = HybridRetrieval.hashEmbed(
      Terms.toDF("term").select(lit(0L).as("qid"), col("term").as("tok")),
      idCol = "qid").localCheckpoint(true)

    val victim = col("doc_id") % 13 === 0
    def fusedTop20(survivorsOnly: Boolean): Seq[(Long, Long)] = {
      // lexical arm under a READER LEASE: resolve the live generation
      // once, answer entirely from that snapshot — the serving loop's
      // shape, load-bearing at keepGens=0
      val lex = Generations.withReaderLease(spark, root) { gen =>
        InvertedIndex.bm25Query(spark, gen, Terms, k = 50)
          .localCheckpoint(true)
      }
      val sem = HybridRetrieval.sparseCosineTopK(
        if (survivorsOnly) dv.filter(!victim) else dv, qv, k = 50)
      HybridRetrieval.rrfFuse(lex, sem, k = 20)
        .select(col("rank"), col("doc_id")).as[(Long, Long)]
        .collect().toSeq.sortBy(_._1)
    }

    // keepGens=0: no grace generation — only the reader lease keeps an
    // in-flight batch's generation alive through the flip
    spark.conf.set("spark.graft.gen.keepGens", "0")
    val phase = new AtomicReference[String]("before")
    val expected = new AtomicReference[Seq[(Long, Long)]](null)
    val stop = new AtomicBoolean(false)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Int, Double, Boolean)]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def phaseCount(p: String): Int = {
      var n = 0
      out.forEach(r => if (r._1 == p) n += 1)
      n
    }
    // quiesced pre-takedown expectation seeds the loop
    expected.set(fusedTop20(survivorsOnly = false))
    // the takedown boundary handshake: the main thread parks the loop
    // ("pause") and waits for any in-flight batch to drain before the
    // tranche lands and the expectation swaps — a batch must never
    // straddle the boundary and get scored against the wrong oracle
    val busy = new AtomicBoolean(false)
    val reader = new Thread(() => {
      var i = 0
      try while (!stop.get()) {
        if (phase.get() == "pause") Thread.sleep(10)
        else {
          busy.set(true)
          try {
            // re-read the phase AFTER raising busy, and only run the
            // batch if it is still un-paused: the main thread lands the
            // takedown and swaps the expectation once it observes
            // busy==false after setting "pause", so a phase snapshot
            // taken BEFORE busy went up can be stale — the stale batch
            // would run survivorsOnly=false against the post-takedown
            // oracle and record a spurious mismatch (exit 1). With the
            // re-check, either the batch's phase read follows the pause
            // write (it skips, nothing scored), or busy was up before
            // the main thread's drain check (the batch completes
            // against the not-yet-swapped expectation).
            val ph = phase.get()
            if (ph != "pause") {
              val exp = expected.get()
              val (got, lat) =
                Harness.timed(fusedTop20(survivorsOnly = ph != "before"))
              out.add((ph, i, lat, got == exp))
              i += 1
            }
          } finally busy.set(false)
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    reader.start()
    while (phaseCount("before") < minBatches && errors.isEmpty)
      Thread.sleep(100)
    phase.set("pause")
    while (busy.get() && errors.isEmpty) Thread.sleep(10)
    val nDel = InvertedIndex.deleteVersioned(spark, root,
      d.filter(victim).select(col("doc_id")))
    require(nDel > 0, "takedown tranche was empty")
    expected.set(fusedTop20(survivorsOnly = true))
    phase.set("during")
    InvertedIndex.compactVersioned(spark, root)
    phase.set("after")
    while (phaseCount("after") < minBatches && errors.isEmpty)
      Thread.sleep(100)
    stop.set(true)
    reader.join(600000)
    if (!errors.isEmpty) throw errors.peek()
    // the folded successor must serve the same survivors the masked
    // predecessor did — the flip is invisible to the hybrid answer
    require(fusedTop20(survivorsOnly = true) == expected.get(),
      "post-compaction hybrid answer diverged from the masked answer")
    out.toArray(Array.empty[(String, Int, Double, Boolean)]).toSeq
  }
}
