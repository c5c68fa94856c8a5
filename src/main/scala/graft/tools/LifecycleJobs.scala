package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.InvertedIndex

/** Spark-JOB accounting for the two slowest bench floors — the
  * text_bm25_versioned (6.73 s) and text_bm25_deleted (5.94 s)
  * lifecycle certificates: both are build→mutate→compact→query
  * SEQUENCES, so their cost is a sum of many small jobs, and the audit
  * question is whether any stage re-tokenizes or re-scans the corpus
  * more than once. This tool replays each certificate's exact fixture
  * steps with a job-start listener between named boundaries and prints
  * one (step, jobs, seconds) row per stage — the table committed to
  * docs/BENCH_NOTES.md.
  *
  * Usage: `runMain graft.tools.LifecycleJobs [sfDir]` (default
  * sf0.01 — the correctness fixture the floors' shape follows; the
  * floors themselves are sf0.1 timings of the same sequence).
  */
object LifecycleJobs {

  private val Terms = Seq("the", "data", "model", "learning", "neural")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // exact per-step counts: the committed per-step table is adjudicated,
    // and a fixed sleep attributed jobs to the wrong step on a loaded host
    val counter = new graft.JobCounter(spark)
    val rows = collection.mutable.ArrayBuffer.empty[(String, String, Int, Double)]
    def step[T](cert: String, name: String)(body: => T): T = {
      val (r, counts, secs) = counter.measure(body)
      rows += ((cert, name, counts.jobs, secs))
      r
    }

    val d = Tables.documents(spark, sfDir)
    val half = d.agg(max(col("doc_id"))).first().getLong(0) / 2

    // ===== text_bm25_versioned: the exact fixture sequence =====
    locally {
      val root = java.nio.file.Files
        .createTempDirectory("graft_jobs_vers_").toString
      step("text_bm25_versioned", "buildVersioned(half1)") {
        InvertedIndex.buildVersioned(spark,
          d.filter(col("doc_id") <= half), root)
      }
      step("text_bm25_versioned", "appendVersioned(half2)") {
        InvertedIndex.appendVersioned(spark,
          d.filter(col("doc_id") > half), root)
      }
      step("text_bm25_versioned", "deleteDocs(%13)") {
        InvertedIndex.deleteDocs(spark,
          InvertedIndex.resolveVersioned(spark, root),
          d.filter(col("doc_id") % 13 === 0).select("doc_id"))
      }
      val pre = InvertedIndex.resolveVersioned(spark, root)
      step("text_bm25_versioned", "compactVersioned") {
        InvertedIndex.compactVersioned(spark, root)
      }
      step("text_bm25_versioned", "bm25Query(grace gen)") {
        InvertedIndex.bm25Query(spark, pre, Terms, k = 20).collect()
      }
      step("text_bm25_versioned", "bm25QueryVersioned(live gen)") {
        InvertedIndex.bm25QueryVersioned(spark, root, Terms, k = 20)
          .collect()
      }
    }

    // ===== text_bm25_deleted: the exact fixture sequence =====
    locally {
      val idx = java.nio.file.Files
        .createTempDirectory("graft_jobs_del_").toString
      step("text_bm25_deleted", "append(half1)") {
        InvertedIndex.append(spark, d.filter(col("doc_id") <= half), idx)
      }
      step("text_bm25_deleted", "append(half2)") {
        InvertedIndex.append(spark, d.filter(col("doc_id") > half), idx)
      }
      val t1 = d.filter(col("doc_id") % 13 === 0).select("doc_id")
      step("text_bm25_deleted", "deleteDocs(%13)") {
        InvertedIndex.deleteDocs(spark, idx, t1)
      }
      step("text_bm25_deleted", "deleteDocs(%13) replay") {
        InvertedIndex.deleteDocs(spark, idx, t1)
      }
      step("text_bm25_deleted", "compactPostings") {
        InvertedIndex.compactPostings(spark, idx)
      }
      step("text_bm25_deleted", "deleteDocs(%17)") {
        InvertedIndex.deleteDocs(spark, idx,
          d.filter(col("doc_id") % 17 === 0).select("doc_id"))
      }
      step("text_bm25_deleted", "bm25Query") {
        InvertedIndex.bm25Query(spark, idx, Terms, k = 20).collect()
      }
      // VERDICT-r20 item 6 probe: is the ~14-job serving cost AQE stage
      // scheduling or plan work? Same query, same JVM, AQE off.
      val noAqe = spark.newSession()
      noAqe.conf.set("spark.sql.adaptive.enabled", "false")
      step("text_bm25_deleted", "bm25Query (AQE off)") {
        InvertedIndex.bm25Query(noAqe, idx, Terms, k = 20).collect()
      }
      step("text_bm25_deleted", "bm25Query (AQE off, warm)") {
        InvertedIndex.bm25Query(noAqe, idx, Terms, k = 20).collect()
      }
      step("text_bm25_deleted", "bm25Query (AQE on, warm)") {
        InvertedIndex.bm25Query(spark, idx, Terms, k = 20).collect()
      }
    }

    // ===== g8_ingest_lifecycle: the exact fixture sequence (streaming
    // delta builds + the tipping compact — the GraphBuild-side audit) =====
    locally {
      import graft.index.{BuildParams, ShardedIndex, ShardedIndexRef}
      import graft.streaming.StreamingIngest
      val params = BuildParams(mSq = 20, mPjbp = 8, lPjpq = 40,
        metric = "cosine")
      val e0 = Tables.embeddings(spark, sfDir)
      val n = math.min(e0.count(), 500L)
      val e = e0.filter(col("vec_id") < n)
      val nBase = n * 4 / 5
      val b1End = nBase + (n - nBase) / 2
      val path = java.nio.file.Files
        .createTempDirectory("graft_jobs_ingest_").toString
      step("g8_ingest_lifecycle", "buildPersisted(base)") {
        ShardedIndex.buildPersisted(spark,
          e.filter(col("vec_id") < nBase), params, 1, path)
      }
      var ref = ShardedIndexRef(path, 1, params.metric)
      val batch1 = e.filter(col("vec_id") >= nBase && col("vec_id") < b1End)
      step("g8_ingest_lifecycle", "ingest(batch1: append)") {
        ref = StreamingIngest.ingestVectorBatch(spark, batch1, ref,
          params, compactAt = 0.25)._1
      }
      step("g8_ingest_lifecycle", "ingest(batch1 replay: skip)") {
        ref = StreamingIngest.ingestVectorBatch(spark, batch1, ref,
          params, compactAt = 0.25)._1
      }
      step("g8_ingest_lifecycle", "ingest(batch2: append+compact)") {
        ref = StreamingIngest.ingestVectorBatch(spark,
          e.filter(col("vec_id") >= b1End), ref, params,
          compactAt = 0.25)._1
      }
      // ===== takedown_lifecycle stages over the same base posture =====
      val tpath = java.nio.file.Files
        .createTempDirectory("graft_jobs_takedown_").toString
      step("takedown_lifecycle", "buildPersisted(base)") {
        ShardedIndex.buildPersisted(spark,
          e.filter(col("vec_id") < nBase), params, 1, tpath)
      }
      var tref = ShardedIndexRef(tpath, 1, params.metric)
      step("takedown_lifecycle", "ingest(batch1: append)") {
        tref = StreamingIngest.ingestVectorBatch(spark, batch1, tref,
          params)._1
      }
      val feed = e.filter(col("vec_id") % 13 === 0).select(col("vec_id"))
      step("takedown_lifecycle", "takedownBatch(%13)") {
        StreamingIngest.takedownBatch(
          shardedIndexPath = Some(tpath))(feed, 0L)
      }
      step("takedown_lifecycle", "takedownBatch(%13) replay") {
        StreamingIngest.takedownBatch(
          shardedIndexPath = Some(tpath))(feed, 1L)
      }
      step("takedown_lifecycle", "searchSingleDf(saturated)") {
        val q = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        ShardedIndex.searchSingleDf(spark, q, tref,
          l = 2 * b1End.toInt, k = b1End.toInt)
          .select(col("d_id")).distinct().count()
      }
    }

    println("certificate\tstep\tjobs\tseconds")
    rows.foreach { case (c, s, j, t) => println(f"$c\t$s\t$j\t$t%.2f") }
    for (cert <- rows.map(_._1).distinct)
      println(f"TOTALS\t$cert\t${rows.filter(_._1 == cert).map(_._3).sum}\t${rows.filter(_._1 == cert).map(_._4).sum}%.2f")
    spark.stop()
  }
}
