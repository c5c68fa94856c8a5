package graft

/** Mini-driver for [[ForkedJvmSpec]] — a SECOND JVM (own process, own
  * SparkSession, own manifest/resolution caches) acting against the
  * same generation root as the test JVM. The in-JVM race specs pin the
  * interleavings; this pins the actual cross-PROCESS claims: the
  * seqlog conditional put is a true CAS between processes, the writer
  * lease excludes a second process loudly, and a reader lease taken by
  * one process pins its generation against another process's
  * publishes.
  *
  * Protocol: plain files in the scratch dir (`go`/`release` inputs
  * polled; results written atomically via tmp+rename so the parent
  * never reads a partial file). */
object TwoProcessMain {

  private def waitFor(p: String, ms: Long = 180000): Unit = {
    val t0 = System.currentTimeMillis()
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(p))) {
      if (System.currentTimeMillis() - t0 > ms)
        sys.error(s"TwoProcessMain: timeout waiting for $p")
      Thread.sleep(20)
    }
  }

  private def write(p: String, s: String): Unit = {
    val tmp = java.nio.file.Paths.get(p + ".tmp")
    java.nio.file.Files.write(tmp, s.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(p),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-two-process-$mode")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try mode match {
      // cas <root> <slot> <goFile> <resultFile>: wait for go, then
      // claim the FIXED log slot — two processes race the same slot,
      // exactly one conditional put can win
      case "cas" =>
        val Array(_, root, slot, go, result) = args
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        waitFor(go)
        try {
          graft.index.Generations.commitSeqlogAt(spark, f, root,
            slot.toLong, Seq("gen0"))
          write(result, "win")
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("lost the race") =>
            write(result, "lost")
        }
      // writer <root> <resultFile>: one attempt to take the writer
      // lease; reports acquired or blocked:<holder message>
      case "writer" =>
        val Array(_, root, result) = args
        try graft.index.Generations.withWriterLease(spark, root,
          "childWriter") { write(result, "acquired") }
        catch {
          case e: IllegalStateException =>
            write(result, "blocked:" + e.getMessage.replace('\n', ' '))
        }
      // crashpublish <root> <committer> <committedFile>: take the
      // writer lease, land a COMMITTED flip to gen1 (seqlog: the CAS
      // create of MANIFEST.<seq>; rename: the committed MANIFEST__next,
      // the state publishRename leaves between commit and promote),
      // signal, then hang — the parent kill -9s this process HERE, i.e.
      // after the commit point and before retirement or lock release.
      // What must then hold in the parent: readers already serve gen1
      // (both committers' crash windows are read-preferred), the dead
      // process's lease times out and breaks cleanly, and the next
      // publish chains on the committed flip instead of losing it.
      case "crashpublish" =>
        val Array(_, root, committer, committed) = args
        graft.index.Generations.withWriterLease(spark, root,
          "childCrashPublisher", committer) {
          if (committer == "seqlog") {
            val f = new org.apache.hadoop.fs.Path(root)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            // slot 2: the parent published gen0 at slot 1
            graft.index.Generations.commitSeqlogAt(spark, f, root, 2L,
              Seq("gen1", "gen0"))
          } else {
            // the rename committer's crash window: full body to a tmp,
            // one atomic move to the committed-next name; promote (the
            // second rename) never happens — this process dies first
            val tmp = java.nio.file.Paths.get(s"$root/MANIFEST__next.tmp")
            java.nio.file.Files.write(tmp, "gen1\ngen0".getBytes("UTF-8"))
            java.nio.file.Files.move(tmp,
              java.nio.file.Paths.get(s"$root/MANIFEST__next"),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          write(committed, "committed")
          Thread.sleep(600000) // killed -9 by the parent long before this
        }
      // readerpin <root> <ttlMs> <leasedFile>: take a reader lease with
      // a SHORT explicit TTL, report the pinned dir, then hang
      // mid-"scan" — the parent kill -9s this process HERE, so the
      // lease file is never released. What must then hold in the
      // parent: the pinned generation survives publishes while the
      // dead lease is fresh, and after the TTL the next publish both
      // retires the generation and deletes the leaked lease file.
      case "readerpin" =>
        val Array(_, root, ttlMs, leased) = args
        spark.conf.set("spark.graft.gen.readerLeaseMs", ttlMs)
        graft.index.Generations.withReaderLease(spark, root) { dir =>
          write(leased, dir)
          Thread.sleep(600000) // killed -9 by the parent long before this
        }
      // crashingest <root> <sfDir> <nBase> <batchEnd> <sigFile>: run ONE
      // streaming ingest micro-batch against the sharded index at root
      // with the hang-after-append hook armed — the child signals with
      // the delta fully landed and the caller's ref never recorded,
      // then hangs; the parent kill -9s it THERE (the documented
      // mid-micro-batch crash window of ingestVectorBatch).
      case "crashingest" =>
        val Array(_, root, sfDir, nBase, batchEnd, sig) = args
        import org.apache.spark.sql.functions.col
        val ref = graft.index.ShardedIndexRef(root, 1,
          graft.queries.IndexQueries.FixtureParams.metric)
        val batch = Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") >= nBase.toLong &&
            col("vec_id") < batchEnd.toLong)
        spark.conf.set("spark.graft.test.ingestHangAfterAppend", sig)
        graft.streaming.StreamingIngest.ingestVectorBatch(spark, batch,
          ref, graft.queries.IndexQueries.FixtureParams)
        sys.error("crashingest: hang hook did not fire")
      // crashtakedown <shardedPath> <invPath> <sfDir> <sigFile>: apply
      // one deletion micro-batch across TWO faces with the
      // hang-mid-fan-out hook armed after face 1 — the child signals
      // with the inverted face deleted and the sharded face untouched,
      // then hangs; the parent kill -9s it THERE (the non-transactional
      // fan-out window takedownBatch's replay-idempotence claim covers).
      case "crashtakedown" =>
        val Array(_, shardedPath, invPath, sfDir, sig) = args
        import org.apache.spark.sql.functions.col
        val feed = Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") < 250 && col("vec_id") % 13 === 0)
          .select(col("vec_id"))
        spark.conf.set("spark.graft.test.takedownHangAfter", s"1:$sig")
        graft.streaming.StreamingIngest.takedownBatch(
          invertedIndexPath = Some(invPath),
          shardedIndexPath = Some(shardedPath))(feed, 0L)
        sys.error("crashtakedown: hang hook did not fire")
      // readerlease <root> <leasedFile> <releaseFile>: pin the live
      // generation, report it, hold the lease until told to release
      case "readerlease" =>
        val Array(_, root, leased, release) = args
        graft.index.Generations.withReaderLease(spark, root) { dir =>
          write(leased, dir)
          waitFor(release)
        }
        write(release + ".done", "ok")
      // serve <root> <sfDir> <readyFile> <stopFile> <resultFile>:
      // leased search loop over the versioned sharded face — resolve
      // + search under ShardedIndex.withReaderLease each iteration,
      // assert every iteration answers exactly what the first did,
      // until told to stop. The parent flips generations (keepGens=0
      // re-shards) underneath; any mid-retirement read error or
      // result divergence fails here.
      case "serve" =>
        val Array(_, root, sfDir, ready, stop, result) = args
        import org.apache.spark.sql.functions.col
        val q = Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") < 250 && col("vec_id") % 30 === 1)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
          .persist()
        q.count()
        def top10(): Map[Long, Seq[Long]] =
          graft.index.ShardedIndex.withReaderLease(spark, root,
            "cosine") { r =>
            graft.index.ShardedIndex
              .searchSingleDf(spark, q, r, l = 600, k = 16)
              .collect()
              .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
              .groupBy(_._1).view
              .mapValues(_.sortBy(t => (-t._3, t._2)).take(10)
                .map(_._2).toSeq)
              .toMap
          }
        val first = top10()
        write(ready, "ready")
        var n = 1
        var diverged = false
        while (!diverged &&
            !java.nio.file.Files.exists(java.nio.file.Paths.get(stop))) {
          val m = top10(); n += 1
          if (m != first) diverged = true
        }
        write(result, if (diverged) s"diverged after $n" else s"ok $n")
      // tempdir <resultFile>: make a query-pack fixture dir (with a
      // file inside), report its path, exit normally — the JVM-exit
      // reaper must leave nothing behind
      case "tempdir" =>
        val Array(_, result) = args
        val d = graft.queries.Fixtures.tempDir("graft_fork_reaped_")
        java.nio.file.Files.write(java.nio.file.Paths.get(d, "part-0"),
          "x".getBytes("UTF-8"))
        write(result, d)
      case other => sys.error(s"TwoProcessMain: unknown mode $other")
    } finally spark.stop()
  }
}
