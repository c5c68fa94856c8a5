package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.sources.{Fbin, RandomVectors, Sinks}

/** Ingest/sink surface: fbin/ibin roundtrips, seeded random source,
  * TSV sink, GT writer, typed config. */
class SourcesSpec extends AnyFunSuite {
  import TestSpark._

  test("watermark sidecar: roundtrip, monotone advance, legacy fallback, parquet-invisible") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Watermark
    import spark.implicits._
    val dir = TempDir("graft_wm_") + "/idx"
    // no index at all -> None
    assert(Watermark.read(spark, dir, "id") === None)
    // legacy index (no sidecar) -> falls back to a column-pruned scan
    Seq(1L, 5L, 3L).toDF("id").write.parquet(dir)
    assert(Watermark.read(spark, dir, "id") === Some(5L))
    // write + read roundtrip; advance never regresses
    Watermark.write(spark, dir, 5L)
    assert(Watermark.read(spark, dir, "id") === Some(5L))
    Watermark.advance(spark, dir, "id", 9L)
    assert(Watermark.read(spark, dir, "id") === Some(9L))
    Watermark.advance(spark, dir, "id", 2L) // stale batch max
    assert(Watermark.read(spark, dir, "id") === Some(9L))
    // the `_`-prefixed sidecar is invisible to parquet readers
    assert(spark.read.parquet(dir).agg(
      org.apache.spark.sql.functions.max(col("id"))).first().getLong(0) === 5L)
    assert(spark.read.parquet(dir).count() === 3L)
  }

  test("fbin write/read roundtrip preserves ids, dims and bits") {
    val path = "/tmp/graft_test.fbin"
    val orig = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 100)
    Fbin.write(orig, path)
    assert(Fbin.meta(path) === ((100, 64)))
    val back = Fbin.read(spark, path, 4)
    assert(back.count() === 100)
    val joined = orig.as("o").join(back.as("b"),
        col("o.vec_id") === col("b.vec_id"))
      .select(col("o.embedding").as("oe"), col("b.embedding").as("be"))
      .collect()
    joined.foreach { r =>
      assert(r.getSeq[Float](0) === r.getSeq[Float](1))
    }
  }

  test("ibin write/read roundtrip") {
    import spark.implicits._
    val path = "/tmp/graft_test.ibin"
    val orig = Seq((0L, Seq(1L, 2L, 3L)), (1L, Seq(4L, 5L, 6L)),
      (2L, Seq(7L, 8L, 4294967295L))).toDF("row_id", "ids")
    Fbin.writeIbin(orig, path)
    val back = Fbin.readIbin(spark, path, 2).orderBy("row_id").collect()
    assert(back.length === 3)
    assert(back(2).getSeq[Long](1) === Seq(7L, 8L, 4294967295L)) // uint32 roundtrip
  }

  test("random vector source is partitioning-invariant and normalized") {
    val a = RandomVectors.df(spark, 50, 16, seed = 7).repartition(7)
      .orderBy("vec_id").collect().map(r => r.getSeq[Float](1))
    val b = RandomVectors.df(spark, 50, 16, seed = 7).repartition(2)
      .orderBy("vec_id").collect().map(r => r.getSeq[Float](1))
    a.zip(b).foreach { case (x, y) => assert(x === y) }
    val norms = RandomVectors.df(spark, 50, 16, seed = 7)
      .select(vecNorm(col("embedding")).as("n")).collect().map(_.getDouble(0))
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-3, s"norm $n"))
  }

  test("TSV sink + eval aggregate (S12)") {
    import spark.implicits._
    val perQuery = Seq(
      (0L, 0.9, 0.010, 0.004), (1L, 1.0, 0.012, 0.005), (2L, 0.8, 0.008, 0.002))
      .toDF("query_id", "recall", "total_sec", "rerank_sec")
    val path = "/tmp/graft_test_tsv"
    Sinks.writeTsv(perQuery, path)
    val back = spark.read.option("sep", "\t").option("header", "true").csv(path)
    assert(back.count() === 3)
    assert(back.columns.toSeq === Seq("query_id", "recall", "total_sec", "rerank_sec"))
    val agg = Sinks.evalAggregate(perQuery).collect()(0)
    assert(math.abs(agg.getDouble(0) - 0.9) < 1e-9)
    assert(math.abs(agg.getDouble(1) - 3 / 0.030) < 1e-3) // QPS
  }

  test("set-GT writer roundtrip parquet + ibin (S13)") {
    import spark.implicits._
    val ranked = Seq(
      (0L, 1, 10L), (0L, 2, 11L), (1L, 1, 20L), (1L, 2, 21L))
      .toDF("query_id", "rank", "id")
    val path = "/tmp/graft_test_gt"
    val ibin = "/tmp/graft_test_gt.ibin"
    Sinks.writeSetGt(ranked, path, Some(ibin))
    val back = Sinks.readSetGt(spark, path).orderBy("query_id").collect()
    assert(back(0).getSeq[Long](1) === Seq(10L, 11L))
    assert(back(1).getSeq[Long](1) === Seq(20L, 21L))
    val backIbin = Fbin.readIbin(spark, ibin).orderBy("row_id").collect()
    assert(backIbin(0).getSeq[Long](1) === Seq(10L, 11L))
    Files.deleteIfExists(Paths.get(ibin))
  }

  test("npy v1 float32 reader (S15) parses header and rows") {
    val path = "/tmp/graft_test.npy"
    val header = "{'descr': '<f4', 'fortran_order': False, 'shape': (3, 2), }"
    val padded = header + " " * (63 - (10 + header.length) % 64) + "\n"
    val bb = java.nio.ByteBuffer.allocate(10 + padded.length + 3 * 2 * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(0x93.toByte).put("NUMPY".getBytes("ASCII"))
    bb.put(1.toByte).put(0.toByte)
    bb.putShort(padded.length.toShort)
    bb.put(padded.getBytes("ASCII"))
    Seq(1.5f, -2f, 0f, 4.25f, 7f, -8.5f).foreach(bb.putFloat)
    Files.write(Paths.get(path), bb.array())
    val rows = Fbin.readNpy(spark, path, 2).orderBy("vec_id").collect()
    assert(rows.length === 3)
    assert(rows(0).getSeq[Float](1) === Seq(1.5f, -2f))
    assert(rows(2).getSeq[Float](1) === Seq(7f, -8.5f))
  }

  test("NSG byte-format import reads a hand-written file and roundtrips (S11)") {
    import graft.index.CsrGraph
    // hand-write the reference byte layout (LoadNsgGraph,
    // index_bipartite.cpp:2075-2097): width, ep, then [deg, ids...] per node
    val path = "/tmp/graft_test_nsg.bin"
    val buf = java.nio.ByteBuffer.allocate(4 * (2 + 3 + 6))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(3) // width
    buf.putInt(1) // entry point
    buf.putInt(2).putInt(1).putInt(2) // node 0 -> 1, 2
    buf.putInt(3).putInt(0).putInt(2).putInt(1) // node 1 -> 0, 2, 1
    buf.putInt(1).putInt(0) // node 2 -> 0
    java.nio.file.Files.write(java.nio.file.Paths.get(path), buf.array())
    val g = CsrGraph.loadNsg(path)
    assert(g.n === 3)
    assert(g.entryPoint === 1)
    assert(g.neighbors(0).toSeq === Seq(1, 2))
    assert(g.neighbors(1).toSeq === Seq(0, 2, 1))
    assert(g.neighbors(2).toSeq === Seq(0))
    // writer twin: save and re-load must preserve everything
    val rt = "/tmp/graft_test_nsg_rt.bin"
    CsrGraph.saveNsg(g, rt)
    val g2 = CsrGraph.loadNsg(rt)
    assert(g2.n === g.n && g2.entryPoint === g.entryPoint)
    (0 until g.n).foreach(v =>
      assert(g2.neighbors(v).toSeq === g.neighbors(v).toSeq))
    // truncated file fails loudly, not with a silent short graph
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      java.util.Arrays.copyOfRange(buf.array(), 0, 4 * 4))
    assertThrows[IllegalArgumentException](CsrGraph.loadNsg(path))
  }

  test("GraftConfig typed access and build-params adapter (C1)") {
    val c = GraftConfig().set("M_pjbp", 16).set("metric", "l2").set("adaptive", true)
    assert(c.getInt("M_pjbp", 35) === 16)
    assert(c.getInt("L_pjpq", 100) === 100)
    assert(c.getBoolean("adaptive", false))
    assertThrows[IllegalArgumentException](c.require("missing"))
    val bp = GraftConfig.buildParams(c)
    assert(bp.mPjbp === 16 && bp.metric === "l2" && bp.mSq === 100)
  }
}
