package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents

/** Duplicate-cluster resolution: correctness vs a driver-side union-find
  * on random graphs, bounded rounds on the adversarial giant-chain
  * fixture (the skew case: ONE component spanning the corpus), and the
  * keep-rule contracts. */
class DedupClusterSpec extends AnyFunSuite {
  import TestSpark._

  private def pairsDf(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.toDF("id_a", "id_b")
  }

  /** Reference labels via driver-side union-find (test-only). */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  test("components match union-find on a random pair graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2)
    val expected = unionFind(edges)
    val got = ConnectedComponents.components(pairsDf(edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("giant-chain skew fixture: one 512-node component, bounded rounds") {
    // A chain is the worst case for label propagation (diameter = n);
    // large/small-star must collapse it in O(log^2 n) rounds, not O(n).
    val chain = (0L until 511L).map(i => (i, i + 1))
    val (labels, rounds) = ConnectedComponents.componentsWithRounds(pairsDf(chain))
    assert(rounds <= 15, s"giant chain took $rounds rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 512 && got.values.forall(_ == 0L))
  }

  test("multi-round run keeps at most one superseded round's blocks resident") {
    // Round N-1's checkpoint blocks must be evicted once round N is
    // materialized: a run over a diameter-n chain would otherwise hold
    // EVERY round's edge set in the block manager until the JVM dies
    // (the leak that poisoned the r7 sf1 smoke). Only the final round
    // (which the returned labels read) plus at most the pre-loop
    // contraction may remain.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val chain = (0L until 511L).map(i => (i, i + 1))
    val (labels, rounds) = ConnectedComponents.componentsWithRounds(pairsDf(chain))
    labels.count()
    assert(rounds >= 2, s"fixture too easy to exercise eviction: $rounds")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 3,
      s"$rounds rounds left ${leaked.size} persistent RDDs resident")
  }

  test("giant-star skew fixture converges fast and keeps one canonical") {
    // One hub duplicated 1000x — the hot-cluster shape a crawl corpus
    // actually produces. Must not need many rounds or emit O(n^2) rows.
    val star = (1L to 1000L).map(i => (0L, i))
    val (labels, rounds) = ConnectedComponents.componentsWithRounds(pairsDf(star))
    assert(rounds <= 3, s"star took $rounds rounds")
    assert(labels.count() == 1001)
    assert(labels.filter(col("id") === col("cluster_id")).count() == 1)
  }

  test("resolve: singletons, min-id canonical, full doc coverage") {
    import spark.implicits._
    val docsDf = (0L to 9L).toDF("doc_id")
    val pairs = pairsDf(Seq((1L, 3L), (3L, 5L), (7L, 8L)))
    val out = ConnectedComponents.resolve(docsDf, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val singles = Set(0L, 2L, 4L, 6L, 9L).map(i => (i, i, 1L))
    val clustered = Set((1L, 1L, 1L), (3L, 1L, 0L), (5L, 1L, 0L),
      (7L, 7L, 1L), (8L, 7L, 0L))
    assert(out == singles ++ clustered)
  }

  test("resolveByQuality keeps the max-quality member") {
    import spark.implicits._
    val docsDf = Seq((1L, 0.2), (3L, 0.9), (5L, 0.9), (6L, 0.5))
      .toDF("doc_id", "quality")
    val pairs = pairsDf(Seq((1L, 3L), (3L, 5L)))
    val out = ConnectedComponents.resolveByQuality(docsDf, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // quality tie 3 vs 5 -> min doc_id wins; singleton 6 is canonical
    assert(out == Set((1L, 1L, 0L), (3L, 1L, 1L), (5L, 1L, 0L), (6L, 6L, 1L)))
  }

  test("labels are partition-invariant (1 vs 32 partitions, same result)") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    val one = ConnectedComponents.components(pairsDf(edges).coalesce(1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val many = ConnectedComponents.components(pairsDf(edges).repartition(32))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == many)
  }

  test("local contraction solves a single-partition graph in zero rounds") {
    // With all edges in one partition, the union-find contraction pass
    // must emit the final star forest directly — the star-shape probe
    // sees a fixed point before any large/small-star round runs.
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(400)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(e => e._1 != e._2)
    val (labels, rounds) =
      ConnectedComponents.componentsWithRounds(pairsDf(edges).coalesce(1))
    assert(rounds == 0, s"single-partition graph took $rounds star rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
  }

  test("reliable-checkpoint mode produces identical labels") {
    val dir = TempDir("graft_cc_ckpt_")
    val conf = "spark.graft.cc.checkpointDir"
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 11L))
    val local = ConnectedComponents.components(pairsDf(edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set(conf, dir)
    try {
      val reliable = ConnectedComponents.components(pairsDf(edges))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
      // reliable mode actually wrote round state to the durable dir
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .count() > 0, "no checkpoint files written in reliable mode")
    } finally spark.conf.unset(conf)
  }

  test("empty pair set: every doc is its own canonical singleton") {
    import spark.implicits._
    val docsDf = (0L to 4L).toDF("doc_id")
    val out = ConnectedComponents.resolve(docsDf, pairsDf(Seq.empty))
    assert(out.filter(col("is_canonical") === 1).count() == 5)
    assert(out.filter(col("doc_id") =!= col("cluster_id")).count() == 0)
  }
}
