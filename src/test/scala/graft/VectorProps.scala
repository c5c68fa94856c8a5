package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.{ChamferAggregator, ScoredId, SubSim, TopKAggregator}
import graft.index.{BeamQueue, Metrics, VectorStore}

/** Property tests promised in SURVEY §5: metric symmetry, normalization
  * idempotence, top-k == full-sort prefix, beam-queue ordering invariants,
  * LSE numerical stability under extreme temperature. Pure scalar — no
  * Spark session. */
object VectorProps extends Properties("graft.vector") {

  private val vecGen: Gen[Array[Float]] =
    Gen.chooseNum(2, 16).flatMap { d =>
      Gen.listOfN(d, Gen.chooseNum(-10.0f, 10.0f)).map(_.toArray)
    }

  private val vecPairGen: Gen[(Array[Float], Array[Float])] =
    vecGen.flatMap { a =>
      Gen.listOfN(a.length, Gen.chooseNum(-10.0f, 10.0f)).map(b => (a, b.toArray))
    }

  property("ip and l2 distances are symmetric") = forAll(vecPairGen) {
    case (a, b) =>
      val d = a.length
      Metrics.InnerProduct.dist(a, 0, b, 0, d) == Metrics.InnerProduct.dist(b, 0, a, 0, d) &&
      Metrics.L2.dist(a, 0, b, 0, d) == Metrics.L2.dist(b, 0, a, 0, d)
  }

  property("l2 distance is non-negative and zero on self") = forAll(vecGen) { a =>
    val d = a.length
    Metrics.L2.dist(a, 0, a, 0, d) == 0.0f &&
    Metrics.L2.dist(a, 0, a.map(_ + 1.0f), 0, d) >= 0.0f
  }

  property("normalization is idempotent (within float eps)") = forAll(vecGen) { a =>
    val n1 = VectorStore.normalized(a)
    val n2 = VectorStore.normalized(n1)
    n1.zip(n2).forall { case (x, y) => math.abs(x - y) <= 2e-7f * math.max(1f, math.abs(x)) }
  }

  private val scoredGen: Gen[List[ScoredId]] =
    Gen.listOf(for {
      s <- Gen.chooseNum(-5.0, 5.0)
      id <- Gen.chooseNum(0L, 30L)
    } yield ScoredId(s, id))

  property("TopKAggregator == full-sort prefix, any merge split") =
    forAll(scoredGen, Gen.chooseNum(1, 8), Gen.chooseNum(0.0, 1.0)) { (items, k, cut) =>
      val agg = new TopKAggregator(k)
      val at = (items.length * cut).toInt
      val (l, r) = items.splitAt(at)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val expect = items.sortBy(s => (-s.score, s.id)).take(k)
      agg.finish(merged) == expect
    }

  property("BeamQueue holds the sorted best-k of distinct-id inserts") =
    forAll(Gen.listOf(Gen.chooseNum(0.0f, 100.0f)), Gen.chooseNum(1, 16)) {
      (dists, cap) =>
        val q = new BeamQueue(cap)
        dists.zipWithIndex.foreach { case (d, id) => q.insert(id, d) }
        val expect = dists.zipWithIndex.map { case (d, id) => (d, id) }
          .sortBy { case (d, id) => (d, id) }.take(cap)
        (0 until q.size).map(i => (q.dist(i), q.id(i))) == expect
    }

  /** One call on a beam queue: an insert, a `hasUnexpandedInK(k)` probe,
    * or an expansion (`closestUnexpanded` after a true probe at `k`). */
  private sealed trait QueueOp
  private case class Insert(id: Int, d: Float) extends QueueOp
  private case class Probe(k: Int) extends QueueOp
  private case class Expand(k: Int) extends QueueOp

  /** Finite distances of both signs, few enough distinct values that
    * ties (the id tie-break) and the two zeros (−0.0 beside +0.0) recur. */
  private val distGen: Gen[Float] = Gen.frequency(
    4 -> Gen.chooseNum(-100.0f, 100.0f),
    3 -> Gen.oneOf(-2.5f, -1.0f, -0.0f, 0.0f, 1.0f, 2.5f),
    1 -> Gen.oneOf(Float.MinPositiveValue, -Float.MinPositiveValue,
      Float.MaxValue, -Float.MaxValue))

  private val opsGen: Gen[List[QueueOp]] = Gen.listOf(Gen.frequency(
    6 -> (for (id <- Gen.chooseNum(0, 40); d <- distGen) yield Insert(id, d)),
    1 -> Gen.chooseNum(1, 20).map(Probe(_)),
    3 -> Gen.chooseNum(1, 20).map(Expand(_))))

  property("BeamQueue equals the three-array queue entry by entry") =
    forAll(opsGen, Gen.frequency(1 -> Gen.const(1), 4 -> Gen.chooseNum(1, 16))) {
      (ops, cap) =>
        val q = new BeamQueue(cap)
        val model = new ThreeArrayBeamQueue(cap)
        def sameEntries: Boolean = q.size == model.size &&
          (0 until q.size).forall { i =>
            q.id(i) == model.id(i) && q.expanded(i) == model.expanded(i) &&
              java.lang.Float.floatToRawIntBits(q.dist(i)) ==
                java.lang.Float.floatToRawIntBits(model.dist(i))
          }
        ops.forall {
          case Insert(id, d) => q.insert(id, d); model.insert(id, d); sameEntries
          case Probe(k) => q.hasUnexpandedInK(k) == model.hasUnexpandedInK(k)
          case Expand(k) =>
            val open = q.hasUnexpandedInK(k)
            open == model.hasUnexpandedInK(k) &&
              (!open || q.closestUnexpanded() == model.closestUnexpanded()) &&
              sameEntries
        }
    }

  property("BeamQueue sorts NaN distances after +Inf, by id among themselves") =
    forAll(Gen.listOf(Gen.frequency(1 -> Gen.const(Float.NaN),
        1 -> Gen.const(Float.PositiveInfinity), 3 -> distGen))) { dists =>
      val q = new BeamQueue(math.max(1, dists.length))
      dists.zipWithIndex.foreach { case (d, id) => q.insert(id, d) }
      def rank(d: Float): Int = if (d.isNaN) 1 else 0
      val expect = dists.zipWithIndex.sortWith { case ((a, i), (b, j)) =>
        if (rank(a) != rank(b)) rank(a) < rank(b)
        else if (a.isNaN || a == b) i < j
        else a < b
      }.map(_._2)
      (0 until q.size).map(q.id) == expect
    }

  property("occlusionPrune: bounded, duplicate-free subset led by nearest") =
    forAll(Gen.chooseNum(2, 40), Gen.chooseNum(1, 10), Gen.long) { (nc, m, seed) =>
      val rnd = new scala.util.Random(seed)
      val n = nc + 1
      val data = Array.fill(n * 4)(rnd.nextFloat() * 2 - 1)
      val vecs = new graft.index.VectorStore(n, 4, data)
      val metric = graft.index.Metrics.L2
      val cands = (1 until n).map { id =>
        (id, metric.dist(vecs.data, vecs.offset(id), vecs.data, vecs.offset(0), 4))
      }
      val out = graft.index.GraphBuild.occlusionPrune(cands, 0, m, vecs, metric)
      val nearest = cands.minBy { case (id, d) => (d, id) }._1
      out.length == math.min(m, nc) &&
        out.distinct.length == out.length &&
        out.forall(id => id >= 1 && id < n) &&
        (out.isEmpty || out.head == nearest)
    }

  property("chamfer LSE stays finite under extreme temperature") =
    forAll(Gen.chooseNum(1, 4), Gen.chooseNum(1, 4)) { (ci, cj) =>
      val agg = new ChamferAggregator(ci, temperature = 1e4)
      val buf = agg.zero
      for (i <- 0 until ci; j <- 0 until cj)
        agg.reduce(buf, SubSim(i, j, 0.9 + 0.01 * ((i + j) % 5)))
      java.lang.Double.isFinite(agg.finish(buf))
    }
}
