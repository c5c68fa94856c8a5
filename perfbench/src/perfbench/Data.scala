package perfbench

/** Seeded inputs for every workload.
  *
  * Base data are clustered vector SETS (c = 4 members, dim 64, compared
  * by cosine). A set draws a topic around one of a fixed number of
  * cluster centres, and its members scatter around the topic. Queries
  * come from a second, shifted modality: each query vector is a member
  * of a target set, moved by one global modality offset plus noise.
  * RoarGraph is built for exactly this case (training queries drawn from
  * the query distribution, not the base one), so the graph build gets
  * its own sample of such query vectors.
  *
  * The hidden structure (cluster centres and the modality offset) is a
  * fixed property of this synthetic data family, drawn from a constant;
  * the run's seed draws the sample from it: the sets, the training
  * queries and the query sets. Seeds then vary what is measured without
  * moving how hard it is. Every draw comes from a `SplittableRandom`
  * seeded by (seed, stream), so one seed always yields byte-identical
  * inputs and two streams never share state. */
object Data {
  val Dim = 64
  val C = 4

  // Scales, chosen once: with 2,500 sets, recall@10 is ~0.87 at
  // mv_sql_interactive's budget and ~0.99 at mv_batch's, and moves by
  // about 0.01 between seeds. Many small clusters (~5 sets each) keep
  // recall steady across seeds; with 64 large ones it swung between 0.52
  // and 0.98. The query noise puts a query vector at cosine ~0.3 to the
  // member it came from, about what cross-modal encoders give for
  // matching pairs.
  val Clusters = 512
  val TopicSpread = 0.8
  val MemberSpread = 0.45
  val ShiftScale = 0.35
  val QueryNoise = 4.0

  type VecSet = Array[Array[Float]]

  /** Independent generator for one purpose of one seed. */
  def rng(seed: Long, stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream + 1) * 0xBF58476D1CE4E5B9L)

  private def gaussian(r: java.util.SplittableRandom, n: Int, scale: Double): Array[Double] = {
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
      val u = 1.0 - r.nextDouble()
      val v = r.nextDouble()
      out(i) = math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v) * scale
      i += 1
    }
    out
  }

  /** The hidden structure shared by the corpus and the queries. */
  final class World(val centres: Array[Array[Double]], val shift: Array[Double])

  val WorldSeed = 20200330L

  def world: World = {
    val r = rng(WorldSeed, 0)
    new World(Array.fill(Clusters)(gaussian(r, Dim, 1.0)), gaussian(r, Dim, ShiftScale))
  }

  /** `n` base sets; stream `stream` keeps appended batches apart from
    * the initial corpus. */
  def sets(w: World, seed: Long, stream: Long, n: Int): Array[VecSet] = {
    val r = rng(seed, stream)
    Array.fill(n) {
      val centre = w.centres(r.nextInt(Clusters))
      val noise = gaussian(r, Dim, TopicSpread)
      val topic = Array.tabulate(Dim)(d => centre(d) + noise(d))
      Array.fill(C) {
        val m = gaussian(r, Dim, MemberSpread)
        Array.tabulate(Dim)(d => (topic(d) + m(d)).toFloat)
      }
    }
  }

  /** One query vector of the other modality around `member`. */
  private def queryVec(w: World, r: java.util.SplittableRandom, member: Array[Float]): Array[Float] = {
    val noise = gaussian(r, Dim, QueryNoise)
    Array.tabulate(Dim)(d => (member(d) + w.shift(d) + noise(d)).toFloat)
  }

  /** Training query vectors for the graph build, drawn from the query
    * distribution around random base sets. */
  def trainQueries(w: World, seed: Long, corpus: Array[VecSet], n: Int): Array[Array[Float]] = {
    val r = rng(seed, 1)
    Array.fill(n) {
      val s = corpus(r.nextInt(corpus.length))
      queryVec(w, r, s(r.nextInt(C)))
    }
  }

  /** `n` query sets around targets drawn from `targets` (indices into
    * `corpus`). Set i has cardinality `card(i)`; members beyond the
    * target's c reuse its vectors under fresh noise. */
  def querySets(w: World, seed: Long, stream: Long, corpus: Array[VecSet],
                targets: IndexedSeq[Int], n: Int, card: Int => Int): Array[VecSet] = {
    val r = rng(seed, stream)
    Array.tabulate(n) { i =>
      val t = corpus(targets(r.nextInt(targets.length)))
      val m = card(i)
      val first = r.nextInt(C)
      Array.tabulate(m)(i => queryVec(w, r, t((first + i) % C)))
    }
  }

  val FixedCard: Int => Int = _ => C

  /** Ragged cardinality 1..8: consecutive sets cycle through every value
    * from a seeded start, so any run of statements has the same mix of
    * sizes whatever the seed (statement cost grows with cardinality). */
  def raggedCard(seed: Long): Int => Int = i => 1 + Math.floorMod(i + seed, 8L).toInt

  /** SHA-256 over every float of the given sets, in order — the
    * determinism test's "byte-identical inputs" witness. */
  def digest(parts: Seq[Array[VecSet]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(4)
    for (sets <- parts; s <- sets; v <- s; x <- v) {
      buf.clear(); buf.putFloat(x); md.update(buf.array())
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
