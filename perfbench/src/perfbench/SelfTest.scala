package perfbench

/** Checks of the benchmark's own machinery, run by
  * `perfbench/tests/test_perfbench.py`: input determinism, the ground
  * truth against a naive double-precision loop, and the span-tree
  * check. Prints one line per failed check and exits non-zero if any. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val failures = inputsRepeat() ++ truthMatchesNaive() ++ spanCheckWorks()
    failures.foreach(println)
    if (failures.nonEmpty) sys.exit(1)
    println("selftest ok")
  }

  /** Everything a workload draws from its seed. */
  private def inputs(seed: Long): String = {
    val w = Data.world
    val sets = Data.sets(w, seed, 2, 300)
    val all = 0 until sets.length
    Data.digest(Seq(sets, Array(Data.trainQueries(w, seed, sets, 50)),
      Data.querySets(w, seed, 100, sets, all, 20, Data.FixedCard),
      Data.querySets(w, seed, 300, sets, all, 20, Data.raggedCard(seed))))
  }

  def inputsRepeat(): Seq[String] = {
    val a = inputs(7)
    Seq(
      if (a != inputs(7)) Some("the same seed gave different inputs") else None,
      if (a == inputs(8)) Some("two seeds gave the same inputs") else None).flatten
  }

  /** Smooth-Chamfer straight from its definition: cosine in double,
    * log of a plain sum of exponentials. */
  private def naive(q: Data.VecSet, d: Data.VecSet): Double = {
    def cos(a: Array[Float], b: Array[Float]) = {
      val dot = a.indices.map(i => a(i).toDouble * b(i)).sum
      dot / math.sqrt(a.map(x => x.toDouble * x).sum) / math.sqrt(b.map(x => x.toDouble * x).sum)
    }
    val t = Truth.Tau
    val rows = q.map(a => math.log(d.map(b => math.exp(t * Truth.TxtScale * cos(a, b))).sum)).sum
    val cols = d.map(b => math.log(q.map(a => math.exp(t * cos(a, b))).sum)).sum
    (rows / (q.length * t * Truth.TxtScale) + cols / (q.length * t)) / Truth.Denominator
  }

  def truthMatchesNaive(): Seq[String] = {
    val r = Data.rng(1, 99)
    def set(n: Int): Data.VecSet = Array.fill(n)(Array.fill(5)((r.nextDouble() * 2 - 1).toFloat))
    val corpus = Array.fill(40)(set(4))
    val unit = corpus.map(Truth.unit)
    (1 to 8).flatMap { card =>
      val q = set(card)
      val scores = corpus.map(d => naive(q, d))
      val worst = corpus.indices.map(i => math.abs(scores(i) - Truth.score(Truth.unit(q), unit(i)))).max
      val want = corpus.indices.sortBy(i => (-scores(i), i)).take(5)
      val got = Truth.topK(Truth.unit(q), unit, _ => true, 5).map(_._1).toSeq
      Seq(
        if (worst > 1e-9) Some(s"card $card: exact score off the naive loop by $worst") else None,
        if (got != want) Some(s"card $card: exact top-5 $got, naive $want") else None).flatten
    }
  }

  def spanCheckWorks(): Seq[String] = {
    val t = new Tracer(true)
    t.inCall(0, "call") { t.span("a")(t.span("b")(())); t.span("c")(()) }
    t.inCall(1, "call")(t.span("a")(()))
    val good = t.all
    val orphan = good :+ Span(good.size, 99, 0, "lost", good.head.startNs, good.head.startNs + 1)
    val r = good.find(_.call == 1).get
    val overlap = good :+ Span(good.size, r.id, 1, "x", r.startNs, r.endNs) :+
      Span(good.size + 1, r.id, 1, "y", r.startNs, r.endNs)
    Seq(
      if (Tracer.problems(good).nonEmpty) Some(s"nested spans flagged: ${Tracer.problems(good)}") else None,
      if (Tracer.problems(orphan).isEmpty) Some("an orphan span was not flagged") else None,
      if (Tracer.problems(overlap).isEmpty) Some("overlapping sibling spans were not flagged") else None).flatten
  }
}
