package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own pure parts: nothing here starts the engine. */
class PureSpec extends AnyFunSuite {

  test("a tail percentile is the highest one with ten samples beyond it") {
    assert(Stats.highestSupported(19).isEmpty)
    assert(Stats.highestSupported(20).contains(50.0))
    assert(Stats.highestSupported(100).contains(90.0))
    assert(Stats.highestSupported(999).contains(95.0))
    assert(Stats.highestSupported(1000).contains(99.0))
    assert(Stats.highestSupported(10000).contains(99.9))
    assert(Stats.beyond(1000, 99.0) == 10)
  }

  test("percentile is nearest-rank and refuses an unsupported tail") {
    val xs = scala.util.Random.shuffle((1L to 1000L).toVector).toArray
    assert(Stats.percentile(xs, 50.0) == 500L)
    assert(Stats.percentile(xs, 99.0) == 990L)
    assert(Stats.percentile(Array(7L), 50.0) == 7L)
    assertThrows[IllegalArgumentException](Stats.percentile(xs.take(999), 99.0))
  }

  test("quantile interpolates between neighbouring order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.quantile(xs, 0.0) == 1.0 && Stats.quantile(xs, 1.0) == 5.0)
    assert(Stats.quantile(xs, 0.5) == Stats.median(xs))
    assert(math.abs(Stats.quantile(xs, 0.1) - 1.4) < 1e-12)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
    assertThrows[IllegalArgumentException](Stats.quantile(Seq.empty, 0.5))
  }

  test("recall averages the share of the true top-k found per query") {
    val truth = Seq(Array(1L, 2L, 3L), Array(4L, 5L, 6L))
    assert(Stats.recall(Seq(Array(1L, 2L, 3L), Array(4L, 5L, 6L)), truth, 3) == 1.0)
    assert(Stats.recall(Seq(Array(3L, 9L, 1L), Array.empty[Long]), truth, 3) == 2.0 / 6.0)
    // a repeated id counts once
    assert(Stats.recall(Seq(Array(1L, 1L, 1L), Array(4L, 5L, 6L)), truth, 3) == 4.0 / 6.0)
  }

  test("exact top-k matches a full sort, ties broken by id") {
    val r = Gen.stream(5L, 1)
    val vecs = Array.fill(300)(Gen.uniform(r))
    val ids = Array.tabulate(300)(i => (i * 7 % 300).toLong + 1)
    val q = Gen.uniform(r)
    val want = ids.indices.map(i => (Stats.dist(q, vecs(i)), ids(i))).sorted.take(10).map(_._2)
    assert(Stats.exactTopK(q, ids, vecs, 10).toSeq == want)
    val twins = Array.fill(4)(q.clone())
    assert(Stats.exactTopK(q, Array(9L, 3L, 7L, 5L), twins, 3).toSeq == Seq(3L, 5L, 7L))
  }

  test("self time subtracts the union of nested child spans") {
    val spans = Seq(
      Span(0, -1, 1, "client", "phase", 0, 100),
      Span(1, 0, 1, "A", "a", 10, 30),
      Span(2, 0, 1, "A", "a", 20, 50),
      Span(3, 0, 1, "B", "b", 60, 70),
      Span(4, 3, 1, "C", "c", 62, 65))
    val self = Tracer.selfNanos(spans)
    assert(self(0) == 50)
    assert(self(1) == 20 && self(2) == 30)
    assert(self(3) == 7 && self(4) == 3)
    assert(Tracer.selfByLayer(spans) == Map("client" -> 50L, "A" -> 50L, "B" -> 7L, "C" -> 3L))
  }

  test("the tracer nests spans on one thread and records nothing when off") {
    val t = new Tracer(true)
    t("client", "outer") { t("X", "inner")(()) }
    val Seq(outer, inner) = t.spans.sortBy(_.start)
    assert(inner.parent == outer.id && outer.parent == -1)
    val off = new Tracer(false)
    assert(off("X", "y")(41 + 1) == 42 && off.spans.isEmpty)
  }

  test("generators are deterministic per seed and differ across seeds") {
    def draw(seed: Long) = {
      val r = Gen.stream(seed, 21)
      Seq.fill(5)(Gen.mixture(r).toSeq) ++ Seq.fill(5)(Gen.uniform(r).toSeq)
    }
    assert(draw(3) == draw(3))
    assert(draw(3) != draw(4))
    assert(Gen.stream(3, 1).nextLong() != Gen.stream(3, 2).nextLong())
    val u = Gen.uniform(Gen.stream(1, 1))
    assert(u.length == Gen.Dim && u.forall(x => x >= 0f && x < 1f))
    val d = Gen.distinct(Gen.stream(1, 3), 50, 60)
    assert(d.distinct.length == 50 && d.forall(x => x >= 0 && x < 60))
  }

  test("mixture draws stay near one of the fixed centres") {
    val r = Gen.stream(9, 2)
    val xs = Array.fill(2000)(Gen.mixture(r))
    val mean = xs.map(_.map(_.toDouble).sum / Gen.Dim).sum / xs.length
    // centres are U[0,4): the grand mean is near 2
    assert(math.abs(mean - 2.0) < 0.25)
  }

  test("the op mix follows its proportions") {
    val r = Gen.stream(11, 13)
    val n = 200000
    val counts = Seq.fill(n)(Gen.nextOp(r)).groupBy(identity).map { case (op, xs) => op -> xs.size.toDouble / n }
    Gen.Mix.foreach { case (op, w) => assert(math.abs(counts(op) - w) < 0.005, s"$op: ${counts(op)} vs $w") }
  }
}
