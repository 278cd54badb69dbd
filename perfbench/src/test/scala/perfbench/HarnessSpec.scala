package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.pct == 90 && t.value == 90.0 && t.beyond == 10 && t.n == 100)
    val big = Stats.tail((1 to 1000).map(_.toDouble))
    assert(big.pct == 99 && big.value == 990.0 && big.beyond == 10)
    // 20 samples: only p50 leaves 10 beyond
    val small = Stats.tail((1 to 20).map(_.toDouble))
    assert(small.pct == 50 && small.value == 10.0 && small.beyond == 10)
    // too few for even p50 to have 10 beyond: p50 with what there is
    val tiny = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(tiny.pct == 50 && tiny.value == 2.0 && tiny.beyond == 1)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("generators give the same inputs for the same seed, other inputs for another") {
    val ctx = TransformGen.context(7)
    assert(ctx == TransformGen.context(7) && ctx != TransformGen.context(8))
    TransformGen.shapes.foreach { s =>
      val a = TransformGen.batch(s, 50, 11, ctx)
      val b = TransformGen.batch(s, 50, 11, ctx)
      assert(a == b, s.name)
      assert(a.records != TransformGen.batch(s, 50, 12, ctx).records, s.name)
    }
    def reqs(seed: Long) = ServeBench.requests(seed).take(40).toVector
    assert(reqs(5) == reqs(5) && reqs(5) != reqs(6))
    assert(reqs(5).map(_.kind).distinct == ServeBench.Kinds)
  }

  test("traced layer self times add up to the operation's time") {
    val t = new Tracer(null)
    t.op(-1, "warm-up")(t.span("a")(Thread.sleep(1)))
    val walls = (0 until 5).map { op =>
      val t0 = System.nanoTime()
      t.op(op, "op") {
        t.span("a") { Thread.sleep(3); t.span("b")(Thread.sleep(4)) }
        t.span("c")(Thread.sleep(2))
      }
      (System.nanoTime() - t0) / 1e6
    }
    val spans = t.all
    val self = Tracer.selfMs(spans)
    (0 until 5).foreach { op =>
      val mine = spans.filter(_.op == op)
      val root = mine.find(_.parent == 0).get
      val sum = mine.map(s => self(s.id)).sum
      // exact by construction against the root span, and within 5% (or
      // 2 ms) of the operation's wall time measured outside the tracer
      assert(math.abs(sum - root.ms) < 1e-6)
      assert(math.abs(sum - walls(op)) <= math.max(2.0, 0.05 * walls(op)), (sum, walls(op)))
      assert(mine.map(_.name).toSet == Set("op", "a", "b", "c"))
    }
    val byName = Tracer.selfMsByName(spans)
    assert(byName("b") >= 5 * 4 && byName("a") >= 5 * 3)
  }
}
