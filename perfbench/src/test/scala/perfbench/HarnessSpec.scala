package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the harness's own rules: percentile sample sizes, result
  * digests, failure accounting, steal share, span self time and generator
  * determinism.
  * Run with `sbt test` inside `perfbench/`. */
class HarnessSpec extends AnyFunSuite {

  test("percentile needs ten samples beyond it") {
    assert(Stats.minSamples(0.9) == 100)
    assert(Stats.minSamples(0.5) == 20)
    assert(Stats.minSamples(0.99) == 1000)
    assert(!Stats.enough(99, 0.9))
    assert(Stats.enough(100, 0.9))
    assertThrows[IllegalArgumentException](Stats.minSamples(1.0))
  }

  test("percentile interpolates between order statistics") {
    val xs = (1 to 101).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 51.0)
    assert(Stats.percentile(xs, 0.9) == 91.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 0.5) == 1.5)
    assert(Stats.percentile(Nil, 0.5).isNaN)
    assert(Stats.trusted(xs.take(99), 0.9).isNaN)
    assert(Stats.trusted(xs.take(100), 0.9) == Stats.percentile(xs.take(100), 0.9))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("a wrong answer or an exception is a failed attempt without a latency") {
    val l = new Ledger
    assert(l.attempt("q")(None))
    assert(!l.attempt("q")(Some("wrong rows")))
    assert(!l.attempt("q")(throw new IllegalStateException("boom")))
    assert(l.attempted == 3)
    assert(l.failed == 2)
    assert(l.count("q") == 1)
    assert(l.errorLog.exists(_.contains("wrong rows")))
    assert(l.errorLog.exists(_.contains("boom")))
  }

  test("result digests ignore row order but not values") {
    val a = Array(Row(1L, "x", Array[Byte](1, 2)), Row(2L, null, Array[Byte](3)))
    val b = Array(a(1), a(0))
    assert(Workloads.digest(a) == Workloads.digest(b))
    val c = Array(Row(1L, "x", Array[Byte](1, 2)), Row(2L, null, Array[Byte](4)))
    assert(Workloads.digest(a) != Workloads.digest(c))
    assert(Workloads.canon(new java.math.BigDecimal("1.50")) == "1.5")
  }

  test("self time subtracts direct children only") {
    val spans = Seq(
      Span(1, 0, 1, "op", 0, 100),
      Span(2, 1, 1, "plan", 10, 40),
      Span(3, 1, 1, "exec", 40, 90),
      Span(4, 3, 1, "scan", 50, 70))
    val self = Tracer.selfMs(spans)
    assert(self("op") == 20 / 1e6)
    assert(self("exec") == 30 / 1e6)
    assert(self("scan") == 20 / 1e6)
  }

  test("steal share is stolen over runnable ticks, and 0 without steal") {
    def at(busy: Long, steal: Long) = Proc.Sample(0L, 0L, 0L, 0L, busy, steal)
    // one CPU busy 300 ticks, held back 100: the section took 400 ticks
    // of wall time and would have taken 300
    assert(Proc.stealShare(at(1000, 50), at(1300, 150)) == 0.25)
    assert(Proc.stealShare(at(1000, 50), at(1300, 50)) == 0.0)
    // an unreadable /proc/stat samples as (0, 0)
    assert(Proc.stealShare(at(0, 0), at(0, 0)) == 0.0)
    val (busy, steal) = Proc.hostTicks()
    assert(busy >= 0 && steal >= 0)
  }

  test("a disabled tracer records nothing; an enabled one nests spans") {
    val off = new Tracer(enabled = false)
    assert(off.span("x")(41 + 1) == 42)
    assert(off.all.isEmpty)
    val on = new Tracer(enabled = true)
    on.beginOp(7)
    on.span("outer")(on.span("inner")(()))
    val byName = on.all.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == 0)
    assert(on.all.forall(_.op == 7))
  }

  test("the chain generator is deterministic for a seed and dense in blocks") {
    val a = new ChainUniverse(5, 3, 3, 2, 4)
    val b = new ChainUniverse(5, 3, 3, 2, 4)
    val c = new ChainUniverse(6, 3, 3, 2, 4)
    // the seed draws values, never the table shapes
    assert(a.defs.map(_.entry.signature) == c.defs.map(_.entry.signature))
    assert(!java.util.Arrays.equals(a.txHash(a.firstBlock), c.txHash(a.firstBlock)))
    assert(a.totalLogs == a.lastBlock - a.firstBlock + 1)
    assert(a.totalLogs == 3 * 3 * 2 * 4)
    assert(java.util.Arrays.equals(a.txHash(a.firstBlock), b.txHash(a.firstBlock)))
    assert(!java.util.Arrays.equals(a.txHash(a.firstBlock), a.txHash(a.firstBlock + 1)))
  }
}
