package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic, without Spark: input generation, the
  * percentile rule, interval arithmetic and the latency clock. */
class BenchLogicSpec extends AnyFunSuite {

  test("the same seed gives identical inputs, another seed different ones") {
    def inputs(seed: Long) = (
      Gen.history(seed, 500, 50).map(l => (l.ev.json, l.anomalous)),
      Gen.schedule(seed, 50, 10, Seq(Gen.Phase("low", 100, 1000), Gen.Phase("high", 500, 600)),
        200L, 50, 14400L).ticks.map(t => (t.dueMs, t.sends.map(s => (s.item.ev.json, s.resend)))),
      Gen.corpus(seed, 200, 8).docs.map(d => (d.id, d.text, d.embedding.toSeq)))
    assert(inputs(7L) == inputs(7L))
    assert(inputs(7L)._1 != inputs(8L)._1)
    assert(inputs(7L)._2 != inputs(8L)._2)
    assert(inputs(7L)._3 != inputs(8L)._3)
  }

  test("the schedule re-sends ids it already sent and keeps every send in its phase") {
    val phases = Seq(Gen.Phase("low", 200, 2000), Gen.Phase("high", 1000, 1000))
    val plan = Gen.schedule(3L, 50, 0, phases, 200L, 100, 14400L)
    val first = plan.firstSends.map(_.item.ev.id)
    assert(first.distinct.size == first.size)
    val resent = plan.ticks.flatMap(_.sends).filter(_.resend)
    assert(resent.nonEmpty && resent.forall(s => first.contains(s.item.ev.id)))
    plan.ticks.foreach { t =>
      val (lo, hi) = if (t.phase == 0) (0L, 2000L) else (2000L, 3000L)
      assert(t.dueMs >= lo && t.dueMs < hi && t.sends.forall(_.phase == t.phase))
    }
    assert(plan.unique.map(_.ev.id).distinct.size == plan.unique.size)
  }

  test("the percentile rule picks the highest percentile with ten samples beyond it") {
    assert(Stats.tailPerMille(19).isEmpty)
    assert(Stats.tailPerMille(20).contains(500))
    assert(Stats.tailPerMille(100).contains(900))
    assert(Stats.tailPerMille(200).contains(950))
    assert(Stats.tailPerMille(999).contains(950))
    assert(Stats.tailPerMille(1000).contains(990))
    assert(Stats.tailPerMille(10000).contains(999))
    assert(Stats.boundedPerMille(1000, 990) == 990)
    assert(Stats.boundedPerMille(150, 990) == 900)
    assert(Stats.boundedPerMille(5, 990) == 500)
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(xs, 990) == 990.0)
    assert(Stats.percentile(xs, 500) == 500.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("idle time is the window minus the union of overlapping task intervals") {
    val tasks = Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0), (24.0, 40.0))
    assert(Stats.covered(tasks, 0.0, 30.0) == 25.0)
    assert(Stats.idle(0.0, 30.0, tasks) == 5.0)
    // clipped to the window
    assert(Stats.idle(12.0, 22.0, tasks) == 5.0)
    assert(Stats.idle(100.0, 110.0, tasks) == 10.0)
  }

  test("self time is a span minus the part its overlapping children cover") {
    val parent = Span(1, -1, "advance", 0.0, 100.0, "main")
    val kids = Seq(Span(2, 1, "a", 10.0, 40.0, "main"), Span(3, 1, "b", 30.0, 50.0, "t2"),
                   Span(4, 1, "c", 90.0, 120.0, "main"))
    assert(TraceDump.selfMs(parent, kids) == 100.0 - 40.0 - 10.0)
    assert(TraceDump.selfMs(kids.head, Nil) == 30.0)
  }

  test("latency runs from the scheduled time even when the generator writes late") {
    // the tick was due at 1000 but written at 1300; its batch ended at 2500
    val due = Seq(7L -> 1000.0, 8L -> 1000.0, 9L -> 1200.0)
    val batchOf = Map(7L -> 3L, 8L -> 4L, 9L -> 4L)
    val batchEnd = Map(3L -> 2500.0, 4L -> 3100.0)
    assert(Latency.perEvent(due, batchOf, batchEnd) == Seq(1500.0, 2100.0, 1900.0))
    // an event never committed has no latency; the exactly-once check fails it
    assert(Latency.perEvent(Seq(10L -> 0.0), batchOf, batchEnd).isEmpty)
  }

  test("AUC ranks positives above negatives and splits ties") {
    assert(Stats.auc(Seq(0.1, 0.2, 0.8, 0.9), Seq(false, false, true, true)) == 1.0)
    assert(Stats.auc(Seq(0.9, 0.8, 0.2, 0.1), Seq(false, false, true, true)) == 0.0)
    assert(Stats.auc(Seq(0.5, 0.5), Seq(false, true)) == 0.5)
  }

  test("planted duplicate removal counts the extra members each cluster sheds") {
    val clusters = Seq(Seq(1L, 2L, 3L), Seq(10L, 11L))
    assert(CorpusMaintain.dupRemoval(clusters, Set(1L, 10L)) == 1.0)
    assert(CorpusMaintain.dupRemoval(clusters, Set(1L, 2L, 10L)) == 2.0 / 3.0)
    assert(CorpusMaintain.dupRemoval(clusters, Set(1L, 2L, 3L, 10L, 11L)) == 0.0)
  }
}
