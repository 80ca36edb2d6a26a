package graftbench

import scala.util.control.NonFatal

/** Harness self-tests, run after the measured window of every run. */
object SelfTest {
  def run(h: Harness): Map[String, Boolean] = {
    val sc = h.root.sparkContext
    def safe(b: => Boolean) = try b catch { case NonFatal(_) => false }

    // an over-wide synthetic stage is cancelled at submit, its operation
    // counted as failed, and the session still answers afterwards
    val before = h.ops.size
    val s = h.freshSession()
    val t0 = System.nanoTime()
    h.op("selftest_wide_stage", 0L) {
      h.span("selftest")(sc.parallelize(1 to 10, h.guard.taskCap + 1).count())
    }(_ => None)
    val wideS = (System.nanoTime() - t0) / 1e9
    val wide = h.ops.drop(before)
    h.ops.remove(before, wide.size)
    val capped = wide.size == 1 && !wide.head.ok && wide.head.error.startsWith("stage-task cap") && wideS < 30
    val usable = safe(s.range(1000).count() == 1000L)

    // driver_s + task-covered time == wall_s, on a real traced span:
    // driver_s is wall_s minus the union of task intervals; the sweep in
    // Trace.idle finds the uncovered time without that union, so the two
    // agree only if both are right (up to the offset between the span's
    // nanosecond wall and its millisecond window, which is added back)
    val wasOn = h.tracer.on
    if (!h.traceMode) sc.addSparkListener(h.tracer)
    h.tracer.on = true
    val spansBefore = h.spans.size
    val identity = safe {
      h.span("selftest")(s.range(0L, 2000000L, 1L, 8).selectExpr("id % 7 AS k").groupBy("k").count().collect())
      Trace.drainBus(sc)
      val sp = h.spans.last
      val m = Spans.summarise(sp, h.tracer)
      val idleS = Trace.idle(h.tracer.tasksOf(sp.group).map(r => (r.launch, r.finish)), sp.startMs, sp.endMs) / 1e3
      val clockSkewS = sp.wallS - (sp.endMs - sp.startMs) / 1e3
      m("tasks") >= 8 && idleS < m("wall_s") && math.abs(m("driver_s") - (idleS + clockSkewS)) < 1e-6
    }
    // the interval union and the idle sweep against a brute-force count
    // of covered milliseconds
    val union = {
      val rnd = new scala.util.Random(7)
      (0 until 50).forall { _ =>
        val iv = Seq.fill(20) { val a = rnd.nextInt(1000).toLong; (a, a + rnd.nextInt(200)) }
        val brute = (100L until 900L).count(t => iv.exists { case (a, b) => a <= t && t < b })
        Trace.covered(iv, 100, 900) == brute && Trace.idle(iv, 100, 900) == 800 - brute
      }
    }
    h.tracer.on = wasOn
    h.spans.remove(spansBefore, h.spans.size - spansBefore)
    if (!h.traceMode) sc.removeSparkListener(h.tracer)
    Map("wide_stage_cancelled_and_failed" -> capped, "session_usable_after_cancel" -> usable,
      "driver_plus_covered_equals_wall" -> (identity && union))
  }
}
