package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The outcome of one operation. `wallS` is the timed part only; the
  * output check runs after it, outside the window. */
final case class OpResult(name: String, cycle: Int, wallS: Double, records: Long,
  ok: Boolean, wrong: Boolean, error: String)

/** Single-client closed loop over cold operations, with per-operation
  * budgets, job-group cancellation and (when traced) spans. */
final class Harness(val root: SparkSession, val guard: Guard, val tracer: Tracer,
    val traceMode: Boolean, val budgetS: Double) {
  private val sc = root.sparkContext
  val ops = mutable.ArrayBuffer[OpResult]()
  val spans = mutable.ArrayBuffer[SpanRec]()
  private var seq = 0
  @volatile private var currentGroup: String = null
  var cycle = 0

  /** A fresh session with nothing cached: Spark's CacheManager is
    * shared by every session of the context, so without dropping its
    * entries (and the checkpointed RDDs, which it does not track) a new
    * session would be served an identical plan from an earlier one.
    * `traced` registers the traced run's Catalyst-phase listener. */
  def freshSession(traced: Boolean = traceMode): SparkSession = {
    root.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Trace.drainBus(sc)
    guard.resetBlocks()
    val s = root.newSession()
    if (traced) s.listenerManager.register(tracer)
    s
  }

  /** Run `body` as span `name`: its jobs carry their own job group, so
    * the traced listener can attribute tasks to it. */
  def span[T](name: String)(body: => T): T = {
    seq += 1
    val g = s"$name#$seq"
    sc.setJobGroup(g, name, interruptOnCancel = true)
    currentGroup = g
    val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    try body finally {
      val wall = (System.nanoTime() - t0) / 1e9
      if (tracer.on) spans.synchronized { spans += SpanRec(name, g, m0, System.currentTimeMillis(), wall) }
      sc.clearJobGroup()
    }
  }

  /** Time `timed` (run on its own thread, under the budget), then check
    * its value with `check` (None = correct). An operation fails if it
    * throws, fails its check or runs over budget; an over-budget
    * operation is cancelled through its job group. `records` is read
    * once `timed` has returned. */
  def op[T](name: String, records: => Long)(timed: => T)(check: T => Option[String]): Option[T] = {
    @volatile var result: Option[T] = None
    @volatile var error: String = null
    @volatile var wall = 0.0
    val worker = new Thread(() => {
      val t0 = System.nanoTime()
      try {
        val v = timed
        wall = (System.nanoTime() - t0) / 1e9
        result = Some(v)
      } catch {
        case e: Throwable =>
          wall = (System.nanoTime() - t0) / 1e9
          error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
      }
    }, s"op-$name")
    worker.setDaemon(true)
    worker.start()
    worker.join((budgetS * 1000).toLong)
    if (worker.isAlive) {
      Option(currentGroup).foreach(g => sc.cancelJobGroup(g, s"$name over its ${budgetS}s budget"))
      worker.join(20000)
      error = s"over budget (${budgetS}s)"
      wall = budgetS
      result = None
    }
    if (worker.isAlive) throw new IllegalStateException(s"$name did not stop after cancellation")
    val capped = Option(currentGroup).flatMap(g => Option(guard.capped.get(g)))
    if (error != null && capped.isDefined)
      error = s"stage-task cap: ${capped.get} tasks > ${guard.taskCap}"
    val checked = result.flatMap { v =>
      try check(v) catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val err = Option(error).orElse(checked)
    ops += OpResult(name, cycle, wall, records, err.isEmpty, checked.isDefined, err.getOrElse(""))
    System.err.println(f"[perfbench] cycle $cycle $name ${wall}%.3f s ${err.getOrElse("ok")}")
    currentGroup = null
    if (err.isEmpty) result else None
  }
}

object Harness {
  def load1(): Double = try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split(" ")(0).toDouble
  } catch { case NonFatal(_) => -1.0 }

  /** Constant calibration kernel: identical synthetic shuffle + agg
    * every time, so its [wall s, executor s] is a yardstick for box
    * load, not a metric. */
  def calibrate(spark: SparkSession, guard: Guard): Seq[Double] = {
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    Trace.drainBus(sc)
    val e0 = guard.execMs.get()
    val t0 = System.nanoTime()
    spark.range(0L, 2000000L, 1L, sc.defaultParallelism)
      .selectExpr("id % 997 AS k", "id AS v")
      .groupBy("k").agg(sum("v"), count(lit(1)))
      .write.mode("overwrite").format("noop").save()
    val wall = (System.nanoTime() - t0) / 1e9
    Trace.drainBus(sc)
    Seq(wall, (guard.execMs.get() - e0) / 1e3)
  }
}
