package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Trace {
  def group(props: java.util.Properties): String =
    if (props == null) null else props.getProperty("spark.jobGroup.id")

  /** Block until every event posted so far has been delivered. The
    * bus's `waitUntilEmpty` is private[spark] in Scala but public in
    * bytecode; a short sleep bounds the skew if the method moves. */
  def drainBus(sc: SparkContext): Unit = try {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .map(_.invoke(bus))
      .getOrElse(Thread.sleep(200))
    ()
  } catch { case _: Throwable => Thread.sleep(200) }

  /** Total length of the union of half-open intervals [a, b), clipped
    * to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => a < b }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - a.max(end); end = b }
      }
    total
  }

  /** Length of [lo, hi) during which none of the half-open intervals
    * [a, b) is open, by a sweep over their start and end events: an
    * independent route to `hi - lo - covered(...)`. */
  def idle(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var open = 0
    var last = lo
    var total = 0L
    intervals.filter { case (a, b) => a < b }
      .flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(_._1)
      .foreach { case (t, d) =>
        val at = t.max(lo).min(hi)
        if (open == 0) total += at - last
        last = at
        open += d
      }
    total + hi - last
  }
}

/** Always-on listener, traced or not: the stage-task cap, the peak of
  * cached RDD block memory, and the executor-time counter the
  * calibration kernel reads. The cap is enforced at job start and at
  * stage submit; an over-wide stage's job group is cancelled, so the
  * operation that submitted it fails within seconds instead of
  * scheduling the stage. A stage also counts as the width of the
  * shuffle it writes: an adaptive query runs each map stage as a job of
  * its own, and by the time the over-wide reader stage is submitted the
  * map side has written every output partition and the scheduler
  * builds all of the reader's tasks before it handles a cancel. */
final class Guard(sc: SparkContext, val taskCap: Int) extends SparkListener {
  val execMs = new AtomicLong
  /** job groups cancelled by the cap, with the offending task count */
  val capped = new ConcurrentHashMap[String, Integer]()
  private val blocks = mutable.Map[String, Long]()
  private var current = 0L
  private var peak = 0L

  private def cap(props: java.util.Properties, tasks: Int, stage: Option[Int]): Unit = {
    val g = Trace.group(props)
    val reason = s"stage of $tasks tasks exceeds the cap of $taskCap"
    if (g != null) {
      if (capped.putIfAbsent(g, tasks) == null) sc.cancelJobGroup(g, reason)
    } else stage.foreach(id => sc.cancelStage(id, reason))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    e.stageInfos.map(ShuffleWidth(sc, _)).find(_ > taskCap).foreach(n => cap(e.properties, n, None))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val n = ShuffleWidth(sc, e.stageInfo)
    if (n > taskCap) cap(e.properties, n, Some(e.stageInfo.stageId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) { execMs.addAndGet(m.executorRunTime); () }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      current += now - blocks.getOrElse(key, 0L)
      if (now > 0) blocks(key) = now else blocks.remove(key)
      peak = peak.max(current)
    }
  }

  /** Forget every block (call after the caches were dropped and the
    * bus drained) and start a new peak window. */
  def resetBlocks(): Unit = synchronized { blocks.clear(); current = 0L }
  def resetPeak(): Unit = synchronized { peak = current }
  def peakBytes: Long = synchronized { peak }
}

/** One task as the traced run keeps it (times in epoch ms). */
final case class TaskRec(launch: Long, finish: Long, runMs: Long, gcMs: Long,
  shuffleBytes: Long, spillBytes: Long)

/** The traced run's listener: tasks and stage widths keyed by job
  * group (one group per span occurrence), and the Catalyst phases of
  * every action. Everything is kept in memory and summarised once the
  * run has ended. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val tasks = new ConcurrentHashMap[String, java.util.Queue[TaskRec]]()
  val maxStageTasks = new ConcurrentHashMap[String, Integer]()
  /** (phase, start ms, end ms); a set, so a QueryExecution reported
    * twice counts once */
  val phases = ConcurrentHashMap.newKeySet[(String, Long, Long)]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = Trace.group(e.properties)
    if (on && g != null) {
      stageGroup.put(e.stageInfo.stageId, g)
      maxStageTasks.merge(g, e.stageInfo.numTasks, (a, b) => Integer.valueOf(math.max(a.intValue, b.intValue)))
      ()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val i = e.taskInfo
      tasks.computeIfAbsent(g, _ => new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]())
        .add(TaskRec(i.launchTime, i.finishTime, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
      ()
    }
  }

  private def record(qe: QueryExecution): Unit = if (on) {
    qe.tracker.phases.foreach { case (name, p) => phases.add((name, p.startTimeMs, p.endTimeMs)) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def tasksOf(g: String): Seq[TaskRec] =
    Option(tasks.get(g)).map(_.asScala.toSeq).getOrElse(Nil)
}

/** One occurrence of a span: its job group and its window. */
final case class SpanRec(name: String, group: String, startMs: Long, endMs: Long, wallS: Double)

object Spans {
  val Fields = Seq("wall_s", "plan_s", "driver_s", "exec_s", "task_overhead_s",
    "tasks", "max_stage_tasks", "shuffle_mb", "gc_s", "spill_mb")

  /** The per-layer figures of one span occurrence. */
  def summarise(s: SpanRec, t: Tracer): Map[String, Double] = {
    val ts = t.tasksOf(s.group)
    val coveredS = Trace.covered(ts.map(r => (r.launch, r.finish)), s.startMs, s.endMs) / 1e3
    val planMs = t.phases.asScala.toSeq
      .filter { case (_, a, _) => a >= s.startMs && a <= s.endMs }
      .map { case (_, a, b) => b - a }.sum
    val mb = 1024.0 * 1024.0
    Map(
      "wall_s" -> s.wallS,
      "plan_s" -> planMs / 1e3,
      "driver_s" -> (s.wallS - coveredS).max(0.0),
      "exec_s" -> ts.map(_.runMs).sum / 1e3,
      "task_overhead_s" -> ts.map(r => (r.finish - r.launch) - r.runMs).sum / 1e3,
      "tasks" -> ts.size.toDouble,
      "max_stage_tasks" -> Option(t.maxStageTasks.get(s.group)).map(_.toDouble).getOrElse(0.0),
      "shuffle_mb" -> ts.map(_.shuffleBytes).sum / mb,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spill_mb" -> ts.map(_.spillBytes).sum / mb)
  }
}
