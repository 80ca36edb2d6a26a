package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Writes `<work>/result.json` (metrics, operations, checks and
  * covariates); `perfbench/run.py` turns it into the benchmark's result
  * line after comparing analytics outputs against their DuckDB twins. */
object Main {
  /** over-wide stages fail at submit instead of scheduling */
  val TaskCap = 10000
  val BudgetS = 60.0
  val SetupReps = 3
  val SpanNames = Seq("derive", "check", "backup_full", "backup_incr", "restore_verify",
    "tx", "graph", "cc", "pagerank", "hyperball", "dedup_pairs", "dedup_clusters")
  /** the cold cluster query's span keeps only the fields that tell its
    * failure (and a fix of it) apart; all of them would pass 128 metrics */
  val ColdSpan = "dedup_clusters_cold"
  val ColdFields = Seq("wall_s", "driver_s", "exec_s", "max_stage_tasks")
  /** tracing off/on order of the overhead probe's repetitions */
  val ProbeOrder = Seq(false, true, true, false, false, true)

  /** the session `graft.Bench` configures, with every file the run
    * writes kept under `work` */
  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Loads the classes a run uses, on tiny inputs, so the build can
    * archive them for class-data sharing (JVM start-up, not work). */
  def train(work: String): Unit = {
    val spark = session(work, Runtime.getRuntime.availableProcessors())
    val guard = new Guard(spark.sparkContext, TaskCap)
    spark.sparkContext.addSparkListener(guard)
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    tracer.on = true
    val h = new Harness(spark, guard, tracer, traceMode = true, BudgetS)
    Seq(new StoreLifecycle(1L, work, nodes = 300L), new Analytics(1L, work, orders = 60L, docs = 40L))
      .foreach { w => w.setup(h, 0); w.cycle(h) }
    Harness.calibrate(spark, guard)
    SelfTest.run(h)
    spark.stop()
  }

  /** The workload's probe operation, in fresh sessions, with tracing off
    * and on in the alternating [[ProbeOrder]] (each side runs first
    * equally often): median traced time over median untraced, minus 1.
    * Off means the tracer is detached from the context and the session,
    * as in an untraced run. Leaves the tracer attached and idle. */
  def traceOverhead(h: Harness, w: Workload): Double = {
    val sc = h.root.sparkContext
    val spans0 = h.spans.size
    var attached = true
    val times = ProbeOrder.map { on =>
      if (on != attached) { if (on) sc.addSparkListener(h.tracer) else sc.removeSparkListener(h.tracer) }
      attached = on
      h.tracer.on = on
      val s = h.freshSession(traced = on)
      val t0 = System.nanoTime()
      h.span("overhead_probe")(w.probe(s))
      (on, (System.nanoTime() - t0) / 1e9)
    }
    if (!attached) sc.addSparkListener(h.tracer)
    h.tracer.on = false
    h.spans.remove(spans0, h.spans.size - spans0)
    import Workload.median
    median(times.filter(_._1).map(_._2)) / median(times.filter(!_._1).map(_._2)) - 1
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    if (workload == "train") return train(work)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sc = spark.sparkContext
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val guard = new Guard(sc, TaskCap)
    sc.addSparkListener(guard)
    val tracer = new Tracer
    if (traced) sc.addSparkListener(tracer)
    val h = new Harness(spark, guard, tracer, traced, BudgetS)
    val w = Workload(workload, seed, work)

    val covariates = mutable.LinkedHashMap[String, Any]()
    covariates("cores") = cores
    // set-up: seeded inputs + warm-up, several times; the median is the
    // metric
    val setupS = (0 until SetupReps).map { rep =>
      val s0 = System.nanoTime()
      w.setup(h, rep)
      (System.nanoTime() - s0) / 1e9
    }
    h.ops.clear()
    covariates("load1_start") = Harness.load1()
    Harness.calibrate(spark, guard) // the kernel's first run compiles its plan
    covariates("calibration_start") = Harness.calibrate(spark, guard)

    // the measured window: whole cycles of cold operations, at least one,
    // until the time is up; a cycle's time is the sum of its operations'
    // timed parts (the harness's own output checks are not in it)
    val memo0 = graft.SessionMemo.outputReads.get()
    val cycles = mutable.ArrayBuffer[Double]()
    val w0 = System.nanoTime()
    guard.resetPeak()
    tracer.on = traced
    def elapsed = (System.nanoTime() - w0) / 1e9
    while (cycles.isEmpty || elapsed < seconds) {
      h.cycle = cycles.size
      w.cycle(h)
      cycles += h.ops.filter(_.cycle == h.cycle).map(_.wallS).sum
    }
    tracer.on = false
    Trace.drainBus(sc)
    val measuredS = elapsed
    val cachePeakMb = guard.peakBytes / (1024.0 * 1024.0)
    val memoReads = graft.SessionMemo.outputReads.get() - memo0

    covariates("calibration_end") = Harness.calibrate(spark, guard)
    covariates("load1_end") = Harness.load1()
    covariates("session_start_s") = sessionStartS
    covariates("measured_s") = measuredS
    val overhead = if (traced) traceOverhead(h, w) else Double.NaN
    val selfTests = SelfTest.run(h)

    import Workload.median
    val plain = h.ops.toSeq
    val ok = plain.filter(_.ok)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> median(setupS),
      "cycle_s" -> median(cycles.toSeq),
      "records_per_s" -> ok.map(_.records).sum / ok.map(_.wallS).sum,
      "cache_peak_mb" -> cachePeakMb)

    val layer = mutable.LinkedHashMap[String, Double]()
    val bySpan = h.spans.toSeq.groupBy(_.name)
    for ((sp, fields) <- SpanNames.map(_ -> Spans.Fields) :+ (ColdSpan -> ColdFields); f <- fields) {
      val occ = bySpan.getOrElse(sp, Nil).map(Spans.summarise(_, tracer))
      layer(s"$sp.$f") = if (occ.isEmpty) 0.0 else median(occ.map(_(f)))
    }
    layer("memo_reads") = memoReads.toDouble
    layer("trace_overhead_frac") = overhead

    val figures = w.figures(plain) :+ (("failed_ops_frac",
      if (plain.isEmpty) 0.0 else plain.count(!_.ok).toDouble / plain.size, "frac"))
    val outputs = w match {
      case a: Analytics => a.outputs.toSeq.map { case (op, q, p) => Map("op" -> op, "query" -> q, "path" -> p) }
      case _ => Nil
    }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_runs_s" -> setupS,
      "cycles_s" -> cycles.toSeq,
      "ops" -> h.ops.toSeq.map(o => Map("name" -> o.name, "cycle" -> o.cycle, "wall_s" -> o.wallS,
        "records" -> o.records, "ok" -> o.ok, "wrong" -> o.wrong, "error" -> o.error)),
      "end_to_end" -> e2e, "per_layer" -> layer,
      "figures" -> figures.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "self_tests" -> selfTests, "covariates" -> covariates,
      "outputs" -> outputs,
      "data_dir" -> (w match { case a: Analytics => a.dataDir; case _ => "" }),
      "oracle_sql" -> outputs.map(_("query")).distinct.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "result.json"), Json(result))
    spark.stop()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
