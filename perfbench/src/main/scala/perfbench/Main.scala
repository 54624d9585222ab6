package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark process: set up, warm up and stage, then run the workload
  * in a closed loop (one client; each iteration starts when the previous
  * one returns) and write everything measured to a JSON record.
  *
  * With `--trace 1` every iteration is traced (listeners registered, spans
  * open, each pipeline stage materialized) and runs each operation a
  * second time untraced beside the traced one (see [[Workload.op]]), so
  * the record carries the tracing overhead from one process.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --out DIR --seconds S
  *   --trace 0|1 --cores N --record FILE [--queries q1,q2,…]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val mainMs = Clock.nowMs
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workloadName = args("workload")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores")
    val out = args("out")

    val spark = graft.SparkEnv.builder(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = Clock.nowMs
    val tracer = new Tracer(spark.sparkContext)

    val workload: Workload = workloadName match {
      case "reports_wide" => new Reports(args("inputs"))
      case "catalog_slice" =>
        new Catalog(args("inputs"), args("queries").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.warm(spark, tracer, s"$out/warm")
    val warmMs = Clock.nowMs

    val stats = new StatsListener
    val plans = new PlanListener
    val iters = scala.collection.mutable.ArrayBuffer.empty[IterRec]
    if (traced) {
      spark.sparkContext.addSparkListener(stats)
      spark.listenerManager.register(plans)
    }
    tracer.enabled = traced
    val t0 = System.nanoTime()
    while (iters.isEmpty || Workload.secs(t0) < seconds) {
      val rec = new IterRec(iters.size, traced, s"$out/iter-${iters.size}")
      tracer.startIteration(rec.i)
      val gc0 = Workload.gcMs
      rec.startMs = Clock.nowMs
      tracer.span("iteration")(workload.iterate(spark, tracer, rec))
      rec.endMs = Clock.nowMs
      rec.gcMs = Workload.gcMs - gc0 - rec.asideGcMs
      iters += rec
    }
    drainListeners(spark)
    val peakRssMb = vmHwmKb / 1024.0

    val record = Map(
      "workload" -> workloadName,
      "cores" -> cores.toInt,
      "setup" -> Map("main_ms" -> mainMs, "session_ms" -> sessionMs,
        "warm_ms" -> warmMs),
      "peak_rss_mb" -> peakRssMb,
      "iterations" -> iters.map(r => Map(
        "i" -> r.i, "traced" -> r.traced, "out" -> r.outDir,
        "start_ms" -> r.startMs, "end_ms" -> r.endMs, "gc_ms" -> r.gcMs,
        "persisted" -> r.persisted, "ops" -> r.timed.ops,
        "failed" -> r.timed.failed, "plain_ops" -> r.plain.ops,
        "plain_failed" -> r.plain.failed,
        "aside" -> r.aside.map { case (s, e) => Seq(s, e) })),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "iter" -> s.iter, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)),
      "jobs" -> stats.jobs.map(j => Map("id" -> j.id, "iter" -> j.iter,
        "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
      "stages" -> stats.stages.values.map(s => Map("id" -> s.id,
        "iter" -> s.iter, "span" -> s.span, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "task_ms" -> s.taskMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "spill" -> s.spill, "input_rows" -> s.inputRows,
        "input_bytes" -> s.inputBytes, "output_bytes" -> s.outputBytes,
        "result_bytes" -> s.resultBytes)),
      "plans" -> plans.plans.map(p => Map("start_ms" -> p.startMs,
        "analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs,
        "planning_ms" -> p.planningMs)))
    Files.writeString(Paths.get(args("record")), Json(record))
    spark.stop()
  }

  /** wait until the listener bus has delivered every queued event
    * (`LiveListenerBus.waitUntilEmpty` is Spark-internal; reached by
    * reflection since the harness is not part of Spark) */
  private def drainListeners(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  /** peak resident set of this process (Linux VmHWM), in kB */
  private def vmHwmKb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
}
