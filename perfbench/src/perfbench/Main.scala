package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Runs one workload once and prints one `PERFBENCH_RESULT {json}` line:
  * end-to-end metrics, layer metrics (tracing on), the workload's named
  * figures with sample counts, box accounting and check outcomes.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --out DIR [--corrupt]
  * `DIR` holds the run's scratch (deleted at the end) and its span file.
  */
object Main {
  val counters = new SparkCounters
  val progress = new ProgressLog
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val out = Paths.get(opts("out")).toAbsolutePath
    Checks.corrupt = args.contains("--corrupt")

    val load0 = Box.loadavg
    val scratch = out.resolve(s"scratch-$workload-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(scratch)
    val s0 = System.nanoTime()
    val spark = Env.session(scratch)
    val sessionS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(progress)
    Trace.init(spark.sparkContext, traced)
    try {
      val w = Workload(workload, spark, seed, seconds)
      val setupS = (0 until Setups).map { i =>
        if (i > 0) w.discard()
        val t0 = System.nanoTime()
        w.setup(Files.createDirectories(scratch.resolve(s"setup-$i")))
        (System.nanoTime() - t0) / 1e9
      }
      Metrics.e2e("setup_s") = Stats.median(setupS)
      Metrics.report("setup_s_each") = setupS
      val w0 = System.nanoTime()
      w.warmUp()
      Metrics.report("warmup_s") = (System.nanoTime() - w0) / 1e9

      val sparkBefore = counters.total.snapshot
      val cpuBefore = Box.processCpuSeconds
      val ticksBefore = Box.cpuTicks
      HeapPeak.reset()
      val t0 = System.nanoTime()
      Trace.span("bench", s"run-$workload", workload)(w.run(seconds))
      val wall = (System.nanoTime() - t0) / 1e9
      HeapPeak.sampleNow()
      Metrics.e2e("heap_peak_mb") = HeapPeak.mb
      val cpu = Box.processCpuSeconds - cpuBefore
      val ticks = Box.cpuTicks
      val stealShare = (ticks._2 - ticksBefore._2).toDouble / math.max(1L, ticks._1 - ticksBefore._1)
      val sparkDelta = counters.total.snapshot.map { case (k, v) => k -> (v - sparkBefore(k)) }
      w.check()
      if (traced) {
        w.traced()
        layerFigures(workload, sparkDelta)
        Trace.writeJson(out.resolve(s"spans-$workload-$seed.jsonl"))
      }
      Metrics.report("error_rate") = Checks.failed.get.toDouble / math.max(1L, Checks.attempted.get)

      val box = mutable.LinkedHashMap[String, Any](
        "nproc" -> Box.nproc, "mem_total_kb" -> Box.memTotalKb,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "loadavg_start" -> load0, "loadavg_end" -> Box.loadavg,
        "session_s" -> sessionS, "timed_wall_s" -> wall, "process_cpu_s" -> cpu,
        "cpu_steal_share" -> stealShare,
        "spark_task_cpu_s" -> sparkDelta("cpu_ns") / 1e9,
        "spark_gc_s" -> sparkDelta("gc_ms") / 1e3)
      val result = mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "attempted" -> Checks.attempted.get, "failed" -> Checks.failed.get,
        "errors" -> Checks.messages.toArray.toSeq,
        "e2e" -> Metrics.e2e, "layer" -> Metrics.layer, "report" -> Metrics.report, "box" -> box)
      println("PERFBENCH_RESULT " + Json.render(result))
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
    }
  }

  /** Layer figures every workload shares: Spark totals over the timed
    * phase, per-commit Spark cost of the write spans, and the wall time
    * of the timed phase split over layers.
    */
  private def layerFigures(workload: String, spark: Map[String, Long]): Unit = {
    Metrics.layer("spark.jobs") = spark("jobs").toDouble
    Metrics.layer("spark.stages") = spark("stages").toDouble
    Metrics.layer("spark.tasks") = spark("tasks").toDouble
    Metrics.layer("spark.task_cpu_s") = spark("cpu_ns") / 1e9
    Metrics.layer("spark.gc_s") = spark("gc_ms") / 1e3
    Metrics.layer("spark.shuffle_write_bytes") = spark("shuffle_write_bytes").toDouble
    Metrics.layer("spark.spill_bytes") = spark("spill_bytes").toDouble
    val writes = Trace.all.filter(s => s.layer == "storage" && s.name == "writeEvents")
    if (writes.nonEmpty) {
      val per = counters.sumOver(writes.map(_.id))
      Metrics.layer("spark.jobs_per_commit") = per("jobs").toDouble / writes.size
      Metrics.layer("spark.task_cpu_ms_per_commit") = per("cpu_ns") / 1e6 / writes.size
    }
    Trace.all.find(s => s.layer == "bench" && s.name == s"run-$workload").foreach { root =>
      Trace.selfTimeByLayer(root).foreach { case (layer, s) => Metrics.layer(s"self_s.$layer") = s }
      Metrics.layer("self_s.total") = (root.endNs - root.startNs) / 1e9
    }
  }
}
