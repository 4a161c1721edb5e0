package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case o => quote(o.toString)
  }
  def obj(kv: (String, Any)*): String = render(mutable.LinkedHashMap(kv: _*))
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object Stats {
  /** Nearest-rank percentile (q in [0, 100]) of unsorted samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q / 100.0 * s.size).toInt - 1)))
    }
  /** Middle sample, or the mean of the two middle ones for an even count:
    * with few samples (a closed loop of long operations) the nearest-rank
    * p50 would be the smaller of two, a different estimator than the one
    * a three-sample run gets.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
  /** Samples strictly above the q-th percentile: a percentile is reported
    * only when at least ten lie beyond it.
    */
  def beyond(xs: Seq[Double], q: Double): Int = { val p = pct(xs, q); xs.count(_ > p) }
}

/** The host as the run saw it: cores, memory and load at start and end. */
object Box {
  def nproc: Int = Runtime.getRuntime.availableProcessors()
  def memTotalKb: Long =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  def loadavg: Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3)
      .map(_.toDouble).toSeq
  /** Aggregate CPU ticks from /proc/stat: (total, steal). */
  def cpuTicks: (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+").drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }
  def processCpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }
}

/** Peak live heap: the largest heap occupancy left after any collection
  * since [[reset]], read from the GC notifications.
  */
object HeapPeak {
  private val peak = new AtomicLong(0L)
  @volatile private var installed = false
  def reset(): Unit = { install(); peak.set(0L) }
  def mb: Double = peak.get / (1024.0 * 1024.0)
  /** Collect once so the state the run still holds is counted. */
  def sampleNow(): Unit = { System.gc(); note(used) }
  private def used: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  private def note(v: Long): Unit = peak.accumulateAndGet(v, math.max)
  private def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
            n.getUserData match {
              case cd: javax.management.openmbean.CompositeData =>
                val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
                note(info.getGcInfo.getMemoryUsageAfterGc.values().asScala.map(_.getUsed).sum)
              case _ =>
            }
          }, null, null)
        case _ =>
      }
    }
  }
}

/** Operation and check accounting. A thrown operation or a failed check is
  * counted as failed and never contributes a timing.
  */
object Checks {
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** `--corrupt` makes each workload damage one observed output before
    * checking it, to prove the checks catch it and the run reports failure.
    */
  @volatile var corrupt = false

  def op[T](body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        failed.incrementAndGet()
        messages.add(s"operation failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def tally(ops: Long, failures: Long): Unit = {
    attempted.addAndGet(ops)
    failed.addAndGet(failures)
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      messages.add(s"check failed: $name $detail")
    }
  }
}

/** Metrics of one run. End-to-end metrics are the workload's own; layer
  * metrics default to 0 where a workload bypasses the layer; `report`
  * holds the named, workload-specific end-to-end figures with their sample
  * counts.
  */
object Metrics {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.LinkedHashMap.empty[String, Any]

  /** Record a latency sample set under `name` as p50 and p`hi`, with the
    * sample count; the high percentile is reported only when at least ten
    * samples lie beyond it.
    */
  def latency(name: String, xs: Seq[Double], hi: Int): Unit = {
    report(s"${name}_p50") = Stats.median(xs)
    if (Stats.beyond(xs, hi) >= 10) report(s"${name}_p$hi") = Stats.pct(xs, hi)
    else report(s"${name}_p$hi") = s"n/a: ${Stats.beyond(xs, hi)} samples beyond p$hi"
    report(s"${name}_samples") = xs.size
  }
}

/** The Spark session, sized from the host. */
object Env {
  def session(scratch: Path): SparkSession = {
    val cpus = Box.nproc
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.sql.streaming.realTimeMode.minBatchDuration", "100")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
