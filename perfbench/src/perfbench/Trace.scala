package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory spans around the benchmark's calls into each engine module,
  * plus Spark jobs linked to the span that submitted them.
  *
  * A span is (id, parent, trace, layer, name, start, end). The parent is
  * the innermost open span of the calling thread (threads started inside a
  * span inherit it), the trace id names the unit of work (event batch,
  * writer batch, query). Around every span body the Spark local property
  * [[SpanProperty]] holds the span id, so [[SparkCounters]] can attach each
  * job to the benchmark span that caused it.
  *
  * With tracing off, [[span]] only runs its body.
  */
object Trace {
  val SpanProperty = "perfbench.span"
  final case class Span(id: Long, parent: Long, trace: String, layer: String, name: String,
                        startNs: Long, endNs: Long)

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new InheritableThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  /** Offset turning Spark listener wall-clock millis into nanoTime. */
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def init(context: SparkContext, on: Boolean): Unit = { sc = context; enabled = on }

  def span[T](layer: String, name: String, trace: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = open.get()
      open.set(id :: outer)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), trace, layer, name, t0, System.nanoTime()))
        open.set(outer)
        sc.setLocalProperty(SpanProperty, outer.headOption.map(_.toString).orNull)
      }
    }

  /** Record a span measured elsewhere (Spark jobs, from listener millis). */
  private[perfbench] def addMillis(parent: Long, trace: String, layer: String, name: String,
                                   startMs: Long, endMs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, trace, layer, name,
      startMs * 1000000L + clockOffsetNs, endMs * 1000000L + clockOffsetNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Wall time of `root` split over layers: at every instant the spans
    * under `root` that are open and have no open child share the instant
    * equally. Children are clipped to their parent's interval, so the
    * shares sum to the root's duration.
    */
  def selfTimeByLayer(root: Span, spans: Seq[Span] = all): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    val clipped = mutable.ArrayBuffer.empty[Span]
    def walk(s: Span): Unit = {
      clipped += s
      byParent.getOrElse(s.id, Nil).foreach { c =>
        val cs = math.max(c.startNs, s.startNs)
        val ce = math.min(c.endNs, s.endNs)
        if (ce > cs) walk(c.copy(startNs = cs, endNs = ce))
      }
    }
    walk(root)
    val parentOf = clipped.map(s => s.id -> s.parent).toMap
    // ends sort before starts at equal stamps (stable for ties of one
    // kind: parents precede children); an ended parent is never re-opened
    val events = clipped.flatMap(s => Seq((s.startNs, 1, s), (s.endNs, 0, s)))
      .sortBy(e => (e._1, e._2))
    val openChildren = mutable.Map.empty[Long, Int].withDefaultValue(0)
    val leaves = mutable.LinkedHashSet.empty[Span]
    val byId = clipped.map(s => s.id -> s).toMap
    val share = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var last = root.startNs
    events.foreach { case (t, kind, s) =>
      if (t > last && leaves.nonEmpty) {
        val each = (t - last) / 1e9 / leaves.size
        leaves.foreach(l => share(l.layer) += each)
      }
      last = t
      val p = parentOf.get(s.id).flatMap(byId.get)
      if (kind == 1) {
        leaves += s
        p.foreach { ps => openChildren(ps.id) += 1; leaves -= ps }
      } else {
        leaves -= s
        p.foreach { ps =>
          openChildren(ps.id) -= 1
          if (openChildren(ps.id) == 0 && ps.endNs > t) leaves += ps
        }
      }
    }
    share.toMap
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

/** Spark-side counters from the public listener events: jobs, stages,
  * tasks, task CPU and GC time, shuffle and spill bytes, input bytes.
  * Totals are kept always (they are the box accounting); per-span totals
  * and job spans only when tracing is on.
  */
final class SparkCounters extends SparkListener {
  final class Totals {
    val jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, spill, inputBytes = new AtomicLong(0L)
    def snapshot: Map[String, Long] = Map("jobs" -> jobs.get, "stages" -> stages.get,
      "tasks" -> tasks.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
      "shuffle_write_bytes" -> shuffleWrite.get, "spill_bytes" -> spill.get,
      "input_bytes" -> inputBytes.get)
  }
  val total = new Totals
  /** Totals per benchmark span id (tracing only). */
  val bySpan = new java.util.concurrent.ConcurrentHashMap[Long, Totals]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanProperty))).map(_.toLong).getOrElse(0L)
  private def forSpan(id: Long): Option[Totals] =
    if (id == 0L || !Trace.enabled) None else Some(bySpan.computeIfAbsent(id, _ => new Totals))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.jobs.incrementAndGet()
    val sid = spanOf(e.properties)
    forSpan(sid).foreach(_.jobs.incrementAndGet())
    jobSpan.put(e.jobId, (sid, e.time))
    e.stageIds.foreach(st => stageSpan.put(st, sid))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (sid, start) =>
      if (Trace.enabled && sid != 0L) Trace.addMillis(sid, "", "spark", s"job-${e.jobId}", start, e.time)
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    total.stages.incrementAndGet()
    forSpan(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).foreach(_.stages.incrementAndGet())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val targets = Seq(total) ++ forSpan(stageSpan.getOrDefault(e.stageId, 0L))
    targets.foreach { t =>
      t.tasks.incrementAndGet()
      if (m != null) {
        t.cpuNs.addAndGet(m.executorCpuTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        t.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** Sum of the per-span totals over the given span ids. */
  def sumOver(ids: Iterable[Long]): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    ids.foreach(id => Option(bySpan.get(id)).foreach(_.snapshot.foreach { case (k, v) => acc(k) += v }))
    acc.toMap.withDefaultValue(0L)
  }
}

/** Per-trigger phase times and state-store figures from
  * `StreamingQueryProgress`, kept per query id.
  */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(queryId: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.filter(_.id == queryId).toSeq
}
