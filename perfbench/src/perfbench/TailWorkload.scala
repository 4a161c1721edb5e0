package perfbench

import graft.storage.GraftStreams
import org.apache.spark.sql.{ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One delivery seen by the sink: event index, segment, offset, nanoTime. */
final case class Delivery(index: Int, segment: Long, offset: Long, atNs: Long)

object TailSink {
  val buffers: TrieMap[String, ConcurrentLinkedQueue[Delivery]] = TrieMap.empty
}

/** Records every row's delivery time; runs inside the real-time tasks. */
final class TailSink(id: String) extends ForeachWriter[Row] {
  override def open(partitionId: Long, epochId: Long): Boolean = true
  override def process(r: Row): Unit =
    TailSink.buffers(id).add(Delivery(Gen.eventIndex(r.getAs[Array[Byte]]("payload")),
      r.getAs[Long]("segmentId"), r.getAs[Long]("offset"), System.nanoTime()))
  override def close(errorOrNull: Throwable): Unit = ()
}

/** `tail`: open loop. A generator thread creates small Zipf-keyed events
  * at a fixed rate; one writer thread commits everything buffered through
  * `writeEvents` as soon as its previous commit returns; a
  * `Trigger.RealTime` query long-polls the stream into a sink that stamps
  * every delivery. Latencies run from each event's due time.
  */
final class TailWorkload(spark: SparkSession, seed: Long, seconds: Int) extends Workload {
  val Rate = 200
  val Segments = 2
  private val input = new Gen.TailInput(seed, Rate * seconds)
  private val n = input.events
  private var g: GraftStreams = _
  private var dir: Path = _
  private var query: StreamingQuery = _
  private var sink: ConcurrentLinkedQueue[Delivery] = _
  private val dueNs = new Array[Long](n)
  private val lagNs = new Array[Long](n)
  private val ackNs = new Array[Long](n)
  private val commits = mutable.ArrayBuffer.empty[(Int, Double)] // (rows, ms)
  private var lossesBefore = 0L
  private var deliveries: Seq[Delivery] = Nil

  def setup(d: Path): Unit = {
    dir = d
    g = Workload.stream(spark, dir, "bench", "tail", Segments)
    val sinkId = java.util.UUID.randomUUID().toString
    sink = new ConcurrentLinkedQueue[Delivery]()
    TailSink.buffers.put(sinkId, sink)
    query = spark.readStream.format("graft-stream")
      .option("rootDir", dir.toString).option("scope", "bench").option("stream", "tail")
      .load()
      .writeStream.foreach(new TailSink(sinkId)).outputMode("update")
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .trigger(Trigger.RealTime("10 minutes"))
      .start()
    // one commit must reach the sink before the query counts as up
    warmCommits(1)
  }

  /** Commits of 20 events with negative indices, each awaited at the sink. */
  private def warmCommits(n: Int): Unit = (1 to n).foreach { c =>
    val warm = (0 until 20).map(i => (s"warm-$i", 0L, {
      val b = new Array[Byte](16); java.nio.ByteBuffer.wrap(b).putLong(0, -1L - i); b
    }))
    g.writeEvents("bench", "tail", Workload.frame(spark, warm))
    val deadline = System.nanoTime() + 60000000000L
    while (sink.size < warm.size && System.nanoTime() < deadline) Thread.sleep(5)
    require(sink.size == warm.size, s"warm-up commit $c delivered ${sink.size} of ${warm.size} events")
    sink.clear()
  }

  /** Commit durations settle only after about ten commits in a fresh JVM. */
  override def warmUp(): Unit = warmCommits(12)

  override def discard(): Unit = if (query != null) query.stop()

  def run(secs: Int): Unit = {
    lossesBefore = graft.catalog.StreamCatalog.casLosses.sum()
    val queue = new ConcurrentLinkedQueue[Integer]()
    @volatile var generated = false
    val t0 = System.nanoTime() + 50000000L
    val period = 1000000000L / Rate
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        val due = t0 + i * period
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        dueNs(i) = due
        lagNs(i) = now - due
        queue.add(i)
        i += 1
      }
      generated = true
    }, "tail-generator")
    val writer = new Thread(() => {
      var batch = 0
      while (!generated || !queue.isEmpty) {
        val idx = Iterator.continually(queue.poll()).takeWhile(_ != null).map(_.intValue).toArray
        if (idx.isEmpty) LockSupport.parkNanos(200000L)
        else {
          val rows = idx.map(i => (input.routingKey(i), dueNs(i) / 1000000L, input.payloads(i)))
          val s = System.nanoTime()
          Checks.op(Trace.span("storage", "writeEvents", s"batch-$batch") {
            g.writeEvents("bench", "tail", Workload.frame(spark, rows))
          }).foreach { _ =>
            val done = System.nanoTime()
            idx.foreach(i => ackNs(i) = done)
            commits += ((idx.length, (done - s) / 1e6))
          }
          batch += 1
        }
      }
    }, "tail-writer")
    gen.start(); writer.start()
    gen.join(); writer.join()
    val deadline = System.nanoTime() + 30000000000L
    while (sink.size < n && System.nanoTime() < deadline) Thread.sleep(2)
    val end = System.nanoTime()
    deliveries = sink.asScala.toSeq
    val delivered = deliveries.filter(d => d.index >= 0 && d.index < n && ackNs(d.index) > 0)
    val delivery = delivered.map(d => (d.atNs - dueNs(d.index)) / 1e6)
    val ack = ackNs.indices.filter(ackNs(_) > 0).map(i => (ackNs(i) - dueNs(i)) / 1e6)
    Metrics.latency("delivery_ms", delivery, 99)
    Metrics.latency("ack_ms", ack, 99)
    Metrics.e2e("work_per_s") = delivered.size / ((end - t0) / 1e9)
    Metrics.e2e("latency_ms_p50") = Stats.median(delivery)
    Metrics.report("delivered_events_per_s") = Metrics.e2e("work_per_s")
    Metrics.report("commits") = commits.size

    Metrics.layer("gen.events") = n
    Metrics.layer("gen.lag_ms_p99") = Stats.pct(lagNs.map(_ / 1e6).toSeq, 99)
    val pickup = delivered.map(d => (d.atNs - ackNs(d.index)) / 1e6)
    Metrics.layer("sources.pickup_ms_p50") = Stats.median(pickup)
    Metrics.layer("sources.pickup_ms_p99") = Stats.pct(pickup, 99)
    Metrics.layer("storage.write_calls") = commits.size
    Metrics.layer("storage.write_ms_p50") = Stats.median(commits.map(_._2).toSeq)
    Metrics.layer("storage.write_ms_p95") = Stats.pct(commits.map(_._2).toSeq, 95)
    Metrics.layer("storage.batch_rows_p50") = Stats.median(commits.map(_._1.toDouble).toSeq)
  }

  def check(): Unit = {
    val seen = if (Checks.corrupt) deliveries :+ deliveries.head else deliveries
    val counts = seen.groupBy(_.index).map { case (i, ds) => i -> ds.size }
    val missing = (0 until n).count(i => !counts.contains(i))
    val dup = counts.count(_._2 > 1)
    val unknown = counts.keys.count(i => i < 0 || i >= n)
    // every event is an operation: a missing or repeated one failed
    Checks.tally(n, missing + dup + unknown)
    Checks.check("tail.exactly_once", missing == 0 && dup == 0 && unknown == 0,
      s"missing=$missing duplicated=$dup unknown=$unknown of $n")
    // per key: delivery order and offset order both equal append order
    val byKey = seen.filter(d => d.index >= 0 && d.index < n).groupBy(d => input.keyOf(d.index))
    val badOrder = byKey.count { case (_, ds) =>
      val idx = ds.map(_.index)
      val byOffset = ds.sortBy(d => (d.segment, d.offset)).map(_.index)
      idx != idx.sorted || byOffset != idx.sorted || ds.map(_.segment).distinct.size != 1
    }
    Checks.check("tail.per_key_order", badOrder == 0, s"$badOrder keys out of append order")
  }

  override def traced(): Unit =
    Workload.catalogFigures(spark, dir.toString, "bench", "tail", lossesBefore)
}
