package perfbench

import graft.core.ConditionalCheckFailedException
import graft.storage.GraftStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest`: closed loop. Two writer threads append fixed-size batches of
  * ~1 KiB incompressible payloads to one 4-segment stream back to back,
  * with writer and batch ids, through this class's own retry loop (which
  * counts CAS conflicts). Then a paced AvailableNow micro-batch query with
  * a watermarked window aggregation drains the stream.
  */
final class IngestWorkload(spark: SparkSession, seed: Long) extends Workload {
  val Writers = 2
  val Segments = 4
  val RowsPerBatch = 4000
  val WindowMs = 1000L
  private val input = new Gen.IngestInput(seed, RowsPerBatch)
  private var g: GraftStreams = _
  private var dir: Path = _
  private val committed = Array.fill(Writers)(0)
  private val conflicts = new AtomicLong(0L)
  private val attempts = new AtomicLong(0L)
  private val acks = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val writeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val drained = new ConcurrentHashMap[Long, (Long, Long)]()
  private var lossesBefore = 0L
  private var queryId: java.util.UUID = _

  def setup(d: Path): Unit = {
    dir = d
    g = Workload.stream(spark, dir, "bench", "ingest", Segments)
    // a side stream of the same shape for the warm-up
    val warm = Workload.stream(spark, dir, "warm", "ingest", Segments)
    warm.writeEvents("warm", "ingest", Workload.frame(spark, input.batch(99, 0).take(200)))
  }

  override def warmUp(): Unit = drain("warm", 100).awaitTermination()

  private def drain(scope: String, pace: Long) = {
    // every batch is consumed whole: the state store validates that
    val collect: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.collect()
      if (scope == "bench") rows.foreach { r =>
        drained.put(r.getAs[java.sql.Timestamp]("start").getTime, (r.getAs[Long]("n"), r.getAs[Long]("bytes")))
      }
    }
    spark.readStream.format("graft-stream")
      .option("rootDir", dir.toString).option("scope", scope).option("stream", "ingest")
      .option("maxRowsPerTrigger", pace.toString)
      .load()
      .withColumn("ts", timestamp_millis(col("eventTime")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), s"$WindowMs milliseconds").as("w"))
      .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("bytes"))
      .select(col("w.start").as("start"), col("n"), col("bytes"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", dir.resolve(s"checkpoint-$scope").toString)
      .foreachBatch(collect)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  def run(secs: Int): Unit = {
    lossesBefore = graft.catalog.StreamCatalog.casLosses.sum()
    val deadline = System.nanoTime() + secs * 1000000000L
    val t0 = System.nanoTime()
    val threads = (0 until Writers).map { w =>
      val t = new Thread(() => Checks.op {
        val backoff = Gen.rng(seed, 40, w)
        var b = 0
        while (System.nanoTime() < deadline) {
          val df = Workload.frame(spark, input.batch(w, b))
          val start = System.nanoTime()
          var done = false
          var tries = 0
          while (!done && tries < 50) {
            tries += 1
            attempts.incrementAndGet()
            val s = System.nanoTime()
            try {
              Trace.span("storage", "writeEvents", s"w$w-b$b") {
                g.writeEvents("bench", "ingest", df, Some(s"w$w"), Some(b.toLong))
              }
              writeMs.add((System.nanoTime() - s) / 1e6)
              done = true
            } catch {
              case _: ConditionalCheckFailedException =>
                conflicts.incrementAndGet()
                Thread.sleep(5L + backoff.nextInt(20))
            }
          }
          Checks.check(s"ingest.commit w$w-b$b", done, s"gave up after $tries conflicts")
          if (done) {
            acks.add((System.nanoTime() - start) / 1e6)
            committed(w) = b + 1
          }
          b += 1
        }
      }, s"ingest-writer-$w")
      t.start(); t
    }
    threads.foreach(_.join())
    val writeWall = (System.nanoTime() - t0) / 1e9
    val rows = committed.sum.toLong * RowsPerBatch
    val d0 = System.nanoTime()
    Checks.op(Trace.span("sources", "drain") {
      val q = drain("bench", rows / 4 + 1)
      q.awaitTermination()
      queryId = q.id
    })
    val drainWall = (System.nanoTime() - d0) / 1e9

    val ackMs = acks.asScala.toSeq
    Metrics.e2e("work_per_s") = rows / (writeWall + drainWall)
    Metrics.e2e("latency_ms_p50") = Stats.median(ackMs)
    Metrics.report("ingest_rows_per_s") = rows / writeWall
    Metrics.report("drain_rows_per_s") = rows / drainWall
    Metrics.latency("batch_ack_ms", ackMs, 90)
    Metrics.report("rows") = rows

    val ws = writeMs.asScala.toSeq
    Metrics.layer("storage.write_calls") = attempts.get.toDouble
    Metrics.layer("storage.write_ms_p50") = Stats.median(ws)
    Metrics.layer("storage.write_ms_p95") = Stats.pct(ws, 95)
    Metrics.layer("storage.batch_rows_p50") = RowsPerBatch
    Metrics.layer("storage.write_conflicts") = conflicts.get.toDouble
    Metrics.layer("storage.conflicts_per_commit") = conflicts.get.toDouble / math.max(1, committed.sum)
  }

  def check(): Unit = {
    val rows = committed.sum.toLong * RowsPerBatch
    val perSeg = g.readEvents("bench", "ingest").groupBy("segmentId")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"), max("offset").as("hi"),
        countDistinct("offset").as("distinct"))
      .collect()
    val total = perSeg.map(_.getAs[Long]("n")).sum + (if (Checks.corrupt) 1 else 0)
    Checks.check("ingest.row_count", total == rows, s"stored $total rows, acknowledged $rows")
    val sparse = perSeg.count { r =>
      val n = r.getAs[Long]("n")
      r.getAs[Long]("lo") != 0L || r.getAs[Long]("hi") != n - 1 || r.getAs[Long]("distinct") != n
    }
    Checks.check("ingest.dense_offsets", sparse == 0, s"$sparse segments with gaps or repeats")
    // the drained aggregate against a recomputation over the generated input
    val expected = mutable.Map.empty[Long, (Long, Long)].withDefaultValue((0L, 0L))
    for (w <- 0 until Writers; b <- 0 until committed(w); (_, t, p) <- input.batch(w, b)) {
      val k = t - Math.floorMod(t, WindowMs)
      val (n, bytes) = expected(k)
      expected(k) = (n + 1, bytes + p.length)
    }
    val got = drained.asScala.toMap
    Checks.check("ingest.drained_aggregate", got == expected.toMap,
      s"${got.size} windows drained, ${expected.size} expected; " +
        s"first difference: ${(expected.keySet ++ got.keySet).find(k => got.get(k) != expected.get(k))}")
  }

  override def traced(): Unit = {
    Workload.catalogFigures(spark, dir.toString, "bench", "ingest", lossesBefore)
    if (queryId != null) Workload.progressFigures(Main.progress.of(queryId))
  }
}
