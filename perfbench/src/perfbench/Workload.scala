package perfbench

import graft.core.StreamConfig
import graft.storage.GraftStreams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** One benchmark workload. `setup` builds all state into a fresh
  * directory (it runs several times; only the last result is kept),
  * `warmUp` runs the timed code once untimed so JIT compilation and
  * codegen are done, `run` is the timed part, `check` verifies every output
  * afterwards and `traced` adds the layer figures that need extra work
  * outside the timing. Streaming queries still running at the end are
  * stopped by the caller.
  */
trait Workload {
  def setup(dir: Path): Unit
  /** Release what the previous `setup` built (not timed). */
  def discard(): Unit = ()
  def warmUp(): Unit = ()
  def run(seconds: Int): Unit
  def check(): Unit
  def traced(): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, seconds: Int): Workload = name match {
    case "tail" => new TailWorkload(spark, seed, seconds)
    case "ingest" => new IngestWorkload(spark, seed)
    case "scan" => new ScanWorkload(spark, seed)
    case "dedup" => new DedupWorkload(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val InputSchema: StructType = StructType(Seq(
    StructField("routingKey", StringType, nullable = false),
    StructField("eventTime", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Driver-local rows as the writer-side DataFrame `writeEvents` takes. */
  def frame(spark: SparkSession, rows: Iterable[(String, Long, Array[Byte])]): DataFrame =
    spark.createDataFrame(rows.map { case (k, t, p) => Row(k, t, p) }.toSeq.asJava, InputSchema)

  /** A stream store rooted in `dir` with one stream of `segments` segments. */
  def stream(spark: SparkSession, dir: Path, scope: String, name: String,
             segments: Int): GraftStreams = {
    val g = new GraftStreams(spark, dir.toString)
    Trace.span("catalog", "createStream") {
      g.catalog.createScope(scope)
      g.catalog.createStream(scope, name, StreamConfig(initialSegments = segments))
    }
    g
  }

  /** Catalog figures of a finished stream, timed from fresh instances
    * (cold: no cached tip) and the same instance again (warm).
    */
  def catalogFigures(spark: SparkSession, root: String, scope: String, name: String,
                     casLossesBefore: Long): Unit = {
    val cold = (1 to 5).map { _ =>
      val cat = new graft.catalog.StreamCatalog(root, spark.sessionState.newHadoopConf())
      val t0 = System.nanoTime()
      cat.getStream(scope, name)
      (System.nanoTime() - t0) / 1e6
    }
    val cat = new graft.catalog.StreamCatalog(root, spark.sessionState.newHadoopConf())
    val meta = cat.getStream(scope, name)
    val warm = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      cat.getStream(scope, name)
      (System.nanoTime() - t0) / 1e6
    }
    Metrics.layer("catalog.versions") = meta.version.toDouble
    Metrics.layer("catalog.cas_losses") =
      (graft.catalog.StreamCatalog.casLosses.sum() - casLossesBefore).toDouble
    Metrics.layer("catalog.live_files") = meta.files.size.toDouble
    Metrics.layer("catalog.cold_tip_read_ms") = Stats.median(cold)
    Metrics.layer("catalog.warm_tip_read_ms") = Stats.median(warm)
  }

  /** Micro-batch phase times and state-store figures of one query. */
  def progressFigures(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    def phase(k: String): Seq[Double] =
      data.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue()))
    Metrics.layer("sources.batches") = data.size.toDouble
    Metrics.layer("sources.trigger_ms_p50") = Stats.median(phase("triggerExecution"))
    Metrics.layer("sources.latest_offset_ms") = Stats.median(phase("latestOffset"))
    Metrics.layer("sources.planning_ms") = Stats.median(phase("queryPlanning"))
    Metrics.layer("sources.wal_commit_ms") = Stats.median(phase("walCommit"))
    val state = data.flatMap(_.stateOperators.toSeq)
    if (state.nonEmpty) {
      Metrics.layer("state.commit_ms") = Stats.median(state.map(_.commitTimeMs.toDouble))
      Metrics.layer("state.rows") = state.last.numRowsTotal.toDouble
      Metrics.layer("state.memory_bytes") = state.map(_.memoryUsedBytes.toDouble).max
    }
  }
}
