package perfbench

import graft.kv.KeyValueTable
import graft.sources.GraftInputPartition
import graft.storage.GraftStreams
import perfbench.Gen.ScanOp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import java.nio.file.Path
import scala.collection.mutable

/** `scan`: closed loop, one client, no writes. Setup commits a stream of
  * many small commits (one file per segment per commit) and a KV table;
  * the timed part runs a seeded, fixed mix of DSv2 queries and KV point
  * lookups. Every answer is compared with a plain-parquet reference that
  * setup computes over the stream's files.
  */
final class ScanWorkload(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  val Segments = 8
  val Commits = 4
  val Slices = 8
  val FilterKeys = 16
  val LookupBatch = 6
  private val input = new Gen.ScanInput(seed, Commits, rowsPerCommit = 4000)
  private val mix = input.mix(ScanOp.Kinds.length * 64, Slices, FilterKeys, LookupBatch)
  private var dir: Path = _
  private var kv: KeyValueTable = _
  private var dim: DataFrame = _
  private var liveFiles = 0
  private var reference: Map[String, Seq[Any]] = Map.empty
  private val answers = mutable.ArrayBuffer.empty[(String, Seq[Any])]
  private val plannedRatio = mutable.ArrayBuffer.empty[Double]
  private val planMs = mutable.ArrayBuffer.empty[Double]
  private val querySpans = mutable.ArrayBuffer.empty[Long]

  private def slice(s: Int): (Long, Long) = {
    val lo = (s * Commits / Slices) * input.epochMs + input.epochMs / 2
    (lo, lo + (Commits / 4) * input.epochMs)
  }
  private def region(s: Int): String = s"region-${s % input.regions}"

  def setup(d: Path): Unit = {
    dir = d
    val g = Workload.stream(spark, dir, "bench", "scan", Segments)
    (0 until Commits).foreach(c => g.writeEvents("bench", "scan", Workload.frame(spark, input.commit(c))))
    kv = new KeyValueTable(spark, dir.resolve("kv").toString, "lookup", partitionCount = 8)
    kv.put((0 until input.kvKeys).map(i => (input.kvKey(i), "", input.kvValues(i)))
      .toDF("pk", "sk", "value"))
    dim = (0 until input.keys).map(k => (input.key(k), input.regionOf(k))).toDF("dim_key", "region")
      .localCheckpoint()
    val files = g.catalog.getStream("bench", "scan").files.map(_.path)
    liveFiles = files.size
    reference = references(spark.read.schema(GraftStreams.storageSchema).parquet(files: _*))
  }

  /** One aggregate pass over the raw parquet files gives every answer. */
  private def references(raw: DataFrame): Map[String, Seq[Any]] = {
    val sliceCols = (0 until Slices).map { s =>
      val (lo, hi) = slice(s)
      sum(when($"eventTime" >= lo && $"eventTime" < hi, length($"payload"))).as(s"s$s")
    }
    val t = raw.agg(sum(length($"payload")), Seq(sum(length($"routingKey")), count(lit(1)),
      min($"eventTime"), max($"eventTime")) ++ sliceCols: _*).head()
    val perKey = raw.groupBy($"routingKey")
      .agg(count(lit(1)).as("n"), sum(length($"payload")).as("b")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val perRegion = perKey.toSeq.groupBy { case (k, _) =>
      input.regionOf(k.stripPrefix("user-").toInt) }
      .map { case (r, ks) => r -> ks.map(_._2._1).sum }
    Map("full_payload" -> Seq(t.getLong(0)), "col_pruned" -> Seq(t.getLong(1)),
      "manifest_agg" -> Seq(t.getLong(2), t.getLong(3), t.getLong(4))) ++
      (0 until Slices).map(s => s"time_slice/$s" -> Seq(t.getLong(5 + s))) ++
      (0 until FilterKeys).map { k =>
        val (n, b) = perKey.getOrElse(input.key(k), (0L, 0L))
        s"key_filter/$k" -> Seq(n, if (n == 0) null else b)
      } ++
      (0 until input.regions).map(r => s"dim_join/$r" -> Seq(perRegion.getOrElse(region(r), 0L)))
  }

  private def dsv2: DataFrame = spark.read.format("graft-stream")
    .option("rootDir", dir.toString).option("scope", "bench").option("stream", "scan").load()

  /** Plan (timed separately), execute, and note files planned. */
  private def query(name: String, df: => DataFrame): Seq[Any] =
    Trace.span("sources", name, name) {
      val p0 = System.nanoTime()
      val q = df
      val plan = q.queryExecution.executedPlan
      planMs += (System.nanoTime() - p0) / 1e6
      val row = q.collect().head
      if (Trace.enabled) {
        querySpans += spanId()
        plannedRatio += plannedFiles(plan).toDouble / liveFiles
      }
      row.toSeq
    }

  private def spanId(): Long =
    Option(spark.sparkContext.getLocalProperty(Trace.SpanProperty)).map(_.toLong).getOrElse(0L)

  private def plannedFiles(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => plannedFiles(a.executedPlan)
    case q: QueryStageExec => plannedFiles(q.plan)
    case b: BatchScanExec => b.partitions.flatten.map {
      case g: GraftInputPartition => g.files match {
        case f: FilePartition => f.files.length
        case _ => 0
      }
      case _ => 0
    }.sum
    case other => other.children.map(plannedFiles).sum +
      other.subqueries.map(plannedFiles).sum
  }

  private val getMs = mutable.ArrayBuffer.empty[Double]
  private val getAllMs = mutable.ArrayBuffer.empty[Double]

  private def execute(op: ScanOp): (String, Seq[Any]) = op.kind match {
    case "full_payload" => op.kind -> query(op.kind, dsv2.agg(sum(length($"payload"))))
    case "col_pruned" => op.kind -> query(op.kind, dsv2.agg(sum(length($"routingKey"))))
    case "time_slice" =>
      val (lo, hi) = slice(op.slice)
      s"time_slice/${op.slice}" -> query(op.kind,
        dsv2.filter($"eventTime" >= lo && $"eventTime" < hi).agg(sum(length($"payload"))))
    case "key_filter" =>
      s"key_filter/${op.keyRank}" -> query(op.kind,
        dsv2.filter($"routingKey" === input.key(op.keyRank))
          .agg(count(lit(1)), sum(length($"payload"))))
    case "manifest_agg" => op.kind -> query(op.kind,
      dsv2.agg(count(lit(1)), min($"eventTime"), max($"eventTime")))
    case "dim_join" =>
      val r = op.slice % input.regions
      s"dim_join/$r" -> query(op.kind,
        dsv2.join(dim.filter($"region" === region(r)), $"routingKey" === $"dim_key")
          .agg(count(lit(1))))
    case "kv_lookup" =>
      val keys = op.lookups.toSeq
      val got = keys.map { i =>
        val s = System.nanoTime()
        val v = Trace.span("kv", "get", input.kvKey(i))(kv.get(input.kvKey(i)))
        getMs += (System.nanoTime() - s) / 1e6
        v.map(x => hex(x._1)).getOrElse("")
      }
      val s = System.nanoTime()
      val all = Trace.span("kv", "getAll", "getAll") {
        kv.getAll(keys.map(i => (input.kvKey(i), ""))).select($"pk", $"value").collect()
      }.map(r => r.getString(0) -> hex(r.getAs[Array[Byte]](1))).toMap
      getAllMs += (System.nanoTime() - s) / 1e6
      s"kv_lookup/${keys.mkString(",")}" -> (got ++ keys.map(i => all.getOrElse(input.kvKey(i), "")))
  }

  /** One op of every kind, untimed and unchecked. */
  override def warmUp(): Unit = {
    mix.take(ScanOp.Kinds.length).foreach(execute)
    Seq(planMs, getMs, getAllMs, plannedRatio, querySpans).foreach(_.clear())
  }

  /** Whole cycles of the mix (one op of every kind) until the deadline:
    * throughput is one cycle's ops over the median cycle time, so where
    * the window ends inside a cycle does not matter.
    */
  def run(secs: Int): Unit = {
    val deadline = System.nanoTime() + secs * 1000000000L
    val cycleS = mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (System.nanoTime() < deadline) {
      val c0 = System.nanoTime()
      (0 until ScanOp.Kinds.length).foreach { _ =>
        Checks.op(execute(mix(i % mix.length))).foreach(answers += _)
        i += 1
      }
      cycleS += (System.nanoTime() - c0) / 1e9
    }
    Metrics.e2e("work_per_s") = ScanOp.Kinds.length / Stats.median(cycleS.toSeq)
    Metrics.e2e("latency_ms_p50") = Stats.median(getMs.toSeq)
    Metrics.report("scan_queries_per_s") = Metrics.e2e("work_per_s")
    Metrics.latency("lookup_ms", getMs.toSeq, 95)
    Metrics.report("cycles") = cycleS.size
    Metrics.layer("sources.plan_ms_p50") = Stats.median(planMs.toSeq)
    Metrics.layer("kv.get_ms_p50") = Stats.median(getMs.toSeq)
    Metrics.layer("kv.getall_ms_p50") = Stats.median(getAllMs.toSeq)
  }

  def check(): Unit = {
    val expectedKv = (i: Int) => hex(input.kvValues(i))
    val wrong = answers.zipWithIndex.count { case ((key, got), i) =>
      val want =
        if (key.startsWith("kv_lookup/")) {
          val ids = key.stripPrefix("kv_lookup/").split(",").map(_.toInt).toSeq
          ids.map(expectedKv) ++ ids.map(expectedKv)
        } else reference(key)
      val seen = if (Checks.corrupt && i == 0) got.map(_ => "corrupted") else got
      seen.map(normalize) != want.map(normalize)
    }
    Checks.check("scan.answers_match_reference", wrong == 0 && answers.nonEmpty,
      s"$wrong of ${answers.size} answers differ from the plain-parquet reference")
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private def normalize(v: Any): Any = v match {
    case n: java.lang.Number => n.longValue()
    case other => other
  }

  override def traced(): Unit = {
    Workload.catalogFigures(spark, dir.toString, "bench", "scan",
      graft.catalog.StreamCatalog.casLosses.sum())
    Metrics.layer("sources.files_planned_ratio") = Stats.median(plannedRatio.toSeq)
    Metrics.layer("sources.bytes_read_per_query") =
      Main.counters.sumOver(querySpans)("input_bytes").toDouble / math.max(1, querySpans.size)
  }
}
