package perfbench

import graft.operators.{MinHashLSH, Similarity}
import graft.queries.PerfbenchAccess
import graft.storage.GraftStreams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import scala.collection.mutable

/** `dedup`: closed loop, one client. Setup writes seeded documents with
  * planted near-duplicate clusters and their embeddings to two streams.
  * Each timed pass reads both streams back once (materialised, so the
  * read is timed as `storage` and not repeated by every operator job),
  * then runs `MinHashLSH.nearDuplicates`, connected-component clustering
  * of the pairs, and `Similarity.ivfTopK` for a fixed query set.
  */
final class DedupWorkload(spark: SparkSession, seed: Long) extends Workload {
  import DedupWorkload.Pass
  import spark.implicits._
  val Threshold = 0.7
  val RecallFloor = 0.9
  val IvfRecallFloor = 0.5
  val K = 10
  /** A pass takes seconds; every run times at least this many, so the
    * median is always over the same kind of sample set.
    */
  val MinPasses = 2
  private val input = new Gen.DedupInput(seed, docs = 1000)
  private var g: GraftStreams = _
  private var dir: Path = _
  private val passes = mutable.ArrayBuffer.empty[Pass]
  private val phaseMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def setup(d: Path): Unit = {
    dir = d
    g = Workload.stream(spark, dir, "bench", "docs", 4)
    g.catalog.createStream("bench", "emb", graft.core.StreamConfig(initialSegments = 4))
    g.writeEvents("bench", "docs", Workload.frame(spark,
      input.texts.indices.map(i => (s"doc-$i", i.toLong, input.texts(i).getBytes(UTF_8)))))
    g.writeEvents("bench", "emb", Workload.frame(spark,
      input.embeddings.indices.map(i => (s"vec-$i", i.toLong,
        input.embeddings(i).mkString(",").getBytes(UTF_8)))))
  }

  override def warmUp(): Unit = { pass(-1); phaseMs.clear() }

  private def timed[T](phase: String)(body: => T): T = {
    val s = System.nanoTime()
    val r = body
    phaseMs.getOrElseUpdate(phase, mutable.ArrayBuffer.empty) += (System.nanoTime() - s) / 1e6
    r
  }

  private def pass(n: Int): Pass = {
    val trace = s"pass-$n"
    val docs = Trace.span("storage", "readEvents", trace) {
      g.readEvents("bench", "docs")
        .select($"eventTime".as("doc_id"), decode($"payload", "UTF-8").as("text"))
        .localCheckpoint()
    }
    val vectors = Trace.span("storage", "readEvents", trace) {
      g.readEvents("bench", "emb").select($"eventTime".as("vec_id"),
        split(decode($"payload", "UTF-8"), ",").cast("array<float>").as("embedding"))
        .localCheckpoint()
    }
    val pairs = timed("near_dup")(Trace.span("operators", "nearDuplicates", trace) {
      MinHashLSH.nearDuplicates(docs, "doc_id", "text", threshold = Threshold)
        .as[(Long, Long, Double)].collect().toSeq
    })
    val labels = timed("cluster")(Trace.span("operators", "clusterLabels", trace) {
      PerfbenchAccess.clusterLabels(spark, pairs.map(p => (p._1, p._2)).toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
    })
    val topK = timed("ivf")(Trace.span("operators", "ivfTopK", trace) {
      val corpus = vectors.filter($"vec_id" < input.docs)
      val queries = vectors.filter($"vec_id" >= input.docs)
      Similarity.ivfTopK(corpus, queries, K)
        .select($"query_id", $"cand_id", $"rank").as[(Long, Long, Int)].collect()
    }.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq })
    Pass(pairs.sortBy(p => (p._1, p._2)), labels, topK)
  }

  def run(secs: Int): Unit = {
    val deadline = System.nanoTime() + secs * 1000000000L
    val t0 = System.nanoTime()
    val passMs = mutable.ArrayBuffer.empty[Double]
    var n = 0
    while (n < MinPasses || System.nanoTime() < deadline) {
      val s = System.nanoTime()
      Checks.op(pass(n)).foreach { p => passes += p; passMs += (System.nanoTime() - s) / 1e6 }
      n += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Metrics.e2e("work_per_s") = passes.size * input.docs / wall
    Metrics.e2e("latency_ms_p50") = Stats.median(passMs.toSeq)
    Metrics.report("dedup_docs_per_s") = Metrics.e2e("work_per_s")
    Metrics.latency("pass_ms", passMs.toSeq, 90)
    Metrics.report("pass_ms_each") = passMs.map(x => math.round(x)).toSeq
    Metrics.report("docs") = input.docs
    Metrics.layer("operators.near_dup_ms") = Stats.median(phaseMs.getOrElse("near_dup", Nil).toSeq)
    Metrics.layer("operators.cluster_ms") = Stats.median(phaseMs.getOrElse("cluster", Nil).toSeq)
    Metrics.layer("operators.ivf_ms") = Stats.median(phaseMs.getOrElse("ivf", Nil).toSeq)
    passes.headOption.foreach(p => Metrics.layer("operators.verified_pairs") = p.pairs.size)
  }

  def check(): Unit = {
    Checks.check("dedup.passes", passes.nonEmpty, "no pass completed")
    passes.headOption.foreach { first =>
      val pairs = if (Checks.corrupt) first.pairs :+ ((0L, input.docs - 1L, 1.0)) else first.pairs
      val bad = pairs.count { case (a, b, _) => input.jaccard(a.toInt, b.toInt) < Threshold }
      Checks.check("dedup.pairs_verify", bad == 0,
        s"$bad of ${pairs.size} emitted pairs below Jaccard $Threshold")
      val found = pairs.map(p => (p._1.toInt, p._2.toInt)).toSet
      val want = input.planted.filter(_._3 >= Threshold)
      val recall = want.count(p => found((p._1, p._2))).toDouble / math.max(1, want.size)
      Metrics.report("planted_pair_recall") = recall
      Checks.check("dedup.planted_recall", want.nonEmpty && recall >= RecallFloor,
        f"recall $recall%.3f of ${want.size} planted pairs, floor $RecallFloor")
      // every pair lands in one cluster, labelled by its component's min id
      val split = first.pairs.count { case (a, b, _) => first.labels.get(a) != first.labels.get(b) }
      val notMin = first.labels.count { case (id, l) => l > id }
      Checks.check("dedup.clusters", split == 0 && notMin == 0,
        s"$split pairs split across clusters, $notMin labels above their id")
      // IVF answers: at most k dense ranks per query (a query whose probed
      // lists hold fewer vectors gets fewer), recall@k against exact cosine
      val exact = input.queryIds.map(q => q.toLong -> exactTopK(q)).toMap
      val ivfRecall = exact.map { case (q, want) =>
        first.topK.getOrElse(q, Nil).count(want.contains).toDouble / K }.sum / exact.size
      Metrics.report("ivf_recall_at_k") = ivfRecall
      val shapeOk = first.topK.keySet.subsetOf(exact.keySet) &&
        first.topK.values.forall(ids => ids.nonEmpty && ids.size <= K && ids.distinct.size == ids.size)
      Checks.check("dedup.ivf", shapeOk && ivfRecall >= IvfRecallFloor,
        f"ivf answers malformed or recall@$K $ivfRecall%.3f below $IvfRecallFloor")
      val drift = passes.count(_ != first)
      Checks.check("dedup.deterministic", drift == 0, s"$drift passes differ from the first")
    }
  }

  private def exactTopK(q: Int): Set[Long] = {
    val e = input.embeddings
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d, na, nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    (0 until input.docs).sortBy(i => -cos(e(q), e(i))).take(K).map(_.toLong).toSet
  }

  override def traced(): Unit = {
    // candidates: distinct pairs sharing any LSH band bucket
    val bands = MinHashLSH.bandSignatures(
      g.readEvents("bench", "docs").select($"eventTime".as("doc_id"),
        decode($"payload", "UTF-8").as("text")), "doc_id", "text")
    val candidates = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bsig" === $"y.bsig" && $"x.id" < $"y.id")
      .select($"x.id", $"y.id").distinct().count()
    val verified = passes.headOption.map(_.pairs.size).getOrElse(0)
    Metrics.layer("operators.candidate_pairs") = candidates.toDouble
    Metrics.layer("operators.pair_precision") = verified.toDouble / math.max(1L, candidates)
  }
}

object DedupWorkload {
  /** One pass's answers: verified pairs, cluster labels, IVF top-k ids. */
  final case class Pass(pairs: Seq[(Long, Long, Double)], labels: Map[Long, Long],
                        topK: Map[Long, Seq[Long]])
}
