package perfbench

import java.nio.ByteBuffer
import java.util.SplittableRandom

/** Seeded input generators. Every input a workload feeds the engine comes
  * from here, derived only from `--seed` plus a fixed per-purpose salt, so
  * the same seed yields byte-identical inputs on every run and machine.
  * Nothing here touches Spark: the engine receives only the generated rows.
  */
object Gen {
  /** Independent generator for one purpose (`salts` name it): the seed and
    * salts are folded through a 64-bit finalizer so neighbouring seeds give
    * unrelated streams.
    */
  def rng(seed: Long, salts: Long*): SplittableRandom = {
    var h = mix(seed ^ 0x5DEECE66DL)
    salts.foreach(s => h = mix(h ^ (s * 0x9E3779B97F4A7C15L)))
    new SplittableRandom(h)
  }

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  def bytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    r.nextBytes(b)
    b
  }

  /** Zipf(s) over ranks 0 until n by inverse-CDF lookup; rank 0 is hottest. */
  final class Zipf(val n: Int, val s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def share(rank: Int): Double = cdf(rank) - (if (rank == 0) 0.0 else cdf(rank - 1))
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ------------------------------------------------------------------ tail

  /** Small events for the open-loop `tail` workload. Event `i` carries its
    * index in the first 8 payload bytes (the sink recovers it from there)
    * followed by seeded filler; keys are Zipf-skewed.
    */
  final class TailInput(seed: Long, val events: Int) {
    val keys = 64
    val payloadBytes = 64
    val zipf = new Zipf(keys, 1.1)
    val keyOf: Array[Int] = { val r = rng(seed, 1); Array.fill(events)(zipf.sample(r)) }
    private val filler = rng(seed, 2)
    val payloads: Array[Array[Byte]] = Array.tabulate(events) { i =>
      val b = bytes(filler, payloadBytes)
      ByteBuffer.wrap(b).putLong(0, i.toLong)
      b
    }
    def routingKey(i: Int): String = f"key-${keyOf(i)}%03d"
  }

  def eventIndex(payload: Array[Byte]): Int = ByteBuffer.wrap(payload).getLong(0).toInt

  // ---------------------------------------------------------------- ingest

  /** Fixed-size batches of ~1 KiB incompressible payloads for `ingest`.
    * Batch `b` of writer `w` is a pure function of (seed, w, b), so a
    * retried batch re-sends identical rows. Event times advance with the
    * writer's batch index: every row of batch b lies in
    * [b * batchSpanMs, (b + 1) * batchSpanMs).
    */
  final class IngestInput(seed: Long, val rowsPerBatch: Int) {
    val payloadBytes = 1024
    val keys = 1024
    val batchSpanMs: Long = 1000L
    def batch(w: Int, b: Int): Array[(String, Long, Array[Byte])] = {
      val r = rng(seed, 10, w, b)
      Array.tabulate(rowsPerBatch) { j =>
        val key = f"dev-${r.nextInt(keys)}%04d"
        val t = b * batchSpanMs + (j.toLong * batchSpanMs) / rowsPerBatch
        (key, t, bytes(r, payloadBytes))
      }
    }
  }

  // ------------------------------------------------------------------ scan

  /** A many-commit stream for `scan`: commit `c` covers event times
    * [c * epochMs, (c + 1) * epochMs), so time slices prune whole commits.
    * Keys are Zipf-skewed; each key belongs to one of `regions` regions
    * (the dimension table). The KV table holds `kvKeys` entries.
    */
  final class ScanInput(seed: Long, val commits: Int, val rowsPerCommit: Int) {
    val keys = 256
    val payloadBytes = 256
    val regions = 8
    val kvKeys = 2000
    val kvValueBytes = 32
    val epochMs: Long = 10000L
    val zipf = new Zipf(keys, 1.0)
    def key(k: Int): String = f"user-$k%04d"
    def regionOf(k: Int): String = s"region-${k % regions}"
    def commit(c: Int): Array[(String, Long, Array[Byte])] = {
      val r = rng(seed, 20, c)
      Array.tabulate(rowsPerCommit) { j =>
        (key(zipf.sample(r)), c * epochMs + (j.toLong * epochMs) / rowsPerCommit,
          bytes(r, payloadBytes))
      }
    }
    def kvKey(i: Int): String = f"pk-$i%05d"
    val kvValues: Array[Array[Byte]] = {
      val r = rng(seed, 21)
      Array.fill(kvKeys)(bytes(r, kvValueBytes))
    }
    /** The timed operation mix: a seeded, fixed sequence of op codes with
      * their parameters (slice index, key rank, lookup keys).
      */
    def mix(length: Int, slices: Int, filterKeys: Int, lookupBatch: Int): Array[ScanOp] = {
      val r = rng(seed, 22)
      Array.tabulate(length) { i =>
        ScanOp(ScanOp.Kinds(i % ScanOp.Kinds.length), r.nextInt(slices), r.nextInt(filterKeys),
          Array.fill(lookupBatch)(r.nextInt(kvKeys)))
      }
    }
  }

  final case class ScanOp(kind: String, slice: Int, keyRank: Int, lookups: Array[Int])
  object ScanOp {
    val Kinds: Array[String] = Array("full_payload", "col_pruned", "time_slice", "key_filter",
      "manifest_agg", "dim_join", "kv_lookup")
  }

  // ----------------------------------------------------------------- dedup

  /** Synthetic documents with planted near-duplicate clusters, plus
    * clustered embeddings. A cluster is a base document and 1 or 2
    * variants, each made by replacing `1..maxReplace` token positions of
    * the base with fresh words; all other documents are independent.
    * `planted` lists every (base, variant) pair with its exact token-set
    * Jaccard, the similarity the engine verifies.
    */
  final class DedupInput(seed: Long, val docs: Int) {
    val clusterShare = 0.3
    val vocab = 20000
    val minTokens = 40
    val maxTokens = 80
    val maxReplace = 3
    val dim = 32
    val centers = 16
    val queries = 32
    private def word(r: SplittableRandom): String = s"w${r.nextInt(vocab)}"

    val (texts: Array[String], clusterOf: Array[Int], baseOf: Array[Int]) = {
      val r = rng(seed, 30)
      val out = new Array[String](docs)
      val cl = Array.fill(docs)(-1)
      val base = Array.fill(docs)(-1)
      var i = 0
      var c = 0
      while (i < docs) {
        val toks = Array.fill(minTokens + r.nextInt(maxTokens - minTokens + 1))(word(r))
        out(i) = toks.mkString(" ")
        val variants =
          if (r.nextDouble() < clusterShare / (2.5 - 1.5 * clusterShare)) math.min(1 + r.nextInt(2), docs - i - 1) else 0
        (1 to variants).foreach { v =>
          val t = toks.clone()
          (1 to 1 + r.nextInt(maxReplace)).foreach(_ => t(r.nextInt(t.length)) = word(r))
          out(i + v) = t.mkString(" ")
          base(i + v) = i
        }
        if (variants > 0) { (i to i + variants).foreach(cl(_) = c); c += 1 }
        i += 1 + variants
      }
      (out, cl, base)
    }

    def jaccard(a: Int, b: Int): Double = {
      val x = texts(a).split(" ").toSet
      val y = texts(b).split(" ").toSet
      (x intersect y).size.toDouble / (x union y).size
    }

    /** (base, variant, jaccard) for every planted pair, in id order. */
    lazy val planted: Seq[(Int, Int, Double)] =
      baseOf.indices.filter(baseOf(_) >= 0).map(v => (baseOf(v), v, jaccard(baseOf(v), v)))

    val embeddings: Array[Array[Float]] = {
      val r = rng(seed, 31)
      val cs = Array.fill(centers)(Array.fill(dim)(r.nextGaussian().toFloat))
      Array.fill(docs + queries) {
        val c = cs(r.nextInt(centers))
        c.map(x => x + 0.35f * r.nextGaussian().toFloat)
      }
    }
    /** Query vectors get ids after the corpus ids. */
    def queryIds: Range = docs until docs + queries
  }
}
