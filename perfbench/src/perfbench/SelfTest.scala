package perfbench

import java.security.MessageDigest

/** Tests of the benchmark's own parts, without Spark: the seeded
  * generators (determinism, seed sensitivity, key skew, payload sizes,
  * planted near-duplicate rates) and the per-layer self-time split.
  * Exits non-zero on the first failure.
  */
object SelfTest {
  private var failures = 0
  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name ${if (ok) "" else detail}")
    if (!ok) failures += 1
  }

  private def digest(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }
  private def utf8(s: String) = s.getBytes("UTF-8")
  private def long(x: Long) = java.nio.ByteBuffer.allocate(8).putLong(x).array()

  def tailDigest(seed: Long): String = {
    val t = new Gen.TailInput(seed, 2000)
    digest(t.payloads.indices.iterator.flatMap(i => Iterator(utf8(t.routingKey(i)), t.payloads(i))))
  }
  def ingestDigest(seed: Long): String = {
    val in = new Gen.IngestInput(seed, 500)
    digest((0 until 2).iterator.flatMap(w => in.batch(w, 3).iterator)
      .flatMap { case (k, t, p) => Iterator(utf8(k), long(t), p) })
  }
  def scanDigest(seed: Long): String = {
    val in = new Gen.ScanInput(seed, 4, 500)
    digest((0 until 4).iterator.flatMap(c => in.commit(c).iterator)
      .flatMap { case (k, t, p) => Iterator(utf8(k), long(t), p) } ++
      in.kvValues.iterator ++
      in.mix(70, 8, 16, 4).iterator.map(o => utf8(s"${o.kind}${o.slice}${o.keyRank}${o.lookups.mkString}")))
  }
  def dedupDigest(seed: Long): String = {
    val in = new Gen.DedupInput(seed, docs = 600)
    digest(in.texts.iterator.map(utf8) ++ in.embeddings.iterator.map(_.mkString(",")).map(utf8))
  }

  def main(args: Array[String]): Unit = {
    for ((name, f) <- Seq[(String, Long => String)]("tail" -> tailDigest, "ingest" -> ingestDigest,
        "scan" -> scanDigest, "dedup" -> dedupDigest)) {
      expect(s"$name: same seed, identical bytes", f(7) == f(7))
      expect(s"$name: other seed, other bytes", f(7) != f(8))
    }

    // key skew: the hottest key's share matches Zipf(s) within 10 %
    val tail = new Gen.TailInput(3, 50000)
    val hot = tail.keyOf.count(_ == 0).toDouble / tail.events
    val want = tail.zipf.share(0)
    expect("tail: hottest-key share follows Zipf", math.abs(hot - want) / want < 0.1,
      f"observed $hot%.4f, expected $want%.4f")
    expect("tail: payload size", tail.payloads.forall(_.length == tail.payloadBytes))
    expect("tail: payload carries its event index",
      tail.payloads.indices.forall(i => Gen.eventIndex(tail.payloads(i)) == i))

    val in = new Gen.IngestInput(3, 1000)
    val b = in.batch(1, 2)
    expect("ingest: batch size and payload size",
      b.length == 1000 && b.forall(_._3.length == in.payloadBytes))
    val compressed = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.DeflaterOutputStream(bos)
      b.foreach(r => z.write(r._3)); z.close(); bos.size()
    }
    expect("ingest: payloads are incompressible", compressed > 0.98 * b.length * in.payloadBytes,
      s"deflate kept $compressed of ${b.length * in.payloadBytes} bytes")
    expect("ingest: event times lie in the batch's span",
      b.forall(r => r._2 >= 2 * in.batchSpanMs && r._2 < 3 * in.batchSpanMs))

    val scan = new Gen.ScanInput(3, 4, 2000)
    val rows = scan.commit(2)
    expect("scan: commit size, payload size and time epoch",
      rows.length == 2000 && rows.forall(r => r._3.length == scan.payloadBytes &&
        r._2 >= 2 * scan.epochMs && r._2 < 3 * scan.epochMs))
    val mix = scan.mix(Gen.ScanOp.Kinds.length * 10, 8, 16, 4)
    expect("scan: the mix visits every kind equally",
      mix.groupBy(_.kind).values.map(_.length).toSet == Set(10))

    val d = new Gen.DedupInput(3, docs = 3000)
    val clustered = d.clusterOf.count(_ >= 0).toDouble / d.docs
    expect("dedup: planted cluster share near the target",
      math.abs(clustered - d.clusterShare) < 0.08, f"clustered share $clustered%.3f")
    val js = d.planted.map(_._3)
    expect("dedup: planted pairs are near duplicates",
      js.nonEmpty && js.min >= 0.85, f"min planted Jaccard ${js.min}%.3f")
    val unrelated = (0 until 200).map(i => (i, i + 50))
      .filter { case (a, b) => d.clusterOf(a) < 0 || d.clusterOf(a) != d.clusterOf(b) }
    val close = unrelated.count { case (a, b) => d.jaccard(a, b) > 0.3 }
    expect("dedup: unrelated documents are far apart", close == 0,
      s"$close of ${unrelated.size} unrelated pairs above Jaccard 0.3")

    // self time: root 0..10 with children 2..6 (storage) and 4..8 (spark);
    // the storage span's own spark child 5..12 is clipped to 5..6
    val s = (a: Long, b: Long) => a * 1000000000L -> b * 1000000000L
    def sp(id: Long, parent: Long, layer: String, iv: (Long, Long)) =
      Trace.Span(id, parent, "", layer, layer, iv._1, iv._2)
    val root = sp(1, 0, "bench", s(0, 10))
    val probe = Seq(root, sp(2, 1, "storage", s(2, 6)), sp(3, 1, "spark", s(4, 8)),
      sp(4, 2, "spark", s(5, 12)))
    val split = Trace.selfTimeByLayer(root, probe)
    expect("trace: self times sum to the root wall",
      math.abs(split.values.sum - 10.0) < 1e-9, split.toString)
    expect("trace: overlapping leaves share time",
      math.abs(split("bench") - 4.0) < 1e-9 && math.abs(split("storage") - 2.5) < 1e-9 &&
        math.abs(split("spark") - 3.5) < 1e-9, split.toString)

    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
