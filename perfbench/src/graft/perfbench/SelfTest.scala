package graft.perfbench

import scala.collection.mutable

/** Tests of the benchmark's own code (no Spark session needed):
  * seeded generators are byte-deterministic, the tail statistic picks
  * the right index and sample count, and span self-time arithmetic is
  * exact. Run with `python3 perfbench/run.py --self-test`; exits 1 on
  * any failure.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def check(ok: Boolean, what: String): Unit =
    if (ok) passed += 1 else { failures += what; System.err.println(s"FAIL: $what") }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def generators(): Unit = {
    def rel(seed: Long, v: Int) = NcaGen.release(seed, 3, v, 3)
    val (a, b) = (rel(7, 0), rel(7, 0))
    check(a.pdf.sameElements(b.pdf), "NCA: same seed gives byte-identical PDFs")
    check(a.records == b.records && a.allocations == b.allocations, "NCA: same seed gives the same truth")
    check(!rel(8, 0).pdf.sameElements(a.pdf), "NCA: another seed gives other bytes")
    val a1 = rel(7, 1)
    check(!a1.pdf.sameElements(a.pdf), "NCA: a new version changes the bytes")
    check(a1.records.map(_.nca).toSet != a.records.map(_.nca).toSet ||
      a1.allocations != a.allocations, "NCA: a new version changes the truth")
    check(new String(a.pdf, "ISO-8859-1").startsWith("%PDF-1.4") && a.pages == 3 && a1.pages == 3,
      "NCA: output is a PDF of the asked page count, in every version")
    check(a.records.map(_.nca).distinct.length == a.records.length, "NCA: one record per NCA number")
    check(a.allocations.forall(x => a.records.exists(_.nca == x.nca)), "NCA: allocations belong to records")

    val (w1, w2) = (WarcGen.generate(5, 40, 3), WarcGen.generate(5, 40, 3))
    check(w1.files.map(_._1) == w2.files.map(_._1) &&
      w1.files.zip(w2.files).forall { case (x, y) => x._2.sameElements(y._2) },
      "WARC: same seed gives byte-identical files")
    check(w1.heldOut == w2.heldOut && w1.plants == w2.plants, "WARC: same seed gives the same plants")
    val w3 = WarcGen.generate(6, 40, 3)
    check(!w3.files.head._2.sameElements(w1.files.head._2), "WARC: another seed gives other bytes")
    val e = w1.plants.expected
    check(e("kept_url") < e("ingested") && e("after_decontamination") < e("after_near_dedup"),
      "WARC: the ledger prediction drops documents where plants sit")

    val (v1, v2) = (VecGen.generate(3, 500, 20, 8, 5, 10), VecGen.generate(3, 500, 20, 8, 5, 10))
    check(v1.corpus.zip(v2.corpus).forall { case (x, y) => x.sameElements(y) } &&
      v1.queries.zip(v2.queries).forall { case (x, y) => x.sameElements(y) },
      "vectors: same seed gives identical vectors")
    check(v1.truth.zip(v2.truth).forall { case (x, y) => x.sameElements(y) }, "vectors: same truth")
    // exact top-k against a direct sort
    val q = v1.queries(0)
    def d(i: Int) = v1.corpus(i).indices.map(j => math.pow(v1.corpus(i)(j).toDouble - q(j), 2)).sum
    val sorted = v1.corpus.indices.sortBy(i => (d(i), i)).take(10)
    check(v1.truth(0).toSeq == sorted, "vectors: exact top-10 equals a full sort")
  }

  def tails(): Unit = {
    val xs = (1 to 100).map(_.toDouble).reverse
    val t = Stats.tail(xs)
    check(t.value == 90.0 && t.index == 89 && t.samples == 100 && t.samplesBeyond == 10 &&
      near(t.percentile, 90.0), s"tail of 1..100 is p90 = 90 ($t)")
    check(xs.count(_ > t.value) == 10, "tail: exactly ten samples beyond")
    val t11 = Stats.tail((1 to 11).map(_.toDouble))
    check(t11.value == 1.0 && t11.index == 0 && near(t11.percentile, 100.0 / 11),
      s"tail of 11 samples is the minimum, percentile 100/11 ($t11)")
    val t5 = Stats.tail(Seq(3.0, 1.0, 2.0, 5.0, 4.0))
    check(t5.value == 5.0 && t5.samplesBeyond == 0 && t5.samples == 5,
      s"tail with fewer than eleven samples is the maximum ($t5)")
    val t1000 = Stats.tail((1 to 1000).map(_.toDouble))
    check(t1000.value == 990.0 && near(t1000.percentile, 99.0), s"tail of 1..1000 is p99 ($t1000)")
    check(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5,
      "median of odd and even samples")
  }

  def selfTimes(): Unit = {
    // root 0..100 (bench); a 10..30 (streaming); b 40..90 (operators)
    // with child c 50..60 (sinks); d 95..105 overruns the root (clipped)
    val spans = Seq(
      Span(0, -1, "bench", "iteration", 0, 100),
      Span(1, 0, "streaming", "work", 10, 30),
      Span(2, 0, "operators", "clean", 40, 90),
      Span(3, 2, "sinks", "upsert", 50, 60),
      Span(4, 0, "sources", "extract", 95, 105))
    val self = Spans.selfTimes(spans)
    check(self == Map(0 -> 25L, 1 -> 20L, 2 -> 40L, 3 -> 10L, 4 -> 10L), s"self times $self")
    val byLayer = Spans.layerSelfTimes(spans)
    check(byLayer == Map("bench" -> 25L, "streaming" -> 20L, "operators" -> 40L,
      "sinks" -> 10L, "sources" -> 10L), s"self time per layer $byLayer")
    // without overrun, layer self times sum to the root's wall time
    val inside = spans.init
    check(Spans.layerSelfTimes(inside).values.sum == 100L, "self times sum to the wall time")
    // a second root adds its own wall time
    val two = inside ++ Seq(Span(5, -1, "bench", "iteration", 200, 260), Span(6, 5, "sinks", "append", 210, 250))
    check(Spans.layerSelfTimes(two).values.sum == 160L, "self times sum over two roots")

    // seam intervals: overlapping ones merge, each parent gets its clip
    check(Spans.union(Seq((5L, 8L), (1L, 3L), (2L, 4L), (8L, 9L), (6L, 6L))) == Seq((1L, 4L), (5L, 9L)),
      "union of intervals")
    val work = Span(1, 0, "streaming", "work", 10, 30)
    val seams = Spans.seamChildren(Seq(work), Seq((12L, 16L), (14L, 18L), (25L, 40L), (0L, 5L)),
      "sources", "seam", 10)
    check(seams == Seq(Span(10, 1, "sources", "seam", 12, 18), Span(11, 1, "sources", "seam", 25, 30)),
      s"seam children are clipped and merged ($seams)")
    val attributed = Seq(Span(0, -1, "bench", "iteration", 0, 40), work) ++ seams
    val seamSelf = Spans.layerSelfTimes(attributed)
    check(seamSelf == Map("bench" -> 20L, "streaming" -> 9L, "sources" -> 11L) &&
      seamSelf.values.sum == 40L, s"seam time moves from the call to sources ($seamSelf)")
  }

  /** BENCHMARK.json names exactly the metrics and workloads the code emits. */
  def benchmarkFile(path: String): Unit = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val metric = """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
    def metrics(from: String, to: String) = {
      val a = text.indexOf(s""""$from"""")
      val b = if (to.isEmpty) text.length else text.indexOf(s""""$to"""")
      metric.findAllMatchIn(text.substring(a, b)).map(m => m.group(1) -> m.group(2)).toSeq
    }
    check(metrics("end_to_end", "per_layer") == Bench.E2eUnits, "BENCHMARK.json end_to_end matches the emitted metrics")
    check(metrics("per_layer", "") == Layers.PerLayer, "BENCHMARK.json per_layer matches the emitted metrics")
    val workloads = """"name":\s*"([^"]+)",\s*"why"""".r.findAllMatchIn(text).map(_.group(1)).toSet
    check(workloads.nonEmpty && workloads.subsetOf(Bench.workloads.keySet),
      s"BENCHMARK.json workloads $workloads all exist")
  }

  def json(): Unit = {
    check(Json(Map("a" -> 1.5, "b" -> Seq(1, 2), "c" -> "x\"y\n")) ==
      """{"a": 1.5, "b": [1, 2], "c": "x\"y\n"}""", "JSON encoding")
  }

  def main(args: Array[String]): Unit = {
    generators(); tails(); selfTimes(); json()
    args.drop(1).headOption.foreach(benchmarkFile)
    println(s"[perfbench] self-test: $passed passed, ${failures.length} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
