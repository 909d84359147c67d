package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Order statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail statistic: the highest nearest-rank percentile that still
    * has at least `beyond` samples above it. With n sorted samples the
    * sample at index i has n-1-i samples above it, so the answer is
    * index n-1-beyond, i.e. percentile 100*(n-beyond)/n. With fewer than
    * beyond+1 samples no percentile qualifies and the maximum is
    * returned (percentile 100, fewer samples beyond than asked).
    */
  final case class Tail(value: Double, percentile: Double, index: Int,
                        samples: Int, samplesBeyond: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n > beyond) {
      val i = n - 1 - beyond
      Tail(s(i), 100.0 * (n - beyond) / n, i, n, beyond)
    } else Tail(s(n - 1), 100.0, n - 1, n, 0)
  }
}

/** One recorded span: a call from the benchmark into one layer. Times
  * are System.nanoTime; `parent` is -1 for a root.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      start: Long, end: Long) {
  def duration: Long = end - start
}

object Spans {

  /** Self time of every span: its duration minus the part of its
    * interval covered by its direct children. Children of one parent
    * may not overlap (spans come from one driver thread); a child is
    * clipped to its parent's interval.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    val covered = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.filter(_.parent >= 0).foreach { c =>
      val p = byId(c.parent)
      val lo = math.max(c.start, p.start)
      val hi = math.min(c.end, p.end)
      if (hi > lo) covered(p.id) += hi - lo
    }
    spans.map(s => s.id -> (s.duration - covered(s.id))).toMap
  }

  /** Self time summed per layer. */
  def layerSelfTimes(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** The union of intervals, as disjoint intervals in start order. */
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Seam intervals measured inside the given parent spans, as child
    * spans of `layer`: each parent gets the union of the intervals
    * clipped to its own interval (seam calls run on several executor
    * threads at once, so the union is the wall time during which at
    * least one of them ran). Ids are allocated from `firstId` up.
    */
  def seamChildren(parents: Seq[Span], intervals: Seq[(Long, Long)], layer: String,
                   name: String, firstId: Int): Seq[Span] = {
    var id = firstId
    parents.flatMap { p =>
      union(intervals.map { case (a, b) => (math.max(a, p.start), math.min(b, p.end)) }).map {
        case (a, b) => id += 1; Span(id - 1, p.id, layer, name, a, b)
      }
    }
  }
}

/** Spark work attributed to spans. Each span sets the local property
  * `perfbench.span` on the driver thread; Spark copies local properties
  * into every job it starts (also from threads the driver thread
  * creates, such as a streaming query's), so a job belongs to the span
  * that was innermost when the job was submitted.
  */
final class SparkCounters extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val totals = new ConcurrentHashMap[Int, Array[Long]]()

  val Jobs = 0; val Tasks = 1; val RunMs = 2; val CpuNs = 3; val GcMs = 4
  val ShuffleWrite = 5; val Spill = 6; val BlockBytes = 7
  val names: Seq[String] = Seq("jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_bytes", "spill_bytes", "checkpoint_bytes")

  private def slot(span: Int): Array[Long] =
    totals.computeIfAbsent(span, _ => new Array[Long](names.length))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    slot(span).synchronized { slot(span)(Jobs) += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span: Int = stageSpan.getOrDefault(e.stageId, -1)
    val a = slot(span)
    val m = e.taskMetrics
    a.synchronized {
      a(Tasks) += 1
      if (m != null) {
        a(RunMs) += m.executorRunTime
        a(CpuNs) += m.executorCpuTime
        a(GcMs) += m.jvmGCTime
        a(ShuffleWrite) += m.shuffleWriteMetrics.bytesWritten
        a(Spill) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(BlockBytes) += m.updatedBlockStatuses.iterator
          .filter(_._1.isRDD).map { case (_, st) => st.memSize + st.diskSize }.sum
      }
    }
  }

  /** Per-span raw counters, after draining the listener bus. */
  def snapshot(sc: SparkContext): Map[Int, Array[Long]] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    totals.asScala.map { case (k, v) => k -> v.synchronized(v.clone()) }.toMap
  }

  /** Convert one raw counter row to reported units. */
  def reported(a: Array[Long]): Seq[(String, Double)] =
    names.zip(Seq(a(Jobs).toDouble, a(Tasks).toDouble, a(RunMs) / 1e3,
      a(CpuNs) / 1e9, a(GcMs) / 1e3, a(ShuffleWrite).toDouble, a(Spill).toDouble,
      a(BlockBytes).toDouble))
}

/** Executor-side counters for the injected seams (the in-memory fetch
  * transport and the PDF table extractor). Local mode runs executors in
  * the driver JVM, so one static registry sees every task.
  */
object Seams {
  private val longs = new ConcurrentHashMap[String, AtomicLong]()
  private val doubles = new ConcurrentHashMap[String, DoubleAdder]()
  private val spans = new ConcurrentLinkedQueue[(Long, Long)]()

  /** A seam call that ran from `start` to now (System.nanoTime), for the
    * in-call `sources` share of a traced iteration.
    */
  def interval(start: Long): Unit = { val _ = spans.add((start, System.nanoTime())) }
  def intervals: Seq[(Long, Long)] = spans.asScala.toSeq

  def add(name: String, v: Long): Unit =
    longs.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(v)
  def addSeconds(name: String, nanos: Long): Unit =
    doubles.computeIfAbsent(name, _ => new DoubleAdder()).add(nanos / 1e9)

  def get(name: String): Double =
    Option(longs.get(name)).map(_.get.toDouble)
      .orElse(Option(doubles.get(name)).map(_.sum)).getOrElse(0.0)

  def reset(): Unit = { longs.clear(); doubles.clear(); spans.clear() }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  /** Layer names, as the repository's modules are named. */
  val Layers: Seq[String] = Seq("bench", "sources", "operators", "sinks", "streaming")
}

/** In-memory span recorder. Disabled, `span` is a plain call. Spans are
  * kept in memory and written out by the caller when the run ends.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  val spark: Option[SparkCounters] =
    if (enabled) { val c = new SparkCounters; sc.addSparkListener(c); Some(c) } else None

  /** Spans are recorded only while armed (the traced phase of a run). */
  var armed = false

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled || !armed) body
    else {
      require(Tracer.Layers.contains(layer), s"unknown layer $layer")
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val start = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, prevProp)
        recorded += Span(id, parent, layer, name, start, end)
      }
    }

  def spans: Seq[Span] = recorded.toSeq.sortBy(_.id)
}
