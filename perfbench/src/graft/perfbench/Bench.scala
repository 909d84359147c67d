package graft.perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      workDir: String, traceOut: String, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work-dir"),
      m.getOrElse("trace-out", s"${need("work-dir")}/trace.json"),
      math.min(4, Runtime.getRuntime.availableProcessors()))
  }
}

/** Live heap at operation boundaries: after each measured operation
  * (outside its timing) a full collection runs and the heap still in use
  * is recorded. The highest reading is the live-set high-water mark,
  * independent of when the collector would otherwise have run.
  */
final class HeapWatch {
  private var maxLive = 0L

  def sample(): Unit = {
    // the first collection queues unreachable broadcasts, shuffles and
    // checkpoints for Spark's cleaner thread; let it drop their blocks,
    // then measure after a second collection
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    maxLive = math.max(maxLive, rt.totalMemory - rt.freeMemory)
  }

  def peakMb(): Double = { sample(); maxLive / (1024.0 * 1024.0) }
}

/** Shared state of one run: the Spark session, the tracer and the
  * correctness ledger. Every output check is one attempted operation;
  * a failed check fails the run.
  */
final class Ctx(val opts: Opts) {
  private var started = false
  /** Started on first use, so a workload's input generation (set-up)
    * runs before Spark's start-up and the JIT work that start-up leaves.
    */
  lazy val spark: SparkSession = {
    started = true
    val s = Bench.session(opts)
    Bench.log("spark session up")
    s
  }
  def stop(): Unit = if (started) spark.stop()
  lazy val tracer = new Tracer(opts.trace, spark.sparkContext)
  val heap = new HeapWatch
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failures += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }
  }
  def failed: Long = failures.length.toLong
  def failureMessages: Seq[String] = failures.toSeq

  private var matched = 0L
  private var expected = 0L
  /** Output units (rows, ledger counts) that equal the truth, out of
    * the units the truth has; `quality` is their ratio over the run.
    */
  def score(ok: Long, of: Long): Unit = { matched += ok; expected += of }
  def quality: Double = matched.toDouble / math.max(expected, 1L)

  def span[A](layer: String, name: String)(body: => A): A = tracer.span(layer, name)(body)

  private var dirs = 0
  /** A fresh directory under the run's work directory. */
  def freshDir(tag: String): String = {
    dirs += 1
    val d = new File(opts.workDir, f"$tag-$dirs%04d")
    d.mkdirs()
    d.getPath
  }
}

/** What a workload reports. `e2e` holds the generic end-to-end metrics,
  * `named` the same figures under the workload's own names (printed as
  * a report line), `layers` the per-layer metrics of a traced run and
  * `trace` the full trace artifact.
  */
final case class Outcome(e2e: Map[String, Double], named: Map[String, Any],
                         layers: Map[String, Double], trace: Map[String, Any])

object Bench {

  private val t0 = System.nanoTime()
  /** Progress note on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")

  /** Waits, at most `maxS` seconds, until the JIT compilers have been
    * idle for `quietMs`: Spark's start-up and first jobs leave
    * compilations queued that would otherwise run beside a timed cold
    * operation and make it noisier.
    */
  def settle(maxS: Double = 10, quietMs: Long = 500): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quietSince = t0
    while ((System.nanoTime() - quietSince) / 1e6 < quietMs && (System.nanoTime() - t0) / 1e9 < maxS) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now > last) quietSince = System.nanoTime()
      last = now
    }
    log(f"settled in ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }

  /** Wall seconds of `body`. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` repeatedly until `seconds` have elapsed (at least `min`
    * times); returns every iteration's result.
    */
  def loopFor[A](seconds: Double, min: Int = 1)(body: Int => A): Seq[A] = {
    val out = mutable.ArrayBuffer.empty[A]
    val t0 = System.nanoTime()
    while (out.length < min || (System.nanoTime() - t0) / 1e9 < seconds) out += body(out.length)
    out.toSeq
  }

  /** Median seconds of `body`, repeated for 3 s and at least 15 times.
    * The generators keep getting faster for over a second while the JIT
    * compiles them; with a shorter window the median falls inside that
    * transition and moves with its timing from run to run.
    */
  def setup(body: => Unit): Double =
    Stats.median(loopFor(3.0, min = 15)(_ => timed(body)._2))

  /** The end-to-end metrics of one workload. */
  def e2e(ctx: Ctx, setupS: Double, loadS: Double, opS: Seq[Double],
          reportS: Seq[Double], quality: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "load_s" -> loadS,
    "op_s_p50" -> Stats.median(opS),
    "report_s_p50" -> Stats.median(reportS),
    "quality" -> quality,
    "success_frac" -> (1.0 - ctx.failed.toDouble / math.max(ctx.attempted, 1L)),
    "peak_heap_mb" -> ctx.heap.peakMb())

  def tailJson(xs: Seq[Double]): Map[String, Any] = {
    val t = Stats.tail(xs)
    Map("value" -> t.value, "percentile" -> t.percentile, "samples" -> t.samples,
      "samples_beyond" -> t.samplesBeyond)
  }

  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "load_s" -> "s", "op_s_p50" -> "s", "report_s_p50" -> "s",
    "quality" -> "ratio", "success_frac" -> "ratio", "peak_heap_mb" -> "MB")

  val workloads: Map[String, Ctx => Outcome] = Map(
    "nca_refresh" -> EtlWorkloads.refresh,
    "corpus_curate" -> CorpusWorkload.run,
    "ann_serve" -> AnnWorkload.run)

  def session(opts: Opts): SparkSession = {
    val local = new File(opts.workDir, "spark-local"); local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(opts.workDir, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(opts.workDir, "stream-ckpt").getAbsolutePath)
      // traced runs count the RDD blocks tasks store (spark.checkpoint_bytes)
      .config("spark.taskMetrics.trackUpdatedBlockStatuses", opts.trace.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val run = workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}; " +
        s"known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val ctx = new Ctx(opts)
    var code = 0
    try {
      val out = run(ctx)
      val attempted = math.max(ctx.attempted, 1L)
      val context = Map("workload" -> opts.workload, "seed" -> opts.seed,
        "seconds" -> opts.seconds, "trace" -> opts.trace, "cores" -> opts.cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> org.apache.spark.SPARK_VERSION, "java_version" -> System.getProperty("java.version"))
      val metrics: Seq[(String, Map[String, Any])] =
        if (!opts.trace) E2eUnits.map { case (k, u) =>
          k -> Map("value" -> out.e2e(k), "unit" -> u) }
        else Layers.PerLayer.map { case (k, u) =>
          k -> Map("value" -> out.layers.getOrElse(k, 0.0), "unit" -> u) }
      if (opts.trace) {
        val f = new File(opts.traceOut)
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, Json(mutable.LinkedHashMap(
          "context" -> context, "layers" -> out.layers, "trace" -> out.trace)).getBytes("UTF-8"))
        println(s"[perfbench] trace written to ${f.getCanonicalPath}")
      }
      println("[perfbench] report " + Json(mutable.LinkedHashMap[String, Any]("context" -> context) ++
        out.named ++ Seq("failures" -> ctx.failureMessages)))
      println(Json(mutable.LinkedHashMap(
        "correct" -> (ctx.failed == 0),
        "attempted" -> attempted,
        "failed" -> ctx.failed,
        "metrics" -> mutable.LinkedHashMap(metrics: _*))))
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        code = 1
    } finally {
      ctx.stop()
    }
    System.out.flush()
    sys.exit(code)
  }
}

/** Loads the classes every run needs (Spark session, SQL planning and
  * code generation, parquet IO) in a throwaway JVM, so that run.py can
  * archive them for class-data sharing once per build; every measured
  * run then starts from the same archive.
  */
object ClassWarmup {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Bench.session(Opts("warmup", 0L, 0, trace = false, dir, s"$dir/trace.json", 2))
    import org.apache.spark.sql.functions._
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("k"), md5(col("id").cast("string")).as("h"))
    df.write.mode("overwrite").parquet(s"$dir/warm")
    spark.read.parquet(s"$dir/warm").groupBy("k").agg(count(lit(1)), max("h")).collect()
    spark.stop()
    sys.exit(0)
  }
}

