package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Batcher, ChangeDetector, NcaCleaner}
import graft.sinks.TableStore
import graft.sources.{BlobFetcher, PdfTableSource, RealPdfCodec}
import graft.sources.PdfTableSource.{GridRow, PdfMeta, TableExtractor}
import graft.streaming.EtlPipeline

/** The in-memory web server the scraper fetches from: url -> bytes. A
  * static registry, so the serialized fetch function stays tiny and
  * executors (threads of this JVM in local mode) see every document.
  */
object BlobServer {
  private val docs = new ConcurrentHashMap[String, Array[Byte]]()
  @volatile var traced = false

  def put(url: String, bytes: Array[Byte]): Unit = docs.put(url, bytes)
  def clear(): Unit = docs.clear()

  val fetch: BlobFetcher.Fetch = (url: String) => {
    val t0 = System.nanoTime()
    val body = docs.get(url)
    val res = if (body == null) (404, Array.emptyByteArray) else (200, body)
    if (traced) {
      Seams.add("fetch_calls", 1); Seams.add("fetch_bytes", res._2.length.toLong)
      Seams.interval(t0)
    }
    res
  }
}

/** The extractor seam, timed and counted (traced runs only). Each call's
  * interval also goes to `Seams.interval`, so the traced iteration can
  * give the call's time to the sources layer.
  */
final case class TracedExtractor(inner: TableExtractor) extends TableExtractor {
  override def extract(doc: String, bytes: Array[Byte], startPage: Int,
                       endPage: Int): Iterator[GridRow] = {
    val t0 = System.nanoTime()
    try {
      val rows = inner.extract(doc, bytes, startPage, endPage).toVector
      Seams.add("pdf_pages", rows.map(_.page).distinct.length.toLong)
      Seams.add("pdf_grid_rows", rows.length.toLong)
      rows.iterator
    } catch {
      case e: Exception => Seams.add("pdf_errors", 1); throw e
    } finally { Seams.addSeconds("pdf_extract_s", System.nanoTime() - t0); Seams.interval(t0) }
  }
  override def pageCount(bytes: Array[Byte]): Int = inner.pageCount(bytes)
  override def metadata(doc: String, bytes: Array[Byte]): PdfMeta = {
    val t0 = System.nanoTime()
    try { Seams.add("meta_decoded", 1); inner.metadata(doc, bytes) }
    finally { Seams.addSeconds("pdf_meta_s", System.nanoTime() - t0); Seams.interval(t0) }
  }
}

/** The NCA workload (nca_refresh): a cold full load into an empty store,
  * then back-to-back refresh cycles, all through EtlPipeline's public
  * stages with the real PDF codec.
  */
object EtlWorkloads {

  /** Corpus size: releases x pages per release. */
  val RefreshReleases = 6
  val PagesPerRelease = 6
  /** Releases whose bytes change per refresh cycle (plus one new one). */
  val ChangesPerCycle = 2
  /** Executions of the report step per op; the median is reported. */
  val ReportReps = 10

  val codec: TableExtractor = RealPdfCodec(PdfTableSource.StubPdfFormat)

  /** The corpus: current version of every release. */
  final class Corpus(seed: Long, initial: Int) {
    private val cache = mutable.Map.empty[(Int, Int), NcaGen.Release]
    val versions: mutable.LinkedHashMap[Int, Int] =
      mutable.LinkedHashMap((0 until initial).map(_ -> 0): _*)
    def release(i: Int): NcaGen.Release =
      cache.getOrElseUpdate((i, versions(i)), NcaGen.release(seed, i, versions(i), PagesPerRelease))
    def current: Seq[NcaGen.Release] = versions.keys.toSeq.map(release)
    def publish(): Unit = current.foreach(r => BlobServer.put(r.url, r.pdf))
    def pages: Int = current.map(_.pages).sum
  }

  def candidates(spark: SparkSession, rels: Seq[NcaGen.Release]): DataFrame = {
    import spark.implicits._
    rels.map(r => (r.id, s"NCA ${r.year} release ${r.index}", r.filename, r.url, r.year))
      .toDF("id", "title", "filename", "url", "year")
  }

  // ------------------------------------------------------------ checks

  private def recordsOf(df: DataFrame): Seq[NcaGen.Record] =
    df.select("nca_number", "nca_type", "released_date", "department", "purpose", "release_id")
      .collect().map(r => NcaGen.Record(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5))).toSeq

  private def allocationsOf(df: DataFrame): Seq[NcaGen.Allocation] =
    df.select("nca_number", "agency", "operating_unit", "amount")
      .collect().map(r => NcaGen.Allocation(r.getString(0), r.getString(1), r.getString(2),
        math.round(r.getDouble(3) * 100))).toSeq

  private def sortedRecs(s: Seq[NcaGen.Record]) = s.sortBy(r => (r.nca, r.releaseId))
  private def sortedAllocs(s: Seq[NcaGen.Allocation]) =
    s.sortBy(a => (a.nca, a.agency, a.operatingUnit, a.cents))

  /** Department totals in cents from the truth. */
  def truthTotals(rels: Seq[NcaGen.Release]): Map[String, Long] = {
    val dept = rels.flatMap(_.records).map(r => r.nca -> r.department).toMap
    rels.flatMap(_.allocations).groupBy(a => dept(a.nca)).map { case (d, as) => d -> as.map(_.cents).sum }
  }

  /** The reporting query: allocations joined to records, total amount
    * per department (cents).
    */
  def departmentTotals(joined: DataFrame): Map[String, Long] =
    joined.groupBy("department").agg(sum("amount").as("total")).collect()
      .map(r => r.getString(0) -> math.round(r.getDouble(1) * 100)).toMap

  private def totalsMatch(a: Map[String, Long], b: Map[String, Long]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => math.abs(v - b(k)) <= 1 }

  /** The store holds exactly the truth of `rels`, nothing dead-lettered.
    * Scores the truth's record and allocation rows found in the store.
    */
  def verifyStore(ctx: Ctx, pipe: EtlPipeline, rels: Seq[NcaGen.Release], label: String): Unit = {
    val recs = pipe.records.map(recordsOf).getOrElse(Nil)
    val allocs = pipe.allocations.map(allocationsOf).getOrElse(Nil)
    val tRecs = rels.flatMap(_.records); val tAllocs = rels.flatMap(_.allocations)
    ctx.score(tRecs.length - tRecs.diff(recs).length + tAllocs.length - tAllocs.diff(allocs).length,
      tRecs.length + tAllocs.length)
    ctx.check(recs.length == tRecs.length,
      s"$label: ${recs.length} records, truth ${tRecs.length}")
    ctx.check(allocs.map(_.cents).sum == tAllocs.map(_.cents).sum,
      s"$label: allocation total ${allocs.map(_.cents).sum}, truth ${tAllocs.map(_.cents).sum}")
    ctx.check(sortedRecs(recs) == sortedRecs(tRecs), s"$label: record rows differ from truth")
    ctx.check(sortedAllocs(allocs) == sortedAllocs(tAllocs), s"$label: allocation rows differ from truth")
    ctx.check(!new File(pipe.quarantine).exists(), s"$label: messages were quarantined")
  }

  // ------------------------------------------------------------ loads

  /** scrape -> orchestrate -> work through the pipeline's public stages;
    * returns the ids of the releases the scrape queued and the number of
    * micro-batches the two queue stages ran.
    */
  def load(ctx: Ctx, pipe: EtlPipeline, rels: Seq[NcaGen.Release], blobDir: String,
           extractor: TableExtractor): (Set[String], Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val cands = candidates(spark, rels)
    val (queued, s1) = Bench.timed(ctx.span("streaming", "scrape") {
      pipe.scrapeWeb(cands, BlobServer.fetch, blobDir, extractor).select("id").as[String].collect().toSet
    })
    val (b1, s2) = Bench.timed(ctx.span("streaming", "orchestrate")(pipe.orchestrate()))
    val (b2, s3) = Bench.timed(ctx.span("streaming", "work")(pipe.work(blobDir, extractor)))
    Bench.log(f"load: scrape $s1%.2fs orchestrate $s2%.2fs work $s3%.2fs")
    (queued, b1 + b2)
  }

  // ------------------------------------------------------------- refresh

  /** nca_refresh. Set-up generates the corpus; the first heavy operation
    * is the cold backfill of the empty store (load_s); then back-to-back
    * refresh cycles run for the measured seconds (at least one), each
    * followed by the department report over the freshly written tables.
    */
  val refresh: Ctx => Outcome = ctx => {
    val seed = ctx.opts.seed
    var corpus: Corpus = null
    val setupS = Bench.setup {
      BlobServer.clear()
      corpus = new Corpus(seed, RefreshReleases)
      corpus.publish()
    }
    val spark = ctx.spark
    val dir = ctx.freshDir("refresh")
    val blobDir = s"$dir/blobs"
    val pipe = new EtlPipeline(spark, dir, batchSize = NcaGen.BatchPages)
    val preloadPages = corpus.pages
    Bench.settle()
    // the backfill: the pipeline's stages, then the co-bucketed publish
    val ((_, publishS), loadS) = Bench.timed {
      load(ctx, pipe, corpus.current, blobDir, codec)
      Bench.timed(pipe.publishCoLocated(prefix = "perfbench").get)
    }
    Bench.log(f"backfill of $preloadPages pages: $loadS%.2fs (publish $publishS%.2fs)")
    verifyStore(ctx, pipe, corpus.current, "backfill")
    ctx.check(totalsMatch(departmentTotals(spark.table("perfbench_record_nca").select("nca_number", "department")
      .join(spark.table("perfbench_allocation_nca"), "nca_number")), truthTotals(corpus.current)),
      "backfill: department totals over the published join differ from truth")
    val rnd = new Random(seed ^ 0x5eed)

    /** Change a few releases and add one; returns the changed pages. */
    def mutate(): Int = {
      val keys = corpus.versions.keys.toSeq
      val changed = rnd.shuffle(keys).take(ChangesPerCycle)
      changed.foreach(k => corpus.versions(k) += 1)
      val added = keys.max + 1
      corpus.versions(added) = 0
      corpus.publish()
      (changed :+ added).map(k => corpus.release(k).pages).sum
    }

    // traced runs print no report metric: one execution serves the check
    val reportReps = if (ctx.opts.trace) 1 else ReportReps

    def checkCycle(i: Int, queued: Set[String]): Double = {
      ctx.check(queued.size == ChangesPerCycle + 1,
        s"refresh $i: queued ${queued.size}, expected ${ChangesPerCycle + 1}")
      val reports = (0 until reportReps).map(_ => Bench.timed(report(ctx, pipe)))
      val truth = truthTotals(corpus.current)
      reports.foreach { case (totals, _) =>
        ctx.check(totalsMatch(totals, truth), s"refresh $i: department totals differ from truth")
      }
      verifyStore(ctx, pipe, corpus.current, s"refresh $i")
      ctx.heap.sample()
      Stats.median(reports.map(_._2))
    }

    def cycle(i: Int): (Double, Double, Int) = {
      val pages = mutate()
      val ((queued, _), cycleS) = Bench.timed(load(ctx, pipe, corpus.current, blobDir, codec))
      Bench.log(f"refresh cycle $i: $pages pages, $cycleS%.2fs")
      (cycleS, checkCycle(i, queued), pages)
    }

    // traced, this single cycle warms the process up for the traced pairs
    val runs = Bench.loopFor(if (ctx.opts.trace) 0 else ctx.opts.seconds)(cycle)
    val (layers, trace) =
      if (!ctx.opts.trace) (Map.empty[String, Double], Map.empty[String, Any])
      else {
        // an untraced cycle right before each traced one: the reference
        // for the tracing overhead, at the same warmth
        val out = tracedEtl(ctx, publishS, i => {
          val untraced = cycle(2 * i + 1)._1
          mutate()
          val shadow = shadowOf(ctx, pipe)
          val before = Option(new File(blobDir).list()).toSeq.flatten.toSet
          ctx.tracer.armed = true
          BlobServer.traced = true
          val ((queued, batches), t) = Bench.timed(ctx.span("bench", "iteration") {
            load(ctx, pipe, corpus.current, blobDir, TracedExtractor(codec))
          })
          BlobServer.traced = false
          Seams.add("microbatches", batches)
          ctx.span("bench", "replay")(replayedCycle(ctx, pipe, shadow, corpus.current, blobDir, before, queued))
          ctx.tracer.armed = false
          checkCycle(2 * i + 2, queued)
          deleteTree(new File(shadow.releaseTable).getParentFile.getParentFile)
          (pipe, untraced, t)
        })
        // the refreshed store equals a from-scratch backfill of the final
        // corpus version (traced runs only: a second backfill per run)
        val fresh = ctx.freshDir("refresh-rebuild")
        val p2 = new EtlPipeline(spark, fresh, batchSize = NcaGen.BatchPages)
        load(ctx, p2, corpus.current, s"$fresh/blobs", codec)
        ctx.check(sortedRecs(recordsOf(p2.records.get)) == sortedRecs(recordsOf(pipe.records.get)),
          "refresh: records differ from a from-scratch backfill of the final corpus")
        ctx.check(sortedAllocs(allocationsOf(p2.allocations.get)) ==
          sortedAllocs(allocationsOf(pipe.allocations.get)),
          "refresh: allocations differ from a from-scratch backfill of the final corpus")
        out
      }
    val cyc = runs.map(_._1)
    val changedPages = runs.map(_._3).sum.toDouble / runs.length
    val named = mutable.LinkedHashMap[String, Any](
      "backfill_s" -> loadS, "backfill_pages_per_s" -> preloadPages / loadS,
      "refresh_s_p50" -> Stats.median(cyc), "refresh_s_tail" -> Bench.tailJson(cyc),
      "changed_pages_per_s" -> changedPages / Stats.median(cyc),
      "report_query_s_p50" -> Stats.median(runs.map(_._2)),
      "cycles" -> runs.length, "changed_pages_per_cycle" -> changedPages,
      "backfill_pages" -> preloadPages, "releases_at_end" -> corpus.versions.size,
      "pages_at_end" -> corpus.pages)
    Outcome(Bench.e2e(ctx, setupS, loadS, cyc, runs.map(_._2), ctx.quality), named.toMap, layers, trace)
  }

  /** The reporting query over the freshly written tables: allocations
    * joined to records, total per department.
    */
  def report(ctx: Ctx, pipe: EtlPipeline): Map[String, Long] =
    ctx.span("bench", "report_query")(departmentTotals(
      pipe.records.get.select("nca_number", "department").join(pipe.allocations.get, "nca_number")))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    val _ = f.delete()
  }

  /** Every path under `root` (none if it does not exist). */
  private def walk(root: File): Seq[java.nio.file.Path] =
    if (!root.exists()) Nil
    else scala.util.Using.resource(Files.walk(root.toPath))(_.iterator().asScala.toVector)

  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    walk(from).foreach { p =>
      val dst = to.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  // ------------------------------------------------------ traced replay

  /** (path -> (size, mtime)) of every data file under a table. */
  private def files(table: String): Map[String, (Long, Long)] = {
    val root = new File(table).toPath
    walk(root.toFile).filter(Files.isRegularFile(_))
      .filter(p => !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
      .map(p => root.relativize(p).toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap
  }

  /** Run a sink call and count what it wrote into the table. */
  private def sink[A](ctx: Ctx, op: String, table: String)(body: => A): A = {
    val before = files(table)
    val a = ctx.span("sinks", op)(body)
    val after = files(table)
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
    val removed = before.keySet -- after.keySet
    def bucket(p: String) = p.split(File.separatorChar).headOption.filter(_.matches("b\\d+"))
    Seams.add("sinks.files_written", written.size.toLong)
    Seams.add("sinks.bytes_written", written.values.map(_._1).sum)
    Seams.add("sinks.buckets_rewritten",
      (written.keys.flatMap(bucket) ++ removed.flatMap(bucket)).toSet.size.toLong)
    a
  }

  private def rowsOf(df: Option[DataFrame]): Seq[String] =
    df.map(d => d.select(d.columns.sorted.map(c => col(c).cast("string")): _*)
      .collect().map(_.mkString("\u0001")).toSeq.sorted).getOrElse(Nil)

  /** A pipeline over copies of `pipe`'s tables, for a replay. */
  def shadowOf(ctx: Ctx, pipe: EtlPipeline): EtlPipeline = {
    val shadow = new EtlPipeline(ctx.spark, ctx.freshDir("refresh-shadow"), batchSize = NcaGen.BatchPages)
    Seq((pipe.releaseTable, shadow.releaseTable), (pipe.recordTable, shadow.recordTable),
      (pipe.allocationTable, shadow.allocationTable))
      .foreach { case (live, sh) => copyTree(new File(live), new File(sh)) }
    shadow
  }

  /** Replays a scrape -> orchestrate -> work cycle that `pipe` has just
    * run, through the public layer functions, on `shadow`: copies of the
    * tables as they were before the cycle. Each part is a span, for the
    * per-stage timings. The replay must reach the same tables, and its
    * CDC must proceed with exactly the releases the scrape queued.
    */
  def replayedCycle(ctx: Ctx, pipe: EtlPipeline, shadow: EtlPipeline, rels: Seq[NcaGen.Release],
                    blobDir: String, blobsBefore: Set[String], queuedIds: Set[String]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val cands = candidates(spark, rels)
    Seams.add("scrape_candidates", rels.length.toLong)
    Seams.add("scrape_proceed", queuedIds.size.toLong)

    // scrape, replayed: fetch + metadata, CDC, cascade, upsert
    val enriched = ctx.span("sources", "fetch_metadata") {
      val blobs = BlobFetcher.fetchBlobs(cands, BlobServer.fetch)
      val meta = blobs.as[(String, Array[Byte])]
        .mapPartitions(_.map { case (fn, b) => codec.metadata(fn, b) }).toDF()
        .select(col("doc").as("filename"), col("created_at").as("file_meta_created_at"),
          col("modified_at").as("file_meta_modified_at"), col("page_count"))
      cands.join(meta, Seq("filename"))
        .select("id", "title", "filename", "url", "year", "page_count",
          "file_meta_created_at", "file_meta_modified_at").localCheckpoint(true)
    }
    val proceed = ctx.span("operators", "cdc") {
      val db = TableStore.read(spark, shadow.releaseTable).getOrElse(enriched.limit(0))
      ChangeDetector.newOrUpdated(enriched, db, blobsBefore.toSeq.toDF("filename"))
        .localCheckpoint(true)
    }
    ctx.check(proceed.select("id").as[String].collect().toSet == queuedIds,
      "replay: CDC proceed set differs from the scrape's queue")
    val changed = proceed.filter(col("change_status").isin("changed", "missing_file")).select("id")
    if (!changed.isEmpty) {
      TableStore.read(spark, shadow.recordTable).foreach { recs =>
        val dead = recs.join(broadcast(changed.select(col("id").as("__rid"))),
          col("release_id") === col("__rid"), "left_semi").select("nca_number").localCheckpoint(true)
        if (!dead.isEmpty) sink(ctx, "delete_cascade", shadow.allocationTable) {
          TableStore.deleteCascade(spark, dead, "nca_number", parent = (shadow.allocationTable, "nca_number"))
        }
      }
      sink(ctx, "delete_cascade", shadow.recordTable) {
        TableStore.deleteCascade(spark, changed, "id", parent = (shadow.releaseTable, "id"),
          children = Seq((shadow.recordTable, "release_id")))
      }
    }
    val toQueue = proceed.drop("change_status")
    if (!toQueue.isEmpty) sink(ctx, "upsert", shadow.releaseTable) {
      TableStore.upsert(toQueue, shadow.releaseTable, "id")
    }

    // work, replayed: page ranges, extraction, cleaning, loads
    val batches = ctx.span("operators", "batcher") {
      Batcher.pageRanges(toQueue, NcaGen.BatchPages).localCheckpoint(true)
    }
    val grid = ctx.span("sources", "pdf_extract") {
      val blobs = PdfTableSource.readBlobs(spark, blobDir)
        .select(element_at(split(col("path"), "/"), -1).as("filename"), col("content"))
      batches.select(col("filename"), col("id").as("release_id"), col("batch_number"),
          col("start_page_num"), col("end_page_num"))
        .join(blobs, Seq("filename"))
        .select("release_id", "batch_number", "start_page_num", "end_page_num", "content")
        .as[(String, Int, Int, Int, Array[Byte])]
        .mapPartitions(_.flatMap { case (rid, bn, s, e, bytes) =>
          codec.extract(s"$rid\u0001$bn", bytes, s, e) })
        .toDF().select("doc", "ord", "cells").localCheckpoint(true)
    }
    val (records, allocations) = ctx.span("operators", "nca_clean") {
      val c = NcaCleaner.clean(grid, element_at(split(col("doc"), "\u0001"), 1))
      (c.records.drop("doc").localCheckpoint(true),
        c.allocations.withColumnRenamed("doc", "__batch_key").localCheckpoint(true))
    }
    Seams.add("nca_rows_in", grid.count())
    Seams.add("records_out", records.count())
    Seams.add("allocations_out", allocations.count())
    if (!records.isEmpty) sink(ctx, "upsert", shadow.recordTable) {
      TableStore.upsert(records, shadow.recordTable, "nca_number")
    }
    if (!allocations.isEmpty) {
      val keys = allocations.select("__batch_key").distinct().localCheckpoint(true)
      sink(ctx, "delete_cascade", shadow.allocationTable) {
        TableStore.deleteCascade(spark, keys, "__batch_key", parent = (shadow.allocationTable, "__batch_key"))
      }
      sink(ctx, "append", shadow.allocationTable) {
        TableStore.append(allocations, shadow.allocationTable, chunkRows = 500)
      }
    }
    Seq(("release", shadow.releaseTable, pipe.releaseTable), ("record", shadow.recordTable, pipe.recordTable),
      ("allocation", shadow.allocationTable, pipe.allocationTable)).foreach { case (t, sh, live) =>
      ctx.check(rowsOf(TableStore.read(spark, sh)) == rowsOf(TableStore.read(spark, live)),
        s"replay: $t table differs from the cycle's")
    }
    Seams.add("quarantined", Option(new File(pipe.quarantine).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).map(f => Files.readAllLines(f.toPath).size.toLong).sum)
  }

  /** (files, bytes) under a directory. */
  private def dirBytes(d: String): (Long, Long) = {
    val fs = walk(new File(d)).filter(Files.isRegularFile(_))
    (fs.length.toLong, fs.map(Files.size).sum)
  }

  /** The traced half of an ETL run: pairs of an untraced cycle and a
    * traced one (with its replay), per-layer metrics per traced cycle,
    * and the trace artifact. `iteration` returns the pipeline, the
    * untraced cycle's seconds and the traced cycle's seconds.
    */
  private def tracedEtl(ctx: Ctx, publishS: Double,
                        iteration: Int => (EtlPipeline, Double, Double)): (Map[String, Double], Map[String, Any]) = {
    val spark = ctx.spark
    Seams.reset()
    val runs = Bench.loopFor(ctx.opts.seconds / 2.0)(iteration)
    val n = runs.length.toDouble
    val pipe = runs.last._1
    val spans = ctx.tracer.spans
    val sparkBySpan = ctx.tracer.spark.get.snapshot(spark.sparkContext)
    val (tFiles, tBytes) = Seq(pipe.recordTable, pipe.allocationTable).map(dirBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    def spanS(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name).map(_.duration).sum / 1e9 / n
    def per(k: String) = Seams.get(k) / n
    val layers = Map(
      "sources.pdf_extract_s" -> per("pdf_extract_s"),
      "sources.pdf_pages" -> per("pdf_pages"),
      "sources.pdf_grid_rows" -> per("pdf_grid_rows"),
      "sources.pdf_errors" -> per("pdf_errors"),
      "sources.pdf_meta_s" -> per("pdf_meta_s"),
      "sources.meta_useful_ratio" -> Seams.get("scrape_proceed") / math.max(Seams.get("meta_decoded"), 1.0),
      "sources.fetch_calls" -> per("fetch_calls"),
      "sources.fetch_bytes" -> per("fetch_bytes"),
      "operators.cdc_s" -> spanS("operators", "cdc"),
      "operators.cdc_proceed_ratio" -> Seams.get("scrape_proceed") / math.max(Seams.get("scrape_candidates"), 1.0),
      "operators.nca_clean_s" -> spanS("operators", "nca_clean"),
      "operators.nca_rows_in" -> per("nca_rows_in"),
      "operators.records_out" -> per("records_out"),
      "operators.allocations_out" -> per("allocations_out"),
      "sinks.append_s" -> spanS("sinks", "append"),
      "sinks.upsert_s" -> spanS("sinks", "upsert"),
      "sinks.delete_cascade_s" -> spanS("sinks", "delete_cascade"),
      "sinks.buckets_rewritten" -> per("sinks.buckets_rewritten"),
      "sinks.files_written" -> per("sinks.files_written"),
      "sinks.bytes_written" -> per("sinks.bytes_written"),
      "sinks.table_files" -> tFiles.toDouble,
      "sinks.table_bytes" -> tBytes.toDouble,
      "streaming.scrape_s" -> spanS("streaming", "scrape"),
      "streaming.orchestrate_s" -> spanS("streaming", "orchestrate"),
      "streaming.work_s" -> spanS("streaming", "work"),
      "streaming.publish_s" -> publishS,
      "streaming.microbatches" -> per("microbatches"),
      "streaming.quarantined" -> per("quarantined"),
      "streaming.checkpoint_bytes" -> dirBytes(new File(pipe.releaseQueue).getParentFile.getParent + "/checkpoints")._2.toDouble)
    val art = Layers.artifact(ctx, spans, Seams.intervals, sparkBySpan, runs.map(_._2), runs.map(_._3))
    (layers ++ art._1, art._2)
  }
}
