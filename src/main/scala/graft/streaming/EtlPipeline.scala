package graft.streaming

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.CheckpointBlocks
import graft.operators.{Batcher, ChangeDetector, CoLocatedJoin, NcaCleaner}
import graft.sinks.TableStore
import graft.sources.{BlobFetcher, HtmlLinkSource, PdfTableSource}

/** The reference pipeline end-to-end (SURVEY §3), Spark-first:
  *
  *   stage A (scrape):   candidates --CDC--> release queue + release table
  *   stage B (orchestr): release queue --page ranges--> batch queue
  *   stage C (worker):   batch queue --extract+clean--> record/allocation
  *
  * Queue hops are durable JSON-lines directories drained with
  * Trigger.AvailableNow (OP-59/60); failed messages quarantine instead
  * of failing the stage (OP-61/62); sinks are idempotent TableStore
  * merges so at-least-once replays stay exactly-once-effective.
  *
  * At 100 TB the same program runs unchanged: stage C's unit of
  * parallelism is (document, page-range) rows; the cleaner's windows are
  * partitioned by doc, so adding executors scales each stage linearly.
  */
final class EtlPipeline(spark: SparkSession, workDir: String,
                        batchSize: Int = 10) {

  private def p(parts: String*): String = (workDir +: parts).mkString("/")
  val releaseQueue: String = p("queues", "releases")
  val batchQueue: String = p("queues", "batches")
  val quarantine: String = p("queues", "quarantine")
  val releaseTable: String = p("tables", "release")
  val recordTable: String = p("tables", "record")
  val allocationTable: String = p("tables", "allocation")

  private val releaseSchema = new StructType()
    .add("id", "string").add("title", "string").add("filename", "string")
    .add("url", "string").add("year", "int").add("page_count", "int")
    .add("file_meta_created_at", "string").add("file_meta_modified_at", "string")

  private val batchSchema = new StructType()
    .add("batch_number", "int").add("start_page_num", "int")
    .add("end_page_num", "int").add("release", releaseSchema)

  /** Stage A (reference handlers/scraper.py): CDC-filter candidates,
    * delete stale rows (cascade), enqueue, and upsert the release
    * table. Returns the enqueued releases.
    */
  def scrape(candidates: DataFrame, storedFiles: DataFrame): DataFrame =
    scrapeCommit(classify(candidates, storedFiles))

  /** CDC classification against the release table + stored-blob
    * listing, eagerly materialized — callers may act on it (save blobs)
    * BEFORE [[scrapeCommit]] mutates any state.
    */
  private def classify(candidates: DataFrame, storedFiles: DataFrame): DataFrame = {
    val db = TableStore.read(spark, releaseTable)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], releaseSchema))
    // eager localCheckpoint, not cache: scrapeCommit mutates the release
    // table, and a partially-cached plan would recompute against swapped
    // files; checkpointing materializes + cuts the lineage to the table
    ChangeDetector.newOrUpdated(candidates, db, storedFiles)
      .localCheckpoint(true)
  }

  /** Cascade stale rows, ENQUEUE, then upsert — in that order. The
    * queue write precedes the release-table upsert deliberately: a
    * crash in between re-runs as "changed" (db metadata still old) and
    * re-enqueues — a duplicate message the idempotent downstream sinks
    * absorb. The reverse order would mark the release current with
    * nothing queued, and CDC would classify the retry "unchanged"
    * forever: a silent drop, with the cascade having already deleted
    * the old records.
    */
  private def scrapeCommit(proceed: DataFrame): DataFrame = {
    // stale-row cascade for every re-queued release that EXISTS in the
    // db — "changed" metadata, and "missing_file" too (its document may
    // ALSO have changed; re-extraction re-creates whatever still holds,
    // so over-cascading converges while skipping would strand rows
    // whose nca_numbers left the new document version)
    val changed = proceed
      .filter(col("change_status").isin("changed", "missing_file"))
      .select("id")
    // reference deletes stale rows then re-inserts (releases_scraper.py:119);
    // the schema cascade is TWO levels (supabase_schema.sql:29,40):
    // release -> record (by release_id) -> allocation (by nca_number).
    // The doomed records' nca_numbers are materialized (inside
    // deleteCascade) BEFORE the records themselves are deleted.
    TableStore.read(spark, recordTable).foreach { recs =>
      val deadNcas = recs.join(broadcast(changed.select(col("id").as("__rid"))),
        col("release_id") === col("__rid"), "left_semi")
      TableStore.deleteCascade(spark, deadNcas, "nca_number",
        parent = (allocationTable, "nca_number"))
    }
    TableStore.deleteCascade(spark, changed, "id",
      parent = (releaseTable, "id"),
      children = Seq((recordTable, "release_id")))
    val toQueue = proceed.drop("change_status")
    if (!toQueue.isEmpty) {
      QueuePipeline.enqueue(toQueue, releaseQueue)
      TableStore.upsert(toQueue, releaseTable, "id")
    }
    toQueue
  }

  /** Stage A from the web (reference handlers/scraper.py end-to-end):
    * candidates carry only what the link scan yields (id, title,
    * filename, url, year) — the file metadata driving CDC comes from the
    * DOCUMENTS themselves. Every candidate's url is fetched (OP-02,
    * executor-side, fail on non-2xx/empty — releases_scraper.py:87-93),
    * the extractor reads (created_at, modified_at, page_count) from the
    * bytes (OP-04/05, pdf_parser.py:23-36), CDC classifies against the
    * release table and the stored-blob listing, and only PROCEEDING
    * releases get their blob saved (releases_scraper.py:128-136
    * _save_release). The save runs BEFORE the enqueue + upsert: a crash
    * after the save re-runs as "changed" (db metadata still old) and
    * converges, whereas saving last could commit a changed release
    * whose OLD blob still sits on disk — work() would then load stale
    * bytes with nothing quarantined, and CDC would never retry it.
    */
  def scrapeWeb(candidates: DataFrame, fetch: BlobFetcher.Fetch, blobDir: String,
                extractor: PdfTableSource.TableExtractor): DataFrame = {
    import spark.implicits._
    // fetched once, reused for metadata + save (the reference's memoized
    // single download, file_stream_memo_loader.py:13-26)
    val blobs = BlobFetcher.fetchBlobs(candidates, fetch).localCheckpoint(true)
    val meta = blobs.as[(String, Array[Byte])]
      .mapPartitions(_.map { case (fn, bytes) => extractor.metadata(fn, bytes) })
      .toDF()
      .select(col("doc").as("filename"),
        col("created_at").as("file_meta_created_at"),
        col("modified_at").as("file_meta_modified_at"),
        col("page_count"))
    val enriched = candidates
      .select(col("id"), col("title"), col("filename"), col("url"), col("year"))
      .join(meta, Seq("filename"))
      .select(releaseSchema.fieldNames.map(col).toIndexedSeq: _*)
    // classification reads the PRE-save blob listing, so saving blobs
    // cannot flip their own change_status before the commit phase
    val proceed = classify(enriched, BlobFetcher.listBlobs(spark, blobDir))
    val save = blobs.join(
      broadcast(proceed.select("filename")), Seq("filename"), "left_semi")
    if (!save.isEmpty) BlobFetcher.saveBlobs(save, blobDir)
    scrapeCommit(proceed)
  }

  /** Stage A from the LISTING URL — the reference's true entry point
    * (bs4_scraper.py:18-76 end-to-end): GET the listing page
    * (driver-side; it is one document), scan its anchors into release
    * candidates (HtmlLinkSource: NCA-pdf predicate, absolutization,
    * year threshold, id synthesis), then run [[scrapeWeb]] — per-
    * candidate document fetch on executors, CDC on embedded metadata,
    * save + enqueue proceeding releases. One injected transport serves
    * both the listing GET and the document fetches.
    */
  def scrapeFromUrl(listingUrl: String, baseUrl: String, oldestYear: Int,
                    nowYear: Int, fetch: BlobFetcher.Fetch, blobDir: String,
                    extractor: PdfTableSource.TableExtractor): DataFrame = {
    val html = BlobFetcher.fetchPage(fetch, listingUrl)
    val candidates = HtmlLinkSource.releaseCandidates(
      HtmlLinkSource.anchors(spark, html), baseUrl, oldestYear, nowYear)
    scrapeWeb(candidates, fetch, blobDir, extractor)
  }

  /** Stage B (reference handlers/orchestrator.py): drain the release
    * queue, expand page ranges, enqueue batches (nested-struct message).
    */
  def orchestrate(): Long =
    QueuePipeline.runStage(spark, releaseQueue, releaseSchema,
        p("checkpoints", "orchestrator"), quarantine) { releases =>
      val batches = Batcher.pageRanges(releases, batchSize)
        .select(col("batch_number"), col("start_page_num"), col("end_page_num"),
          struct(releaseSchema.fieldNames.map(col).toIndexedSeq: _*).as("release"))
      QueuePipeline.enqueue(batches, batchQueue)
    }

  /** Stage C (reference handlers/worker.py): drain the batch queue,
    * extract every batch's page range from its document blob, run ONE
    * distributed cleaner pass, and load records (upsert) + allocations
    * (append).
    *
    * Fully distributed — no driver loop: each batch row reads its blob
    * on an executor, and the cleaner partitions by a (release, batch)
    * key exactly as the reference cleans per-batch (worker.py:69-94:
    * each batch's first extracted row is consumed as that batch's
    * header — real PDFs repeat the header on every page). The extracted
    * grid and the allocations are materialized once per micro-batch, so
    * every batch is extracted once and cleaned once per output.
    */
  def work(blobDir: String,
           extractor: PdfTableSource.TableExtractor = PdfTableSource.StubPdfFormat): Long =
    QueuePipeline.runStage(spark, batchQueue, batchSchema,
        p("checkpoints", "worker"), quarantine) { batches =>
      import spark.implicits._
      val tasks = batches.select(
        col("release.filename"), col("release.id"),
        col("batch_number"), col("start_page_num"), col("end_page_num"))
        .as[(String, String, Int, Int, Int)]
      // a batch whose blob is MISSING must fail (-> per-message
      // quarantine), not silently yield no rows with its queue message
      // checkpointed as processed — the reference worker raises and
      // dead-letters exactly this case. Blobs are the regular files
      // directly in blobDir, by name: the set saveBlobs writes and
      // listBlobs (CDC) probes, so a name with a separator is never one
      // (nor may it escape blobDir). Spark's file sources would hide
      // names starting with `_` or `.`, which CDC then classifies
      // unchanged and never retries.
      val missing = tasks.map(_._1).distinct().collect().filter(f =>
        f.contains('/') || f.contains('\\') || !new File(blobDir, f).isFile)
      if (missing.nonEmpty)
        throw new java.io.IOException(
          s"blob missing for queued batch(es): ${missing.sorted.mkString(", ")}")
      // doc key = releaseId + U+0001 + batch: per-batch cleaner isolation;
      // release id is recovered from the key after cleaning.
      val grid = tasks.mapPartitions(_.flatMap { case (fn, rid, bn, s, e) =>
          val bytes = Files.readAllBytes(new File(blobDir, fn).toPath)
          extractor.extract(s"$rid\u0001$bn", bytes, s, e)
        }).toDF().select(col("doc"), col("ord"), col("cells")).localCheckpoint(true)
      val cleaned = NcaCleaner.clean(grid,
        element_at(split(col("doc"), "\u0001"), 1))
      TableStore.upsert(cleaned.records.drop("doc"), recordTable, "nca_number")
      // Allocations keep their (release, batch) provenance key so the
      // load is idempotent under at-least-once replay: delete-by-key
      // then append — a redelivered batch replaces its own rows and
      // never duplicates them (reference plain bulk-insert would).
      val allocations = cleaned.allocations.withColumnRenamed("doc", "__batch_key")
        .localCheckpoint(true)
      TableStore.deleteCascade(spark, allocations, "__batch_key",
        parent = (allocationTable, "__batch_key"))
      TableStore.append(allocations, allocationTable, chunkRows = 500)
      Seq(grid, allocations).foreach(CheckpointBlocks.release)
    }

  def records: Option[DataFrame] = TableStore.read(spark, recordTable)
  def allocations: Option[DataFrame] =
    TableStore.read(spark, allocationTable).map(_.drop("__batch_key"))

  /** Publish record + allocation into the session catalog CO-BUCKETED
    * on nca_number and return their co-located join — the pipeline's
    * dominant downstream query (every allocation with its record's
    * type/date/department). Both scans expose the same
    * HashPartitioning(nca_number, n), so the sort-merge join plans with
    * ZERO shuffle exchanges (asserted in EtlPipelineSpec): one
    * write-time shuffle per load, amortized over every subsequent
    * reporting join instead of re-shuffling both fact tables each run.
    */
  def publishCoLocated(prefix: String = "graft", buckets: Int = 8): Option[DataFrame] =
    for { r <- records; a <- allocations } yield {
      CoLocatedJoin.writeBucketed(r, s"${prefix}_record_nca", "nca_number", buckets)
      CoLocatedJoin.writeBucketed(a, s"${prefix}_allocation_nca", "nca_number", buckets)
      CoLocatedJoin.join(spark, s"${prefix}_record_nca",
        s"${prefix}_allocation_nca", "nca_number")
    }
}
