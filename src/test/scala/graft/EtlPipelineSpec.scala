package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sinks.TableStore
import graft.sources.PdfTableSource
import graft.sources.PdfTableSource.StubPdfFormat
import graft.streaming.EtlPipeline

/** End-to-end pipeline: synthetic "PDF" blobs -> scrape (CDC) ->
  * release queue -> orchestrate (page ranges) -> batch queue -> work
  * (extract + clean + load). Asserts the streaming stages drain with
  * AvailableNow, quarantine catches poison messages, re-runs are
  * incremental (checkpoint) and idempotent (upsert).
  */
class EtlPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private val header = Seq("NCA NUMBER", "NCA TYPE", "RELEASED DATE",
    "DEPARTMENT", "AGENCY", "OPERATING UNIT", "AMOUNT", "PURPOSE")

  private def page(rows: Seq[String]*): Seq[Seq[String]] = header +: rows

  private def writeBlob(dir: String, name: String, pages: Seq[Seq[Seq[String]]]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), StubPdfFormat.encode(pages))
  }

  private def candidatesDf(workDir: String, pageCount: Int) = Seq(
    ("id_2024", "NCA 2024", "NCA_2024.pdf", "https://x/NCA_2024.pdf",
      2024, pageCount, Some("c1"), Some("m1"))
  ).toDF("id", "title", "filename", "url", "year", "page_count",
    "file_meta_created_at", "file_meta_modified_at")

  test("three-stage pipeline end-to-end with quarantine and idempotent rerun") {
    val workDir = Files.createTempDirectory("etl").toString
    val blobDir = s"$workDir/blobs"
    // 2 pages (batchSize=1 -> 2 batches), each page re-states the header
    writeBlob(blobDir, "NCA_2024.pdf", Seq(
      page(
        Seq("NCA-1", "Regular", "2024-01-15", "DepEd", "AgA", "OU1", "100.50", "Books"),
        Seq("", "", "", "", "", "", "", ""),
        Seq("NCA-1", "", "", "", "AgB", "OU2", "200.00", "")),
      page(
        Seq("NCA-2", "Special", "2024-02-01", "DOH", "AgC", "OU3", "300.25", "Meds"))))

    val pipe = new EtlPipeline(spark, workDir, batchSize = 1)

    // stage A: all candidates are new -> queued + release table written
    val queued = pipe.scrape(candidatesDf(workDir, 2),
      storedFiles = Seq("NCA_2024.pdf").toDF("filename"))
    assert(queued.count() === 1)
    assert(TableStore.read(spark, pipe.releaseTable).get.count() === 1)

    // poison message onto the release queue -> must quarantine, not fail
    spark.createDataset(Seq("{not json")).toDF("value")
      .write.mode("append").text(pipe.releaseQueue)

    // stage B: 2 page-range batches from page_count=2, batchSize=1
    pipe.orchestrate()
    val batchLines = spark.read.text(pipe.batchQueue).as[String].collect()
    assert(batchLines.length === 2, s"\nqueue contents:\n${batchLines.mkString("\n")}")
    val quarantined = spark.read.text(pipe.quarantine).count()
    assert(quarantined === 1)

    // stage C: extract + clean + load
    pipe.work(blobDir)
    val recs = pipe.records.get.orderBy("nca_number")
      .select("nca_number", "nca_type", "department", "release_id")
      .as[(String, String, String, String)].collect().toSeq
    assert(recs === Seq(
      ("NCA-1", "Regular", "DepEd", "id_2024"),
      ("NCA-2", "Special", "DOH", "id_2024")))
    val allocs = pipe.allocations.get.orderBy("nca_number", "agency")
      .select("nca_number", "agency", "amount")
      .as[(String, String, Double)].collect().toSeq
    assert(allocs === Seq(
      ("NCA-1", "AgA", 100.50), ("NCA-1", "AgB", 200.00),
      ("NCA-2", "AgC", 300.25)))

    // re-running the streaming stages processes nothing new (checkpoint)
    pipe.orchestrate()
    assert(spark.read.text(pipe.batchQueue).count() === 2)
    pipe.work(blobDir)
    assert(pipe.records.get.count() === 2)
    assert(pipe.allocations.get.count() === 3)

    // unchanged candidate -> CDC filters it out, nothing enqueued
    val again = pipe.scrape(candidatesDf(workDir, 2),
      storedFiles = Seq("NCA_2024.pdf").toDF("filename"))
    assert(again.isEmpty)
  }

  test("changed candidate cascades delete and re-queues") {
    val workDir = Files.createTempDirectory("etl2").toString
    val blobDir = s"$workDir/blobs"
    writeBlob(blobDir, "NCA_2024.pdf", Seq(page(
      Seq("NCA-9", "Regular", "2024-03-01", "DOTr", "AgZ", "OU9", "42.00", "Rails"))))
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)
    val stored = Seq("NCA_2024.pdf").toDF("filename")

    pipe.scrape(candidatesDf(workDir, 1), stored)
    pipe.orchestrate(); pipe.work(blobDir)
    assert(pipe.records.get.count() === 1)
    assert(pipe.allocations.get.count() === 1)

    // same id, different file metadata -> classified changed; old record
    // AND allocation rows cascade-deleted (two-level: release -> record ->
    // allocation, supabase_schema.sql:29,40), release upserted, re-enqueued
    val changed = candidatesDf(workDir, 1)
      .withColumn("file_meta_modified_at", lit("m2"))
    val q = pipe.scrape(changed, stored)
    assert(q.count() === 1)
    // cascade wiped (a fully-emptied bucketed table reads as None); re-work restores
    assert(pipe.records.forall(_.isEmpty), "stale records must not survive")
    assert(pipe.allocations.forall(_.isEmpty), "stale allocations must not survive")
    pipe.orchestrate(); pipe.work(blobDir)
    assert(pipe.records.get.count() === 1)
    assert(pipe.allocations.get.count() === 1) // restored, not duplicated
  }

  test("a missing-blob release with CHANGED content still cascades stale rows") {
    val workDir = Files.createTempDirectory("etlmiss2").toString
    val blobDir = s"$workDir/blobs"
    writeBlob(blobDir, "NCA_2024.pdf", Seq(page(
      Seq("NCA-old", "Regular", "2024-01-01", "DBM", "AgO", "OU1", "10.00", "Old"))))
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)
    pipe.scrape(candidatesDf(workDir, 1), Seq("NCA_2024.pdf").toDF("filename"))
    pipe.orchestrate(); pipe.work(blobDir)
    assert(pipe.records.get.select("nca_number").as[String].collect().toSeq
      === Seq("NCA-old"))

    // the blob is lost AND the upstream document changed: the new
    // version drops NCA-old entirely. classify() reports missing_file
    // (checked before changed) — the cascade must STILL fire, or
    // NCA-old's rows would survive re-extraction forever
    writeBlob(blobDir, "NCA_2024.pdf", Seq(page(
      Seq("NCA-new", "Special", "2024-02-01", "DBM", "AgO", "OU1", "20.00", "New"))))
    val changed = candidatesDf(workDir, 1)
      .withColumn("file_meta_modified_at", lit("m9"))
    // empty stored listing -> missing_file classification
    val q = pipe.scrape(changed, Seq.empty[String].toDF("filename"))
    assert(q.count() === 1)
    assert(pipe.records.forall(_.isEmpty), "stale records must cascade")
    pipe.orchestrate(); pipe.work(blobDir)
    assert(pipe.records.get.select("nca_number").as[String].collect().toSeq
      === Seq("NCA-new"), "only the new document's rows may remain")
  }

  test("scrapeWeb: fetched blobs drive CDC via extractor metadata (OP-02/04)") {
    import graft.sources.{BlobFetcher, PositionedStubPdfFormat}
    import graft.sources.AdaptiveTable.Word
    val workDir = Files.createTempDirectory("etlweb").toString
    val blobDir = s"$workDir/blobs"
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)

    def doc(modified: String): Array[Byte] = PositionedStubPdfFormat.encode(
      pages = Seq(
        Seq("nca_number", "nca_type", "released_date", "department", "agency",
          "operating_unit", "amount", "purpose").zipWithIndex.flatMap {
          case (phrase, i) => phrase.split("_").zipWithIndex.map {
            case (w, j) => Word(w, 20 + i * 100 + j * 45, 10)
          }
        } ++ Seq(Word("NCA-7", 20, 30), Word("Regular", 120, 30),
          Word("3/1/2024", 220, 30), Word("DOST", 320, 30),
          Word("AgQ", 420, 30), Word("OU-Q", 520, 30),
          Word("77.00", 620, 30), Word("Grants", 720, 30))),
      created = "2024-04-01T00:00:00", modified = modified, width = 821)

    val candidates = Seq(("id_2024", "NCA 2024", "NCA_2024.pdf",
      "https://x/NCA_2024.pdf", 2024)).toDF("id", "title", "filename", "url", "year")
    var bytes = doc("2024-04-02T00:00:00")
    val fetch: BlobFetcher.Fetch = _ => (200, bytes)

    // new release: fetched, metadata read from the DOCUMENT, queued, saved
    val q1 = pipe.scrapeWeb(candidates, fetch, blobDir, PositionedStubPdfFormat)
    assert(q1.count() === 1)
    assert(new java.io.File(blobDir, "NCA_2024.pdf").exists(), "proceeding blob saved")
    val rel = TableStore.read(spark, pipe.releaseTable).get.collect()(0)
    assert(rel.getAs[String]("file_meta_created_at") === "2024-04-01T00:00:00")
    assert(rel.getAs[String]("file_meta_modified_at") === "2024-04-02T00:00:00")
    assert(rel.getAs[Int]("page_count") === 1)

    // downstream stages consume the queued release with the SAME extractor
    pipe.orchestrate(); pipe.work(blobDir, PositionedStubPdfFormat)
    val recs = pipe.records.get.select("nca_number", "department")
      .as[(String, String)].collect().toSeq
    assert(recs === Seq(("NCA-7", "DOST")))

    // unchanged document -> CDC (keyed on extractor metadata) filters it
    assert(pipe.scrapeWeb(candidates, fetch, blobDir, PositionedStubPdfFormat).isEmpty)

    // document changed (new ModDate in the bytes) -> re-queued
    bytes = doc("2024-04-09T00:00:00")
    assert(pipe.scrapeWeb(candidates, fetch, blobDir, PositionedStubPdfFormat).count() === 1)

    // non-2xx fetch fails the scrape (raise_for_status semantics)
    val boom = intercept[org.apache.spark.SparkException] {
      pipe.scrapeWeb(candidates, _ => (404, Array.emptyByteArray), blobDir,
        PositionedStubPdfFormat)
    }
    assert(boom.getMessage.contains("HTTP 404") ||
      Option(boom.getCause).exists(_.getMessage.contains("HTTP 404")))
  }

  test("scrapeWeb + work with the REAL PDF codec over a mixed corpus (OP-06 e2e)") {
    import graft.sources.{BlobFetcher, PositionedStubPdfFormat, RealPdfCodec}
    import graft.sources.AdaptiveTable.Word
    val workDir = Files.createTempDirectory("etlreal").toString
    val blobDir = s"$workDir/blobs"
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)
    val codec = RealPdfCodec(PositionedStubPdfFormat)

    val realBytes = {
      val in = getClass.getResourceAsStream("/UPDATED_NCA.PDF")
      try in.readAllBytes() finally in.close()
    }
    val stubBytes = PositionedStubPdfFormat.encode(
      pages = Seq(
        Seq("nca_number", "nca_type", "released_date", "department", "agency",
          "operating_unit", "amount", "purpose").zipWithIndex.flatMap {
          case (phrase, i) => phrase.split("_").zipWithIndex.map {
            case (w, j) => Word(w, 20 + i * 100 + j * 45, 10)
          }
        } ++ Seq(Word("NCA-7", 20, 30), Word("Regular", 120, 30),
          Word("3/1/2024", 220, 30), Word("DOST", 320, 30),
          Word("AgQ", 420, 30), Word("OU-Q", 520, 30),
          Word("77.00", 620, 30), Word("Grants", 720, 30))),
      created = "2024-04-01T00:00:00", modified = "2024-04-02T00:00:00", width = 821)

    val candidates = Seq(
      ("id_real", "Updated NCA", "UPDATED_NCA.PDF", "https://x/UPDATED_NCA.PDF", 2026),
      ("id_stub", "NCA 2024", "NCA_2024.pdf", "https://x/NCA_2024.pdf", 2024)
    ).toDF("id", "title", "filename", "url", "year")
    val fetch: BlobFetcher.Fetch =
      url => (200, if (url.endsWith("UPDATED_NCA.PDF")) realBytes else stubBytes)

    // one pipeline, one extractor, mixed real/stub corpus
    val queued = pipe.scrapeWeb(candidates, fetch, blobDir, codec)
    assert(queued.count() === 2)
    // the REAL document's release metadata came from its genuine bytes
    val rel = TableStore.read(spark, pipe.releaseTable).get
      .filter(col("id") === "id_real").collect()(0)
    assert(rel.getAs[String]("file_meta_created_at") === "2026-02-21T09:05:00")
    assert(rel.getAs[String]("file_meta_modified_at") === "2026-02-21T09:05:00")
    assert(rel.getAs[Int]("page_count") === 1)

    pipe.orchestrate(); pipe.work(blobDir, codec)
    // the stub doc yields its record; the real artifact's rows carry no
    // nca_number, so the cleaner drops them (pandas groupby-NaN parity)
    val recs = pipe.records.get.select("nca_number", "release_id")
      .as[(String, String)].collect().toSeq
    assert(recs === Seq(("NCA-7", "id_stub")))
    // nothing quarantined: the real codec handled its document
    assert(!Files.exists(Paths.get(pipe.quarantine)))
  }

  test("scrapeFromUrl: listing URL -> anchors -> candidates -> CDC -> work (OP-01/02 e2e)") {
    import graft.sources.{BlobFetcher, PositionedStubPdfFormat}
    import graft.sources.AdaptiveTable.Word
    val workDir = Files.createTempDirectory("etlurl").toString
    val blobDir = s"$workDir/blobs"
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)

    val docBytes = PositionedStubPdfFormat.encode(
      pages = Seq(
        Seq("nca_number", "nca_type", "released_date", "department", "agency",
          "operating_unit", "amount", "purpose").zipWithIndex.flatMap {
          case (phrase, i) => phrase.split("_").zipWithIndex.map {
            case (w, j) => Word(w, 20 + i * 100 + j * 45, 10)
          }
        } ++ Seq(Word("NCA-8", 20, 30), Word("Regular", 120, 30),
          Word("5/1/2024", 220, 30), Word("DENR", 320, 30),
          Word("AgR", 420, 30), Word("OU-R", 520, 30),
          Word("88.00", 620, 30), Word("Trees", 720, 30))),
      created = "2024-05-01T00:00:00", modified = "2024-05-02T00:00:00", width = 821)

    val listing =
      """<html><body>
        |<a href="/files/NCA_2024.pdf">NCA <b>2024</b></a>
        |<a href="/files/notes.txt">not a pdf</a>
        |<a href="/files/NCA_1999.pdf">too old</a>
        |</body></html>""".stripMargin
    // ONE transport serves the listing page and the document fetches
    val fetch: BlobFetcher.Fetch = {
      case "https://host/releases" => (200, listing.getBytes("UTF-8"))
      case "https://host/files/NCA_2024.pdf" => (200, docBytes)
      case _ => (404, Array.emptyByteArray)
    }

    // the link scan keeps only the in-threshold NCA pdf; its document is
    // fetched, metadata-read, queued, saved
    val queued = pipe.scrapeFromUrl("https://host/releases", "https://host",
      oldestYear = 2020, nowYear = 2026, fetch, blobDir, PositionedStubPdfFormat)
    assert(queued.select("id", "title", "filename", "url", "year")
      .as[(String, String, String, String, Int)].collect().toSeq ===
      Seq(("id_2024", "NCA 2024", "NCA_2024.pdf",
        "https://host/files/NCA_2024.pdf", 2024)))
    assert(new java.io.File(blobDir, "NCA_2024.pdf").exists())

    pipe.orchestrate(); pipe.work(blobDir, PositionedStubPdfFormat)
    val recs = pipe.records.get.select("nca_number", "department", "release_id")
      .as[(String, String, String)].collect().toSeq
    assert(recs === Seq(("NCA-8", "DENR", "id_2024")))

    // unchanged listing + unchanged document -> CDC yields nothing
    assert(pipe.scrapeFromUrl("https://host/releases", "https://host",
      2020, 2026, fetch, blobDir, PositionedStubPdfFormat).isEmpty)

    // a failing listing GET fails the scrape driver-side
    val boom = intercept[java.io.IOException] {
      pipe.scrapeFromUrl("https://host/missing", "https://host",
        2020, 2026, fetch, blobDir, PositionedStubPdfFormat)
    }
    assert(boom.getMessage.contains("HTTP 404"))
  }

  test("publishCoLocated: record-allocation reporting join plans zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val workDir = Files.createTempDirectory("etlcoloc").toString
    val blobDir = s"$workDir/blobs"
    writeBlob(blobDir, "NCA_2024.pdf", Seq(
      page(
        Seq("NCA-1", "Regular", "2024-01-15", "DepEd", "AgA", "OU1", "100.50", "Books"),
        Seq("", "", "", "", "", "", "", ""),
        Seq("NCA-1", "", "", "", "AgB", "OU2", "200.00", "")),
      page(
        Seq("NCA-2", "Special", "2024-02-01", "DOH", "AgC", "OU3", "300.25", "Meds"))))
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)
    pipe.scrape(candidatesDf(workDir, 2), Seq("NCA_2024.pdf").toDF("filename"))
    pipe.orchestrate(); pipe.work(blobDir)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force a non-broadcast join: the assertion must prove the BUCKETING
    // removes the shuffle, not a broadcast of the small test tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = pipe.publishCoLocated(prefix = "etlcoloc").get
      // sparkPlan, not executedPlan: AQE wraps executedPlan in an
      // adaptive leaf that would hide a regressed shuffle from collect
      val shuffles = joined.queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"expected shuffle-free co-located join:\n${joined.queryExecution.sparkPlan}")
      // NCA-1 has two allocations, NCA-2 one -> 3 joined rows
      val rows = joined.select("nca_number", "agency", "department")
        .as[(String, String, String)].collect().toSeq.sorted
      assert(rows === Seq(("NCA-1", "AgA", "DepEd"), ("NCA-1", "AgB", "DepEd"),
        ("NCA-2", "AgC", "DOH")))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS etlcoloc_record_nca")
      spark.sql("DROP TABLE IF EXISTS etlcoloc_allocation_nca")
    }
  }

  test("flagship e2e on an all-real PDF corpus: classic + ObjStm + encrypted, no stub") {
    import graft.sources.{BlobFetcher, PdfTableSource, RealPdfCodec}
    import RealPdfFixtures._

    // the inner codec must never be consulted: every corpus member is a
    // genuine PDF, and a silent stub fallback would hide a codec gap
    object ThrowingStub extends PdfTableSource.TableExtractor {
      private def fail: Nothing = throw new IllegalStateException(
        "stub consulted for a real-PDF corpus")
      override def extract(doc: String, bytes: Array[Byte],
                           startPage: Int, endPage: Int) = fail
      override def pageCount(bytes: Array[Byte]) = fail
      override def metadata(doc: String, bytes: Array[Byte]) = fail
    }

    val workDir = Files.createTempDirectory("etlrealflag").toString
    val blobDir = s"$workDir/blobs"
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)
    val codec = RealPdfCodec(ThrowingStub)

    // three layouts, one corpus: multi-page classic Flate, PDF 1.5
    // object streams (+xref stream), RC4-encrypted empty-password
    val classicBytes = classicPdf(Seq(
      headerWords() ++ rowWords(Seq("NCA-21", "Regular", "1/15/2023", "DepEd",
        "AgA", "OU1", "100.00", "Books"), 660),
      rowWords(Seq("NCA-22", "Special", "2/1/2023", "DOH",
        "AgB", "OU2", "50.25", "Meds"), 660)),
      created = "D:20230115090000Z")
    val objStmBytes = objStmPdf(
      headerWords() ++ rowWords(Seq("NCA-23", "Regular", "3/1/2024", "DepEd",
        "AgC", "OU3", "200.00", "Desks"), 660),
      created = "D:20240301090000Z")
    val encryptedBytes = encryptedPdf(
      headerWords() ++ rowWords(Seq("NCA-24", "Special", "4/1/2025", "DOTr",
        "AgD", "OU4", "75.50", "Rails"), 660),
      created = "D:20250401090000Z")

    val listing =
      """<html><body>
        |<a href="/files/NCA_2023.pdf">NCA 2023</a>
        |<a href="/files/NCA_2024.pdf">NCA 2024</a>
        |<a href="/files/NCA_2025.pdf">NCA 2025</a>
        |</body></html>""".stripMargin
    val fetch: BlobFetcher.Fetch = {
      case "https://host/releases" => (200, listing.getBytes("UTF-8"))
      case u if u.endsWith("NCA_2023.pdf") => (200, classicBytes)
      case u if u.endsWith("NCA_2024.pdf") => (200, objStmBytes)
      case u if u.endsWith("NCA_2025.pdf") => (200, encryptedBytes)
      case _ => (404, Array.emptyByteArray)
    }

    val queued = pipe.scrapeFromUrl("https://host/releases", "https://host",
      oldestYear = 2020, nowYear = 2026, fetch, blobDir, codec)
    assert(queued.count() === 3)
    // release metadata came from each document's REAL bytes — including
    // the compressed ObjStm Info and the RC4-encrypted date string
    val rels = TableStore.read(spark, pipe.releaseTable).get
      .select("id", "file_meta_created_at", "page_count")
      .as[(String, String, Int)].collect()
      .map { case (id, created, pages) => id -> ((created, pages)) }.toMap
    assert(rels("id_2023") === ("2023-01-15T09:00:00", 2))
    assert(rels("id_2024") === ("2024-03-01T09:00:00", 1))
    assert(rels("id_2025") === ("2025-04-01T09:00:00", 1))

    pipe.orchestrate(); pipe.work(blobDir, codec)
    assert(!Files.exists(Paths.get(pipe.quarantine)),
      "no corpus member may dead-letter")
    val recs = pipe.records.get.select("nca_number", "release_id")
      .as[(String, String)].collect().toSeq.sorted
    assert(recs === Seq(("NCA-21", "id_2023"), ("NCA-22", "id_2023"),
      ("NCA-23", "id_2024"), ("NCA-24", "id_2025")))

    // the flagship question — total allocation per department — over the
    // co-bucketed publish join
    try {
      val joined = pipe.publishCoLocated(prefix = "realflag").get
      val sums = joined.groupBy("department")
        .agg(round(sum("amount"), 2).as("total"))
        .as[(String, Double)].collect().toMap
      assert(sums === Map("DepEd" -> 300.00, "DOH" -> 50.25, "DOTr" -> 75.50))
    } finally {
      spark.sql("DROP TABLE IF EXISTS realflag_record_nca")
      spark.sql("DROP TABLE IF EXISTS realflag_allocation_nca")
    }
  }

  test("a blob corrupted after scrape quarantines its batch; healthy batches load") {
    val workDir = Files.createTempDirectory("etlpoison").toString
    val blobDir = s"$workDir/blobs"
    writeBlob(blobDir, "NCA_2023.pdf", Seq(page(
      Seq("NCA-3", "Regular", "2023-03-01", "DOST", "AgM", "OU5", "50.00", "Labs"))))
    writeBlob(blobDir, "NCA_2024.pdf", Seq(page(
      Seq("NCA-4", "Special", "2024-04-01", "DICT", "AgN", "OU6", "60.00", "Nets"))))
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)
    val candidates = Seq(
      ("id_2023", "NCA 2023", "NCA_2023.pdf", "https://x/NCA_2023.pdf",
        2023, 1, Some("c"), Some("m")),
      ("id_2024", "NCA 2024", "NCA_2024.pdf", "https://x/NCA_2024.pdf",
        2024, 1, Some("c"), Some("m"))
    ).toDF("id", "title", "filename", "url", "year", "page_count",
      "file_meta_created_at", "file_meta_modified_at")
    pipe.scrape(candidates,
      Seq("NCA_2023.pdf", "NCA_2024.pdf").toDF("filename"))
    pipe.orchestrate()

    // the 2023 blob rots on disk between orchestration and the worker:
    // it still CLAIMS the PDF format but its content is unparseable, so
    // the real codec must fail it (DLQ path) — not silently decode
    // garbage through the stub fallback
    Files.write(Paths.get(blobDir, "NCA_2023.pdf"),
      "%PDF-1.4".getBytes("ISO-8859-1") ++ Array.fill[Byte](64)(0x5a))

    pipe.work(blobDir, graft.sources.RealPdfCodec(StubPdfFormat))
    // healthy batch loaded (via the stub fallback); poison batch
    // quarantined; the stage survived
    val recs = pipe.records.get.select("nca_number")
      .as[String].collect().toSeq
    assert(recs === Seq("NCA-4"))
    assert(spark.read.text(pipe.quarantine).count() === 1,
      "the corrupt document's batch message must quarantine")
  }

  test("a queued batch whose blob is missing quarantines instead of vanishing") {
    val workDir = Files.createTempDirectory("etlmissing").toString
    val blobDir = s"$workDir/blobs"
    writeBlob(blobDir, "NCA_2023.pdf", Seq(page(
      Seq("NCA-5", "Regular", "2023-05-01", "DA", "AgP", "OU7", "70.00", "Seeds"))))
    writeBlob(blobDir, "NCA_2024.pdf", Seq(page(
      Seq("NCA-6", "Special", "2024-06-01", "DTI", "AgQ", "OU8", "80.00", "Trade"))))
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)
    val candidates = Seq(
      ("id_2023", "NCA 2023", "NCA_2023.pdf", "https://x/NCA_2023.pdf",
        2023, 1, Some("c"), Some("m")),
      ("id_2024", "NCA 2024", "NCA_2024.pdf", "https://x/NCA_2024.pdf",
        2024, 1, Some("c"), Some("m"))
    ).toDF("id", "title", "filename", "url", "year", "page_count",
      "file_meta_created_at", "file_meta_modified_at")
    pipe.scrape(candidates, Seq("NCA_2023.pdf", "NCA_2024.pdf").toDF("filename"))
    pipe.orchestrate()

    // the 2023 blob disappears (crash between enqueue and save, cleanup
    // job, renamed dir): its batch must dead-letter, not silently drop
    // with the queue message checkpointed as done
    Files.delete(Paths.get(blobDir, "NCA_2023.pdf"))

    pipe.work(blobDir)
    assert(pipe.records.get.select("nca_number").as[String].collect().toSeq
      === Seq("NCA-6"))
    assert(spark.read.text(pipe.quarantine).count() === 1,
      "the missing-blob batch message must quarantine")
  }

  test("work() recovers WinAnsi//Differences accented text (no ToUnicode) e2e") {
    import graft.sources.{BlobFetcher, PdfTableSource, RealPdfCodec}
    import RealPdfFixtures._
    object ThrowingStub extends PdfTableSource.TableExtractor {
      private def fail: Nothing = throw new IllegalStateException(
        "stub consulted for a real-PDF corpus")
      override def extract(doc: String, bytes: Array[Byte],
                           startPage: Int, endPage: Int) = fail
      override def pageCount(bytes: Array[Byte]) = fail
      override def metadata(doc: String, bytes: Array[Byte]) = fail
    }
    val workDir = Files.createTempDirectory("etlenc").toString
    val blobDir = s"$workDir/blobs"
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)
    val codec = RealPdfCodec(ThrowingStub)
    // the reference corpus' "Peñafrancia"-class names: byte F1 through
    // the WinAnsi base, byte C8 (È) remapped to /eacute by /Differences
    val bytes = classicPdf(Seq(
      headerWords() ++ rowWords(Seq("NCA-31", "Regular", "1/15/2024",
        "Peñafrancia", "AgÈ", "OU1", "10.00", "Fiesta"), 660)),
      created = "D:20240115090000Z",
      fontExtra = "/Encoding << /BaseEncoding /WinAnsiEncoding " +
        "/Differences [200 /eacute] >>")
    val candidates = Seq(("id_enc", "NCA enc", "NCA_ENC.pdf",
      "https://x/NCA_ENC.pdf", 2024)).toDF("id", "title", "filename", "url", "year")
    val fetch: BlobFetcher.Fetch = _ => (200, bytes)
    pipe.scrapeWeb(candidates, fetch, blobDir, codec)
    pipe.orchestrate(); pipe.work(blobDir, codec)
    val recs = pipe.records.get.select("nca_number", "department")
      .as[(String, String)].collect().toSeq
    assert(recs === Seq(("NCA-31", "Peñafrancia")),
      "accented glyphs must survive extraction and cleaning end to end")
    val allocs = pipe.allocations.get.select("nca_number", "agency")
      .as[(String, String)].collect().toSeq
    assert(allocs === Seq(("NCA-31", "Agé")),
      "the /Differences-remapped byte must survive into allocations")
  }

  test("a release whose filename starts with '_' loads its records") {
    import graft.sources.BlobFetcher
    val workDir = Files.createTempDirectory("etlunderscore").toString
    val blobDir = s"$workDir/blobs"
    // the filename is the URL's last path segment, so any name can arrive
    writeBlob(blobDir, "_NCA_2024.pdf", Seq(page(
      Seq("NCA-U", "Regular", "2024-07-01", "DOLE", "AgU", "OU9", "90.00", "Jobs"))))
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)
    val candidates = Seq(("id_u", "NCA 2024", "_NCA_2024.pdf", "https://x/_NCA_2024.pdf",
      2024, 1, Some("c"), Some("m"))
    ).toDF("id", "title", "filename", "url", "year", "page_count",
      "file_meta_created_at", "file_meta_modified_at")
    // CDC probes the stored-blob listing the worker must then read
    assert(pipe.scrape(candidates, BlobFetcher.listBlobs(spark, blobDir)).count() === 1)
    pipe.orchestrate(); pipe.work(blobDir)
    assert(!Files.exists(Paths.get(pipe.quarantine)), "the batch must not dead-letter")
    assert(pipe.records.get.select("nca_number", "release_id")
      .as[(String, String)].collect().toSeq === Seq(("NCA-U", "id_u")))
    assert(pipe.allocations.get.count() === 1)
    // the stored file and db row agree, so the release is current
    assert(pipe.scrape(candidates, BlobFetcher.listBlobs(spark, blobDir)).isEmpty)
  }

  test("a batch whose filename leaves the blob directory quarantines") {
    val workDir = Files.createTempDirectory("etlescape").toString
    val blobDir = s"$workDir/blobs"
    Files.createDirectories(Paths.get(blobDir))
    // a readable document one level up: reading it would escape blobDir
    writeBlob(workDir, "NCA_2024.pdf", Seq(page(
      Seq("NCA-E", "Regular", "2024-01-01", "DBM", "AgE", "OU1", "10.00", "Out"))))
    val pipe = new EtlPipeline(spark, workDir, batchSize = 10)
    val candidates = Seq(("id_e", "NCA 2024", "../NCA_2024.pdf", "https://x/NCA_2024.pdf",
      2024, 1, Some("c"), Some("m"))
    ).toDF("id", "title", "filename", "url", "year", "page_count",
      "file_meta_created_at", "file_meta_modified_at")
    pipe.scrape(candidates, Seq.empty[String].toDF("filename"))
    pipe.orchestrate(); pipe.work(blobDir)
    assert(pipe.records.isEmpty)
    assert(spark.read.text(pipe.quarantine).count() === 1)
  }

  test("work() extracts each queued batch exactly once") {
    val workDir = Files.createTempDirectory("etlonce").toString
    val blobDir = s"$workDir/blobs"
    writeBlob(blobDir, "NCA_2023.pdf", Seq(
      page(Seq("NCA-7", "Regular", "2023-07-01", "DA", "AgA", "OU1", "70.00", "Seeds")),
      page(Seq("NCA-8", "Special", "2023-08-01", "DA", "AgB", "OU2", "80.00", "Tools"))))
    writeBlob(blobDir, "NCA_2024.pdf", Seq(
      page(Seq("NCA-9", "Regular", "2024-09-01", "DTI", "AgC", "OU3", "90.00", "Trade"))))
    val pipe = new EtlPipeline(spark, workDir, batchSize = 1)
    val candidates = Seq(
      ("id_2023", "NCA 2023", "NCA_2023.pdf", "https://x/NCA_2023.pdf",
        2023, 2, Some("c"), Some("m")),
      ("id_2024", "NCA 2024", "NCA_2024.pdf", "https://x/NCA_2024.pdf",
        2024, 1, Some("c"), Some("m"))
    ).toDF("id", "title", "filename", "url", "year", "page_count",
      "file_meta_created_at", "file_meta_modified_at")
    pipe.scrape(candidates, Seq("NCA_2023.pdf", "NCA_2024.pdf").toDF("filename"))
    pipe.orchestrate()
    EtlCountingExtractor.calls.clear()
    pipe.work(blobDir, EtlCountingExtractor)
    assert(pipe.records.get.count() === 3)
    assert(pipe.allocations.get.count() === 3)
    def counts = EtlCountingExtractor.calls.asScala.map { case (k, v) => k -> v.get }.toMap
    assert(counts === Map("id_2023\u00011" -> 1, "id_2023\u00012" -> 1, "id_2024\u00011" -> 1))
    // a drained queue extracts nothing more
    pipe.work(blobDir, EtlCountingExtractor)
    assert(counts.values.toSet === Set(1))
  }

  test("per-message isolation: one poison well-formed message quarantines, rest process") {
    import org.apache.spark.sql.types.StructType
    import graft.streaming.QueuePipeline
    val workDir = Files.createTempDirectory("etl3").toString
    val schema = new StructType().add("k", "int").add("v", "string")
    val q = s"$workDir/q"
    QueuePipeline.enqueue(Seq((1, "a"), (2, "boom"), (3, "c")).toDF("k", "v"), q)
    val out = scala.collection.mutable.Set[Int]()
    QueuePipeline.runStage(spark, q, schema, s"$workDir/cp", s"$workDir/quar") { df =>
      val rows = df.collect()
      if (rows.exists(_.getAs[String]("v") == "boom"))
        throw new RuntimeException("poison message")
      rows.foreach(r => out += r.getAs[Int]("k"))
    }
    assert(out === Set(1, 3), "healthy messages must process")
    assert(spark.read.text(s"$workDir/quar").count() === 1, "poison must quarantine")
  }
}

/** The stub codec, counting `extract` calls per doc key. The counts are
  * static so executor-side calls land in the same map.
  */
object EtlCountingExtractor extends PdfTableSource.TableExtractor {
  val calls = new ConcurrentHashMap[String, AtomicInteger]()
  def extract(doc: String, bytes: Array[Byte], startPage: Int, endPage: Int) = {
    calls.computeIfAbsent(doc, _ => new AtomicInteger()).incrementAndGet()
    StubPdfFormat.extract(doc, bytes, startPage, endPage)
  }
  def pageCount(bytes: Array[Byte]): Int = StubPdfFormat.pageCount(bytes)
  def metadata(doc: String, bytes: Array[Byte]) = StubPdfFormat.metadata(doc, bytes)
}
