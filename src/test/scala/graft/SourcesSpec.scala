package graft

import java.nio.file.{Files, Paths}
import graft.operators.Batcher
import graft.sources.{HtmlLinkSource, PdfTableSource}
import graft.sources.PdfTableSource.StubPdfFormat

class SourcesSpec extends SparkSpecBase {
  import spark.implicits._

  test("HtmlLinkSource: anchors + candidate program (OP-01/19/20/21/49-53)") {
    val html =
      """<html><body>
        |<a href="/files/NCA_2024.pdf">NCA <b>2024</b> releases</a>
        |<a href="/files/NCA_2023.pdf">NCA 2023</a>
        |<a href="https://other/NCA_UPDATED.pdf">NCA latest</a>
        |<a href="/files/budget_2024.docx">Budget doc</a>
        |<a href="/files/NCA_nodigits.pdf">NCA unknown year</a>
        |<a href="/x.pdf">   </a>
        |</body></html>""".stripMargin
    val anchors = HtmlLinkSource.anchors(spark, html)
    assert(anchors.count() === 6)
    // bs4-style tag strip + whitespace collapse
    assert(anchors.filter($"url" === "/files/NCA_2024.pdf")
      .select("title").as[String].head() === "NCA 2024 releases")

    val cands = HtmlLinkSource.releaseCandidates(
      anchors, "https://dbm.example", oldestYear = 2024, nowYear = 2026)
    val rows = cands.select("id", "filename", "url", "year")
      .as[(String, String, String, Int)].collect().toSeq
    assert(rows === Seq(
      ("id_2024", "NCA_2024.pdf", "https://dbm.example/files/NCA_2024.pdf", 2024),
      ("id_2026", "NCA_UPDATED.pdf", "https://other/NCA_UPDATED.pdf", 2026)))
  }

  test("HtmlLinkSource: same-year links resolve to one deterministic winner") {
    // the year is the registry key downstream — two same-year links must
    // not silently overwrite each other in the release store; the
    // lexicographically-last filename (the UPDATED variant) wins
    val html =
      """<a href="/f/NCA_2024.pdf">base</a>
        |<a href="/f/NCA_2024_UPDATED.pdf">updated</a>""".stripMargin
    val rows = HtmlLinkSource.releaseCandidates(
        HtmlLinkSource.anchors(spark, html), "https://x", 2020, 2024)
      .select("id", "filename").as[(String, String)].collect().toSeq
    assert(rows === Seq(("id_2024", "NCA_2024_UPDATED.pdf")))
  }

  test("HtmlLinkSource: absolutization covers protocol-relative and bare-relative") {
    val html =
      """<a href="//cdn.example/NCA_2021.pdf">p</a>
        |<a href="files/NCA_2022.pdf">r</a>
        |<a href="https://other/NCA_2023.pdf">a</a>
        |<a href="/root/NCA_2024.pdf">s</a>""".stripMargin
    val urls = HtmlLinkSource.releaseCandidates(
        HtmlLinkSource.anchors(spark, html), "https://dbm.example", 2020, 2026)
      .select("year", "url").as[(Int, String)].collect().toMap
    assert(urls(2021) === "https://cdn.example/NCA_2021.pdf")
    assert(urls(2022) === "https://dbm.example/files/NCA_2022.pdf")
    assert(urls(2023) === "https://other/NCA_2023.pdf")
    assert(urls(2024) === "https://dbm.example/root/NCA_2024.pdf")
  }

  test("HtmlLinkSource: data-href is not mistaken for the anchor url") {
    val html =
      """<a class="x" data-href="/track/NCA_2020.pdf" href="/real/NCA_2024.pdf">y</a>"""
    val rows = HtmlLinkSource.anchors(spark, html)
      .select("url").as[String].collect().toSeq
    assert(rows === Seq("/real/NCA_2024.pdf"))
  }

  test("PdfTableSource: blobs -> grid with explicit (page, row) order keys") {
    val dir = Files.createTempDirectory("pdfsrc").toString
    val pages = Seq(
      Seq(Seq("H1", "H2"), Seq("a", "b"), Seq("c", null)),
      Seq(Seq("H1", "H2"), Seq("d", "e")))
    Files.write(Paths.get(dir, "doc1.pdf"), StubPdfFormat.encode(pages))

    val blobs = PdfTableSource.readBlobs(spark, dir, "*.pdf")
    assert(blobs.count() === 1)

    val grid = PdfTableSource.extractGrid(blobs, StubPdfFormat)
    val rows = grid.orderBy("ord")
      .select("doc", "page", "cells").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getSeq[String](2)))
    assert(rows.length === 5)
    assert(rows(0) === (("doc1.pdf", 1, Seq("H1", "H2"))))
    assert(rows(2)._3 === Seq("c", null)) // null cell round-trips
    assert(rows(3) === (("doc1.pdf", 2, Seq("H1", "H2"))))

    // page-range restriction (worker batch semantics)
    val p2 = PdfTableSource.extractGrid(blobs, StubPdfFormat, 2, 2)
    assert(p2.count() === 2)

    val meta = PdfTableSource.metadata(blobs, StubPdfFormat).collect()(0)
    assert(meta.getAs[Int]("page_count") === 2)
    assert(meta.getAs[String]("created_at").startsWith("2024-01-"))
  }

  test("saveBlobs refuses filenames that would escape the blob directory") {
    import graft.sources.BlobFetcher
    val dir = Files.createTempDirectory("blobsafe").toString
    // scraped filenames are remote content: separators/traversal must throw
    for (bad <- Seq("../evil.bin", "a/b.pdf", "..")) {
      val df = Seq((bad, Array[Byte](1, 2))).toDF("filename", "content")
      val e = intercept[org.apache.spark.SparkException] {
        BlobFetcher.saveBlobs(df, dir)
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("unsafe blob filename")), s"$bad: ${msgs(e)}")
    }
    // a plain name still saves
    BlobFetcher.saveBlobs(Seq(("ok.pdf", Array[Byte](7))).toDF("filename", "content"), dir)
    assert(java.nio.file.Files.exists(Paths.get(dir, "ok.pdf")))
  }

  test("positioned stub codec fails corrupt blobs with a diagnosable IOException") {
    import graft.sources.PositionedStubPdfFormat
    // malformed word line (one tab)
    val e1 = intercept[java.io.IOException] {
      PositionedStubPdfFormat.pageCount("#meta\t\t\t100.0\n12.5\t30.0".getBytes("UTF-8"))
    }
    assert(e1.getMessage.contains("malformed word line"))
    // #meta header with no newline
    val e2 = intercept[java.io.IOException] {
      PositionedStubPdfFormat.pageCount("#meta\ta\tb\t100.0".getBytes("UTF-8"))
    }
    assert(e2.getMessage.contains("truncated"))
    // non-numeric position
    val e3 = intercept[java.io.IOException] {
      PositionedStubPdfFormat.pageCount("#meta\t\t\t100.0\nxx\t30.0\tword".getBytes("UTF-8"))
    }
    assert(e3.getMessage.contains("non-numeric"))
  }

  test("a zero-byte blob decodes to zero pages, not a phantom empty row") {
    assert(StubPdfFormat.pageCount(Array.emptyByteArray) === 0)
    assert(StubPdfFormat.extract("d", Array.emptyByteArray, 1, 99).isEmpty)
  }

  test("Batcher.pageRanges matches the reference batching arithmetic (OP-43)") {
    val releases = Seq(("r1", 95), ("r2", 10), ("r3", 1)).toDF("id", "page_count")
    val batches = Batcher.pageRanges(releases, 10)
      .select("id", "batch_number", "start_page_num", "end_page_num")
      .as[(String, Int, Int, Int)].collect().toSeq.sorted
    assert(batches.count(_._1 == "r1") === 10)
    assert(batches.filter(_._1 == "r1").last === (("r1", 10, 91, 95)))
    assert(batches.filter(_._1 == "r2") === Seq(("r2", 1, 1, 10)))
    assert(batches.filter(_._1 == "r3") === Seq(("r3", 1, 1, 1)))
  }

  test("Batcher.pageRanges covers every page exactly once, in numbered order") {
    val releases = (1 to 25).map(n => (s"r$n", n)).toDF("id", "page_count")
    (1 to 7).foreach { size =>
      val byId = Batcher.pageRanges(releases, size)
        .select("id", "batch_number", "start_page_num", "end_page_num")
        .as[(String, Int, Int, Int)].collect().groupBy(_._1)
      (1 to 25).foreach { n =>
        val bs = byId(s"r$n").toSeq.sortBy(_._2)
        assert(bs.map(_._2) === (1 to (n + size - 1) / size), s"pages $n, size $size")
        assert(bs.flatMap(b => b._3 to b._4) === (1 to n), s"pages $n, size $size")
        assert(bs.forall(b => b._4 - b._3 < size))
      }
    }
  }

  test("Batcher.pageRanges refuses a non-positive batch size") {
    val releases = Seq(("r1", 3)).toDF("id", "page_count")
    Seq(0, -1).foreach(s => intercept[IllegalArgumentException](Batcher.pageRanges(releases, s)))
  }
}
