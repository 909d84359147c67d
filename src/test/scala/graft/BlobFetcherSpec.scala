package graft

import java.io.IOException
import java.nio.file.Files

import graft.sources.BlobFetcher

/** The fetch contract of the scrape leg with an injected transport:
  * non-2xx and empty bodies fail, bytes pass through untouched, and the
  * stored-blob listing feeds CDC.
  */
class BlobFetcherSpec extends SparkSpecBase {
  import spark.implicits._

  private def bytes(s: String) = s.getBytes("UTF-8")

  test("checkedFetch returns the body for any 2xx status") {
    Seq(200, 204, 299).foreach { st =>
      val fetch: BlobFetcher.Fetch = _ => (st, bytes("ok"))
      assert(BlobFetcher.checkedFetch(fetch, "http://x/a").toSeq === bytes("ok").toSeq)
    }
  }

  test("checkedFetch fails a non-2xx status, naming status and url") {
    Seq(199, 300, 404, 500).foreach { st =>
      val fetch: BlobFetcher.Fetch = _ => (st, bytes("body"))
      val e = intercept[IOException](BlobFetcher.checkedFetch(fetch, "http://x/a"))
      assert(e.getMessage.contains(s"HTTP $st") && e.getMessage.contains("http://x/a"))
    }
  }

  test("checkedFetch fails an empty 200 body") {
    val fetch: BlobFetcher.Fetch = _ => (200, Array.emptyByteArray)
    val e = intercept[IOException](BlobFetcher.checkedFetch(fetch, "http://x/e"))
    assert(e.getMessage.contains("empty"))
  }

  test("fetchPage decodes the listing as UTF-8") {
    val page = "<a href=\"b.pdf\">Bericht Ü 2024 – €</a>"
    val fetch: BlobFetcher.Fetch = _ => (200, bytes(page))
    assert(BlobFetcher.fetchPage(fetch, "http://x/") === page)
  }

  test("fetchBlobs maps each candidate's url to its exact bytes") {
    val pages = Map("http://x/a" -> Array[Byte](0, 1, 2, -1), "http://x/b" -> bytes("pdf"))
    val fetch: BlobFetcher.Fetch = u => (200, pages(u))
    val out = BlobFetcher.fetchBlobs(
        Seq(("a.pdf", "http://x/a", 1), ("b.pdf", "http://x/b", 2)).toDF("filename", "url", "n"),
        fetch)
      .as[(String, Array[Byte])].collect().map { case (f, c) => f -> c.toSeq }.toMap
    assert(out === Map("a.pdf" -> Seq[Byte](0, 1, 2, -1), "b.pdf" -> bytes("pdf").toSeq))
  }

  test("fetchBlobs fails the scrape when one fetch fails") {
    val fetch: BlobFetcher.Fetch = u =>
      if (u.endsWith("bad")) (503, Array.emptyByteArray) else (200, Array[Byte](1))
    val e = intercept[Exception](BlobFetcher.fetchBlobs(
      Seq(("a.pdf", "http://x/a"), ("b.pdf", "http://x/bad")).toDF("filename", "url"),
      fetch).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("HTTP 503 for http://x/bad")), msgs.mkString(" | "))
  }

  test("listBlobs lists saved blobs and is empty for a missing directory") {
    val root = Files.createTempDirectory("blobs")
    val dir = root.resolve("store").toString
    assert(BlobFetcher.listBlobs(spark, dir).isEmpty)
    BlobFetcher.saveBlobs(
      Seq(("a.pdf", bytes("A")), ("b.pdf", bytes("BB"))).toDF("filename", "content"), dir)
    assert(BlobFetcher.listBlobs(spark, dir).as[String].collect().toSet === Set("a.pdf", "b.pdf"))
    assert(Files.readAllBytes(root.resolve("store").resolve("b.pdf")).toSeq === bytes("BB").toSeq)
  }
}
