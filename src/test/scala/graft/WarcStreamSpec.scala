package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.{Deflater, GZIPOutputStream}

import graft.sources.WarcCodec

/** The streaming contract of the WARC reader: bounded memory past the
  * JVM 2 GiB array cap, gzip member-boundary splitting (the CommonCrawl
  * one-member-per-record layout), and the dead-letter channel for blobs
  * that fail mid-stream.
  */
class WarcStreamSpec extends SparkSpecBase {
  import spark.implicits._

  private def recBytes(typ: String, uri: String, payload: Array[Byte]): Array[Byte] = {
    val head = (s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: ${payload.length}\r\n\r\n")
      .getBytes("ISO-8859-1")
    head ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }

  private def http(contentType: String, body: String): Array[Byte] =
    (s"HTTP/1.1 200 OK\r\nContent-Type: $contentType\r\n\r\n" + body)
      .getBytes("ISO-8859-1")

  /** One gzip member per chunk — the CommonCrawl distribution layout. */
  private def memberOf(b: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(o)
    g.write(b); g.close()
    o.toByteArray
  }

  test("multi-GiB decompressed blob streams in bounded memory (past the 2 GiB array cap)") {
    // 140 x 16 MiB = 2.1875 GiB decompressed: any whole-blob
    // materialization throws before it even stresses the heap, so a
    // green run IS the bounded-memory proof
    val nRecords = 140
    val payload = Array.fill[Byte](16 << 20)('a'.toByte)
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos, 1 << 16) {
      `def`.setLevel(Deflater.BEST_SPEED)
    }
    val sep = "\r\n\r\n".getBytes("ISO-8859-1")
    (0 until nRecords).foreach { i =>
      gz.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: http://big/$i\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1"))
      gz.write(payload)
      gz.write(sep)
    }
    gz.close()
    val compressed = bos.toByteArray
    val total = nRecords.toLong * payload.length
    assert(total > Int.MaxValue.toLong, "fixture must exceed the JVM array cap")

    var n = 0
    var bytes = 0L
    val it = new WarcCodec.RecordIterator(new ByteArrayInputStream(compressed))
    while (it.hasNext) {
      val r = it.next()
      n += 1
      bytes += r.body.length
    }
    assert(n === nRecords)
    assert(bytes === total)
  }

  test("oversized record is streamed past, costs itself only") {
    val blob = recBytes("response", "http://ok1", "first".getBytes("ISO-8859-1")) ++
      recBytes("response", "http://big", Array.fill[Byte](8192)('b'.toByte)) ++
      recBytes("response", "http://ok2", "second".getBytes("ISO-8859-1"))
    val rs = new WarcCodec.RecordIterator(
      new ByteArrayInputStream(blob), maxRecordBytes = 1024).toSeq
    assert(rs.map(_.url) === Seq("http://ok1", "http://ok2"),
      "the over-cap payload must be skipped without materialization")
  }

  test("gzip member offsets are exact; adjacent ranges read disjoint records") {
    val recs = (0 until 5).map(i =>
      recBytes("response", s"http://r$i", s"payload $i".getBytes("ISO-8859-1")))
    val members = recs.map(memberOf)
    val blob = members.reduce(_ ++ _)
    val offs = WarcCodec.gzipMemberOffsets(new ByteArrayInputStream(blob))
    assert(offs === members.scanLeft(0L)(_ + _.length).dropRight(1),
      "offsets must be the exact member starts")
    // two tasks over one blob: adjacent ranges, disjoint records, full union
    val mid = offs(2)
    def open() = new ByteArrayInputStream(blob)
    val left = WarcCodec.recordsInRange(() => open(), 0L, mid).map(_.url).toSeq
    val right = WarcCodec.recordsInRange(() => open(), mid, blob.length.toLong)
      .map(_.url).toSeq
    assert(left === Seq("http://r0", "http://r1"))
    assert(right === Seq("http://r2", "http://r3", "http://r4"))
  }

  /** A gzip member with every optional header field (FEXTRA, FNAME,
    * FCOMMENT and a valid FHCRC), which `GZIPOutputStream` never writes.
    */
  private def flaggedMemberOf(b: Array[Byte]): Array[Byte] = {
    def le(v: Long, n: Int) = Array.tabulate[Byte](n)(i => ((v >>> (8 * i)) & 0xFF).toByte)
    val extra = "XY".getBytes("ISO-8859-1") ++ le(3, 2) ++ Array[Byte](7, 8, 9)
    val head = Array[Byte](0x1F, 0x8B.toByte, 8, 0x1E, 0, 0, 0, 0, 0, 0xFF.toByte) ++
      le(extra.length, 2) ++ extra ++
      "rec.warc\u0000".getBytes("ISO-8859-1") ++ "a comment\u0000".getBytes("ISO-8859-1")
    val hcrc = new java.util.zip.CRC32(); hcrc.update(head)
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(b); deflater.finish()
    val body = new ByteArrayOutputStream()
    val chunk = new Array[Byte](1 << 12)
    while (!deflater.finished()) body.write(chunk, 0, deflater.deflate(chunk))
    deflater.end()
    val crc = new java.util.zip.CRC32(); crc.update(b)
    head ++ le(hcrc.getValue, 2) ++ body.toByteArray ++ le(crc.getValue, 4) ++ le(b.length, 4)
  }

  test("member offsets walk FEXTRA, FNAME, FCOMMENT and FHCRC headers") {
    val first = flaggedMemberOf(
      recBytes("response", "http://f0", "flagged".getBytes("ISO-8859-1")))
    val second = memberOf(recBytes("response", "http://f1", "plain".getBytes("ISO-8859-1")))
    val blob = first ++ second
    assert(WarcCodec.gzipMemberOffsets(new ByteArrayInputStream(blob)) ===
      Seq(0L, first.length.toLong))
    def open() = new ByteArrayInputStream(blob)
    assert(WarcCodec.recordsInRange(() => open(), 0L, first.length.toLong)
      .map(_.url).toSeq === Seq("http://f0"))
    assert(WarcCodec.recordsInRange(() => open(), first.length.toLong, blob.length.toLong)
      .map(_.url).toSeq === Seq("http://f1"))
  }

  test("a truncated gzip member fails planning instead of yielding a short offset list") {
    val member = memberOf(recBytes("response", "http://t", ("x" * 4000).getBytes("ISO-8859-1")))
    Seq(3, member.length / 2).foreach { cut =>
      intercept[java.io.EOFException](
        WarcCodec.gzipMemberOffsets(new ByteArrayInputStream(member.dropRight(cut))))
    }
  }

  test("bytes after a member that are not gzip fail planning at their offset") {
    val member = memberOf(recBytes("response", "http://g", "y".getBytes("ISO-8859-1")))
    val e = intercept[java.io.EOFException](WarcCodec.gzipMemberOffsets(
      new ByteArrayInputStream(member ++ "junk".getBytes("ISO-8859-1"))))
    assert(e.getMessage.contains(s"offset ${member.length}"))
  }

  test("a gzip member with a non-deflate compression method is refused") {
    val member = memberOf(recBytes("response", "http://m", "z".getBytes("ISO-8859-1")))
    val bad = member.clone(); bad(2) = 7
    val e = intercept[java.io.EOFException](
      WarcCodec.gzipMemberOffsets(new ByteArrayInputStream(bad)))
    assert(e.getMessage.contains("compression method"))
  }

  test("non-gzip blob yields a single unsplittable pseudo-member") {
    val plain = recBytes("response", "http://p", "x".getBytes("ISO-8859-1"))
    assert(WarcCodec.gzipMemberOffsets(new ByteArrayInputStream(plain)) === Seq(0L))
    assert(WarcCodec.gzipMemberOffsets(new ByteArrayInputStream(Array.empty[Byte])) === Seq.empty)
  }

  test("documentsSharded fans one blob across ranges and matches documents()") {
    val dir = Files.createTempDirectory("warcshard").toString
    val recs = (0 until 8).map(i =>
      recBytes("response", s"http://d$i", http("text/html", s"<p>doc $i</p>")))
    Files.write(Paths.get(dir, "big.warc.gz"), recs.map(memberOf).reduce(_ ++ _))
    val whole = WarcCodec.documents(spark, dir)
      .select("url", "text").as[(String, String)].collect().toSet
    assert(whole.map(_._1) === (0 until 8).map(i => s"http://d$i").toSet)
    // a tiny split target forces every member into its own range
    val sharded = WarcCodec.documentsSharded(spark, dir, targetSplitBytes = 64L)
      .select("url", "text").as[(String, String)].collect().toSet
    assert(sharded === whole,
      "sharded ranges must cover every record exactly once")
  }

  test("rawDocumentsForPathsSharded: streaming entry parses each record exactly once") {
    val dir = Files.createTempDirectory("warcshardp").toString
    val recs = (0 until 8).map(i =>
      recBytes("response", s"http://p$i", http("text/html", s"<p>pdoc $i</p>")))
    val blob = Paths.get(dir, "big.warc.gz")
    Files.write(blob, recs.map(memberOf).reduce(_ ++ _))
    // tiny split target: every member becomes its own range, so the one
    // blob parses as MANY tasks; sorted-with-duplicates equality proves
    // exactly-once coverage (disjoint ranges, full union)
    val urls = WarcCodec.rawDocumentsForPathsSharded(spark,
        Seq(blob.toString).toDS(), targetSplitBytes = 64L)
      .filter(_.blob_error == null).map(_.url).collect().toSeq.sorted
    assert(urls === (0 until 8).map(i => s"http://p$i").sorted)
  }

  test("sharded planning failure falls back to a whole-file range and dead-letters") {
    val dir = Files.createTempDirectory("warcshardf").toString
    // valid gzip magic, garbage deflate body: the member walk of the
    // PLANNING pass throws — must fall back to one whole-file range
    // whose parse surfaces the error row, never a task death
    val bad = Paths.get(dir, "bad.warc.gz")
    Files.write(bad, Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0) ++
      Array.fill[Byte](64)(0x55))
    val rows = WarcCodec.rawDocumentsForPathsSharded(spark,
      Seq(bad.toString).toDS(), targetSplitBytes = 16L).collect()
    assert(rows.length === 1 && rows.head.blob_error != null,
      s"poisoned blob must yield exactly one dead-letter row, got: ${rows.toSeq}")
  }

  test("poisoned blob dead-letters; its parsed records and other blobs survive") {
    val dir = Files.createTempDirectory("warcdlq").toString
    Files.write(Paths.get(dir, "good.warc"),
      recBytes("conversion", "http://good", "good text".getBytes("ISO-8859-1")))
    // member 1 is a full record (> one 64 KiB header window, so it is
    // emitted before the reader touches the poison); member 2 has its
    // deflate body corrupted -> the gzip stream throws mid-blob
    val m1 = memberOf(recBytes("conversion", "http://partial",
      Array.fill[Byte](100 << 10)('x'.toByte)))
    val m2 = memberOf(recBytes("conversion", "http://lost", "never seen".getBytes("ISO-8859-1")))
    (10 until m2.length - 8).foreach(i => m2(i) = 0x55.toByte)
    Files.write(Paths.get(dir, "bad.warc.gz"), m1 ++ m2)

    val docs = WarcCodec.documents(spark, dir).select("url").as[String].collect().toSet
    assert(docs === Set("http://good", "http://partial"),
      "records parsed before the poison must survive; the good blob is untouched")
    val q = WarcCodec.quarantined(spark, dir).as[(String, String)].collect()
    assert(q.length === 1 && q.head._1.endsWith("bad.warc.gz"),
      s"exactly the poisoned blob must dead-letter, got: ${q.toSeq}")
    assert(q.head._2.nonEmpty)
  }
}
