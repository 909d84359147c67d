package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, EOFException, InputStream, PushbackInputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, Inflater}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500 web-archive, the CommonCrawl container) record
  * reader — the canonical ingestion path of a web-scale training-data
  * pipeline: WARC bytes -> (url, date, type, http content-type,
  * payload body) records, executor side, one pass per blob.
  *
  * Format: each record is a "WARC/1.x\r\n" version line, CRLF-separated
  * `Name: value` headers, CRLF CRLF, exactly Content-Length payload
  * bytes.
  *
  * The reader is FULLY STREAMING: records come off an incremental
  * [[RecordIterator]] over a (gzip-transparent) InputStream, so the
  * only bytes ever live at once are a 64 KiB header window plus ONE
  * record's payload — a real CommonCrawl member (~1 GB compressed,
  * ~4-5 GB decompressed) parses in bounded memory, where a whole-blob
  * materialization would hit the JVM 2 GiB array cap before it hit the
  * heap. Reference analog: the blob-handling contract of
  * `s3_storage.py:25-38` scaled to archive-file inputs.
  *
  * Robustness posture (a poisoned record must cost ITSELF, not its
  * blob, and never a task):
  *  - gzip blobs (.warc.gz, the actual CommonCrawl distribution)
  *    transparently decompress — JDK GZIPInputStream consumes the
  *    member-per-record concatenation CommonCrawl uses;
  *  - header blocks parse within a bounded window (64 KiB), so a
  *    payload with no terminator cannot make parsing quadratic;
  *  - Content-Length is validated (negative/unparsable lengths skip the
  *    record; a declared length past [[MaxRecordBytes]] streams PAST the
  *    payload without materializing it);
  *  - a malformed record RESYNCS to the next "WARC/" boundary instead
  *    of discarding the rest of the blob; only a truncated TRAILING
  *    record is dropped outright;
  *  - a blob whose stream FAILS mid-read (gzip corruption, IO error)
  *    keeps the records parsed so far and surfaces one explicit
  *    dead-letter row (the [[quarantined]] relation — the DLQ
  *    convention of `streaming/QueuePipeline`);
  *  - response records carry the full HTTP message: the envelope
  *    (status line + headers) is split off, exposing the declared
  *    Content-Type and the bare body.
  */
object WarcCodec {

  final case class WarcRecord(url: String, date: String, warcType: String,
                              contentType: String, body: Array[Byte])

  /** One parsed-or-failed blob row — the raw ingestion relation with an
    * explicit error channel. `blob_error == null` means a good record.
    */
  final case class RawDoc(path: String, url: String, date: String,
                          html: String, blob_error: String)

  private val HeaderWindow = 64 * 1024
  private val Marker = "WARC/".getBytes(StandardCharsets.ISO_8859_1)

  /** Per-record materialization cap. A record declaring more payload
    * than this is skipped by STREAMING past its bytes — never
    * allocated. CommonCrawl truncates stored payloads at 1 MiB, so
    * 64 MiB is pure headroom; raise per-call for exotic archives.
    */
  val MaxRecordBytes: Int = 64 << 20

  /** Gzip-transparent wrap: sniff the 2-byte magic, never consume
    * non-gzip bytes.
    */
  private def maybeGunzip(raw: InputStream): InputStream = {
    val pb = new PushbackInputStream(raw, 2)
    val b0 = pb.read()
    val b1 = pb.read()
    if (b1 >= 0) pb.unread(b1)
    if (b0 >= 0) pb.unread(b0)
    if (b0 == 0x1F && b1 == 0x8B) new GZIPInputStream(pb, 1 << 16) else pb
  }

  /** Split an HTTP message into (declared content-type, body). A
    * payload that does not start with an HTTP status line passes
    * through whole (conversion records, raw captures).
    */
  private def stripHttpEnvelope(payload: String): (String, String) =
    if (!payload.startsWith("HTTP/")) ("", payload)
    else {
      // first CRLFCRLF or LFLF, whichever comes first, within the window
      val window = math.min(payload.length, HeaderWindow)
      var he = -1; var sep = 0
      var i = 0
      while (he < 0 && i < window - 1) {
        if (payload.charAt(i) == '\n') {
          if (payload.charAt(i + 1) == '\n') { he = i; sep = 2 }
          else if (i + 2 < window && payload.charAt(i + 1) == '\r' &&
            payload.charAt(i + 2) == '\n') { he = i; sep = 3 }
        }
        i += 1
      }
      if (he < 0) ("", payload) // headers never terminate: keep bytes
      else {
        val ct = """(?im)^content-type:\s*([^;\r\n]+)""".r
          .findFirstMatchIn(payload.substring(0, he))
          .map(_.group(1).trim.toLowerCase).getOrElse("")
        (ct, payload.substring(he + sep))
      }
    }

  /** Incremental record parser: one record's bytes live at a time.
    * Closes the stream when exhausted (an abandoned iterator leaks the
    * stream until GC — acceptable for the mapPartitions use where every
    * iterator drains).
    */
  final class RecordIterator(raw: InputStream,
                             maxRecordBytes: Int = MaxRecordBytes)
      extends Iterator[WarcRecord] {
    private val in = new BufferedInputStream(maybeGunzip(raw), 1 << 16)
    private val buf = new Array[Byte](HeaderWindow)
    private var have = 0 // valid bytes in buf[0, have)
    private var eof = false
    private var done = false
    private var pending: WarcRecord = null

    private def fill(): Unit =
      while (!eof && have < buf.length) {
        val n = in.read(buf, have, buf.length - have)
        if (n < 0) eof = true else have += n
      }

    private def consume(n: Int): Unit = {
      val k = math.min(n, have)
      System.arraycopy(buf, k, buf, 0, have - k)
      have -= k
    }

    private def markerIndex(): Int = {
      var i = 0
      while (i + Marker.length <= have) {
        var j = 0
        while (j < Marker.length && buf(i + j) == Marker(j)) j += 1
        if (j == Marker.length) return i
        i += 1
      }
      -1
    }

    /** (endIndex, separatorLength) of the first LFLF or LF-CR-LF in
      * buf[0, limit) — the bounded header-block terminator scan.
      */
    private def headerEnd(limit: Int): Option[(Int, Int)] = {
      var i = 0
      while (i < limit - 1) {
        if (buf(i) == '\n') {
          if (buf(i + 1) == '\n') return Some((i, 2))
          if (i + 2 < limit && buf(i + 1) == '\r' && buf(i + 2) == '\n')
            return Some((i, 3))
        }
        i += 1
      }
      None
    }

    private def readFully(dst: Array[Byte], off0: Int): Boolean = {
      var off = off0
      while (off < dst.length) {
        val n = in.read(dst, off, dst.length - off)
        if (n < 0) return false
        off += n
      }
      true
    }

    /** Stream past `n` payload bytes without materializing them. */
    private def skipPayload(n: Long): Boolean = {
      val fromBuf = math.min(n, have.toLong).toInt
      consume(fromBuf)
      var left = n - fromBuf
      while (left > 0) {
        val s = in.skip(left)
        if (s > 0) left -= s
        else if (in.read() < 0) return false
        else left -= 1
      }
      true
    }

    private def finish(): Unit = {
      done = true
      try in.close() catch { case NonFatal(_) => () }
    }

    private def advance(): WarcRecord = {
      while (!done) {
        fill()
        val m = markerIndex()
        if (m < 0) {
          if (eof) { finish(); return null }
          consume(have - (Marker.length - 1)) // keep a straddling-marker tail
        } else {
          consume(m) // record start now at 0
          fill()
          headerEnd(math.min(have, HeaderWindow)) match {
            case None =>
              // unterminated header block within the window (or trailing
              // garbage at EOF): resync past this marker only
              consume(Marker.length)
            case Some((he, sep)) =>
              val headers = new String(buf, 0, he, StandardCharsets.ISO_8859_1)
                .split("\r?\n").toSeq.drop(1)
                .flatMap { line =>
                  val c = line.indexOf(':')
                  if (c <= 0) None
                  else Some(line.substring(0, c).trim.toLowerCase ->
                    line.substring(c + 1).trim)
                }.toMap
              val payloadStart = he + sep
              headers.get("content-length").flatMap(_.toLongOption) match {
                case Some(len) if len >= 0 && len <= maxRecordBytes =>
                  val body = new Array[Byte](len.toInt)
                  val inBuf = math.min((have - payloadStart).toLong, len).toInt
                  System.arraycopy(buf, payloadStart, body, 0, inBuf)
                  consume(payloadStart + inBuf)
                  if (!readFully(body, inBuf)) {
                    // a plausible length with the bytes missing is a
                    // truncated TRAILING payload: dropped, never guessed
                    finish(); return null
                  }
                  val (ct, bare) = stripHttpEnvelope(
                    new String(body, StandardCharsets.ISO_8859_1))
                  return WarcRecord(
                    url = headers.getOrElse("warc-target-uri", ""),
                    date = headers.getOrElse("warc-date", ""),
                    warcType = headers.getOrElse("warc-type", ""),
                    contentType = ct,
                    body = bare.getBytes(StandardCharsets.ISO_8859_1))
                case Some(len) if len > maxRecordBytes =>
                  // oversized record: costs itself, not the heap
                  consume(payloadStart)
                  if (!skipPayload(len)) { finish(); return null }
                case _ =>
                  // negative or unparsable Content-Length: this record only
                  consume(Marker.length)
              }
          }
        }
      }
      null
    }

    override def hasNext: Boolean = {
      if (pending == null && !done) pending = advance()
      pending != null
    }

    override def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException("WARC iterator drained")
      val r = pending; pending = null; r
    }
  }

  /** Parse every well-formed record in one in-memory WARC blob
    * (gzip-transparent) — the bounded-input convenience surface; the
    * scale path is [[RecordIterator]] over a real stream.
    */
  def records(bytes: Array[Byte]): Seq[WarcRecord] =
    new RecordIterator(new ByteArrayInputStream(bytes)).toSeq

  // --------------------------------------------------------------------
  // Gzip member boundaries — CommonCrawl writes ONE gzip member per
  // record, so member offsets are safe split points: a reader can start
  // mid-file at any member boundary. Walking the members requires
  // inflating (the deflate stream has no length prefix), but the output
  // is discarded — bounded memory, one planning pass.
  // --------------------------------------------------------------------

  /** Byte offsets of each gzip member start in a concatenated .gz blob.
    * A non-gzip stream yields Seq(0): one unsplittable pseudo-member.
    */
  def gzipMemberOffsets(raw: InputStream): Seq[Long] = {
    val in = new BufferedInputStream(raw, 1 << 16)
    val buf = new Array[Byte](1 << 16)
    var bOff = 0; var bLen = 0; var pos = 0L
    def refill(): Boolean =
      bOff < bLen || {
        bOff = 0
        bLen = in.read(buf)
        if (bLen < 0) { bLen = 0; false } else bLen > 0 || refill()
      }
    def u8(): Int = {
      if (!refill()) throw new EOFException(s"truncated gzip member at $pos")
      val b = buf(bOff) & 0xFF; bOff += 1; pos += 1; b
    }
    def skipN(n: Int): Unit = { var i = 0; while (i < n) { u8(); i += 1 } }
    def skipZeroTerminated(): Unit = while (u8() != 0) ()

    if (!refill()) return Seq.empty
    if ((buf(bOff) & 0xFF) != 0x1F) return Seq(0L) // plain blob: whole-file range

    val out = Seq.newBuilder[Long]
    var scanning = true
    while (scanning) {
      out += pos
      val m1 = u8(); val m2 = u8()
      if (m1 != 0x1F || m2 != 0x8B)
        throw new EOFException(f"not a gzip member at offset ${pos - 2}")
      if (u8() != 8) throw new EOFException("unsupported gzip compression method")
      val flg = u8()
      skipN(6) // MTIME(4) XFL OS
      if ((flg & 0x04) != 0) { val xl = u8() | (u8() << 8); skipN(xl) } // FEXTRA
      if ((flg & 0x08) != 0) skipZeroTerminated() // FNAME
      if ((flg & 0x10) != 0) skipZeroTerminated() // FCOMMENT
      if ((flg & 0x02) != 0) skipN(2) // FHCRC
      // walk the raw-deflate body, discarding output, to find its end
      val inf = new Inflater(true)
      val sink = new Array[Byte](1 << 16)
      try {
        var setLen = 0
        while (!inf.finished()) {
          if (inf.needsInput()) {
            bOff += setLen; pos += setLen // previous window fully consumed
            if (!refill()) throw new EOFException(s"truncated deflate stream at $pos")
            setLen = bLen - bOff
            inf.setInput(buf, bOff, setLen)
          }
          inf.inflate(sink)
        }
        val consumed = setLen - inf.getRemaining
        bOff += consumed; pos += consumed
      } finally inf.end()
      skipN(8) // CRC32 + ISIZE trailer
      scanning = refill() // clean EOF only ever lands on a member boundary
    }
    out.result()
  }

  private final class BoundedIn(in: InputStream, private var left: Long)
      extends InputStream {
    override def read(): Int =
      if (left <= 0) -1
      else { val b = in.read(); if (b >= 0) left -= 1; b }
    override def read(b: Array[Byte], off: Int, n: Int): Int =
      if (left <= 0) -1
      else {
        val got = in.read(b, off, math.min(n.toLong, left).toInt)
        if (got > 0) left -= got
        got
      }
    override def close(): Unit = in.close()
  }

  /** Records from the compressed byte range [start, end) of one blob.
    * `start` and `end` MUST be gzip member boundaries (from
    * [[gzipMemberOffsets]]) or 0/fileLength — two tasks given adjacent
    * ranges parse DISJOINT record sets whose union is the whole blob.
    */
  def recordsInRange(open: () => InputStream, start: Long, end: Long,
                     maxRecordBytes: Int = MaxRecordBytes): Iterator[WarcRecord] = {
    val raw = open()
    var toSkip = start
    while (toSkip > 0) {
      val s = raw.skip(toSkip)
      if (s > 0) toSkip -= s
      else if (raw.read() < 0) throw new EOFException(s"range start $start past EOF")
      else toSkip -= 1
    }
    new RecordIterator(new BoundedIn(raw, end - start), maxRecordBytes)
  }

  // --------------------------------------------------------------------
  // Distributed document extraction
  // --------------------------------------------------------------------

  private def keepAsDoc(r: WarcRecord): Boolean =
    r.warcType.equalsIgnoreCase("conversion") ||
      (r.warcType.equalsIgnoreCase("response") &&
        (r.contentType.isEmpty || r.contentType.startsWith("text/") ||
          r.contentType.contains("html") || r.contentType.contains("xml")))

  /** Executor-side Hadoop conf rebuilt from broadcast driver entries, so
    * scheme-specific settings (credentials, endpoints) survive the ship.
    */
  private def hadoopConfEntries(spark: SparkSession): Array[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val b = Array.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  private def confFrom(entries: Array[(String, String)]): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def openPath(path: String, conf: Configuration): InputStream = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).open(p)
  }

  /** Per-blob fault isolation: records parsed before a mid-stream
    * failure survive, and the failure itself becomes ONE RawDoc row
    * with `blob_error` set — never a task death.
    */
  private def blobDocs(path: String,
                       mk: () => Iterator[WarcRecord]): Iterator[RawDoc] =
    new Iterator[RawDoc] {
      private var it: Iterator[WarcRecord] = null
      private var pendingDoc: RawDoc = null
      private var finished = false
      override def hasNext: Boolean = {
        if (pendingDoc != null) return true
        if (finished) return false
        try {
          if (it == null) it = mk()
          while (pendingDoc == null && it.hasNext) {
            val r = it.next()
            if (keepAsDoc(r))
              pendingDoc = RawDoc(path, r.url, r.date,
                new String(r.body, StandardCharsets.UTF_8), null)
          }
          if (pendingDoc == null) finished = true
        } catch {
          case NonFatal(e) =>
            finished = true
            pendingDoc = RawDoc(path, null, null, null,
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        pendingDoc != null
      }
      override def next(): RawDoc = {
        if (!hasNext) throw new NoSuchElementException
        val d = pendingDoc; pendingDoc = null; d
      }
    }

  /** The raw ingestion relation over a directory of WARC blobs: one row
    * per kept record plus one error row per failed blob. Fully
    * distributed and fully streaming — the binaryFile scan reads ONLY
    * the path column (no content materialization); each task then opens
    * its blobs through the Hadoop filesystem and drains a
    * [[RecordIterator]], so peak memory per task is one record.
    */
  def rawDocuments(spark: SparkSession, dir: String): Dataset[RawDoc] = {
    import spark.implicits._
    rawDocumentsForPaths(spark,
      spark.read.format("binaryFile").load(dir).select(col("path")).as[String])
  }

  /** Same, over an explicit path relation — the streaming ingest hands
    * each micro-batch's newly-arrived blob paths here, so batch and
    * stream share one record-extraction code path.
    */
  def rawDocumentsForPaths(spark: SparkSession,
                           paths: Dataset[String]): Dataset[RawDoc] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(hadoopConfEntries(spark))
    paths.mapPartitions { ps =>
      val conf = confFrom(bc.value)
      ps.flatMap(p =>
        blobDocs(p, () => new RecordIterator(openPath(p, conf))))
    }
  }

  /** [[documents]] over an already-materialized raw relation — lets a
    * composed job ([[graft.CorpusPipeline]]) scan the WARC blobs once
    * and derive both the document and dead-letter sides from it.
    */
  def documentsFromRaw(raw: DataFrame): DataFrame =
    raw.filter(col("blob_error").isNull)
      .select(
        // to_json(struct(...)), not concat_ws: unseparated concatenation
        // has field-boundary collisions (url="a",date="bc" vs url="ab",
        // date="c") and concat_ws drops NULLs (null url = "" url), and
        // dropDuplicates below turns any such collision into silent
        // record loss — JSON framing makes the hash injective in the
        // three fields.
        md5(to_json(struct(col("url"), col("date"), col("html")))).as("doc_id"),
        col("url"), col("date"),
        graft.operators.TextAnalysis.htmlToText(col("html")).as("text"))
      // doc_id is content-addressed: byte-identical records ARE the same
      // document, and letting them through as duplicate doc_ids fans out
      // quadratically in every doc_id-keyed curation join downstream
      // (feats x rep = 2x2 rows per dup pair). Batch-scoped shuffle.
      .dropDuplicates("doc_id")

  /** (doc_id, url, date, text) over a directory of WARC blobs:
    * response records with a textual (or undeclared) content type, plus
    * conversion records, HTML reduced to text via
    * [[graft.operators.TextAnalysis.htmlToText]]. Binary resources
    * (images, PDFs) never enter the corpus as mojibake. doc_id is a
    * 128-bit md5 content hash — collision-safe at web scale where a
    * 64-bit hash meets the birthday bound — and (url, date) ride along
    * as the natural key. Failed blobs are EXCLUDED here; read them from
    * [[quarantined]].
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    documentsFromRaw(rawDocuments(spark, dir).toDF())

  /** The dead-letter relation: (path, blob_error), one row per blob
    * whose stream failed mid-read. A poisoned blob costs its own
    * remaining records, never the corpus load.
    */
  def quarantined(spark: SparkSession, dir: String): DataFrame =
    rawDocuments(spark, dir).filter(col("blob_error").isNotNull)
      .select(col("path"), col("blob_error"))

  /** Range plan for one blob: one whole-file range when it's small (or
    * unsplittable), else consecutive gzip members greedy-packed into
    * ~target compressed bytes. A PLANNING failure — corrupt gzip during
    * the member walk, a vanished file — falls back to ONE whole-file
    * range, so the parse pass surfaces the real error as a dead-letter
    * row instead of the planning task dying (the per-blob isolation
    * contract of [[blobDocs]] extended to the fan-out planner).
    */
  private def planRanges(p: String, flenOpt: Option[Long], target: Long,
                         conf: Configuration): Iterator[(String, Long, Long)] =
    try {
      val flen = flenOpt.getOrElse {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).getFileStatus(hp).getLen
      }
      if (flen <= target) Iterator((p, 0L, flen))
      else splitRanges(p, flen, target, conf)
    } catch {
      case NonFatal(_) => Iterator((p, 0L, Long.MaxValue))
    }

  /** Parse pass over an explicit (path, start, end) range relation:
    * re-shuffles the ranges (the whole point of the split is that one
    * blob's members land on MANY tasks) and drains [[recordsInRange]]
    * per range with per-range fault isolation.
    */
  private def rawDocumentsForRanges(
      spark: SparkSession, bc: org.apache.spark.broadcast.Broadcast[Array[(String, String)]],
      ranges: Dataset[(String, Long, Long)]): Dataset[RawDoc] = {
    import spark.implicits._
    ranges.toDF("path", "start", "end")
      .repartition(col("path"), col("start"))
      .as[(String, Long, Long)]
      .mapPartitions { rs =>
        val conf = confFrom(bc.value)
        rs.flatMap { case (p, s, e) =>
          blobDocs(p, () => recordsInRange(() => openPath(p, conf), s, e))
        }
      }
  }

  /** [[documents]] with oversized blobs SPLIT across tasks at gzip
    * member boundaries — the fan-out a 1 GB CommonCrawl member needs so
    * one task is never a straggler (the per-unit fan-out contract of
    * `release_batcher.py:14-46`, applied to archive bytes). Pass 1
    * walks each oversized blob's members (distributed, bounded memory)
    * and greedy-packs consecutive members into ~targetSplitBytes
    * compressed ranges; pass 2 re-shuffles the ranges and parses each
    * with [[recordsInRange]].
    */
  def documentsSharded(spark: SparkSession, dir: String,
                       targetSplitBytes: Long = 128L << 20): DataFrame = {
    import spark.implicits._
    require(targetSplitBytes > 0, "targetSplitBytes must be positive")
    val bc = spark.sparkContext.broadcast(hadoopConfEntries(spark))
    val ranges = spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("length")).as[(String, Long)]
      .mapPartitions { files =>
        val conf = confFrom(bc.value)
        files.flatMap { case (p, flen) =>
          planRanges(p, Some(flen), targetSplitBytes, conf)
        }
      }
    documentsFromRaw(rawDocumentsForRanges(spark, bc, ranges).toDF())
  }

  /** [[rawDocumentsForPaths]] with the same oversized-blob fan-out as
    * [[documentsSharded]] — the streaming-ingest entry point: a
    * micro-batch hands newly-arrived blob PATHS (the file-source
    * projection carries no length), so pass 1 also fetches each blob's
    * length (one filesystem status call per blob, executor side) before
    * walking members. A blob at or under targetSplitBytes costs exactly
    * that one status call over the unsharded path.
    */
  def rawDocumentsForPathsSharded(spark: SparkSession, paths: Dataset[String],
                                  targetSplitBytes: Long = 128L << 20): Dataset[RawDoc] = {
    import spark.implicits._
    require(targetSplitBytes > 0, "targetSplitBytes must be positive")
    val bc = spark.sparkContext.broadcast(hadoopConfEntries(spark))
    val ranges = paths.mapPartitions { ps =>
      val conf = confFrom(bc.value)
      ps.flatMap(p => planRanges(p, None, targetSplitBytes, conf))
    }
    rawDocumentsForRanges(spark, bc, ranges)
  }

  private def splitRanges(path: String, flen: Long, target: Long,
                          conf: Configuration): Iterator[(String, Long, Long)] = {
    val offs = {
      val in = openPath(path, conf)
      try gzipMemberOffsets(in) finally in.close()
    }
    if (offs.length <= 1) Iterator((path, 0L, flen))
    else {
      val bounds = offs :+ flen
      val b = Seq.newBuilder[(String, Long, Long)]
      var start = 0L
      var i = 1
      while (i < bounds.length) {
        if (bounds(i) - start >= target || i == bounds.length - 1) {
          b += ((path, start, bounds(i)))
          start = bounds(i)
        }
        i += 1
      }
      b.result().iterator
    }
  }
}
