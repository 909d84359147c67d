package graft

import java.nio.file.{Files, Paths}

import graft.streaming.CorpusStream

/** Incremental corpus ingestion e2e: two ingest runs over a growing
  * WARC directory. The second run must process ONLY the new blob (file
  * checkpoint), dedup its docs against the PERSISTED corpus state \u2014
  * exact-hash store and LSH shingle index \u2014 and canonicalize in-batch
  * near-dups, with the per-batch ledger accounting for every drop.
  */
class CorpusStreamSpec extends SparkSpecBase {
  import spark.implicits._

  private def recBytes(uri: String, text: String): Array[Byte] = {
    val payload = text.getBytes("ISO-8859-1")
    (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: ${payload.length}\r\n\r\n")
      .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }

  private def writeWarc(dir: String, name: String, docs: Seq[(String, String)]): Unit =
    Files.write(Paths.get(dir, name),
      docs.map { case (u, t) => recBytes(u, t) }.reduce(_ ++ _))

  test("growing corpus: second run ingests only new blobs, dedups vs state") {
    val warcDir = Files.createTempDirectory("cswarc").toString
    val workDir = Files.createTempDirectory("cswork").toString
    val d1 = "the quick brown fox jumps over the lazy dog and runs in the park"
    val d2 = "the weather report says rain is coming and the wind is strong today"

    writeWarc(warcDir, "a.warc", Seq("http://a/1" -> d1, "http://a/2" -> d2))
    val s1 = new CorpusStream(spark, workDir)
    s1.ingest(warcDir).awaitTermination()
    assert(s1.curated.count() === 2)
    val led1 = s1.ledger.orderBy("batch_id")
      .select("ingested", "curated_in", "exact_dropped", "near_dropped", "accepted")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(led1.map(_._5).sum === 2 && led1.map(_._1).sum === 2)

    // second blob: an exact copy of d1 under a new URL, a near-dup of
    // d2 (one word), one genuinely new doc, and an in-batch near-dup
    // pair (f/f') with no counterpart in the store
    val d2near = "the weather report says rain is coming and the wind is strong tonight"
    val e = "the children play games in the garden while the sun is warm and bright"
    val f = "the library keeps many old books about the history of the ancient city walls"
    val fNear = "the library keeps many old books about the history of the ancient city gates"
    writeWarc(warcDir, "b.warc", Seq(
      "http://b/1" -> d1, "http://b/2" -> d2near, "http://b/3" -> e,
      "http://b/4" -> f, "http://b/5" -> fNear))
    // plus a poisoned blob: valid gzip magic, garbage deflate body \u2014 it
    // must dead-letter without costing b.warc's records
    Files.write(Paths.get(warcDir, "c.warc.gz"),
      Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0) ++
        Array.fill[Byte](64)(0x55))

    // a FRESH CorpusStream over the same workDir: state and checkpoint
    // both persist across restarts
    val s2 = new CorpusStream(spark, workDir)
    s2.ingest(warcDir).awaitTermination()

    val texts = s2.curated.select("text").as[String].collect().toSeq
    assert(s2.curated.count() === 4, s"curated corpus: $texts")
    assert(texts.contains(d1) && texts.contains(d2) && texts.contains(e))
    // d1's copy and d2's near-dup lost to the persisted state
    assert(texts.count(_.startsWith("the weather report")) === 1)
    assert(texts.count(_ === d1) === 1)
    // exactly ONE of the in-batch near-dup pair survives
    assert(texts.count(_.startsWith("the library keeps")) === 1)

    val q = s2.quarantined.select("path").as[String].collect().toSeq
    assert(q.length === 1 && q.head.endsWith("c.warc.gz"),
      "the poisoned blob dead-letters without costing the good blob")

    val led2 = s2.ledger.orderBy("batch_id")
      .select("ingested", "curated_in", "exact_dropped", "near_dropped", "accepted")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(led2.map(_._1).sum === 7, "both runs' ingested docs ledgered")
    assert(led2.map(_._3).sum === 1, "one exact drop (d1's copy)")
    assert(led2.map(_._4).sum === 2, "two near drops (d2near + one of f/f')")
    assert(led2.map(_._5).sum === 4)

    // both index halves grew only by the ACCEPTED docs: e and the
    // f-pair survivor from run 2, on top of run 1's two
    val bandIds = spark.read.parquet(s"$workDir/bands")
      .select("id").distinct().count()
    val arrIds = spark.read.parquet(s"$workDir/docarrs")
      .select("id").distinct().count()
    assert(bandIds === 4 && arrIds === 4,
      "index holds exactly the accepted docs")

    // third run with nothing new: a no-op batch (or none at all), state
    // unchanged \u2014 the restart-safety floor
    val s3 = new CorpusStream(spark, workDir)
    s3.ingest(warcDir).awaitTermination()
    assert(s3.curated.count() === 4)

    // compaction folds the per-batch dirs into one base per store, the
    // logical state is unchanged, and ingestion continues on top
    val before = s3.curated.select("doc_id", "content_hash")
      .as[(String, String)].collect().toSet
    s3.compact()
    val curDir = new java.io.File(s"$workDir/curated")
    assert(!curDir.listFiles().exists(_.getName.startsWith("batch=")),
      "batch dirs must fold into the base")
    assert(curDir.listFiles().exists(_.getName.startsWith("base=")))
    assert(s3.curated.select("doc_id", "content_hash")
      .as[(String, String)].collect().toSet === before)

    val g = "the mountain trail winds up through the forest and over the ridge line"
    writeWarc(warcDir, "d.warc", Seq("http://d/1" -> g))
    val s4 = new CorpusStream(spark, workDir)
    s4.ingest(warcDir).awaitTermination()
    assert(s4.curated.count() === 5, "post-compaction ingest merges base + new batches")
    // and a near-dup of an OLD (pre-compaction) doc still dedups against
    // the compacted index
    val gNear = "the mountain trail winds up through the forest and over the ridge lines"
    val d1near = d1.replace("park", "yard")
    writeWarc(warcDir, "e.warc", Seq("http://e/1" -> gNear, "http://e/2" -> d1near))
    val s5 = new CorpusStream(spark, workDir)
    s5.ingest(warcDir).awaitTermination()
    assert(s5.curated.count() === 5,
      "near-dups of compacted-index docs must still be caught")

    // crash-between-steps recovery: a below-the-mark batch dir left
    // behind by an interrupted compaction is invisible to readers and
    // reclaimed by the next compact()
    s5.compact()
    val curDir2 = new java.io.File(s"$workDir/curated")
    val mark = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(curDir2, "_compacted").toPath)).trim.toLong
    val stale = new java.io.File(curDir2, s"batch=${mark - 1}")
    s5.curated.limit(1).write.parquet(stale.getAbsolutePath)
    assert(s5.curated.count() === 5,
      "a below-the-mark batch dir must stay invisible to readers")
    s5.compact()
    assert(!stale.exists(), "the orphan sweep must reclaim the stale dir")
    assert(s5.curated.count() === 5)
  }

  /** One gzip member per record \u2014 the CommonCrawl layout, which makes
    * member boundaries safe split points.
    */
  private def gzMember(b: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(o)
    g.write(b); g.close()
    o.toByteArray
  }

  test("oversized blob fans out across record ranges inside the micro-batch") {
    val warcDir = Files.createTempDirectory("csshardw").toString
    val workDir = Files.createTempDirectory("csshardk").toString
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs in the park",
      "the weather report says rain is coming and the wind is strong today",
      "the children play games in the garden while the sun is warm and bright",
      "the library keeps many old books about the history of the ancient city",
      "the mountain trail winds up through the forest and over the ridge line",
      "the harbor lights glow softly while the boats rock gently on the tide")
    // ONE blob, one gzip member per record, far above the 64-byte split
    // target: the batch must parse it as multiple disjoint ranges
    Files.write(Paths.get(warcDir, "big.warc.gz"),
      texts.zipWithIndex.map { case (t, i) =>
        gzMember(recBytes(s"http://s/$i", t))
      }.reduce(_ ++ _))

    val s = new CorpusStream(spark, workDir, targetSplitBytes = 64L)
    s.ingest(warcDir).awaitTermination()
    assert(s.curated.count() === texts.length,
      "every record of the fanned-out blob must survive exactly once")
    assert(s.curated.select("text").as[String].collect().toSet === texts.toSet)
    val led = s.ledger.select("ingested", "accepted").as[(Long, Long)].collect()
    assert(led.map(_._1).sum === texts.length, "ledger counts stay additive across ranges")
    assert(led.map(_._2).sum === texts.length)

    // equivalence floor: the sharded ingest admits exactly what an
    // unsharded ingest of the same directory admits
    val workDir2 = Files.createTempDirectory("csshardk2").toString
    val s2 = new CorpusStream(spark, workDir2)
    s2.ingest(warcDir).awaitTermination()
    assert(s.curated.select("content_hash").as[String].collect().toSet ===
      s2.curated.select("content_hash").as[String].collect().toSet)
  }

  // a WARC record with NO WARC-Target-URI header at all (some archives
  // omit it on conversion records) \u2014 url decodes as ""
  private def recBytesNoUri(text: String,
                            date: String = "2026-01-01T00:00:00Z"): Array[Byte] = {
    val payload = text.getBytes("ISO-8859-1")
    (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
      s"WARC-Date: $date\r\nContent-Length: ${payload.length}\r\n\r\n")
      .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }

  test("URL-less WARC records survive ingest end-to-end, never collapsed by URL dedup") {
    val warcDir = Files.createTempDirectory("csnouri").toString
    val workDir = Files.createTempDirectory("csnourik").toString
    val t1 = "the quick brown fox jumps over the lazy dog and runs in the park"
    val t2 = "the weather report says rain is coming and the wind is strong today"
    // three URL-less records: two distinct texts plus a re-fetch of the
    // first at a later date \u2014 URL dedup must pass all three through
    // (empty URLs share a canonical key, and keep-min over it would
    // silently keep one), leaving the CONTENT hash stage to drop
    // exactly the re-fetch
    Files.write(Paths.get(warcDir, "nouri.warc"),
      recBytesNoUri(t1) ++ recBytesNoUri(t2) ++
        recBytesNoUri(t1, "2026-01-02T00:00:00Z"))
    val s = new CorpusStream(spark, workDir)
    s.ingest(warcDir).awaitTermination()

    val cur = s.curated.select("url", "text").as[(String, String)].collect()
    assert(cur.map(_._2).toSet === Set(t1, t2),
      s"both distinct texts must survive, got ${cur.toSeq}")
    assert(cur.forall(_._1 == ""), "URL-less docs carry an empty url")
    val led = s.ledger
      .select("ingested", "curated_in", "exact_dropped", "near_dropped", "accepted")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(led === Seq((3L, 3L, 1L, 0L, 2L)),
      s"ledger must charge the duplicate to the exact stage only, got $led")

    // a later batch: one more URL-less doc plus a re-crawl of t1 \u2014 the
    // store's content hashes still catch the cross-batch duplicate
    val t3 = "the children play games in the garden while the sun is warm and bright"
    Files.write(Paths.get(warcDir, "nouri2.warc"),
      recBytesNoUri(t3) ++ recBytesNoUri(t1))
    new CorpusStream(spark, workDir).ingest(warcDir).awaitTermination()
    val s2 = new CorpusStream(spark, workDir)
    assert(s2.curated.select("text").as[String].collect().toSet ===
      Set(t1, t2, t3))
    val led2 = s2.ledger.orderBy("batch_id")
      .select("ingested", "curated_in", "exact_dropped", "near_dropped", "accepted")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(led2.last === ((2L, 2L, 1L, 0L, 1L)),
      s"cross-batch dup must fall to the stored content hash, got $led2")
  }

  test("encoding-repair leg: a mojibake'd re-crawl dedups against the clean page") {
    import graft.operators.EncodingRepair
    // a crawl that stored text double-encoded (UTF-8 bytes mis-decoded
    // as Latin-1, re-encoded as UTF-8) \u2014 the archive-corpus classic
    def recRaw(uri: String, payload: Array[Byte]): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
        s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: ${payload.length}\r\n\r\n")
        .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
    val clean =
      "the caf\u00e9 menu lists the na\u00efve recipes and the stra\u00dfe address of the old shop"
    val moji = EncodingRepair.mojibake(clean)
    assert(moji !== clean)
    def blob(dir: String): Unit = Files.write(Paths.get(dir, "m.warc"),
      recRaw("http://m/clean", clean.getBytes("UTF-8")) ++
        recRaw("http://m/moji", moji.getBytes("UTF-8")))

    // gate ON: the mojibake'd copy repairs to byte equality BEFORE the
    // content hash, so exact dedup collapses the pair
    val warcOn = Files.createTempDirectory("cswarc-encfix").toString
    val workOn = Files.createTempDirectory("cswork-encfix").toString
    blob(warcOn)
    val sOn = new CorpusStream(spark, workOn,
      cfg = graft.CorpusPipeline.Config(encodingFix = true))
    sOn.ingest(warcOn).awaitTermination()
    val texts = sOn.curated.select("text").as[String].collect().toSeq
    assert(texts === Seq(clean),
      s"repair must restore the clean text and dedup the pair: $texts")
    val led = sOn.ledger.select("exact_dropped").as[Long].collect().sum
    assert(led === 1, "the mojibake'd copy must ledger as an exact drop")

    // gate OFF (default): the pair survives as two distinct documents \u2014
    // proving the collapse above is the repair's doing
    val warcOff = Files.createTempDirectory("cswarc-encoff").toString
    val workOff = Files.createTempDirectory("cswork-encoff").toString
    blob(warcOff)
    val sOff = new CorpusStream(spark, workOff)
    sOff.ingest(warcOff).awaitTermination()
    assert(sOff.curated.count() === 2,
      "without the gate the mojibake'd copy is a distinct document")
  }
}
