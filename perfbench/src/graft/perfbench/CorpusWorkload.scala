package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CorpusPipeline
import graft.operators.{Components, Contamination, CurationQueries, Dedup,
  PackingQueries, ParagraphOps, TextAnalysis}
import graft.sources.WarcCodec

/** Seeded WARC corpus with counted plants: every curation stage has a
  * known number of documents it must drop, so the pipeline's ledger is
  * predicted exactly. Base documents are English prose built to pass
  * every gate with margin.
  */
object WarcGen {

  final case class Plants(base: Int, recrawl: Int, blocked: Int, foreign: Int,
                          symbol: Int, looped: Int, hyphen: Int, exact: Int,
                          mojibake: Int, near: Int, contaminated: Int, pii: Int,
                          boilerplatePairs: Int) {
    /** The ledger CorpusPipeline.run must report. The poisoned blob adds
      * one parseable filler record (dropped by the Gopher stopword rule)
      * and one dead-lettered blob.
      */
    def expected: Map[String, Long] = {
      val ingested = base + recrawl + blocked + foreign + symbol + looped + hyphen +
        exact + mojibake + near + contaminated + 1
      val url = ingested - recrawl - blocked
      val lang = url - foreign
      val gopher = lang - symbol - 1
      val rep = gopher - looped
      val qual = rep - hyphen
      val exactD = qual - exact - mojibake
      val nearD = exactD - near
      Map("ingested" -> ingested, "quarantined_blobs" -> 1, "kept_url" -> url,
        "kept_language" -> lang, "kept_gopher" -> gopher, "kept_repetition" -> rep,
        "kept_quality" -> qual, "after_exact_dedup" -> exactD,
        "after_near_dedup" -> nearD, "after_para_dedup" -> nearD,
        "after_decontamination" -> (nearD - contaminated)).map { case (k, v) => k -> v.toLong }
    }
  }

  final case class Corpus(files: Seq[(String, Array[Byte])], heldOut: Seq[(String, String)],
                          plants: Plants, emails: Seq[String], boilerplate: Seq[String])

  private val Stops = Seq("the", "a", "of", "and", "is")
  private val Words = ("river mountain garden window harbor market village teacher " +
    "student library station kitchen bridge forest meadow valley engine signal " +
    "painter farmer doctor captain museum theater castle island desert canyon " +
    "lantern candle pocket basket ladder mirror pillow blanket hammer needle " +
    "bright quiet ancient gentle narrow hollow golden silver rapid steady " +
    "careful clever curious eager honest humble modern rural sturdy tender " +
    "carries builds follows gathers guards opens paints plants repairs shares " +
    "watches writes counts crosses drives lifts measures mends sorts trims " +
    "morning evening winter summer autumn spring harvest journey lesson letter " +
    "parcel ribbon saddle timber marble copper velvet cotton linen walnut " +
    "orchard pasture quarry cellar attic balcony corridor chimney fountain " +
    "compass anchor beacon feather thimble whistle kettle lattice mosaic").split(" ").toSeq
  private val Accented = Seq("café", "naïve", "piñata", "jalapeño", "fiancée", "entrée")
  private val Spanish = ("el la de que es perro casa grande corre muy bonito " +
    "ciudad tiempo mundo agua noche").split(" ").toSeq

  /** ~50 words of English prose, no symbols, no repeated long n-grams. */
  private def prose(r: Random, words: Int = 50): String = {
    val out = mutable.ArrayBuffer.empty[String]
    while (out.length < words) {
      out += Stops(r.nextInt(Stops.length))
      out += Words(r.nextInt(Words.length))
      out += Words(r.nextInt(Words.length))
      if (r.nextBoolean()) out += Words(r.nextInt(Words.length))
    }
    out.take(words).mkString(" ")
  }

  private def record(uri: String, payload: Array[Byte]): Array[Byte] =
    (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: ${payload.length}\r\n\r\n")
      .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")

  private def gzipMember(b: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(o)
    g.write(b); g.close()
    o.toByteArray
  }

  def generate(seed: Long, base: Int, files: Int): Corpus = {
    val r = new Random(seed)
    // fixed plant counts: the seed moves content, not the amount of work
    val p = Plants(base = base, recrawl = 4, blocked = 3, foreign = 3, symbol = 3, looped = 3,
      hyphen = 3, exact = 4, mojibake = 3, near = 4, contaminated = 3, pii = 4,
      boilerplatePairs = 3)
    val docs = mutable.ArrayBuffer.empty[(String, String)]
    var n = 0
    def url(host: String = "news.example"): String = { n += 1; s"http://$host/a/$n" }
    // base documents; the first few carry accented words (mojibake
    // sources), PII and boilerplate openings
    val boiler = (0 until p.boilerplatePairs).map(_ => prose(r, 8))
    val emails = (0 until p.pii).map(i => s"user${r.nextInt(9000) + 1000}.$i@mail.example")
    val baseTexts = (0 until base).map { i =>
      val t = prose(r)
      if (i < p.mojibake) s"the ${Accented(i % Accented.length)} menu $t"
      else if (i < p.mojibake + p.pii) s"$t and write to ${emails(i - p.mojibake)} today"
      else if (i < p.mojibake + p.pii + 2 * p.boilerplatePairs)
        s"${boiler((i - p.mojibake - p.pii) / 2)} $t"
      else t
    }
    val baseUrls = baseTexts.map(t => url() -> t)
    docs ++= baseUrls
    // plants, each drawn from base documents no other plant uses
    val pool = r.shuffle((p.mojibake + p.pii + 2 * p.boilerplatePairs until base).toList).iterator
    (0 until p.recrawl).foreach { _ =>
      val (u, t) = baseUrls(pool.next()); docs += (s"$u?utm_source=feed&utm_medium=rss" -> t)
    }
    (0 until p.blocked).foreach(_ => docs += (url("spam.example") -> prose(r)))
    (0 until p.foreign).foreach { _ =>
      docs += (url() -> (0 until 14).map(_ => Spanish(r.nextInt(Spanish.length))).mkString(" "))
    }
    (0 until p.symbol).foreach { _ =>
      docs += (url() -> (s"the ${prose(r, 8)} and the price is higher " +
        Seq("###", "##", "!!", "??", "%%", "$$").mkString(" ")))
    }
    (0 until p.looped).foreach { _ =>
      val block = (0 until 8).map(_ => Words(r.nextInt(Words.length))).mkString(" ")
      docs += (url() -> s"$block $block $block the story and end")
    }
    (0 until p.hyphen).foreach { _ =>
      def w = Seq.fill(3)(s"${('a' + r.nextInt(26)).toChar}${('a' + r.nextInt(26)).toChar}").mkString("-")
      docs += (url() -> s"the ${Seq.fill(13)(w).mkString(" ")} is ${Seq.fill(13)(w).mkString(" ")}")
    }
    (0 until p.exact).foreach(_ => docs += (url() -> baseUrls(pool.next())._2))
    (0 until p.mojibake).foreach { i =>
      docs += (url() -> new String(baseTexts(i).getBytes("UTF-8"), "ISO-8859-1"))
    }
    (0 until p.near).foreach { _ =>
      val t = baseUrls(pool.next())._2
      docs += (url() -> (t.split(" ").dropRight(1) :+ "lighthouse").mkString(" "))
    }
    val heldOut = (0 until 12).map(i => s"eval$i" -> prose(r, 30))
    (0 until p.contaminated).foreach { i =>
      docs += (url() -> s"${heldOut(i)._2} ${prose(r, 8)}")
    }
    // shuffle into files; the poisoned blob holds a parseable filler
    // record followed by a corrupted gzip member
    val shuffled = r.shuffle(docs.toList)
    val per = (shuffled.length + files - 1) / files
    val warcs = shuffled.grouped(per).zipWithIndex.map { case (ds, i) =>
      f"part-$i%02d.warc" -> ds.map { case (u, t) => record(u, t.getBytes("UTF-8")) }.reduce(_ ++ _)
    }.toSeq
    val filler = gzipMember(record("http://news.example/archive",
      ("the archive keeps repeating this exact phrase " * 2000).getBytes("UTF-8")))
    val lost = gzipMember(record("http://news.example/lost", "never seen".getBytes("UTF-8")))
    (10 until lost.length - 8).foreach(i => lost(i) = 0x55.toByte)
    Corpus(warcs :+ ("poisoned.warc.gz" -> (filler ++ lost)), heldOut, p, emails, boiler)
  }
}

/** corpus_curate: CorpusPipeline.run with every leg on over a seeded
  * WARC directory and held-out eval set.
  */
object CorpusWorkload {
  val BaseDocs = 60
  /** Executions of the report query per run; the median is reported. */
  val ReportReps = 10
  val WarcFiles = 4

  val config: CorpusPipeline.Config = CorpusPipeline.Config(
    blockedHosts = Set("spam.example"), gopherRules = true, repetitionGate = true,
    encodingFix = true, splitAssign = true)

  private def ledger(rep: CorpusPipeline.Report): Map[String, Long] = Map(
    "ingested" -> rep.ingested, "quarantined_blobs" -> rep.quarantinedBlobs,
    "kept_url" -> rep.keptUrl, "kept_language" -> rep.keptLanguage,
    "kept_gopher" -> rep.keptGopher, "kept_repetition" -> rep.keptRepetition,
    "kept_quality" -> rep.keptQuality, "after_exact_dedup" -> rep.afterExactDedup,
    "after_near_dedup" -> rep.afterNearDedup, "after_para_dedup" -> rep.afterParaDedup,
    "after_decontamination" -> rep.afterDecontamination, "packs" -> rep.packs,
    "packed_tokens" -> rep.packedTokens)

  /** The read side: curated documents and tokens per host. */
  private def report(curated: DataFrame): (Long, Long) = {
    val rows = curated
      .groupBy(CurationQueries.urlHost(CurationQueries.canonicalizeUrl(col("url"))).as("host"))
      .agg(count(lit(1)).as("docs"), sum(TextAnalysis.tokenCount(col("text"))).as("tokens"))
      .collect()
    (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
  }

  private def verify(ctx: Ctx, c: WarcGen.Corpus, r: CorpusPipeline.Result,
                     reported: (Long, Long), label: String): Unit = {
    val got = ledger(r.report)
    c.plants.expected.foreach { case (k, v) =>
      ctx.check(got(k) == v, s"$label: ledger $k = ${got(k)}, plants predict $v")
    }
    ctx.score(c.plants.expected.count { case (k, v) => got(k) == v }.toLong, c.plants.expected.size.toLong)
    ctx.check(r.report.packs >= 1, s"$label: no packs")
    ctx.check(reported == ((r.report.afterDecontamination, r.report.packedTokens)),
      s"$label: curated output $reported disagrees with the ledger")
    val texts = r.curated.select("text").collect().map(_.getString(0))
    ctx.check(!texts.exists(t => c.emails.exists(t.contains)), s"$label: PII survived curation")
    ctx.check(!texts.exists(t => c.boilerplate.exists(t.contains)),
      s"$label: a corpus-duplicated paragraph survived")
    ctx.check(!texts.exists(t => c.heldOut.exists(e => t.contains(e._2))),
      s"$label: held-out eval text survived decontamination")
    ctx.check(r.splits.exists(_.count() == r.report.afterDecontamination),
      s"$label: split assignment does not cover the curated corpus")
  }

  val run: Ctx => Outcome = ctx => {
    var corpus: WarcGen.Corpus = null
    // set-up times the generation; the files are written once, untimed:
    // repeating the writes for the whole set-up window would write
    // hundreds of megabytes
    val setupS = Bench.setup { corpus = WarcGen.generate(ctx.opts.seed, BaseDocs, WarcFiles) }
    val dir = ctx.freshDir("warc")
    corpus.files.foreach { case (name, bytes) => Files.write(Paths.get(dir, name), bytes) }
    val spark = ctx.spark
    import spark.implicits._
    val heldOut = corpus.heldOut.toDF("doc_id", "text").localCheckpoint(true)
    Bench.settle()
    // the load: the cold scan of the WARC directory into documents, a
    // step of its own so that the curation runs measure warm operators
    val (scanned, loadS) = Bench.timed(WarcCodec.documentsFromRaw(WarcCodec.rawDocuments(spark, dir).toDF()).count())
    ctx.check(scanned == corpus.plants.expected("ingested"),
      s"load: scanned $scanned documents, plants predict ${corpus.plants.expected("ingested")}")
    // traced runs print no report metric: one execution serves the check
    val reportReps = if (ctx.opts.trace) 1 else ReportReps

    def once(i: Int): (Double, Double, CorpusPipeline.Result) = {
      val (r, s) = Bench.timed(CorpusPipeline.run(spark, dir, heldOut, config))
      val reports = (0 until reportReps).map(_ => Bench.timed(ctx.span("bench", "report_query")(report(r.curated))))
      verify(ctx, corpus, r, reports.head._1, s"curate $i")
      reports.tail.foreach { case (rep, _) =>
        ctx.check(rep == reports.head._1, s"curate $i: the report query's answer changed between executions")
      }
      val aux = Stats.median(reports.map(_._2))
      ctx.heap.sample() // the run's results still held
      release(r)
      (s, aux, r)
    }
    // a curation run is a batch job: every run within the measured
    // seconds is an op (at least one); traced, the one run warms the
    // process up
    val runs = Bench.loopFor(if (ctx.opts.trace) 0 else ctx.opts.seconds)(once)
    val opS = runs.map(_._1)
    val ingested = runs.head._3.report.ingested.toDouble
    val (layers, trace) =
      if (!ctx.opts.trace) (Map.empty[String, Double], Map.empty[String, Any])
      else traced(ctx, dir, heldOut, i => once(runs.length + 2 * i)._1)
    val named = mutable.LinkedHashMap[String, Any](
      "warc_scan_s" -> loadS,
      "curate_docs_per_s" -> ingested / Stats.median(opS),
      "curate_s_p50" -> Stats.median(opS), "curate_s_tail" -> Bench.tailJson(opS),
      "report_query_s_p50" -> Stats.median(runs.map(_._2)),
      "ledger" -> ledger(runs.head._3.report), "plants" -> corpus.plants.toString)
    Outcome(Bench.e2e(ctx, setupS, loadS, opS, runs.map(_._2), ctx.quality),
      named.toMap, layers, trace)
  }

  private def release(r: CorpusPipeline.Result): Unit =
    (Seq(r.curated, r.packed) ++ r.splits).foreach(graft.CheckpointBlocks.release)

  /** Traced phase: pairs of an untraced run (`untraced`, returning its
    * seconds) and a traced one. The traced iteration is the monolithic
    * run; after it, outside the iteration, its stages run one by one
    * through the same stage functions, and their outputs must equal the
    * monolithic run's.
    */
  private def traced(ctx: Ctx, dir: String, heldOut: DataFrame,
                     untraced: Int => Double): (Map[String, Double], Map[String, Any]) = {
    val spark = ctx.spark
    val cfg = config
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val pairs = Bench.loopFor(ctx.opts.seconds / 2.0) { i =>
      val plain = untraced(i)
      ctx.tracer.armed = true
      val (mono, t) = Bench.timed(ctx.span("bench", "iteration") {
        ctx.span("operators", "curate")(CorpusPipeline.run(spark, dir, heldOut, cfg))
      })
      ctx.span("bench", "replay") {
        def stage(layer: String, name: String)(f: => DataFrame): DataFrame =
          ctx.span(layer, name)(f.localCheckpoint(true))
        val raw = stage("sources", "warc_scan")(WarcCodec.rawDocuments(spark, dir).toDF())
        val docs = stage("sources", "warc_scan")(WarcCodec.documentsFromRaw(raw))
        val urlKept = stage("operators", "url_filter")(CorpusPipeline.urlFilter(docs, cfg))
        val gated = stage("operators", "gates") {
          val fixed = CorpusPipeline.fixEncoding(urlKept).localCheckpoint(true)
          CorpusPipeline.redactPii(CorpusPipeline.qualityFilter(CorpusPipeline.repetitionFilter(
            CorpusPipeline.gopherFilter(CorpusPipeline.languageFilter(fixed, cfg))), cfg))
        }
        val exact = stage("operators", "exact_dedup")(Dedup.exactKeepFirst(gated, "doc_id", "text"))
        val pairs = stage("operators", "minhash_pairs")(Dedup.minhashLshPairs(exact, "doc_id", "text",
          cfg.shingleN, cfg.numPerm, cfg.bands, cfg.nearDupThreshold))
        val canonical = stage("operators", "components")(
          Components.keepCanonical(exact, "doc_id", pairs.select(col("a"), col("b"))))
        val paraKept = stage("operators", "para_dedup") {
          canonical.select(col("doc_id"), col("url"), col("date"))
            .join(ParagraphOps.paragraphDedup(canonical, "doc_id", "text", cfg.paraWidth, cfg.paraMaxDf)
              .filter(col("n_kept") > 0).select(col("doc_id"), col("clean_text").as("text")),
              Seq("doc_id"))
        }
        val curated = stage("operators", "decontam") {
          val trainW = Contamination.tokenWindows(paraKept, "doc_id", "text", cfg.contamWindow)
          val evalW = Contamination.tokenWindows(heldOut, "doc_id", "text", cfg.contamWindow)
          paraKept.join(Contamination.decontaminationBloomFrac(trainW, evalW)
            .filter(col("bloom_frac") > cfg.maxContamFrac).select(col("id").as("doc_id")),
            Seq("doc_id"), "left_anti")
        }
        val packed = stage("operators", "pack")(
          PackingQueries.packSequencesKeyed(curated, "doc_id", "text", cfg.packBudget, cfg.packShards))
        // outside the spans: counts and the replay-equals-monolithic checks
        val sh = Dedup.shingleTable(exact, "doc_id", "text", cfg.shingleN)
        val banded = Dedup.lshBandTable(sh, cfg.numPerm, cfg.bands)
        val candidates = banded.as("x").join(banded.as("y"), col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
          .select(col("x.id"), col("y.id")).distinct().count()
        counts("warc_records") += raw.count()
        counts("lsh_candidates") += candidates
        counts("lsh_verified") += pairs.count()
        def rows(df: DataFrame, cols: String*): Seq[String] =
          df.select(cols.map(col): _*).collect().map(_.mkString("\u0001")).toSeq.sorted
        ctx.check(rows(curated, "doc_id", "text") == rows(mono.curated, "doc_id", "text"),
          s"replay $i: curated documents differ from CorpusPipeline.run")
        ctx.check(rows(packed, "doc_id", "shard", "bin") == rows(mono.packed, "doc_id", "shard", "bin"),
          s"replay $i: packing differs from CorpusPipeline.run")
        ctx.check(Seq(docs, urlKept, exact, canonical, paraKept, curated).map(_.count()) ==
          Seq(mono.report.ingested, mono.report.keptUrl, mono.report.afterExactDedup,
            mono.report.afterNearDedup, mono.report.afterParaDedup, mono.report.afterDecontamination),
          s"replay $i: stage counts differ from the ledger")
        ledger(mono.report).foreach { case (k, v) => counts(k) += v }
        (Seq(raw, docs, urlKept, gated, exact, pairs, canonical, paraKept, curated, packed))
          .foreach(graft.CheckpointBlocks.release)
        release(mono)
      }
      ctx.tracer.armed = false
      (plain, t)
    }
    val n = pairs.length.toDouble
    val spans = ctx.tracer.spans
    def spanS(name: String) = spans.filter(_.name == name).map(_.duration).sum / 1e9 / n
    val art = Layers.artifact(ctx, spans, Nil, ctx.tracer.spark.get.snapshot(spark.sparkContext),
      pairs.map(_._1), pairs.map(_._2))
    val layers = Map(
      "sources.warc_scan_s" -> spanS("warc_scan"),
      "sources.warc_records" -> counts("warc_records") / n,
      "operators.url_filter_s" -> spanS("url_filter"),
      "operators.gates_s" -> spanS("gates"),
      "operators.exact_dedup_s" -> spanS("exact_dedup"),
      "operators.minhash_pairs_s" -> spanS("minhash_pairs"),
      "operators.lsh_precision" -> counts("lsh_verified") / math.max(counts("lsh_candidates"), 1.0),
      "operators.components_s" -> spanS("components"),
      "operators.para_dedup_s" -> spanS("para_dedup"),
      "operators.decontam_s" -> spanS("decontam"),
      "operators.pack_s" -> spanS("pack")) ++
      Seq("ingested", "quarantined_blobs", "kept_url", "kept_language", "kept_gopher",
        "kept_repetition", "kept_quality", "after_exact_dedup", "after_near_dedup",
        "after_para_dedup", "after_decontamination", "packs", "packed_tokens")
        .map(k => s"operators.$k" -> counts(k) / n)
    (layers ++ art._1, art._2)
  }
}
