package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** End-to-end spec of the composed corpus pipeline: a WARC directory
  * with one representative document per curation rule (plus a poisoned
  * blob) flows through the full chain, and the corpus-level ledger is
  * asserted stage by stage — the training-data mirror of how
  * EtlPipelineSpec asserts department sums for the document-ETL chain.
  */
class CorpusPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def recBytes(uri: String, text: String): Array[Byte] =
    recRaw(uri, text.getBytes("ISO-8859-1"))

  private def recRaw(uri: String, payload: Array[Byte]): Array[Byte] =
    (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: ${payload.length}\r\n\r\n")
      .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")

  private def memberOf(b: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(o)
    g.write(b); g.close()
    o.toByteArray
  }

  test("WARC directory to packed training sequences, ledger asserted per stage") {
    val dir = Files.createTempDirectory("corpus").toString
    val evalText = "the secret eval benchmark answer is forty two exactly"
    val d1 = "the quick brown fox jumps over the lazy dog and runs in the park"
    val d2 = "the weather report says rain is coming and the wind is strong today"
    val d4 = "the weather report says rain is coming and the wind is strong tonight"
    val d8 = "please contact us at alice@example.com for more info about the " +
      "new program and its launch"
    // d9a/d9b: share their first 8-token paragraph (corpus boilerplate)
    // but diverge after — jaccard ≈ 0.37, far below the 0.7 near-dup
    // bar, so BOTH survive document dedup and only the paragraph pass
    // can deduplicate the shared opening
    val para0 = "the alpha beta gamma delta epsilon zeta eta"
    val d9a = s"$para0 the red green blue yellow purple orange pink"
    val d9b = s"$para0 the one two three four five six seven"
    val docs = Seq(
      "http://a/1" -> d1,
      "http://a/2" -> d2,
      "http://a/3" -> d1, // exact duplicate of d1 under a different URL
      "http://a/4" -> d4, // near duplicate of d2 (one trailing word)
      "http://a/5" -> (evalText + " plus more training words here"), // contaminated
      "http://a/6" -> "el perro grande corre en la casa y de que es muy bonito",
      "http://a/7" -> "$$$ ### !!!",
      "http://a/8" -> d8,
      "http://a/9a" -> d9a,
      "http://a/9b" -> d9b)
    Files.write(Paths.get(dir, "corpus.warc"),
      docs.map { case (u, t) => recBytes(u, t) }.reduce(_ ++ _))
    // poisoned blob: one big parseable record (repetitive filler, > one
    // 64 KiB header window so it is emitted before the reader touches
    // the poison), then a member with a corrupted deflate body
    val m1 = memberOf(recBytes("http://bad/partial",
      "the archive keeps repeating this exact phrase " * 2000))
    val m2 = memberOf(recBytes("http://bad/lost", "never seen"))
    (10 until m2.length - 8).foreach(i => m2(i) = 0x55.toByte)
    Files.write(Paths.get(dir, "bad.warc.gz"), m1 ++ m2)

    val heldOut = Seq(("e1", evalText)).toDF("doc_id", "text")
    val r = CorpusPipeline.run(spark, dir, heldOut)

    assert(r.report.ingested === 11, "10 corpus docs + the pre-poison record")
    assert(r.report.keptUrl === 11, "all fixture URLs are canonically distinct")
    assert(r.report.keptGopher === r.report.keptLanguage,
      "gopher gate defaults off: a pure pass-through in the ledger")
    assert(r.report.keptRepetition === r.report.keptGopher,
      "repetition gate defaults off: a pure pass-through in the ledger")
    assert(r.report.quarantinedBlobs === 1)
    assert(r.quarantined.select("path").as[String].head().endsWith("bad.warc.gz"))
    // language: the Spanish doc and the all-punctuation doc ("und") drop
    assert(r.report.keptLanguage === 9)
    // quality: the repetitive filler doc drops on rep_ratio
    assert(r.report.keptQuality === 8)
    assert(r.report.afterExactDedup === 7, "d1's verbatim copy collapses")
    assert(r.report.afterNearDedup === 6, "d2's one-word variant collapses")
    // the shared opening paragraph drops from BOTH d9 docs, but neither
    // document hollows out — the doc count is unchanged
    assert(r.report.afterParaDedup === 6)
    assert(r.report.afterDecontamination === 5, "the eval-bearing doc drops")

    val curatedTexts = r.curated.select("text").as[String].collect().toSeq
    assert(curatedTexts.exists(_.contains("<EMAIL>")) &&
      !curatedTexts.exists(_.contains("alice@example.com")),
      "PII must be redacted in the curated corpus")
    assert(!curatedTexts.exists(_.contains("secret eval benchmark")),
      "no curated document may carry held-out eval text")
    // paragraph dedup removed the shared opening from both d9 docs and
    // kept each doc's unique tail in order
    assert(!curatedTexts.exists(_.contains("alpha beta")),
      "the corpus-duplicated paragraph must be gone from every document")
    assert(curatedTexts.contains("the red green blue yellow purple orange pink") &&
      curatedTexts.contains("the one two three four five six seven"))

    // packing: every survivor fits in bin 0 of its shard, and the
    // token ledger is exact (redaction is token-count-neutral here;
    // the d9 docs pack their 8-token surviving tails)
    assert(r.report.packedTokens === 14 + 13 + 15 + 8 + 8)
    assert(r.report.packs >= 1 && r.report.packs <= 5)
    val packed = r.packed.select("doc_id", "n_tok", "bin").as[(String, Int, Long)].collect()
    assert(packed.length === 5 && packed.forall(_._3 === 0L))
  }

  test("FineWeb in one Config: every leg on, every ledger stage non-trivially exercised") {
    import graft.operators.EncodingRepair
    // THE full-recipe demonstration: URL hygiene + blocklist, language,
    // Gopher rules, Gopher repetition, encoding repair, quality, PII,
    // exact/near/paragraph dedup, decontamination, packing — all from
    // ONE Config, with a fixture doc (or blob) engineered to fall at
    // each stage so the ledger proves the legs compose without a hidden
    // ordering constraint.
    val dir = Files.createTempDirectory("corpusfull").toString
    val cfg = CorpusPipeline.Config(
      blockedHosts = Set("spam.example"),
      gopherRules = true,
      repetitionGate = true,
      encodingFix = true,
      splitAssign = true)

    // Every doc that must SURVIVE the repetition gate is ~40 words: the
    // Gopher top-n-gram thresholds are CHAR fractions, so on a short
    // doc a single occurrence of the longest 4-gram already exceeds
    // 16% — the published thresholds assume web-length documents, and
    // so does this fixture.
    val evalText = "the secret eval benchmark answer is forty two exactly as " +
      "the hidden rubric states for every graded question inside the final " +
      "assessment booklet pages"
    val dClean = "the quick brown fox jumps over the lazy dog and runs across " +
      "the sunny park while several children watch the colorful birds gather " +
      "near the quiet stone fountain by the garden gate before the evening " +
      "bells ring from the old tower"
    val dEs = "el perro grande corre en la casa y de que es muy bonito"
    // fails the Gopher symbol-word rule (6 of 16 words are symbol runs)
    // while still lang-id'ing as English
    val dGopherSym =
      "the market report and the closing price data is higher ### ## !! ?? %% $$"
    // an 8-token block repeated 3x: duplicated 5..10-grams cover most
    // characters — the repetition gate's case, invisible to the Gopher
    // length/symbol rules it passes
    val dRep = ("oak maple birch cedar willow poplar aspen elm " * 3) +
      "the story and end"
    // hyphen-dense words, exactly two stopword markers: every Gopher
    // rule passes (alpha words, symbol-free, sane lengths) but the
    // punctuation ratio zeroes the x09 quality blend's 0.3 term and the
    // big distinct-token set dilutes the stopword term ->
    // quality = 0.5*0.28 + 0 + 0.2*(2/28*10) = 0.283 < 0.3
    val dQual = {
      val ws = (0 until 26).map(i =>
        s"${('a' + i % 26).toChar}q-${('a' + (i * 3) % 26).toChar}w-${('a' + (i * 7) % 26).toChar}z")
      s"the ${ws.take(13).mkString(" ")} is ${ws.drop(13).mkString(" ")}"
    }
    val dAccent = "the café menu lists the naïve recipes and the straße " +
      "address of the old corner shop where hungry visitors order the small " +
      "almond cakes and strong black coffee before walking slowly to the " +
      "busy train station across the bright market square"
    val dMoji = EncodingRepair.mojibake(dAccent)
    val nearBase = "the weather report says heavy rain is coming and the " +
      "northern wind is strong today across the rocky coast where local " +
      "fishermen tie their small boats and wait inside the warm harbor " +
      "taverns until the morning light returns over the calm"
    val dNearA = s"$nearBase water"
    val dNearB = s"$nearBase waves"
    val dContam = evalText + " plus sixteen extra training filler words " +
      "appended after the quoted benchmark passage to keep this document " +
      "long enough"
    val dPii = "please contact us at alice@example.com for more info about " +
      "the new program and its launch while the support team answers the " +
      "common questions from the early partner group during the open " +
      "office hours on every second friday afternoon this month"
    val para0 = "the alpha beta gamma delta epsilon zeta eta"
    val tailA = "the red and green signals glow over the broad valley bridge " +
      "while tired drivers follow the long mountain road toward home under " +
      "heavy clouds that drift slowly past the tall northern peaks"
    val tailB = "the one and two numbers appear beside the faded chalk lines " +
      "while young students copy the short history notes before lunch and " +
      "later solve the printed practice sheets inside the bright classroom"
    val d9a = s"$para0 $tailA"
    val d9b = s"$para0 $tailB"

    val docs = Seq(
      "http://k/1" -> dClean,
      "http://k/1?utm_source=feed" -> dClean, // canonical-URL re-crawl
      "http://spam.example/x" -> "the spam offers and deals are cheap today for you",
      "http://k/2" -> dEs,
      "http://k/3" -> dGopherSym,
      "http://k/4" -> dRep,
      "http://k/5" -> dQual,
      "http://k/6" -> dAccent,
      "http://k/7" -> dMoji, // double-encoded re-crawl of dAccent
      "http://k/8" -> dClean, // verbatim copy under a fresh URL
      "http://k/9" -> dNearA,
      "http://k/10" -> dNearB,
      "http://k/11" -> dContam,
      "http://k/12" -> dPii,
      "http://k/13" -> d9a,
      "http://k/14" -> d9b)
    Files.write(Paths.get(dir, "corpus.warc"),
      docs.map { case (u, t) => recRaw(u, t.getBytes("UTF-8")) }.reduce(_ ++ _))
    // poisoned blob: a big parseable filler record (drops at the Gopher
    // stopword rule: 14k words, one distinct marker), then a member
    // with a corrupted deflate body -> the DLQ channel
    val m1 = memberOf(recBytes("http://bad/partial",
      "the archive keeps repeating this exact phrase " * 2000))
    val m2 = memberOf(recBytes("http://bad/lost", "never seen"))
    (10 until m2.length - 8).foreach(i => m2(i) = 0x55.toByte)
    Files.write(Paths.get(dir, "bad.warc.gz"), m1 ++ m2)

    val heldOut = Seq(("e1", evalText)).toDF("doc_id", "text")
    val r = CorpusPipeline.run(spark, dir, heldOut, cfg)

    assert(r.report.quarantinedBlobs === 1)
    assert(r.report.ingested === 17, "16 corpus docs + the pre-poison filler")
    assert(r.report.keptUrl === 15,
      "the utm re-crawl and the blocklisted host drop at the URL stage")
    assert(r.report.keptLanguage === 14, "the Spanish doc drops")
    assert(r.report.keptGopher === 12,
      "the symbol-heavy doc and the one-stopword filler drop on Gopher rules")
    assert(r.report.keptRepetition === 11, "the looped 8-gram doc drops")
    assert(r.report.keptQuality === 10, "the hyphen doc drops below quality 0.3")
    assert(r.report.afterExactDedup === 8,
      "the REPAIRED mojibake re-crawl and the verbatim copy both collapse")
    assert(r.report.afterNearDedup === 7, "the one-word variant collapses")
    assert(r.report.afterParaDedup === 7,
      "paragraph dedup trims text, never drops whole fixture docs")
    assert(r.report.afterDecontamination === 6, "the eval-bearing doc drops")

    val curatedTexts = r.curated.select("text").as[String].collect().toSeq
    assert(curatedTexts.count(_ === dAccent) === 1,
      "encoding repair must leave exactly the clean accented original")
    assert(!curatedTexts.contains(dMoji))
    assert(curatedTexts.exists(_.contains("<EMAIL>")) &&
      !curatedTexts.exists(_.contains("alice@example.com")))
    assert(!curatedTexts.exists(_.contains("secret eval benchmark")))
    assert(!curatedTexts.exists(_.contains("alpha beta")),
      "the corpus-duplicated opening paragraph is gone from both carriers")
    assert(curatedTexts.contains(tailA) && curatedTexts.contains(tailB))

    // pack conservation: every curated token lands in a pack, none
    // invented — the handoff contract of the packing stage
    val curatedTok = r.curated
      .select(graft.operators.TextAnalysis.tokenCount(col("text")).as("n"))
      .as[Int].collect().map(_.toLong).sum
    assert(r.report.packedTokens === curatedTok,
      s"packed ${r.report.packedTokens} != curated $curatedTok tokens")
    assert(r.report.packs >= 1)

    // split stage (x110n riding the recipe): total assignment over the
    // shipped docs, ledgered, and the leakage audit over the SAME pair
    // relation the stage clustered is empty on the pipeline's output
    val splits = r.splits.getOrElse(fail("splitAssign on but no splits"))
    assert(splits.count() === r.report.afterDecontamination)
    assert(r.report.splitTrain + r.report.splitVal + r.report.splitTest ===
      r.report.afterDecontamination)
    val auditPairs = graft.operators.Dedup.minhashLshPairs(r.curated,
      "doc_id", "text", cfg.shingleN, cfg.numPerm, cfg.bands,
      cfg.splitClusterThreshold)
    val straddle = auditPairs
      .join(splits.select(col("doc_id").as("a"), col("split").as("sa")), Seq("a"))
      .join(splits.select(col("doc_id").as("b"), col("split").as("sb")), Seq("b"))
      .filter(col("sa") =!= col("sb"))
    assert(straddle.count() === 0, "a near-dup pair straddles train/eval")
  }

  test("cluster split keeps a surviving [0.5, 0.7) near-dup pair in ONE split") {
    // a pair too dissimilar for the 0.7 dedup drop but similar enough
    // to leak paraphrases across splits — exactly the gap the cluster
    // key closes. 31 shared words + 9-word divergent tails: 29 of 47
    // union shingles shared, J = 0.617. paraMaxDf = 5 keeps the shared
    // prefix chunks (paragraph dedup would otherwise strip them from
    // both docs and destroy the pair before the split stage sees it).
    val dir = Files.createTempDirectory("corpussplit").toString
    val sharedWords = (1 to 14).flatMap(i => Seq("the", s"alpha$i")) ++
      Seq("and", "is", "report")
    val a = (sharedWords ++ (1 to 9).map(i => s"tailx$i")).mkString(" ")
    val b = (sharedWords ++ (1 to 9).map(i => s"taily$i")).mkString(" ")
    val c1 = "the quick brown fox jumps over the lazy dog and runs in the park"
    val c2 = "the weather report says rain is coming and the wind is strong today"
    Files.write(Paths.get(dir, "corpus.warc"), Seq(
      "http://s/1" -> a, "http://s/2" -> b,
      "http://s/3" -> c1, "http://s/4" -> c2)
      .map { case (u, t) => recBytes(u, t) }.reduce(_ ++ _))
    val heldOut = Seq(("e1", "completely unrelated benchmark material here"))
      .toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(splitAssign = true, paraMaxDf = 5)
    val r = CorpusPipeline.run(spark, dir, heldOut, cfg)
    assert(r.report.afterDecontamination === 4,
      "the J=0.617 pair must survive the 0.7 dedup")
    val splits = r.splits.get.collect()
      .map(row => row.getString(0) -> row.getString(1)).toMap
    val idOf = r.curated.select("text", "doc_id").as[(String, String)]
      .collect().toMap
    assert(splits(idOf(a)) === splits(idOf(b)),
      s"the near-dup pair split apart: ${splits(idOf(a))} vs ${splits(idOf(b))}")
    assert(splits.size === 4 && splits.values.forall(
      Set("train", "val", "test")))
  }

  // Edge-case fixture for the gate pass: every doc that must survive
  // is ~40 words (see the FineWeb test on the Gopher char fractions)
  private val gateClean = "the quick brown fox jumps over the lazy dog and " +
    "runs across the sunny park while several children watch the colorful " +
    "birds gather near the quiet stone fountain by the garden gate before " +
    "the evening bells ring from the old tower"
  private val gateAccent = "the café menu lists the naïve recipes and the " +
    "straße address of the old corner shop where hungry visitors order the " +
    "small almond cakes and strong black coffee before walking slowly to " +
    "the busy train station across the bright market square"
  private val gateDocs: Seq[(String, String)] = Seq(
    "http://g/clean" -> gateClean,
    "http://g/accent" -> gateAccent,
    "http://g/moji" -> graft.operators.EncodingRepair.mojibake(gateAccent),
    "http://g/empty" -> "",
    "http://g/one" -> "hello",
    "http://g/es" -> "el perro grande corre en la casa y de que es muy bonito",
    "http://g/sym" -> "$$$ ### !!! %%% &&& ***",
    "http://g/gophersym" ->
      "the market report and the closing price data is higher ### ## !! ?? %% $$",
    "http://g/loop" -> (("oak maple birch cedar willow poplar aspen elm " * 3) +
      "the story and end"),
    "http://g/loop2" -> ("breaking news update " +
      Seq.fill(4)("click here to subscribe now today and the rest").mkString(" ")),
    // hyphen-dense words: passes every Gopher rule, fails quality 0.3
    "http://g/hyphen" -> {
      val ws = (0 until 26).map(i => s"${('a' + i % 26).toChar}q-" +
        s"${('a' + (i * 3) % 26).toChar}w-${('a' + (i * 7) % 26).toChar}z")
      s"the ${ws.take(13).mkString(" ")} is ${ws.drop(13).mkString(" ")}"
    })
  private lazy val gateHeldOut =
    Seq(("e1", "completely unrelated benchmark material here")).toDF("doc_id", "text")

  private def gateDir(): String = {
    val dir = Files.createTempDirectory("corpusgates").toString
    Files.write(Paths.get(dir, "corpus.warc"), gateDocs.map { case (u, t) =>
      recRaw(u, t.getBytes("UTF-8"))
    }.reduce(_ ++ _))
    dir
  }

  /** The gates applied one stage function at a time, as the benchmark
    * replay runs them: the frames after URL hygiene,
    * language, Gopher, repetition and quality.
    */
  private def gatesOneAtATime(fixed: DataFrame,
                              cfg: CorpusPipeline.Config): Seq[DataFrame] = {
    val lang = CorpusPipeline.languageFilter(fixed, cfg)
    val gopher = if (cfg.gopherRules) CorpusPipeline.gopherFilter(lang) else lang
    val rep = if (cfg.repetitionGate) CorpusPipeline.repetitionFilter(gopher) else gopher
    Seq(fixed, lang, gopher, rep, CorpusPipeline.qualityFilter(rep, cfg))
  }

  /** The rest of the chain after the gates, stage by stage. */
  private def curatedOneAtATime(qualKept: DataFrame,
                                cfg: CorpusPipeline.Config): DataFrame = {
    import graft.operators.{Components, Contamination, Dedup, ParagraphOps}
    val exact = Dedup.exactKeepFirst(CorpusPipeline.redactPii(qualKept),
      "doc_id", "text").localCheckpoint(true)
    val pairs = Dedup.minhashLshPairs(exact, "doc_id", "text",
      cfg.shingleN, cfg.numPerm, cfg.bands, cfg.nearDupThreshold)
    val canonical = Components.keepCanonical(exact, "doc_id",
      pairs.select(col("a"), col("b"))).localCheckpoint(true)
    val paraKept = canonical.select(col("doc_id"), col("url"), col("date"))
      .join(ParagraphOps.paragraphDedup(canonical, "doc_id", "text",
          cfg.paraWidth, cfg.paraMaxDf)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      .localCheckpoint(true)
    val contaminated = Contamination.decontaminationBloomFrac(
        Contamination.tokenWindows(paraKept, "doc_id", "text", cfg.contamWindow),
        Contamination.tokenWindows(gateHeldOut, "doc_id", "text", cfg.contamWindow))
      .filter(col("bloom_frac") > cfg.maxContamFrac)
      .select(col("id").as("doc_id"))
    paraKept.join(contaminated, Seq("doc_id"), "left_anti")
  }

  private lazy val docsWithNull: DataFrame =
    (gateDocs.zipWithIndex.map { case ((u, t), i) => (s"d$i", u, "2026-01-01", t) } :+
      (("dnull", "http://g/null", "2026-01-01", null: String)))
      .toDF("doc_id", "url", "date", "text")

  private def ids(df: DataFrame): Set[String] =
    df.select("doc_id").as[String].collect().toSet

  // all off, all on, and each of the three switches on alone
  private val gateSwitches: Seq[CorpusPipeline.Config] =
    Seq((false, false, false), (true, true, true), (true, false, false),
      (false, true, false), (false, false, true)).map { case (g, r, e) =>
      CorpusPipeline.Config(gopherRules = g, repetitionGate = r, encodingFix = e)
    }

  test("run's gate ledger equals the stage functions applied one at a time, across Config switches and on null text") {
    val dir = gateDir()
    gateSwitches.foreach { cfg =>
      val r = CorpusPipeline.run(spark, dir, gateHeldOut, cfg)
      val urlKept = CorpusPipeline.urlFilter(
        graft.sources.WarcCodec.documents(spark, dir), cfg)
      val stages = gatesOneAtATime(
        if (cfg.encodingFix) CorpusPipeline.fixEncoding(urlKept) else urlKept, cfg)
      val label = s"gopherRules=${cfg.gopherRules} repetitionGate=" +
        s"${cfg.repetitionGate} encodingFix=${cfg.encodingFix}"
      val counts = stages.map(_.count())
      assert(Seq(r.report.keptUrl, r.report.keptLanguage, r.report.keptGopher,
          r.report.keptRepetition, r.report.keptQuality) === counts, label)
      if (cfg.gopherRules && cfg.repetitionGate)
        assert(counts.sliding(2).forall { case Seq(a, b) => b < a },
          s"every gate must drop a fixture doc: $counts")
      val curated = curatedOneAtATime(stages.last, cfg)
      assert(ids(r.curated) === ids(curated), label)
      assert(r.report.afterDecontamination === curated.count(), label)

      // null text: a WARC record cannot carry it, so this case runs
      // `gates` on a frame. "und" admits the null-text and symbol-only
      // docs past language ID, so the later gates see them; a null gate
      // predicate drops the doc, as it does under the stage functions
      val undCfg = cfg.copy(languages = Set("en", "und"))
      val fixedWithNull =
        if (cfg.encodingFix) CorpusPipeline.fixEncoding(docsWithNull) else docsWithNull
      val (kept, gateCounts) = CorpusPipeline.gates(fixedWithNull, undCfg)
      val nullStages = gatesOneAtATime(fixedWithNull, undCfg)
      assert(gateCounts === nullStages.map(_.count()), label)
      assert(ids(kept) === ids(nullStages.last), label)
      assert(!ids(kept).contains("dnull"), label)
    }
  }

  test("the stage functions are per-row filters: no join in the gate chain's plan") {
    val df = gateDocs.map { case (u, t) => (u, u, "2026-01-01", t) }
      .toDF("doc_id", "url", "date", "text")
    val cfg = CorpusPipeline.Config()
    val chain = CorpusPipeline.qualityFilter(CorpusPipeline.repetitionFilter(
      CorpusPipeline.gopherFilter(CorpusPipeline.languageFilter(df, cfg))), cfg)
    val joins = chain.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, chain.queryExecution.optimizedPlan.treeString)
  }

  test("one run with every leg on submits no more Spark jobs than pinned") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // every ledger count but `ingested` is observed on a checkpoint the
    // run already materialises; a recount (a .count() on a stage frame)
    // is one more job and trips this pin. 55 is the measured count on
    // this fixture (local[4], 4 shuffle partitions, adaptive execution
    // on).
    val maxJobs = 55
    val group = s"corpus-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(p => p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val dir = gateDir()
    val cfg = CorpusPipeline.Config(blockedHosts = Set("spam.example"),
      gopherRules = true, repetitionGate = true, encodingFix = true,
      splitAssign = true)
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "CorpusPipeline.run job pin")
      try CorpusPipeline.run(spark, dir, gateHeldOut, cfg)
      finally sc.clearJobGroup()
      // the listener bus is async: poll until the count is stable
      var last = -1
      var spins = 0
      while (jobs.get != last && spins < 50) {
        last = jobs.get; spins += 1; Thread.sleep(100)
      }
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= maxJobs, s"${jobs.get} jobs, pinned at most $maxJobs")
  }

  test("urlFilter: URL-less docs bypass canonical dedup instead of collapsing") {
    // WARC records missing warc-target-uri all surface url = "" — they
    // share canonical key "" and a keep-min dedup would silently keep
    // one of them. They must all pass through; real URLs still dedup.
    val docs = Seq(
      ("a", "http://ex.com/p?utm_a=1", "t1"),
      ("b", "http://ex.com/p", "t2"), // canonical dup of a -> one survives
      ("c", "", "t3"),
      ("d", "", "t4"),
      ("e", null, "t5")
    ).toDF("doc_id", "url", "text")
    val out = CorpusPipeline.urlFilter(docs, CorpusPipeline.Config())
      .select("doc_id").as[String].collect().toSet
    assert(out === Set("a", "c", "d", "e"),
      s"expected the min-id URL survivor plus every URL-less doc, got $out")
  }
}
