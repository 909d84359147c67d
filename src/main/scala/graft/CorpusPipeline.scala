package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Components, Contamination, CurationQueries, Dedup,
  PackingQueries, ParagraphOps, PiiQueries, TextAnalysis}
import graft.sources.WarcCodec

/** The composed training-data pipeline — the corpus-side flagship, the
  * way `streaming/EtlPipeline.work` is the document-ETL flagship (and
  * the reference's whole identity is the composed chain of
  * `main.py:86-225`). One call takes a directory of WARC blobs to
  * packed training sequences:
  *
  *   WARC -> htmlToText -> URL canonicalize/blocklist/dedup ->
  *   language filter -> Gopher rule gate (opt-in) -> Gopher repetition
  *   gate (opt-in) -> quality gates
  *   (score / repetition / length) -> PII redaction -> exact dedup ->
  *   near-dup keep-canonical (MinHash-LSH + connected components) ->
  *   paragraph-frequency dedup -> decontamination vs a held-out eval
  *   split (broadcast Bloom) -> sequence packing
  *
  * Every stage is one of the individually-declared operators (x39, x50,
  * x08, x49, x106, x09/x30, x35/x36, x01, x03/x24, x40, x38, x28) — this job
  * only composes
  * them, so the correctness of each stage is already oracle-checked;
  * the e2e spec asserts the corpus-level counts of the composition.
  *
  * Scale posture: each stage is a declarative DataFrame program whose
  * shuffles key on content hashes (never full text), the
  * decontamination probe ships a Bloom sketch of the SMALL held-out
  * side once instead of shuffling the train corpus, and packing runs
  * per-shard. Stage boundaries localCheckpoint the surviving relation
  * so the multi-consumer fan-outs do not replay the WARC scan or the
  * LSH join, and the report's stage counts are observed on those same
  * checkpoints (`Dataset.observe`) instead of recounted. The language,
  * Gopher, repetition and quality gates are per-document filters
  * chained behind one checkpoint, each observing its surviving count.
  */
object CorpusPipeline {

  /** Curation thresholds. Defaults are the C4/Gopher-family shapes
    * scaled to the synthetic corpus; every knob is a pure filter bound.
    */
  final case class Config(
      languages: Set[String] = Set("en"),
      blockedHosts: Set[String] = Set.empty,
      gopherRules: Boolean = false,
      repetitionGate: Boolean = false,
      encodingFix: Boolean = false,
      minTokens: Int = 5,
      minQuality: Double = 0.3,
      maxRepetition: Double = 0.5,
      shingleN: Int = 3,
      numPerm: Int = 32,
      bands: Int = 16,
      nearDupThreshold: Double = 0.7,
      paraWidth: Int = 8,
      paraMaxDf: Int = 1,
      contamWindow: Int = 5,
      maxContamFrac: Double = 0.2,
      packBudget: Int = 512,
      packShards: Int = 8,
      splitAssign: Boolean = false,
      splitClusterThreshold: Double = 0.5)

  /** Per-stage surviving-document counts — the corpus ledger a real
    * curation run reports (what was dropped, where, and why).
    * Each count is observed on its stage's checkpoint (raw scan, gates,
    * dedup, decontamination) or read from one aggregate (packs, tokens,
    * splits); only `ingested` costs a count of its own.
    */
  final case class Report(
      ingested: Long, quarantinedBlobs: Long, keptUrl: Long,
      keptLanguage: Long, keptGopher: Long, keptRepetition: Long,
      keptQuality: Long, afterExactDedup: Long, afterNearDedup: Long,
      afterParaDedup: Long, afterDecontamination: Long,
      packs: Long, packedTokens: Long,
      splitTrain: Long = 0L, splitVal: Long = 0L, splitTest: Long = 0L)

  /** `splits` is Some((doc_id, split)) when cfg.splitAssign is on — the
    * x110n cluster-group assignment over the pipeline's own output.
    */
  final case class Result(
      documents: DataFrame, quarantined: DataFrame, curated: DataFrame,
      packed: DataFrame, report: Report,
      splits: Option[DataFrame] = None)

  // The curation stages below are reusable single-batch transforms — the
  // streaming ingest (graft.streaming.CorpusStream) runs the same chain
  // per micro-batch, so batch and stream cannot drift.

  /** URL hygiene (x50, the CCNet front gate): canonicalize each doc's
    * URL, refuse blocklisted hosts, and keep ONE doc per canonical URL
    * (min doc_id — re-crawls of the same page differ only in tracking
    * params/fragments). Runs FIRST: dropping a re-crawl here is far
    * cheaper than letting it ride into tokenization and MinHash.
    */
  private[graft] def urlFilter(docs: DataFrame, cfg: Config): DataFrame = {
    val canon = docs.withColumn("__canon",
      CurationQueries.canonicalizeUrl(col("url")))
    val unblocked =
      if (cfg.blockedHosts.isEmpty) canon
      else canon.filter(!CurationQueries.urlHost(col("__canon"))
        .isInCollection(cfg.blockedHosts))
    // Docs without a URL (WARC records missing warc-target-uri) all
    // canonicalize to "" — keep-min over that shared key would silently
    // collapse them into one survivor, so they bypass URL dedup entirely.
    val hasUrl = col("__canon").isNotNull && col("__canon") =!= ""
    val withUrl = unblocked.filter(hasUrl)
    val keeper = withUrl.groupBy(col("__canon"))
      .agg(min(col("doc_id")).as("doc_id"))
    withUrl.join(keeper, Seq("__canon", "doc_id"), "left_semi")
      .unionByName(unblocked.filter(!hasUrl))
      .drop("__canon")
  }

  // The per-document gates filter on predicates over the `text` column.
  // Each predicate is built from the expressions of its oracle-checked
  // frame operator, so the gate and the declared query cannot drift
  // apart; doc_id is unique, so the filter keeps exactly the docs the
  // frame's pass bit keeps.

  /** Gopher rule gate (x49): integer-exact rule predicates over the
    * token counts; a doc must pass every rule. Off by default — the
    * thresholds are tuned for web prose, and callers of the synthetic
    * corpus opt in per run.
    */
  private[graft] def gopherFilter(docs: DataFrame): DataFrame =
    docs.filter(CurationQueries.gopherPass(col("text")))

  /** Gopher REPETITION gate (x106, opt-in like [[gopherFilter]]): drop
    * documents whose top-n-gram / duplicated-n-gram character fractions
    * exceed the published thresholds. Strictly stronger than the x30
    * trigram ratio in [[qualityFilter]] at catching long-range
    * boilerplate loops (repeated paragraphs duplicate 5..10-grams long
    * before they move a distinct-trigram ratio).
    */
  private[graft] def repetitionFilter(docs: DataFrame): DataFrame =
    docs.filter(CurationQueries.repetitionKeep(col("text")))

  /** Mojibake repair (x107, opt-in): rewrite the text column through
    * the guarded decode-encode roundtrip BEFORE language ID, the
    * quality features, and every content hash downstream — a
    * mojibake'd re-crawl of a clean page must repair to BYTE equality
    * so exact dedup collapses the pair; unrepairable text (real
    * Latin-1, binary junk) passes through untouched by the full-parse
    * guard. Drops nothing, so the ledger needs no new stage count.
    */
  private[graft] def fixEncoding(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      graft.operators.EncodingRepair.fixedText(col("text")))

  private[graft] def languageFilter(docs: DataFrame, cfg: Config): DataFrame =
    docs.filter(TextAnalysis.languageId(col("text")).isInCollection(cfg.languages))

  /** x09 score and length floor, then the x30 trigram repetition ratio
    * (`&&` skips the ratio for docs the first half already drops).
    */
  private[graft] def qualityFilter(docs: DataFrame, cfg: Config): DataFrame =
    docs.filter(
      element_at(transform(array(TextAnalysis.qualityFeaturesOf(col("text"))), f =>
        f.getField("n_tokens") >= cfg.minTokens &&
          f.getField("quality") >= cfg.minQuality), 1) &&
        PackingQueries.repetitionRatioOf(col("text")) <= cfg.maxRepetition)

  /** Stages 3-5 in one job: [[languageFilter]], [[gopherFilter]] (if
    * on), [[repetitionFilter]] (if on) and [[qualityFilter]] chained,
    * with the row count observed before the first gate and after each
    * one, and only the survivors checkpointed; the counts arrive with
    * that checkpoint (the optimizer pushes no filter below an
    * observation, so each count is exact). Returns the survivors and the counts: input, then
    * after language, Gopher, repetition and quality (a gate that is off
    * repeats the count before it).
    */
  private[graft] def gates(docs: DataFrame, cfg: Config): (DataFrame, Seq[Long]) = {
    def observed(df: DataFrame): (DataFrame, Observation) = {
      val o = Observation()
      (df.observe(o, count(lit(1)).as("n")), o)
    }
    val stages: Seq[Option[DataFrame => DataFrame]] = Seq(
      Some(languageFilter(_, cfg)),
      Option.when(cfg.gopherRules)(gopherFilter),
      Option.when(cfg.repetitionGate)(repetitionFilter),
      Some(qualityFilter(_, cfg)))
    val (in, inObs) = observed(docs)
    val (out, obs) = stages.foldLeft((in, Seq(inObs))) {
      case ((df, os), Some(stage)) =>
        val (next, o) = observed(stage(df))
        (next, os :+ o)
      case ((df, os), None) => (df, os :+ os.last)
    }
    val kept = out.localCheckpoint(true)
    (kept, obs.map(_.get("n").asInstanceOf[Long]))
  }

  private[graft] def redactPii(docs: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    // NFC canonicalization rides the same projection: composed vs
    // decomposed encodings of equal text must not dodge the content
    // hashes every dedup stage downstream keys on (x44; isNormalized
    // fast path makes this free on already-canonical corpora)
    docs.select(col("doc_id"), col("url"), col("date"),
      graft.functions.GraftExtensions.unicodeNormalize(
        PiiQueries.redact(col("text")), "NFC").as("text"))
  }

  /** Run the full chain. `heldOut` is the eval split to decontaminate
    * against — a (doc_id, text) frame (extra columns ignored).
    */
  def run(spark: SparkSession, warcDir: String,
          heldOut: DataFrame, cfg: Config = Config()): Result = {
    // stage checkpoints observe their own row count while they
    // materialise, so the ledger costs no job of its own
    def counted(df: DataFrame): (DataFrame, Long) = {
      val (ck, Seq(n)) = CheckpointBlocks.observedCheckpoint(df, count(lit(1)))
      (ck, n.asInstanceOf[Long])
    }

    // 1. ingest: streaming WARC scan with the DLQ channel; materialized
    // once — every later stage and count derives from this relation
    val (raw, Seq(nQuarantined)) = CheckpointBlocks.observedCheckpoint(
      WarcCodec.rawDocuments(spark, warcDir).toDF(),
      count_if(col("blob_error").isNotNull))
    val quarantined = raw.filter(col("blob_error").isNotNull)
      .select(col("path"), col("blob_error"))
    val docs = WarcCodec.documentsFromRaw(raw)

    // 2. URL hygiene (x50): canonical-URL dedup + host blocklist, the
    // cheapest drop in the chain — and it never reads the text column,
    // so it goes first, ahead of every text-scanning stage
    val urlKept = urlFilter(docs, cfg)

    // 2b. encoding repair (x107, opt-in) — before language ID and every
    // content hash (mojibake corrupts the language markers and defeats
    // byte-equality dedup against the clean original), but after the
    // URL stage so the repair regexes aren't paid for docs the cheap
    // drop above is about to discard. CHECKPOINTED: downstream stages
    // reference the text column many times, and without the barrier
    // projection collapse embeds the repair regexes in every reference
    // (and the resulting mega-projection can overflow codegen into
    // interpreted eval, where nothing de-duplicates them)
    val fixed =
      if (cfg.encodingFix) fixEncoding(urlKept).localCheckpoint(true)
      else urlKept

    // 3-5. the per-document gates in one job (see gates): language
    // filter (x08); Gopher rule gate (x49, opt-in) — after language ID,
    // the rules assume prose in a known language; Gopher repetition
    // gate (x106, opt-in) — the n-gram half of the Gopher table, next
    // to its length/symbol half; quality gates (x09 score, x30
    // repetition, length floor)
    val (qualKept, Seq(keptUrl, keptLanguage, keptGopher, keptRepetition,
      keptQuality)) = gates(fixed, cfg)

    // 6. PII redaction (x36) BEFORE dedup: redaction canonicalizes text,
    // so two docs differing only in a contact line dedup together
    val redacted = redactPii(qualKept)

    // 7. exact dedup keep-first (x01)
    val (exact, nExact) = counted(Dedup.exactKeepFirst(redacted, "doc_id", "text"))

    // 8. near-dup keep-canonical (x03 pairs -> x24 canonical member)
    val pairs = Dedup.minhashLshPairs(exact, "doc_id", "text",
      cfg.shingleN, cfg.numPerm, cfg.bands, cfg.nearDupThreshold)
    val (canonical, nCanonical) = counted(Components.keepCanonical(exact, "doc_id",
      pairs.select(col("a"), col("b"))))

    // 9. paragraph-level corpus dedup (x40, the FineWeb pass): a
    // paragraph recurring across the SURVIVING documents is
    // corpus-level boilerplate the doc-level dedup cannot see (the
    // carrying documents differ); drop it from every doc, keep the
    // survivors' remaining paragraphs in order, and remove docs
    // hollowed out entirely
    val (paraKept, nParaKept) = counted(
      canonical.select(col("doc_id"), col("url"), col("date"))
        .join(ParagraphOps.paragraphDedup(canonical, "doc_id", "text",
              cfg.paraWidth, cfg.paraMaxDf)
            .filter(col("n_kept") > 0)
            .select(col("doc_id"), col("clean_text").as("text")),
          Seq("doc_id")))

    // 10. decontamination (x38 shape): the held-out split is the SMALL
    // side — its window Bloom ships to executors once and the train
    // corpus probes it in the scan; bloom_frac upper-bounds the exact
    // contamination (no false negatives), so dropping by it can only
    // over-drop marginal docs, never leak eval text through
    val trainW = Contamination.tokenWindows(paraKept, "doc_id", "text",
      cfg.contamWindow)
    val evalW = Contamination.tokenWindows(heldOut, "doc_id", "text",
      cfg.contamWindow)
    val contaminated = Contamination.decontaminationBloomFrac(trainW, evalW)
      .filter(col("bloom_frac") > cfg.maxContamFrac)
      .select(col("id").as("doc_id"))
    val (curated, nCurated) =
      counted(paraKept.join(contaminated, Seq("doc_id"), "left_anti"))

    // 10b. cluster-group split assignment (x110n, opt-in): group key =
    // the canonical near-dup CLUSTER id over the SHIPPED docs at a
    // LOWER threshold than the dedup drop (dedup collapses >= 0.7
    // clusters to one member; pairs in [splitClusterThreshold, 0.7)
    // both survive and are exactly the paraphrase-leakage risk), so no
    // near-dup chain can straddle train/eval by construction — the
    // pipeline-level form of the x110ng guarantee. The cluster map is
    // one (node, root) row per CLUSTERED doc; singletons take the
    // null-root coalesce path and never shuffle.
    val splits: Option[DataFrame] =
      if (!cfg.splitAssign) None
      else {
        val splitPairs = Dedup.minhashLshPairs(curated, "doc_id", "text",
          cfg.shingleN, cfg.numPerm, cfg.bands, cfg.splitClusterThreshold)
        val roots = Components.connectedComponents(
          splitPairs.select(col("a"), col("b")))
        val g = coalesce(col("root"), col("doc_id"))
        val split = when(graft.operators.SamplingQueries.hashPrefix(g) <=
              graft.operators.SamplingQueries.TrainHi, "train")
          .when(graft.operators.SamplingQueries.hashPrefix(g) <=
            graft.operators.SamplingQueries.ValHi, "val")
          .otherwise("test")
        Some(curated.select(col("doc_id"))
          .join(roots.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"), split.as("split"))
          .localCheckpoint(true))
      }
    val splitCounts = splits.map { sdf =>
      val m = sdf.groupBy(col("split")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (m.getOrElse("train", 0L), m.getOrElse("val", 0L), m.getOrElse("test", 0L))
    }.getOrElse((0L, 0L, 0L))

    // 11. sequence packing (x28, keyed variant for the md5 doc ids)
    val packed = PackingQueries.packSequencesKeyed(curated, "doc_id", "text",
      cfg.packBudget, cfg.packShards).localCheckpoint(true)
    val packStats = packed
      .agg(count_distinct(col("shard"), col("bin")).as("packs"),
        coalesce(sum(col("n_tok")), lit(0L)).as("tokens")).head()

    Result(docs, quarantined, curated, packed,
      splits = splits,
      report = Report(
        ingested = docs.count(),
        quarantinedBlobs = nQuarantined.asInstanceOf[Long],
        keptUrl = keptUrl,
        keptLanguage = keptLanguage,
        keptGopher = keptGopher,
        keptRepetition = keptRepetition,
        keptQuality = keptQuality,
        afterExactDedup = nExact,
        afterNearDedup = nCanonical,
        afterParaDedup = nParaKept,
        afterDecontamination = nCurated,
        packs = packStats.getLong(0),
        packedTokens = packStats.getLong(1),
        splitTrain = splitCounts._1,
        splitVal = splitCounts._2,
        splitTest = splitCounts._3))
  }
}
