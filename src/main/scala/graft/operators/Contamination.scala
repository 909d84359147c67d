package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.{tokens, windowGrams}

/** Exact-substring overlap operators over k-token window hashes — the
  * exact-match complement to the Jaccard/MinHash document-level family
  * (public approach: Lee et al. 2021, "Deduplicating Training Data
  * Makes Language Models Better", which dedups exact token spans):
  *
  *  - [[dupWindowFrac]]: per document, the fraction of its distinct
  *    k-token windows that also occur in ANOTHER document — the
  *    "how much of this doc is copied" signal that drives span-level
  *    dedup decisions.
  *  - [[decontamination]]: per EVAL document, the fraction of its
  *    windows present anywhere in the TRAIN split — the train/test
  *    leakage check run before any benchmark evaluation.
  *
  * Windows travel as xxhash64 keys (8 bytes) — the shuffle never
  * carries raw text, and the key is 4x narrower than the md5 hex
  * string it replaces. Distinctness is computed on the raw window
  * STRINGS before hashing (per-doc array_distinct), so the only
  * collision exposure is cross-window: with N total windows the
  * expected colliding pairs are ~N²/2^65 — zero for any realistic
  * load below ~10^9 windows; at the extreme 100 TB tail (~10^12
  * windows) a few thousand of them may each nudge one doc's fraction
  * by 1/m, noise of ~1e-8 relative for a quality-score signal. A
  * caller needing bit-exactness at that scale can swap the key expr
  * for unhex(md5(...)) (16-byte binary) without touching the algebra.
  * Both operators are explode + aggregate: sub-quadratic, no window
  * functions, no driver state; both declared queries are exact and
  * DuckDB-hash-checked (the oracle recomputes fractions from its own
  * md5 windows — only (doc_id, frac) is compared, so the internal key
  * is free to differ).
  */
object Contamination {
  type Q = (SparkSession, String) => DataFrame

  /** Window size of the declared queries (tokens per window). */
  private val K = 5

  /** (id, w): xxhash64 of each DISTINCT k-token window per document. A
    * document shorter than k tokens contributes its whole token list as
    * one short window (the shingle-family convention, so no document
    * silently drops out of the relation).
    */
  def tokenWindows(docs: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(array_distinct(windowGrams(tokens(col(textCol)), k))).as("win"))
      .select(col("id"), xxhash64(col("win")).as("w"))

  /** (id, dup_win_frac) over a prebuilt window relation — the window
    * table feeds BOTH sides of the frequency join, so callers pass a
    * materialized one ([[dupWindowFrac]] builds + checkpoints its own;
    * the declared queries share [[windowsMemo]]).
    */
  def dupWindowFracFromWindows(w: DataFrame): DataFrame = {
    // (id, w) pairs are unique by construction (per-doc array_distinct
    // BEFORE hashing), so docs-per-window is a plain row count — no
    // distinct-aggregate pass. The duplicated fraction is computed
    // WITHOUT joining docs-per-window back onto the (id, w) relation:
    //   dup_win_frac = (ntot - nuniq) / ntot
    // where a singleton window (ndocs = 1) carries its sole owner id
    // out of the per-window aggregation via min(id) (exact for
    // singleton groups — the only place owner is read). This removes
    // both the family's largest shuffle join AND its stop-window hot
    // key: a boilerplate window occurring in millions of docs would
    // have funneled all its (id, w) rows into one join task; here
    // every aggregation is map-side-combinable (a hot window reaches
    // the reducer as at most one partial row per map task) and the
    // only join keys on doc id — one row per doc on each side.
    val perWin = w.groupBy(col("w"))
      .agg(count(lit(1)).as("ndocs"), min(col("id")).as("owner"))
    val uniqPerDoc = perWin.filter(col("ndocs") === 1)
      .groupBy(col("owner").as("id")).agg(count(lit(1)).as("nuniq"))
    val totPerDoc = w.groupBy(col("id")).agg(count(lit(1)).as("ntot"))
    totPerDoc.join(uniqPerDoc, Seq("id"), "left")
      .select(col("id"),
        round((col("ntot") - coalesce(col("nuniq"), lit(0L))) / col("ntot"), 6)
          .as("dup_win_frac"))
  }

  /** (id, dup_win_frac): fraction of the document's distinct windows
    * occurring in at least one OTHER document.
    */
  def dupWindowFrac(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame =
    dupWindowFracFromWindows(
      tokenWindows(ExtensionQueries.rebalanced(docs), idCol, textCol, k)
        .localCheckpoint(true))

  /** (id, contam_frac) for every eval-split document: fraction of its
    * windows found anywhere in the train corpus. `evalDocs` and
    * `trainDocs` are (id, text)-shaped frames (any disjoint split).
    */
  def decontamination(evalDocs: DataFrame, trainDocs: DataFrame,
                      idCol: String, textCol: String, k: Int): DataFrame =
    decontaminationFromWindows(
      tokenWindows(ExtensionQueries.rebalanced(evalDocs), idCol, textCol, k),
      tokenWindows(ExtensionQueries.rebalanced(trainDocs), idCol, textCol, k))

  /** Same, over prebuilt window relations (shared via [[windowsMemo]]
    * in the declared queries). The membership join is 1-to-at-most-1
    * (the train side is distinct on w), so a corpus-wide stop window
    * cannot amplify rows — the worst case is placement skew of the
    * eval side's rows for one key, which AQE's skew split re-balances.
    */
  def decontaminationFromWindows(evalW: DataFrame, trainW: DataFrame): DataFrame =
    evalW.join(
        trainW.select(col("w")).distinct().withColumn("hit", lit(1)),
        Seq("w"), "left")
      .groupBy(col("id"))
      .agg(round(avg(when(col("hit").isNotNull, 1.0).otherwise(0.0)), 6)
        .as("contam_frac"))

  /** Decontamination via a broadcast Bloom sketch instead of the
    * membership join — the 100 TB scale path: a train corpus of 10^9
    * distinct windows compresses to a ~1.2 GB bit array (10 bits/item,
    * ~1% false-positive rate) that ships to executors ONCE, where the
    * exact join would shuffle every eval window against the full train
    * relation on every run. False NEGATIVES are impossible (Bloom
    * guarantee), so the fraction is a certified upper bound on the
    * exact contamination — the x38g gate pins both directions.
    *
    * Uses Spark's own BloomFilterAggregate/BloomFilterMightContain
    * (the runtime-filter machinery) surfaced through
    * [[graft.functions.GraftExtensions]]. The aggregation is
    * map-side-combinable (partial blooms OR together); the collected
    * sketch is numBits/8 bytes of driver traffic — bounded by
    * construction, and the whole point of the operator.
    */
  def decontaminationBloomFrac(evalW: DataFrame, trainW: DataFrame,
                               bitsPerItem: Int = 10): DataFrame =
    bloomFracAgainst(evalW, bloomOfWindows(trainW, bitsPerItem))

  /** The build half: aggregate a window relation into Bloom sketch
    * bytes — a BOUNDED driver artifact a caller persists or caches and
    * probes across many batches (the streaming decontamination leg
    * builds it once per eval-index registration, not once per
    * micro-batch).
    */
  def bloomOfWindows(trainW: DataFrame, bitsPerItem: Int = 10): Array[Byte] = {
    val spark = trainW.sparkSession
    graft.functions.GraftExtensions.register(spark)
    val items = math.max(trainW.count(), 1L)
    // 10 bits/item ~ 1% fpp at k = 7. Spark's aggregate enforces
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (64M default):
    // FAIL LOUDLY rather than silently clamp into a useless
    // everything-matches filter — past the cap the caller must raise
    // the conf (the sketch still beats the shuffle join by orders of
    // magnitude) or partition the corpus into per-shard blooms
    val maxBits = spark.conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .flatMap(_.toLongOption).getOrElse(64L << 20)
    val numBits = math.max(items * bitsPerItem, 64L)
    require(numBits <= maxBits,
      s"bloom sizing: $items train windows need $numBits bits " +
        s"($bitsPerItem/item) but spark.sql.optimizer.runtime.bloomFilter." +
        s"maxNumBits=$maxBits — raise the conf or shard the bloom")
    // BloomFilterAggregate separately enforces ...bloomFilter.maxNumItems
    // (4M default) on the estimatedItems argument. numBits alone fixes
    // the fpp once both are passed, so CLAMP items to the conf rather
    // than failing a 4M–6.4M-window corpus that the bits guard accepts.
    val maxItems = spark.conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
      .flatMap(_.toLongOption).getOrElse(4000000L)
    trainW.agg(
      graft.functions.GraftExtensions.bloomAgg(
        col("w"), lit(math.min(items, maxItems)), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** The probe half: per-id window fraction that MIGHT be in the
    * sketch — pure scan-side work against broadcast-literal bytes.
    */
  def bloomFracAgainst(evalW: DataFrame, bloom: Array[Byte]): DataFrame = {
    graft.functions.GraftExtensions.register(evalW.sparkSession)
    evalW.groupBy(col("id"))
      .agg(round(avg(
        when(graft.functions.GraftExtensions.mightContain(lit(bloom), col("w")),
          1.0).otherwise(0.0)), 6).as("bloom_frac"))
  }

  /** Remove every repeated k-token span from the corpus, keeping the
    * GLOBALLY-FIRST occurrence (Lee et al. 2021's deduplicate-text-spans,
    * the family's rewrite form: x32 measures duplication, x33 drops whole
    * documents, this rewrites them). An occurrence of a window is a
    * duplicate when an earlier occurrence exists anywhere in the corpus
    * under the total order (id, start); every token position covered by
    * any duplicate window is dropped and the survivors reassemble in
    * document order. Tokens keep their original case; window hashes are
    * case-insensitive (the ParagraphOps convention).
    *
    * Scale shape: windows shuffle as 8-byte hashes; first-occurrence
    * detection is one min(struct(id, st)) aggregation (map-side
    * combinable) plus one join back on the window hash — a corpus-wide
    * hot window (boilerplate repeated everywhere) skews that join, which
    * is exactly the shape AQE's skew-join split handles at runtime; the
    * aggregation side never skews. Output one row per input document:
    * (id, clean_text, n_kept, n_dropped) in TOKENS.
    */
  def dropRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rawToks = filter(split(trim(col(textCol)), "\\s+"), t => t =!= "")
    val base = docs.select(col(idCol).as("id"), rawToks.as("ts"))
      .filter(size(col("ts")) > 0)
    // full k-windows only: a document shorter than k tokens has no
    // window, is never a duplicate, and passes through whole
    val wins = base.filter(size(col("ts")) >= k)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("ts")) - k),
        s => xxhash64(lower(array_join(slice(col("ts"), s + 1, lit(k)), " "))))))
      .select(col("id"), col("pos").as("st"), col("col").as("w"))
    val firstOcc = wins.groupBy(col("w"))
      .agg(min(struct(col("id"), col("st"))).as("f"))
    val dups = wins.join(firstOcc, "w")
      .filter(struct(col("id"), col("st")) =!= col("f"))
    val covered = dups
      .select(col("id"), explode(sequence(col("st") + 1, col("st") + k)).as("p"))
      .distinct()
    val toks = base.select(col("id"), posexplode(col("ts")))
      .select(col("id"), (col("pos") + 1).as("p"), col("col").as("tok"))
    val kept = toks.join(covered, Seq("id", "p"), "left_anti")
    val tot = toks.groupBy(col("id")).agg(count(lit(1)).as("tot"))
    val re = kept.groupBy(col("id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("tok")))),
        s => s("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol).as("id"))
      .join(tot, Seq("id"), "left")
      .join(re, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("tot"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  // ---- x97: semantic (embedding-cosine) decontamination ---------------

  /** Hex-digit numeric value of a single lowercase hex char — the
    * cross-engine bridge (ascii() agrees everywhere; DuckDB has no
    * xxhash64/conv, so the bucket hash must be md5-arithmetic).
    */
  private def hexVal(c: Column): Column =
    when(ascii(c) >= 97, ascii(c) - 87).otherwise(ascii(c) - 48)

  /** Token -> bucket in [0, dim) from the first two hex chars of
    * md5(token) — 256 evenly filled cells folded onto dim buckets,
    * reproducible in DuckDB as plain CASE/ascii arithmetic (which is
    * what makes x97 a FULL-oracle query where the xxhash64-bucketed
    * [[TextAnalysis.hashedTfEmbedding]] is not).
    */
  private[graft] def md5Bucket(t: Column, dim: Int): Column =
    (hexVal(substring(md5(t), 1, 1)) * 16 + hexVal(substring(md5(t), 2, 1))) % dim

  /** UNNORMALIZED md5-bucketed token-frequency vector — the
    * hashing-trick lexical embedding (Weinberger et al. 2009) in a
    * cross-engine-deterministic form. Invariant under token REORDERING
    * (bag-of-words), which is exactly the property window-hash
    * decontamination (x33) lacks: a shuffled-word copy of an eval item
    * keeps cosine 1.0 while sharing no k-token window. Kept as raw
    * integer counts (exact in doubles) so the cosine can be computed
    * as dot/(|a|·|b|) — one correctly-rounded division at the end,
    * bit-identical across engines, where dotting pre-normalized
    * vectors would accumulate engine-ordered rounding.
    */
  private[graft] def md5TfCounts(textCol: Column, dim: Int): Column = {
    require(dim >= 1 && dim <= 256, s"dim must be in [1, 256], got $dim")
    // the bucket array binds ONCE through a lambda variable (transform
    // over a 1-element array): capturing the computed `bks` expression
    // directly would re-tokenize and re-md5 the document per OUTPUT
    // BUCKET under interpreted HOF eval — an O(dim · tokens) hidden
    // multiplier on every embedded doc (the windowGrams lesson)
    element_at(transform(
      array(transform(coalesce(tokens(textCol), array()),
        t => md5Bucket(t, dim))),
      bks => transform(sequence(lit(0), lit(dim - 1)),
        i => size(filter(bks, b => b === i)).cast("double"))), 1)
  }

  /** Semantic decontamination report: for every corpus document, its
    * nearest eval item by embedding cosine and whether it crosses the
    * contamination threshold. Catches PARAPHRASED/reordered eval
    * leakage that exact-substring decontamination (x33/x38) provably
    * misses.
    *
    * Scale shape (the x64 SemDeDup posture applied to decontamination):
    * the EVAL side is benchmark-sized by definition — its embeddings
    * BROADCAST onto the corpus scan, the cosine is a codegen'd VecDot
    * per (corpus doc, eval item), and the per-doc argmax is a bounded
    * max-struct aggregate, so the corpus is scanned once and never
    * shuffled. At a 100 TB corpus the plan is unchanged; a truly large
    * eval set would move to the LSH-bucketed candidate path
    * ([[Similarity.cosinePairsBucketed]]) with identical flag
    * semantics. Ties on the 6dp-rounded cosine break on eval_id —
    * deterministic across engines and partitionings.
    */
  def semanticDecontamReport(corpus: DataFrame, evalDocs: DataFrame,
                             idCol: String, textCol: String,
                             dim: Int, thr: Double): DataFrame = {
    val sp = corpus.sparkSession
    graft.functions.GraftExtensions.register(sp)
    val dotC = graft.functions.GraftExtensions.vecDot _
    def withNorm(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(id), col(vec),
        sqrt(dotC(col(vec), col(vec))).as(s"${vec}_n"))
    val ev = withNorm(evalDocs.select(col(idCol).as("eval_id"),
      md5TfCounts(col(textCol), dim).as("evec")), "eval_id", "evec")
    val co = withNorm(corpus.select(col(idCol).as("doc_id"),
      md5TfCounts(col(textCol), dim).as("cvec")), "doc_id", "cvec")
    val scored = co.crossJoin(broadcast(ev))
      .select(col("doc_id"), col("eval_id"),
        round(when(col("cvec_n") * col("evec_n") > 0,
            dotC(col("cvec"), col("evec")) / (col("cvec_n") * col("evec_n")))
          .otherwise(lit(0.0)), 6).as("cos"))
    val best = scored.groupBy(col("doc_id"))
      .agg(max(struct(col("cos"), (-col("eval_id")).as("negid"))).as("b"))
    best.select(col("doc_id"),
      (-col("b.negid")).cast("long").as("nearest_eval_id"),
      col("b.cos").as("eval_cos"),
      (col("b.cos") >= thr).as("contaminated"))
  }

  private val SemDim = 64
  private val SemThr = 0.95
  private val SemPlanted = 5

  /** One window relation per (session, dir), shared by x32 and x33 —
    * the expensive tokenize+explode+xxhash64 expansion runs once, with the
    * split slices filtered AFTER materialization (same memo discipline
    * as ExtensionQueries).
    */
  private val shared =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def windowsMemo(s: SparkSession, d: String): DataFrame = {
    val key = (s, d)
    Option(shared.get(key)).getOrElse {
      MemoEviction.register(s, "contam") { () =>
        shared.keySet.removeIf(_._1 eq s)
      }
      val v = tokenWindows(
          ExtensionQueries.rebalanced(Tables(s, d, "documents")),
          "doc_id", "text", K)
        .localCheckpoint(true)
      Option(shared.putIfAbsent(key, v)).getOrElse(v)
    }
  }

  /** Split slice of the shared window relation — bounds come from
    * SamplingQueries so a ratio retune cannot diverge from x22. */
  private def winSplit(w: DataFrame, train: Boolean): DataFrame =
    if (train) w.filter(SamplingQueries.hashPrefix(col("id")) <= SamplingQueries.TrainHi)
    else w.filter(SamplingQueries.hashPrefix(col("id")) > SamplingQueries.ValHi)

  val queries: Map[String, Q] = Map(
    "x32_dup_window_frac" -> ((s, d) =>
      dupWindowFracFromWindows(windowsMemo(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),

    // decontamination of the x22 test split against the x22 train split
    "x33_decontamination" -> ((s, d) => {
      val w = windowsMemo(s, d)
      decontaminationFromWindows(winSplit(w, train = false), winSplit(w, train = true))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // --- decontamination threshold operating curve (x117) --------------
    // the fourth of the engine's operating-curve dials (x111 quality,
    // x115 nprobe, x116 near-dup Jaccard): for each maxContamFrac in
    // {0%, 2%, …, 40%}, the TRAIN docs (and their tokens) a
    // decontamination pass at that threshold would drop for
    // eval-window overlap — the table that trades leakage risk against
    // retained tokens before running the pipeline. One pass: per-train-
    // doc exact contaminated-window fraction (the x33 relation with
    // the sides swapped), integer micro-unit buckets (fi > j·20000 ⟺
    // frac > j·2% exactly — the x111 quantization), generator prefix
    // expansion; no join, no per-threshold rescan. FULL oracle.
    "x117_decontam_threshold_curve" -> ((s, d) => {
      val w = windowsMemo(s, d)
      val trainFrac = decontaminationFromWindows(
        winSplit(w, train = true), winSplit(w, train = false))
      val toks = Tables(s, d, "documents")
        .select(col("doc_id").as("id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tk"))
      val contrib = trainFrac.join(toks, Seq("id"))
        .select(round(col("contam_frac") * 1e6).cast("long").as("fi"),
          col("tk"))
        // fi = 0 never drops; filtering first keeps the DIV operands
        // non-negative (Spark truncates toward zero, DuckDB floors —
        // they only agree on non-negatives)
        .filter(col("fi") > 0)
        .select(explode(sequence(lit(0L),
            least(expr("(fi - 1) DIV 20000"), lit(20L)))).as("j"),
          lit(1L).as("one"), col("tk"))
      val zeros = s.range(0, 21)
        .select(col("id").as("j"), lit(0L).as("one"), lit(0L).as("tk"))
      contrib.unionByName(zeros)
        .groupBy(col("j"))
        .agg(sum(col("one")).as("n_dropped"), sum(col("tk")).as("tokens_dropped"))
        .select((col("j") * 2).cast("int").as("thr_pct"),
          col("n_dropped"), col("tokens_dropped"))
        .orderBy(col("thr_pct"))
    }),

    // broadcast-Bloom variant of x33 (rows-only: the sketch's bit layout
    // is engine-specific; certified by the x38g gate below)
    "x38_decontam_bloom" -> ((s, d) => {
      val w = windowsMemo(s, d)
      decontaminationBloomFrac(winSplit(w, train = false), winSplit(w, train = true))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Semantic decontamination of the x22 train split against an eval
    // set = the x22 test split PLUS five PLANTED paraphrases (the five
    // smallest train doc_ids with token order REVERSED, offset ids).
    // The planted rows are the point: a reordered copy keeps cosine
    // 1.0 — flagged here — while sharing no 5-token window with its
    // source, so x33's exact-substring check provably misses it
    // (spec-asserted). Full DuckDB oracle via the md5-bucket embedding.
    "x97_semantic_decontam" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
      val train = docs.filter(
        SamplingQueries.hashPrefix(col("doc_id")) <= SamplingQueries.TrainHi)
      val test = docs.filter(
        SamplingQueries.hashPrefix(col("doc_id")) > SamplingQueries.ValHi)
      val planted = train.orderBy(col("doc_id")).limit(SemPlanted)
        .select((col("doc_id") + 900000L).as("doc_id"),
          array_join(reverse(tokens(col("text"))), " ").as("text"))
      semanticDecontamReport(train, test.unionByName(planted),
        "doc_id", "text", SemDim, SemThr)
        .orderBy(col("doc_id"))
    }),

    // gate: bloom_frac must dominate the exact fraction (no false
    // negatives, per Bloom guarantee) and overshoot it by at most 0.2
    // (far above the ~1% fpp the sizing targets) — violators emitted,
    // provably none, empty-set oracle
    "x38g_decontam_bloom_gate" -> ((s, d) => {
      val w = windowsMemo(s, d)
      val ev = winSplit(w, train = false)
      val tr = winSplit(w, train = true)
      decontaminationFromWindows(ev, tr)
        .join(decontaminationBloomFrac(ev, tr), "id")
        .filter(col("bloom_frac") < col("contam_frac") - 1e-9 ||
          col("bloom_frac") > col("contam_frac") + 0.2)
        .select(col("id").as("doc_id"), col("contam_frac"), col("bloom_frac"))
        .orderBy(col("doc_id"))
    })
  )

  private val TokArr = """string_split_regex(lower(trim(text)), '\s+')"""

  val oracleSql: Map[String, String] = Map(
    "x32_dup_window_frac" ->
      s"""WITH w AS (
         |  SELECT DISTINCT doc_id AS id,
         |    md5(array_to_string(ts[i : i + 4], ' ')) AS w
         |  FROM (SELECT doc_id, $TokArr AS ts FROM documents),
         |    unnest(generate_series(1, greatest(len(ts) - 4, 1))) AS t(i)
         |),
         |nd AS (SELECT w, count(DISTINCT id) AS ndocs FROM w GROUP BY w)
         |SELECT id AS doc_id,
         |  round(avg(CASE WHEN ndocs > 1 THEN 1.0 ELSE 0.0 END), 6) AS dup_win_frac
         |FROM w JOIN nd USING (w)
         |GROUP BY id ORDER BY doc_id""".stripMargin,

    "x33_decontamination" ->
      s"""WITH tok AS (SELECT doc_id, $TokArr AS ts FROM documents),
         |w AS (
         |  SELECT DISTINCT doc_id AS id,
         |    md5(array_to_string(ts[i : i + 4], ' ')) AS w
         |  FROM tok, unnest(generate_series(1, greatest(len(ts) - 4, 1))) AS t(i)
         |),
         |train AS (
         |  SELECT DISTINCT w.w FROM w
         |  WHERE substr(md5(CAST(id AS VARCHAR)), 1, 2) BETWEEN '00' AND 'cb'
         |),
         |test AS (
         |  SELECT id, w.w FROM w
         |  WHERE substr(md5(CAST(id AS VARCHAR)), 1, 2) BETWEEN 'e6' AND 'ff'
         |)
         |SELECT id AS doc_id,
         |  round(avg(CASE WHEN train.w IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
         |    AS contam_frac
         |FROM test LEFT JOIN train ON test.w = train.w
         |GROUP BY id ORDER BY doc_id""".stripMargin,

    "x38g_decontam_bloom_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id,
        |  CAST(NULL AS DOUBLE) AS contam_frac,
        |  CAST(NULL AS DOUBLE) AS bloom_frac
        |WHERE false""".stripMargin,

    // x33's window/side arithmetic with the sides swapped (train docs
    // vs the eval window set), then the engine's integer micro-unit
    // bucket arithmetic verbatim
    "x117_decontam_threshold_curve" ->
      s"""WITH tok AS (SELECT doc_id, $TokArr AS ts FROM documents),
         |w AS (
         |  SELECT DISTINCT doc_id AS id,
         |    md5(array_to_string(ts[i : i + 4], ' ')) AS w
         |  FROM tok, unnest(generate_series(1, greatest(len(ts) - 4, 1))) AS t(i)
         |),
         |ev AS (
         |  SELECT DISTINCT w.w FROM w
         |  WHERE substr(md5(CAST(id AS VARCHAR)), 1, 2) BETWEEN 'e6' AND 'ff'
         |),
         |tr AS (
         |  SELECT id, w.w FROM w
         |  WHERE substr(md5(CAST(id AS VARCHAR)), 1, 2) BETWEEN '00' AND 'cb'
         |),
         |fr AS (
         |  SELECT id,
         |    round(avg(CASE WHEN ev.w IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS f
         |  FROM tr LEFT JOIN ev ON tr.w = ev.w GROUP BY id
         |),
         |tk AS (
         |  SELECT doc_id AS id,
         |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS BIGINT) AS tk
         |  FROM documents
         |),
         |c AS (
         |  SELECT least((CAST(round(f * 1000000) AS BIGINT) - 1) // 20000, 20) AS cap, tk.tk
         |  FROM fr JOIN tk USING (id)
         |  WHERE CAST(round(f * 1000000) AS BIGINT) > 0
         |),
         |t2 AS (SELECT unnest(generate_series(0, 20)) AS j)
         |SELECT CAST(j * 2 AS INT) AS thr_pct,
         |  CAST(coalesce(sum(CASE WHEN c.cap >= t2.j THEN 1 END), 0) AS BIGINT) AS n_dropped,
         |  CAST(coalesce(sum(CASE WHEN c.cap >= t2.j THEN c.tk END), 0) AS BIGINT) AS tokens_dropped
         |FROM t2 LEFT JOIN c ON c.cap >= t2.j
         |GROUP BY j ORDER BY thr_pct""".stripMargin,

    "x97_semantic_decontam" ->
      s"""WITH tok AS (
         |  SELECT doc_id, coalesce($TokArr, []) AS ts FROM documents
         |), train AS (
         |  SELECT doc_id, ts FROM tok
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb'
         |), ev AS (
         |  SELECT doc_id AS eval_id, ts FROM tok
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) > 'e5'
         |  UNION ALL
         |  SELECT doc_id + 900000 AS eval_id, list_reverse(ts) AS ts
         |  FROM (SELECT doc_id, ts FROM train ORDER BY doc_id LIMIT 5)
         |), cb AS (
         |  SELECT doc_id,
         |    ((CASE WHEN ascii(substr(md5(t), 1, 1)) >= 97
         |        THEN ascii(substr(md5(t), 1, 1)) - 87
         |        ELSE ascii(substr(md5(t), 1, 1)) - 48 END) * 16 +
         |     (CASE WHEN ascii(substr(md5(t), 2, 1)) >= 97
         |        THEN ascii(substr(md5(t), 2, 1)) - 87
         |        ELSE ascii(substr(md5(t), 2, 1)) - 48 END)) % 64 AS b
         |  FROM train, unnest(ts) AS u(t)
         |), eb AS (
         |  SELECT eval_id,
         |    ((CASE WHEN ascii(substr(md5(t), 1, 1)) >= 97
         |        THEN ascii(substr(md5(t), 1, 1)) - 87
         |        ELSE ascii(substr(md5(t), 1, 1)) - 48 END) * 16 +
         |     (CASE WHEN ascii(substr(md5(t), 2, 1)) >= 97
         |        THEN ascii(substr(md5(t), 2, 1)) - 87
         |        ELSE ascii(substr(md5(t), 2, 1)) - 48 END)) % 64 AS b
         |  FROM ev, unnest(ts) AS u(t)
         |), ccnt AS (
         |  SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS c FROM cb GROUP BY 1, 2
         |), ecnt AS (
         |  SELECT eval_id, b, CAST(count(*) AS DOUBLE) AS c FROM eb GROUP BY 1, 2
         |), cn AS (
         |  SELECT doc_id, sqrt(sum(c * c)) AS n FROM ccnt GROUP BY 1
         |), en AS (
         |  SELECT eval_id, sqrt(sum(c * c)) AS n FROM ecnt GROUP BY 1
         |), dots AS (
         |  SELECT ccnt.doc_id, ecnt.eval_id, sum(ccnt.c * ecnt.c) AS dp
         |  FROM ccnt JOIN ecnt ON ccnt.b = ecnt.b GROUP BY 1, 2
         |), pairs AS (
         |  SELECT t.doc_id, e.eval_id,
         |    round(coalesce(dots.dp / NULLIF(cn.n * en.n, 0), 0.0), 6) AS cos
         |  FROM (SELECT doc_id FROM train) t
         |  CROSS JOIN (SELECT eval_id FROM ev) e
         |  LEFT JOIN dots ON dots.doc_id = t.doc_id AND dots.eval_id = e.eval_id
         |  LEFT JOIN cn ON cn.doc_id = t.doc_id
         |  LEFT JOIN en ON en.eval_id = e.eval_id
         |), ranked AS (
         |  SELECT doc_id, eval_id, cos,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cos DESC, eval_id ASC) AS rk
         |  FROM pairs
         |)
         |SELECT doc_id, eval_id AS nearest_eval_id, cos AS eval_cos,
         |  cos >= 0.95 AS contaminated
         |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin
  )
}
