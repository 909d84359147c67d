package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (codegen'd) — a 100 TB corpus runs these in a
  * single scan-project stage with no shuffle.
  */
object TextAnalysis {

  /** Tiny per-language marker lexicons (public stopwords). Deliberately
    * small: the operator is the n-gram-heuristic *shape*; swap lexicons
    * for production use.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Per-language score = |tokens ∩ markers| / |tokens| (distinct). */
  def langScore(textCol: Column, lang: String): Column = {
    val markers = langMarkers.toMap.apply(lang)
    val ts = array_distinct(tokens(textCol))
    size(array_intersect(ts, array(markers.map(lit): _*))).cast("double") /
      greatest(size(ts), lit(1)).cast("double")
  }

  /** Language-ID: argmax of marker scores, deterministic tie-break by the
    * declaration order in [[langMarkers]]; "und" (undetermined) when all
    * scores are zero.
    *
    * The token set and the per-language scores each bind ONCE through
    * lambda variables (transform over a 1-element array — Catalyst's
    * `let`). The naive fold referenced the tokenize-distinct subtree
    * ~20 times (scores, the duplicated `best`, the when-chain); under
    * whole-stage codegen subexpression elimination absorbs that, but a
    * wide curation projection (repair + language + quality in one
    * collapsed Project) overflows the codegen limits and falls back to
    * interpreted eval, where every reference re-tokenized the document
    * — a scan stage gone quadratic-ish on long documents.
    */
  def languageId(textCol: Column): Column = {
    val scoresOnce = transform(array(array_distinct(tokens(textCol))), ts => {
      def score(ms: Seq[String]): Column =
        size(array_intersect(ts, array(ms.map(lit): _*))).cast("double") /
          greatest(size(ts), lit(1)).cast("double")
      array(langMarkers.map { case (_, ms) => score(ms) }: _*)
    })
    element_at(transform(scoresOnce, sc => {
      val scored = langMarkers.zipWithIndex.map { case ((l, _), i) =>
        (l, element_at(sc, i + 1))
      }
      val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
      scored.foldRight(lit("und"): Column) { case ((l, s), acc) =>
        when(s > 0 && s === best, lit(l)).otherwise(acc)
      }
    }), 1)
  }

  /** Whitespace token count. */
  def tokenCount(textCol: Column): Column = size(tokens(textCol))

  /** BPE-ish sub-token count: runs of letters, runs of digits, or single
    * other non-space characters.
    */
  def bpeishTokenCount(textCol: Column): Column =
    regexp_count(lower(textCol), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))

  /** Quality features + composite score in [0,1]:
    * length (chars), token count, mean token length, stopword ratio,
    * non-alphanumeric ratio. Score is a fixed deterministic blend.
    */
  def qualityFeatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol), length(t).as("n_chars"), qualityFeaturesOf(t).as("__f"))
      .select(col(idCol), col("n_chars"), col("__f.*"))
  }

  /** The [[qualityFeatures]] of one text (all but `n_chars`), as a
    * struct — the per-row form the curation quality gate filters on.
    */
  def qualityFeaturesOf(t: Column): Column = {
    val nChar = length(t)
    // token count and stopword ratio derive from ONE bound token array
    // (the windowGrams lesson — the direct form tokenized up to 4x per
    // row whenever a wide curation projection fell out of codegen);
    // the punct count is a single regexp the same binding carries
    element_at(transform(array(tokens(t)), ts => {
      val nTok = size(ts)
      val dts = array_distinct(ts)
      val stopRatio =
        size(array_intersect(dts, array(langMarkers.toMap.apply("en").map(lit): _*)))
          .cast("double") / greatest(size(dts), lit(1)).cast("double")
      val punct = regexp_count(t, lit("[^a-zA-Z0-9\\s]")).cast("double") /
        greatest(nChar, lit(1)).cast("double")
      struct(
        nTok.as("n_tokens"),
        round(nChar.cast("double") / greatest(nTok, lit(1)).cast("double"), 6)
          .as("mean_token_len"),
        round(stopRatio, 6).as("stopword_ratio"),
        round(punct, 6).as("punct_ratio"),
        round(
          least(nTok.cast("double") / 100.0, lit(1.0)) * 0.5 +
            (lit(1.0) - least(punct * 5.0, lit(1.0))) * 0.3 +
            least(stopRatio * 10.0, lit(1.0)) * 0.2, 6).as("quality"))
    }), 1)
  }

  /** Content-defined document fingerprint: md5 over the sorted distinct
    * token set — stable under token reordering and duplication (a
    * bag-of-words fingerprint for near-dup blocking).
    */
  def fingerprint(textCol: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(textCol))), " "))

  /** Feature-hashed unit-norm TF embedding: each token lands in
    * pmod(xxhash64(token), dim) and the bucket-count vector is
    * L2-normalized — the hashing trick (Weinberger et al. 2009), a REAL
    * lexical embedding cheap enough to ride the streaming ingest, and
    * shaped (array<double>) for every Similarity operator unchanged.
    * Pure Catalyst HOFs (no UDF); cost is O(dim * tokens) per doc —
    * fine for ingest-time indexing, swap in a model server for
    * semantic (non-lexical) vectors.
    */
  def hashedTfEmbedding(textCol: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    // two `let` bindings (transform over a 1-element array): the token
    // array and the raw count vector each evaluate ONCE. The direct
    // form re-tokenized per bucket (dim×) and re-aggregated the count
    // vector per output element (the captured `nrm` subtree) — an
    // O(dim² · tokens) interpreted-HOF blowup on every embedded doc.
    element_at(transform(array(tokens(textCol)), ts =>
      element_at(transform(array(transform(sequence(lit(0), lit(dim - 1)),
          i => size(filter(ts,
            t => pmod(xxhash64(t), lit(dim.toLong)) === i.cast("long")))
            .cast("double"))), cs => {
        val nrm = sqrt(aggregate(cs, lit(0.0), (a, x) => a + x * x))
        transform(cs, x => when(nrm > 0, x / nrm).otherwise(lit(0.0)))
      }), 1)), 1)
  }

  /** Corpus-trained bigram language-model score per document — the
    * CCNet/KenLM-style perplexity filter reduced to its Spark shape:
    * train add-one-smoothed bigram counts on the corpus itself, then
    * score each document by its mean ln P(w2 | w1) (higher = more
    * corpus-typical; gibberish and boilerplate outliers score low).
    *
    *   P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V),  V = |vocabulary|
    *
    * Scale shape: two corpus-wide map-side-combinable counts (unigram,
    * bigram), two joins back keyed on xxhash64 of the gram — 8-byte
    * shuffle keys, never gram strings (the shingle convention; a 2^-64
    * collision merges two counts) — and one scalar V on the driver.
    * Documents with fewer than two tokens (or null text) have no
    * bigrams: they surface with a NULL score, the caller's policy line.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramLogProbAgainst(docs, docs, idCol, textCol)

  /** [[bigramLogProb]] with a SEPARATE reference corpus: train the
    * smoothed bigram counts on `train`, score `eval` — the real CCNet
    * deployment (a clean reference LM judges candidate text; a
    * self-trained LM lets a large contaminated cluster normalize its
    * own garbage). Unseen eval unigrams take the add-one floor
    * 1/(0 + V) via the left join's null c1/c12.
    */
  def bigramLogProbAgainst(train: DataFrame, eval: DataFrame,
                           idCol: String, textCol: String): DataFrame = {
    val ts = tokens(col(textCol))
    // explode_outer + not-null: the inner form would re-evaluate the
    // tokenizer through an inferred size()>0 scan predicate (the
    // shingleTable convention)
    val toks = train
      .select(col(idCol).as("id"), explode_outer(ts).as("tok"))
      .filter(col("tok").isNotNull)
    val uni = toks.groupBy(xxhash64(col("tok")).as("h1"))
      .agg(count(lit(1)).as("c1"))
      .localCheckpoint(true)
    // V is exact and scalar — same driver-collect shape as the
    // rare-token totals (PiiQueries.rareTokenRatio)
    val vocab = uni.count().toDouble
    def bigrams(docs: DataFrame): DataFrame = docs
      .select(col(idCol).as("id"), ts.as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(col("id"), explode(zip_with(
        slice(col("__ts"), lit(1), size(col("__ts")) - 1),
        slice(col("__ts"), lit(2), size(col("__ts")) - 1),
        (a, b) => struct(a.as("w1"), concat(a, lit(" "), b).as("g")))).as("p"))
      .select(col("id"),
        xxhash64(col("p.w1")).as("h1"), xxhash64(col("p.g")).as("h2"))
    val bgc = bigrams(train).groupBy(col("h2")).agg(count(lit(1)).as("c12"))
    val scored = bigrams(eval)
      .join(bgc, Seq("h2"), "left")
      .join(uni, Seq("h1"), "left")
      .groupBy(col("id"))
      .agg(round(avg(log(
        (coalesce(col("c12"), lit(0L)).cast("double") + 1.0) /
          (coalesce(col("c1"), lit(0L)).cast("double") + vocab))), 6)
        .as("lm_logprob"))
    eval.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"), col("lm_logprob"))
  }

  /** HTML -> text, the C4/CommonCrawl-style reduction: script/style
    * blocks go WITH their content, then comments, then every remaining
    * tag, then the common entities, then whitespace collapse. A chain
    * of dialect-neutral rewrites — no backreferences, inline (?is)
    * flags only — so the RE2 DuckDB oracle mirrors it 1:1, and every
    * step is a codegen'd scan-project expression (zero shuffle at any
    * corpus size).
    */
  def htmlToText(html: Column): Column = {
    val stripped = Seq(
      // closed script/style blocks (whitespace-tolerant closers), then
      // UNCLOSED ones to end-of-input — truncated fetches are routine
      // in web archives and must not leak raw JS/CSS into the corpus
      "(?is)<script[^>]*>.*?</script\\s*>",
      "(?is)<style[^>]*>.*?</style\\s*>",
      "(?is)<script[^>]*>.*",
      "(?is)<style[^>]*>.*",
      "(?s)<!--.*?-->",
      // tags must START like one ([a-zA-Z/!]): the unanchored <[^>]*>
      // would eat legitimate prose between comparisons ("x < y ... >")
      "(?s)<[a-zA-Z/!][^>]*>")
      .foldLeft(html)((c, p) => regexp_replace(c, p, " "))
    // literal entity decodes; &amp; LAST so "&amp;lt;" renders "&lt;",
    // not a double-decoded "<"
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(stripped) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
