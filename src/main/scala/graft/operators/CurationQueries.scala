package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.{tokens, windowGrams}

/** Web-corpus curation operators (SURVEY §7.4 extension family): the
  * C4/Gopher/RefinedWeb-style passes a training-data pipeline runs
  * BEFORE dedup — rule-based quality gating, URL canonicalization +
  * host blocklisting, TF-IDF keyword extraction, and length-bucketed
  * batch packing stats.
  *
  * Scale shapes: x49/x52 are pure scan-project + one bounded aggregate;
  * x50 shuffles on the canonical URL (one key per page, like x01's
  * exact dedup); x51 is two map-side-combinable counts and a per-doc
  * top-k window (WindowGroupLimit, the q54 shape). Rule outputs stay
  * integer/boolean so the cross-engine hashed surface has no float
  * seam; the one float (TF-IDF's ln) follows the x42 round-6
  * convention.
  */
object CurationQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Gopher-style stopword presence lexicon (public English markers,
    * same list as TextAnalysis.langMarkers("en")).
    */
  private val stopMarkers = Seq("the", "a", "of", "and", "is")

  /** Per-document integer counts feeding the Gopher rules. All counts
    * are over whitespace tokens of the lowercased text (the engine's
    * shared tokenizer), so every rule below is an exact integer
    * predicate — no float ratio crosses the oracle boundary.
    */
  def gopherStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), gopherStatsOf(col(textCol)).as("__g"))
      .select(col(idCol), col("__g.*"))

  /** The [[gopherStats]] counts of one text, as a struct. The token
    * array binds ONCE (the windowGrams lesson): five stat fields
    * reference it, and whenever a wide curation projection overflows
    * codegen into interpreted eval nothing de-duplicates the five
    * tokenize subtrees — a 5x scan multiplier on every document.
    */
  private def gopherStatsOf(text: Column): Column =
    element_at(transform(array(tokens(text)), ts => struct(
      size(ts).as("n_words"),
      length(regexp_replace(text, "\\s+", "")).as("n_nonspace_chars"),
      size(filter(ts, t => t.rlike("[a-z]"))).as("n_alpha_words"),
      size(filter(ts, t => t.rlike("^[^a-z0-9]+$"))).as("n_symbol_words"),
      size(array_intersect(array_distinct(ts),
        array(stopMarkers.map(lit): _*))).as("n_stop_distinct"))), 1)

  /** Gopher quality rules over the stats columns, as integer/boolean
    * predicates (ratio thresholds cross-multiplied so the comparison is
    * exact): word count in [10, 100k], mean word length in [3, 10],
    * symbol-word ratio <= 0.1, alphabetic-word fraction >= 0.8, >= 2
    * distinct stopwords present.
    */
  def gopherRules(stats: DataFrame): DataFrame = {
    val rules = gopherRuleCols(col(_))
    rules.foldLeft(stats) { case (df, (name, r)) => df.withColumn(name, r) }
      .withColumn("pass", rules.map(_._2).reduce(_ && _))
  }

  /** The [[gopherRules]] `pass` bit of one text, as a per-row predicate
    * (the same stats and rule expressions as the frame pair).
    */
  def gopherPass(text: Column): Column =
    element_at(transform(array(gopherStatsOf(text)), g =>
      gopherRuleCols(g.getField(_)).map(_._2).reduce(_ && _)), 1)

  /** The rule columns over a stat lookup (`col` for the stats frame, a
    * struct field for the per-row predicate).
    */
  private def gopherRuleCols(stat: String => Column): Seq[(String, Column)] = Seq(
    "r_word_count" -> stat("n_words").between(10, 100000),
    "r_mean_word_len" -> ((lit(3) * stat("n_words") <= stat("n_nonspace_chars")) &&
      (stat("n_nonspace_chars") <= lit(10) * stat("n_words"))),
    "r_symbol_ratio" -> (lit(10) * stat("n_symbol_words") <= stat("n_words")),
    "r_alpha_words" -> (lit(5) * stat("n_alpha_words") >= lit(4) * stat("n_words")),
    "r_stopwords" -> (stat("n_stop_distinct") >= 2))

  /** Gopher repetition-rule thresholds (Rae et al. 2021, Table A1) as
    * integer percents: a document is dropped when the character
    * fraction covered by the most frequent word n-gram (n = 2..4) or by
    * duplicated word n-grams (n = 5..10) exceeds the threshold.
    */
  val topGramMaxPct: Seq[(Int, Int)] = Seq(2 -> 20, 3 -> 18, 4 -> 16)
  val dupGramMaxPct: Seq[(Int, Int)] =
    Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)

  /** Gopher repetition rules — the half of the Gopher quality table
    * [[gopherRules]] does NOT cover: per document, the fraction of
    * characters (of the single-space token join) covered by (a) every
    * occurrence of the heaviest word n-gram for n = 2..4 and (b) every
    * occurrence of word n-grams appearing more than once for n = 5..10.
    * Occurrence chars follow the standard reimplementation
    * simplification (overlapping occurrences double-count, fractions
    * cap at 1.0); the keep flag compares `100 * chars <= pct * total`
    * in exact integers so no float-rounding seam can flip it
    * cross-engine — the reported fractions are round-6 informational
    * columns. Pure scan-side HOFs over the shared [[windowGrams]]
    * convention: zero shuffle at any corpus size, O(grams x distinct)
    * per row (documents are bounded; a 100 TB corpus runs this in the
    * scan-project stage).
    */
  def repetitionRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = (f: String) => col("__c").getField(f)
    val fracCols = (topGramMaxPct.map { case (n, _) => s"top$n" } ++
      dupGramMaxPct.map { case (n, _) => s"dup$n" }).map(f =>
        round(least(c(f).cast("double") / c("total").cast("double"), lit(1.0)), 6).as(f))
    docs.select(col(idCol), repetitionCharsOf(col(textCol)).as("__c"))
      .select(col(idCol) +: fracCols :+ repetitionKeepOf(c).as("rep_keep"): _*)
  }

  /** The [[repetitionRules]] `rep_keep` bit of one text, as a per-row
    * predicate (the same char counts and threshold expressions).
    */
  def repetitionKeep(text: Column): Column =
    element_at(transform(array(repetitionCharsOf(text)), c =>
      repetitionKeepOf(c.getField(_))), 1)

  /** Per text, a struct of `total` (chars of the token join, floored at
    * 1) and the covered chars of every rule (`top2..4`, `dup5..10`).
    * The token array binds once through the outer lambda variable.
    */
  private def repetitionCharsOf(text: Column): Column = {
    // chars covered by all occurrences of the heaviest n-gram. The
    // gram array binds ONCE through a lambda variable (the windowGrams
    // lesson): capturing the computed `g` expression in the per-gram
    // lambdas would rebuild the whole window array once per DISTINCT
    // gram under interpreted HOF eval — O(distinct · L) array builds on
    // exactly the long documents the rules exist to judge.
    def topChars(ts: Column, n: Int): Column =
      element_at(transform(array(windowGrams(ts, n)), g =>
        array_max(transform(array_distinct(g),
          x => size(filter(g, y => y === x)).cast("long") *
            length(x).cast("long")))), 1)
    // chars covered by occurrences of n-grams appearing more than once
    def dupChars(ts: Column, n: Int): Column =
      element_at(transform(array(windowGrams(ts, n)), g =>
        aggregate(array_distinct(g), lit(0L), (acc, x) => {
          val c = size(filter(g, y => y === x)).cast("long")
          acc + when(c > 1L, c * length(x).cast("long")).otherwise(lit(0L))
        })), 1)
    element_at(transform(array(tokens(text)), ts => struct(
      greatest(length(array_join(ts, " ")), lit(1)).cast("long").as("total") +:
        (topGramMaxPct.map { case (n, _) => topChars(ts, n).as(s"top$n") } ++
          dupGramMaxPct.map { case (n, _) => dupChars(ts, n).as(s"dup$n") }): _*)), 1)
  }

  /** The keep bit over a char-count lookup: `100 * chars <= pct * total`
    * for every rule, in exact integers.
    */
  private def repetitionKeepOf(c: String => Column): Column =
    (topGramMaxPct.map { case (n, p) => c(s"top$n") * 100 <= c("total") * p } ++
      dupGramMaxPct.map { case (n, p) => c(s"dup$n") * 100 <= c("total") * p })
      .reduce(_ && _)

  /** Canonicalize a URL for dedup keying (the C4/RefinedWeb hygiene
    * set): strip the fragment, lowercase scheme+host, drop default
    * ports (:80/:443), and remove tracking query params (utm_*, ref) —
    * tidying the separators they leave behind. Path case is preserved
    * (paths are case-sensitive on real origins). Every step is a
    * dialect-neutral regex rewrite, mirrored 1:1 by the DuckDB oracle.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val hostPart = regexp_replace(
      lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
      ":(443|80)$", "")
    // Tracking params are stripped in four RE2-safe passes (no
    // lookbehind, so the same regexes run verbatim in the DuckDB
    // oracle): (1) drop `sep name=value`, keeping the separator via a
    // capture so the param name must START at a separator (an
    // unanchored match would eat the tail of e.g. ?href=...);
    // (2) collapse the `&&` runs that adjacent tracking params leave;
    // (3) `?&` -> `?`; (4) trim a trailing bare separator.
    val path = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""),
            "([?&])(utm_[a-z0-9]+|ref)=[^&]*", "$1"),
          "&&+", "&"),
        "\\?&", "?"),
      "[?&]$", "")
    concat(hostPart, path)
  }

  /** Host of an already-canonicalized URL (lowercase, port stripped). */
  def urlHost(canon: Column): Column =
    regexp_extract(canon, "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)

  /** Deterministic synthetic URL per document — the corpus has no URL
    * column, so (the x35 PII convention) each doc gets one derived from
    * its id/source with mixed case, a default port, tracking params and
    * fragments, such that canonicalization collapses doc_id classes
    * (mod lcm(50, 20, 5) = 100) into shared canonical URLs.
    */
  private def syntheticUrl: Column =
    concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/Path"),
      (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&id="), (col("doc_id") % 5).cast("string"),
          lit("&ref=rss")))
        .otherwise(concat(lit("?id="), (col("doc_id") % 5).cast("string"))),
      when(col("doc_id") % 2 === 0,
        concat(lit("#sec"), (col("doc_id") % 4).cast("string")))
        .otherwise(lit("")))

  /** Hosts refused outright (spam/adult-domain blocklist stand-in). */
  val blockedHosts: Seq[String] =
    Seq("www.src3.example.com", "www.src17.example.com")

  /** x111: operating curve of the x09 quality score — for each
    * threshold t ∈ {0, 0.05, …, 1.0}, how many documents and tokens
    * survive `quality >= t`. The table an engineer reads to pick the
    * threshold that meets a token budget, computed in ONE corpus scan:
    * per-doc scores quantize to integer micro-units (round-6 quality ×
    * 1e6 — exact in BIGINT, so the bucket boundary can never float
    * apart cross-engine), aggregate into ≤21 buckets, and each bucket
    * row EXPLODES its covered thresholds (i ≤ bucket ⟺ q ≥ i·0.05) —
    * suffix sums via a generator and a 21-group aggregate, no join, no
    * global window, no second scan. `frac_kept` divides by one driver
    * scalar (the x42/x51 count shape).
    */
  private def thresholdSweep(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents")
    val total = docs.count().toDouble
    val q = TextAnalysis.qualityFeatures(docs, "doc_id", "text")
      .select(round(col("quality") * 1e6).cast("long").as("qi"),
        col("n_tokens"))
    val bAgg = q
      .select(expr("least(qi div 50000, 20)").as("bucket"),
        col("n_tokens"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("tk"))
    val zeros = s.range(0, 21)
      .select(col("id").as("i"), lit(0L).as("n"), lit(0L).as("tk"))
    bAgg
      .select(explode(sequence(lit(0L), col("bucket"))).as("i"),
        col("n"), col("tk"))
      .unionByName(zeros)
      .groupBy(col("i"))
      .agg(sum(col("n")).as("n_kept"), sum(col("tk")).as("tokens_kept"))
      .select((col("i") * 5).cast("int").as("thr_pct"),
        col("n_kept"),
        round(col("n_kept").cast("double") / total, 6).as("frac_kept"),
        col("tokens_kept"))
      .orderBy(col("thr_pct"))
  }

  val queries: Map[String, Q] = Map(
    // quality-threshold operating curve (FULL SQL oracle) — see
    // [[thresholdSweep]]
    "x111_threshold_sweep" -> ((s, d) => thresholdSweep(s, d)),

    // Gopher rule gate: integer counts + per-rule booleans + the
    // composite pass bit. A deterministic symbol-noise suffix rides on
    // doc_id % 7 == 0 docs (the corpus itself is clean word-salad) so
    // the symbol rule actually fires — same literal on both engines,
    // the x44 convention.
    "x49_gopher_rules" -> ((s, d) => {
      val aug = Tables(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" ### #! ##")).otherwise(lit("")))
          .as("t"))
      gopherRules(gopherStats(aug, "doc_id", "t")).orderBy(col("doc_id"))
    }),

    // URL canonicalize + blocklist + dedup: group by canonical URL
    // (keep-min doc), anti-join blocked hosts via a broadcast literal
    // relation. The shuffle key is the canonical URL — one key per
    // page, the x01 exact-dedup shape at any corpus size.
    "x50_url_canonicalize" -> ((s, d) => {
      import s.implicits._
      val canon = Tables(s, d, "documents")
        .select(col("doc_id"), canonicalizeUrl(syntheticUrl).as("canon_url"))
        .withColumn("host", urlHost(col("canon_url")))
      val blocked = blockedHosts.toDF("host")
      canon.join(broadcast(blocked), Seq("host"), "left_anti")
        .groupBy(col("canon_url"), col("host"))
        .agg(min(col("doc_id")).as("keeper_doc"), count(lit(1)).as("n_docs"))
        .orderBy(col("canon_url"))
    }),

    // TF-IDF top-3 terms per document: tf and df are map-side-combinable
    // counts; N is one driver scalar; the per-doc top-k goes through a
    // rank<=3 filter that Catalyst rewrites to WindowGroupLimit (the q54
    // shape — a map-side k-heap, never a full per-doc sort at scale).
    // Score follows the x42 float convention (ln, round 6); rank ties
    // break on term asc so ordering is deterministic cross-engine.
    "x51_tfidf" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val n = docs.count().toDouble // one scalar, the x42 vocab shape
      val tok = docs.select(col("doc_id"), explode_outer(tokens(col("text"))).as("w"))
        .filter(col("w").isNotNull)
      val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      // df rides on tf: one row per (doc, term) is already distinct, so
      // count(*) per term IS the document frequency — no second
      // scan+explode of the corpus, and the input to this aggregate is
      // the (far smaller) post-combine tf relation
      val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val scored = tf.join(df, Seq("w"))
        .withColumn("score", col("tf").cast("double") * log(lit(n) / col("df").cast("double")))
      val rk = row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w")))
      scored.withColumn("rank", rk).filter(col("rank") <= 3)
        .select(col("doc_id"), col("w").as("term"), col("tf"), col("df"),
          round(col("score"), 6).as("score"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // Per-source quantile normalization (the FineWeb practice): a raw
    // quality proxy is comparable WITHIN a source but not across
    // sources with different length/style distributions — replace it
    // with its percent_rank inside the source. Exact rational
    // (rank-1)/(n-1) on both engines; per-source windows, no global
    // sort. Proxy = bpeish token count with doc_id tie-break, fully
    // deterministic.
    "x57_quantile_normalize" -> ((s, d) => {
      val n = TextAnalysis.bpeishTokenCount(col("text"))
      val w = Window.partitionBy(col("source")).orderBy(col("n"), col("doc_id"))
      Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), n.as("n"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .orderBy(col("doc_id"))
    }),

    // Best-first token-budget selection: fill a per-source token budget
    // by quality order (longest-first here, doc_id tie-break) — the
    // "fill 1T tokens from the best docs" pipeline step. The running
    // sum is an integer per-source window cumsum; a doc is kept while
    // the budget is not yet exhausted INCLUDING itself (so selection is
    // a prefix of the source's quality ordering — deterministic, no
    // knapsack). One shuffle on source, no global sort.
    "x58_token_budget" -> ((s, d) => {
      val n = TextAnalysis.bpeishTokenCount(col("text"))
      val w = Window.partitionBy(col("source")).orderBy(col("n").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), n.as("n"))
        .withColumn("cum", sum(col("n")).over(w))
        .filter(col("cum") <= 500)
        .select(col("doc_id"), col("source"), col("n"), col("cum"))
        .orderBy(col("doc_id"))
    }),

    // Value-based quartile bucketing — the SCALE-SAFE form of q48's
    // global-ntile window: three exact percentile boundaries collect to
    // the driver (bounded scalars, the x42/x51 shape), and assignment
    // is then a pure scan compare — no global sort, no single-partition
    // window at any corpus size. Equal values always share a bucket
    // (ntile splits ties by position — value-based is the semantics a
    // curation threshold actually wants). At 100 TB, swap the exact
    // percentile for the x18 quantile sketch; the assignment scan is
    // unchanged. Both engines interpolate quantiles identically
    // (p*(N-1) linear), so the integer bucket surface is exact.
    "x59_value_quartiles" -> ((s, d) => {
      val n = TextAnalysis.bpeishTokenCount(col("text"))
      val t = Tables(s, d, "documents").select(col("doc_id"), n.as("n"))
      val qs = t.agg(percentile(col("n"),
          lit(Array(0.25, 0.5, 0.75))).as("qs"))
        .head().getSeq[Double](0)
      t.withColumn("bucket",
          lit(1) + (col("n") > qs(0)).cast("int") +
            (col("n") > qs(1)).cast("int") + (col("n") > qs(2)).cast("int"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic negative sampling for contrastive training: each
    // doc gets k=3 pseudo-random partners via a Knuth multiplicative
    // mix of (doc_id, j) mod corpus size — pure integer arithmetic,
    // identical in both engines, self-collisions bumped to the next id.
    // N is one driver scalar; the partner lookup is an id-keyed
    // self-join (the q26 shape). Production with sparse ids would hash
    // onto a rank ring instead; the mix is the dense-id fast path
    // (driver testdata ids are 0..N-1).
    "x60_negative_samples" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val nDocs = docs.count()
      val raw = (col("doc_id") * 2654435761L + col("j") * 40503L) % nDocs
      val neg = when(raw === col("doc_id"), (raw + 1) % nDocs).otherwise(raw)
      docs.select(col("doc_id"), explode(array(lit(1), lit(2), lit(3))).as("j"))
        .withColumn("neg_id", neg)
        .join(docs.select(col("doc_id").as("neg_id"),
          col("source").as("neg_source")), Seq("neg_id"))
        .select(col("doc_id"), col("j"), col("neg_id"), col("neg_source"))
        .orderBy(col("doc_id"), col("j"))
    }),

    // Length-bucketed packing stats: power-of-two token buckets
    // (16..2048, longer docs truncate into the cap) with per-bucket
    // padding waste — the batch-shape accounting a training loader
    // does. Bucket is a pure projection; ONE bounded hash aggregate.
    "x52_length_buckets" -> ((s, d) => {
      val n = graft.operators.TextAnalysis.bpeishTokenCount(col("text"))
      val bucket = Seq(16, 32, 64, 128, 256, 512, 1024)
        .foldRight(lit(2048): Column)((b, acc) => when(n <= b, b).otherwise(acc))
      Tables(s, d, "documents")
        .select(bucket.as("bucket"), n.as("n"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("n"), col("bucket")).cast("long")).as("sum_tokens"),
          sum((col("bucket") - least(col("n"), col("bucket"))).cast("long")).as("pad_tokens"),
          sum(when(col("n") > 2048, 1L).otherwise(0L)).as("n_truncated"))
        .orderBy(col("bucket"))
    }),

    // per-source document cap — the "no host dominates the corpus"
    // curation step (domain caps in CommonCrawl-scale pipelines): keep
    // the CAP longest documents per source, deterministic tiebreak on
    // doc_id. Spark 4 plans the rank filter as a WindowGroupLimit —
    // a per-group k-heap on BOTH sides of the shuffle (PlanAuditSpec
    // pins it), so no source is ever fully sorted or materialized and
    // one mega-host cannot skew the stage: exactly CAP rows per source
    // survive the map side of the shuffle.
    "x93_source_cap" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          row_number().over(w).as("rnk"))
        .filter(col("rnk") <= 200)
        .orderBy(col("source"), col("rnk"))
    }),

    // per-source corpus health report — the one relation a curation
    // platform materializes per snapshot: volume, exact-dup rate,
    // language spread, token totals, mean quality. Every column is a
    // bounded per-source aggregate over already-oracled features (x01's
    // content hash, x09's quality surface), so the report itself
    // carries a full oracle.
    "x85_curation_report" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val f = graft.operators.TextAnalysis
        .qualityFeatures(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("quality"))
      docs.select(col("doc_id"), col("source"), col("lang"),
          md5(coalesce(lower(trim(col("text"))), lit(""))).as("h"))
        .join(f, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dup"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"),
          round(avg(col("quality")), 6).as("avg_quality"))
        .orderBy(col("source"))
    }),

    // Gopher repetition rules: top-n-gram (n=2..4) and duplicated-n-gram
    // (n=5..10) character fractions + the composite keep bit. The corpus
    // is short-range word salad (top-2-gram fractions split it: ~13/500
    // exceed 20% at sf0.01) but has no 5+-token repeats, so a
    // deterministic repeated phrase rides doc_id % 11 == 0 docs — same
    // literal on both engines, the x44/x49 convention — making every
    // dup-n clause observable in the declared output.
    "x106_repetition_rules" -> ((s, d) => {
      val aug = Tables(s, d, "documents").select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 11 === 0,
          repeat(lit(" spark shuffle merge sort hash join"), 4))
          .otherwise(lit("")))
          .as("t"))
      repetitionRules(aug, "doc_id", "t").orderBy(col("doc_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // the x09 quality formula (round 6), quantized to integer
    // micro-units so the bucket boundary is exact in both engines
    "x111_threshold_sweep" ->
      """WITH tk AS (
        |  SELECT text,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ts
        |  FROM documents
        |), q AS (
        |  SELECT CAST(round(round(
        |    least(CAST(len(ts) AS DOUBLE) / 100.0, 1.0) * 0.5 +
        |    (1.0 - least(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) * 5.0, 1.0)) * 0.3 +
        |    least(CAST(len(list_intersect(list_distinct(ts), ['the','a','of','and','is'])) AS DOUBLE)
        |          / greatest(len(list_distinct(ts)), 1) * 10.0, 1.0) * 0.2, 6) * 1000000) AS BIGINT) AS qi,
        |    len(ts) AS toks
        |  FROM tk
        |), b AS (
        |  SELECT least(qi // 50000, 20) AS bucket, count(*) AS n, sum(toks) AS tk
        |  FROM q GROUP BY 1
        |), t AS (SELECT unnest(generate_series(0, 20)) AS i)
        |SELECT CAST(i * 5 AS INT) AS thr_pct,
        |  CAST(coalesce(sum(b.n), 0) AS BIGINT) AS n_kept,
        |  round(CAST(coalesce(sum(b.n), 0) AS DOUBLE) / (SELECT count(*) FROM documents), 6) AS frac_kept,
        |  CAST(coalesce(sum(b.tk), 0) AS BIGINT) AS tokens_kept
        |FROM t LEFT JOIN b ON b.bucket >= t.i
        |GROUP BY i ORDER BY thr_pct""".stripMargin,

    "x49_gopher_rules" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0 THEN ' ### #! ##' ELSE '' END AS t
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(t)), '\s+'), x -> x <> '') AS ts,
        |    CAST(length(regexp_replace(t, '\s+', '', 'g')) AS INT) AS n_nonspace_chars
        |  FROM a
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS INT) AS n_words,
        |    n_nonspace_chars,
        |    CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) AS INT) AS n_alpha_words,
        |    CAST(len(list_filter(ts, x -> regexp_matches(x, '^[^a-z0-9]+$'))) AS INT) AS n_symbol_words,
        |    CAST(len(list_intersect(list_distinct(ts), ['the','a','of','and','is'])) AS INT) AS n_stop_distinct
        |  FROM s
        |)
        |SELECT doc_id, n_words, n_nonspace_chars, n_alpha_words, n_symbol_words,
        |  n_stop_distinct,
        |  (n_words BETWEEN 10 AND 100000) AS r_word_count,
        |  (3 * n_words <= n_nonspace_chars AND n_nonspace_chars <= 10 * n_words) AS r_mean_word_len,
        |  (10 * n_symbol_words <= n_words) AS r_symbol_ratio,
        |  (5 * n_alpha_words >= 4 * n_words) AS r_alpha_words,
        |  (n_stop_distinct >= 2) AS r_stopwords,
        |  ((n_words BETWEEN 10 AND 100000)
        |   AND (3 * n_words <= n_nonspace_chars AND n_nonspace_chars <= 10 * n_words)
        |   AND (10 * n_symbol_words <= n_words)
        |   AND (5 * n_alpha_words >= 4 * n_words)
        |   AND (n_stop_distinct >= 2)) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    "x50_url_canonicalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.' || source || '.Example.COM:443/Path' || CAST(doc_id % 50 AS VARCHAR)
        |    || CASE WHEN doc_id % 3 = 0
        |            THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) || '&ref=rss'
        |            ELSE '?id=' || CAST(doc_id % 5 AS VARCHAR) END
        |    || CASE WHEN doc_id % 2 = 0 THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END AS raw
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, regexp_replace(raw, '#.*$', '') AS nofrag FROM u
        |), p AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
        |      ':(443|80)$', '') AS hostpart,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(regexp_replace(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''),
        |            '([?&])(utm_[a-z0-9]+|ref)=[^&]*', '\1', 'g'),
        |          '&&+', '&', 'g'),
        |        '\?&', '?', 'g'),
        |      '[?&]$', '') AS path
        |  FROM c
        |), k AS (
        |  SELECT doc_id, hostpart || path AS canon_url,
        |    regexp_extract(hostpart, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host
        |  FROM p
        |)
        |SELECT canon_url, host, min(doc_id) AS keeper_doc,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM k
        |WHERE host NOT IN ('www.src3.example.com', 'www.src17.example.com')
        |GROUP BY canon_url, host
        |ORDER BY canon_url""".stripMargin,

    "x51_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2
        |), df AS (
        |  SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n FROM documents
        |), sc AS (
        |  SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
        |  FROM tf JOIN df USING (w) CROSS JOIN n
        |), rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM sc
        |)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  round(score, 6) AS score, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "x60_negative_samples" ->
      """WITH n AS (SELECT count(*) AS nd FROM documents),
        |k AS (SELECT doc_id, j FROM documents, unnest([1, 2, 3]) AS u(j)),
        |t AS (
        |  SELECT k.doc_id, k.j,
        |    CASE WHEN (k.doc_id * 2654435761 + k.j * 40503) % nd = k.doc_id
        |         THEN ((k.doc_id * 2654435761 + k.j * 40503) % nd + 1) % nd
        |         ELSE (k.doc_id * 2654435761 + k.j * 40503) % nd END AS neg_id
        |  FROM k, n
        |)
        |SELECT t.doc_id, t.j, t.neg_id, d.source AS neg_source
        |FROM t JOIN documents d ON d.doc_id = t.neg_id
        |ORDER BY t.doc_id, t.j""".stripMargin,

    "x59_value_quartiles" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n
        |  FROM documents
        |), b AS (
        |  SELECT quantile_cont(n, [0.25, 0.5, 0.75]) AS qs FROM t
        |)
        |SELECT doc_id, n,
        |  1 + CAST(n > qs[1] AS INT) + CAST(n > qs[2] AS INT)
        |    + CAST(n > qs[3] AS INT) AS bucket
        |FROM t, b ORDER BY doc_id""".stripMargin,

    "x57_quantile_normalize" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n
        |  FROM documents
        |)
        |SELECT doc_id, source, n,
        |  round(percent_rank() OVER (PARTITION BY source ORDER BY n, doc_id), 6) AS pr
        |FROM t ORDER BY doc_id""".stripMargin,

    "x58_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n,
        |    sum(n) OVER (PARTITION BY source ORDER BY n DESC, doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, n, CAST(cum AS BIGINT) AS cum
        |FROM c WHERE cum <= 500 ORDER BY doc_id""".stripMargin,

    "x52_length_buckets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
        |         WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
        |         WHEN n <= 1024 THEN 1024 ELSE 2048 END AS bucket
        |  FROM t
        |)
        |SELECT CAST(bucket AS INT) AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(least(n, bucket)) AS BIGINT) AS sum_tokens,
        |  CAST(sum(bucket - least(n, bucket)) AS BIGINT) AS pad_tokens,
        |  CAST(sum(CASE WHEN n > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "x93_source_cap" ->
      """SELECT doc_id, source, n_chars, CAST(rnk AS INT) AS rnk
        |FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM documents
        |)
        |WHERE rnk <= 200 ORDER BY source, rnk""".stripMargin,

    "x85_curation_report" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS n_tokens,
        |    round(
        |      least(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5 +
        |      (1.0 - least(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) * 5.0, 1.0)) * 0.3 +
        |      least(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')), ['the','a','of','and','is'])) AS DOUBLE)
        |            / greatest(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), 1) * 10.0, 1.0) * 0.2, 6) AS quality
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, source, lang,
        |    md5(coalesce(lower(trim(text)), '')) AS h
        |  FROM documents
        |)
        |SELECT h.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) - count(DISTINCT h.h) AS BIGINT) AS n_dup,
        |  CAST(count(DISTINCT h.lang) AS BIGINT) AS n_langs,
        |  CAST(sum(f.n_tokens) AS BIGINT) AS sum_tokens,
        |  round(avg(f.quality), 6) AS avg_quality
        |FROM h JOIN f USING (doc_id)
        |GROUP BY h.source ORDER BY h.source""".stripMargin,

    "x106_repetition_rules" -> x106Sql
  )

  /** The x106 oracle, generated per n so the two engines' gram/threshold
    * tables cannot drift: mirrors [[windowGrams]]' position convention
    * (1..greatest(len-(n-1), 1); shorter-than-n docs yield one short
    * gram) and the exact-integer keep comparison.
    */
  private def x106Sql: String = {
    def gramCte(n: Int): String =
      s"""c$n AS (
         |  SELECT doc_id, any_value(total) AS total, gram,
         |    count(*) AS c, length(gram) AS l
         |  FROM (SELECT doc_id, total,
         |          array_to_string(ts[i : i + ${n - 1}], ' ') AS gram
         |        FROM tot,
         |          unnest(generate_series(1, greatest(len(ts) - ${n - 1}, 1))) AS t(i))
         |  GROUP BY doc_id, gram
         |)""".stripMargin
    def topCte(n: Int, pct: Int): String =
      s"""m$n AS (
         |  SELECT doc_id,
         |    round(least(CAST(max(c * l) AS DOUBLE) / any_value(total), 1.0), 6) AS top$n,
         |    max(c * l) * 100 <= any_value(total) * $pct AS k$n
         |  FROM c$n GROUP BY doc_id
         |)""".stripMargin
    def dupCte(n: Int, pct: Int): String =
      s"""m$n AS (
         |  SELECT doc_id,
         |    round(least(CAST(coalesce(sum(CASE WHEN c > 1 THEN c * l END), 0) AS DOUBLE)
         |                / any_value(total), 1.0), 6) AS dup$n,
         |    coalesce(sum(CASE WHEN c > 1 THEN c * l END), 0) * 100
         |      <= any_value(total) * $pct AS k$n
         |  FROM c$n GROUP BY doc_id
         |)""".stripMargin
    val ns = topGramMaxPct.map(_._1) ++ dupGramMaxPct.map(_._1)
    val ctes =
      (ns.map(gramCte) ++
        topGramMaxPct.map { case (n, p) => topCte(n, p) } ++
        dupGramMaxPct.map { case (n, p) => dupCte(n, p) }).mkString(",\n")
    val fracs =
      (topGramMaxPct.map { case (n, _) => s"top$n" } ++
        dupGramMaxPct.map { case (n, _) => s"dup$n" }).mkString(", ")
    val keep = ns.map(n => s"k$n").mkString(" AND ")
    val joins = ns.tail.map(n => s"JOIN m$n USING (doc_id)").mkString(" ")
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    concat(text, CASE WHEN doc_id % 11 = 0
       |      THEN repeat(' spark shuffle merge sort hash join', 4)
       |      ELSE '' END) AS t
       |  FROM documents
       |),
       |tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(t)), '\\s+'), x -> x <> '') AS ts
       |  FROM aug
       |),
       |tot AS (
       |  SELECT doc_id, ts,
       |    greatest(length(array_to_string(ts, ' ')), 1) AS total
       |  FROM tok
       |),
       |$ctes
       |SELECT doc_id, $fracs, ($keep) AS rep_keep
       |FROM m${ns.head} $joins
       |ORDER BY doc_id""".stripMargin
  }
}
