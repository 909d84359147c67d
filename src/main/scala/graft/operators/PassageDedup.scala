package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.{tokens, windowGrams}

/** Exact duplicate-PASSAGE detection and removal — the token-granular
  * exact-substring dedup of Lee et al. 2021 ("Deduplicating Training
  * Data Makes Language Models Better"), re-expressed as a distributed
  * relational program instead of a suffix array. Document-level dedup
  * (x01/x03/x04) misses the dominant duplication mode in web corpora:
  * long shared passages (boilerplate, quotes, mirrored articles)
  * embedded in otherwise-distinct documents. This family finds maximal
  * duplicated token spans and rewrites documents with the non-canonical
  * occurrences removed.
  *
  * Algorithm (suffix-array-free, shuffle-friendly):
  *   1. Explode every k-token window WITH its 1-based token position
  *      ([[graft.functions.GraftFunctions.windowGrams]] convention,
  *      shared with x32/x33 contamination).
  *   2. A window duplicated anywhere (>= 2 occurrences corpus-wide,
  *      within-doc repeats count) marks its k covered token positions.
  *   3. Per document, fixed-length overlapping marks merge into maximal
  *      spans with a lag-based gaps-and-islands pass: window starts are
  *      sorted, so a new span opens exactly when the gap to the
  *      previous start exceeds k.
  * Any duplicated substring of >= k tokens is covered end-to-end by
  * duplicated k-windows, so the merged spans are exactly the maximal
  * duplicated passages at k-token resolution — the same guarantee the
  * suffix-array formulation gives, without any global ordered structure.
  *
  * Scale shape: occurrences travel as (id int64, pos int32, w hash64)
  * — 8-byte window keys, never window strings (the oracle groups on the
  * string; grouping equality is hash-collision-equivalent, the x02
  * convention). The occurrence count is map-side combinable; the one
  * shuffle join keys on the 8-byte hash. The island merge is a per-doc
  * window function whose state is bounded by document length. At 100 TB
  * the join's skew mode is a boilerplate window occurring in millions
  * of documents; production would cap occurrence counts (a window above
  * the cap is boilerplate for the x49 curation rules, not passage
  * dedup) or salt the hot hashes — the relational shape is unchanged.
  *
  * Reference analog: the reference deduplicates at row granularity only
  * (`src/core/use_cases/releases_scraper.py:69-126` CDC); passage-level
  * dedup is part of the SURVEY §7.4 LLM-pipeline extension mandate.
  */
object PassageDedup {
  type Q = (SparkSession, String) => DataFrame

  /** (id, pos, w, dl): every k-token window occurrence with its 1-based
    * start position, 64-bit window hash, and the doc's token length.
    */
  def windowOccurrences(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame =
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("id"), size(col("ts")).as("dl"),
        posexplode_outer(windowGrams(col("ts"), k)))
      .filter(col("col").isNotNull)
      .select(col("id"), (col("pos") + 1).as("pos"),
        xxhash64(col("col")).as("w"), col("dl"))

  /** Maximal duplicated passages: (doc_id, span_start, span_end,
    * span_tokens), positions 1-based inclusive, span_end clamped to the
    * document's token length (the short-document window convention can
    * nominally extend past it).
    */
  def duplicatePassageSpans(docs: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame = {
    val occ = windowOccurrences(docs, idCol, textCol, k)
    val nocc = occ.groupBy(col("w")).agg(count(lit(1)).as("n"))
    val dup = occ.join(nocc.filter(col("n") >= 2), Seq("w"))
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val spans = dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= k, lit(0))
          .otherwise(lit(1)))
      .withColumn("grp", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        least(max(col("pos")) + (k - 1), max(col("dl"))).as("span_end"))
    spans.select(col("id").as("doc_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long")
          .as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Rewrite documents with duplicated passages removed, keeping the
    * CANONICAL occurrence of every duplicated window — the globally
    * first one under (doc_id, pos) order. A token is dropped iff some
    * duplicated window covers it through a non-canonical occurrence.
    * Canonical selection is a min(struct(id, pos)) aggregate (map-side
    * combinable — never a corpus-wide row_number window), joined back on
    * the 8-byte window hash. Output is (doc_id, clean_text) for every
    * document, null/empty texts mapping to "".
    */
  def removeDuplicatePassages(docs: DataFrame, idCol: String, textCol: String,
                              k: Int): DataFrame = {
    val occ = windowOccurrences(docs, idCol, textCol, k)
    val canon = occ.groupBy(col("w"))
      .agg(min(struct(col("id"), col("pos"))).as("c"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val removable = occ.join(canon, Seq("w"))
      .filter(!(col("id") === col("c.id") && col("pos") === col("c.pos")))
    val removedIdx = removable
      .select(col("id"),
        explode(sequence(col("pos"), least(col("pos") + (k - 1), col("dl"))))
          .as("idx"))
      .distinct()
    val remSet = removedIdx.groupBy(col("id"))
      .agg(sort_array(collect_set(col("idx"))).as("rem"))
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .join(remSet, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          filter(col("ts"), (t: Column, i: Column) =>
            !array_contains(coalesce(col("rem"),
              array().cast("array<int>")), i + 1))).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** The PERSISTABLE half of incremental passage dedup: the distinct
    * window-hash relation of the corpus so far. Plain 8-byte keys —
    * the x34 stored-band-index shape applied to passages.
    */
  def windowIndex(docs: DataFrame, idCol: String, textCol: String,
                  k: Int): DataFrame =
    windowOccurrences(docs, idCol, textCol, k).select(col("w")).distinct()

  /** Id-KEYED stored form of the window index: per-doc distinct window
    * hashes. The ids let a crash-replayed ingest batch anti-join its
    * own half-written rows back out of the index (the CorpusStream
    * replay-idempotency contract); consumers project `w` for the
    * membership semi-join.
    */
  def windowIdIndex(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame =
    windowOccurrences(docs, idCol, textCol, k)
      .select(col("id"), col("w")).distinct()

  /** Incremental duplicated-passage spans for a NEW batch against a
    * stored window index: a batch window is duplicated if it appears in
    * the index (history) OR at least twice within the batch itself —
    * exactly the corpus-wide rule, decomposed so history is never
    * re-scanned. Per-batch cost: one batch-side window explode, one
    * map-side-combinable in-batch count, and one semi-join against the
    * stored hashes. The island merge is unchanged.
    */
  def incrementalPassageSpans(batch: DataFrame, storedWindows: DataFrame,
                              idCol: String, textCol: String, k: Int,
                              broadcastWindowLimit: Long = 2000000L): DataFrame = {
    val occ = windowOccurrences(batch, idCol, textCol, k)
    val batchW = occ.select(col("w")).distinct()
    val inBatch = occ.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("w"))
    // The stored index is SCANNED, never shuffled: the batch's distinct
    // windows land on the stored scan as a RIGHT-SEMI probe and only
    // matching hashes come back — bounded by the batch's own window
    // count whatever the index size. (occ's windows are all in batchW,
    // so filtering stored to the intersection changes nothing
    // semantically.) This is what keeps per-batch cost flat as the
    // corpus grows (PlanAuditSpec pins the plan shape); shuffling
    // the stored side through the semi-join grew 3x across a 16x index.
    // The broadcast decision is made from a MEASURED count, not left to
    // the planner: static size estimates through an explode+distinct
    // are off by orders of magnitude (measured 228x under on this exact
    // shape), so both an unconditional hint and planner defaults can
    // broadcast a giant backfill batch and OOM the driver. The measure
    // is the TOTAL occurrence count — it bounds the distinct window
    // count from above, so a broadcast chosen under the limit is always
    // safe and a giant batch degrades (conservatively) to the
    // partitioned join, paying the O(index) shuffle only when its size
    // genuinely demands it. Computed arithmetically from token lengths
    // (windows per doc = max(dl-k+1, 1), the windowGrams convention)
    // rather than counting the exploded occ relation: same value, but
    // one tokenize-and-size scan of the batch instead of replaying the
    // explode+hash pipeline that the returned plan already pays for
    // 3x. This is an EAGER action at plan-construction time — `batch`
    // must be a batch DataFrame (foreachBatch frames qualify); a
    // streaming frame here throws by design.
    val measuredWindows = batch
      .select(size(tokens(col(textCol))).as("dl"))
      .filter(col("dl") > 0)
      .agg(coalesce(sum(greatest(col("dl") - (k - 1), lit(1))), lit(0L)))
      .head().getLong(0)
    val matched = storedWindows.select(col("w"))
      .join(if (measuredWindows <= broadcastWindowLimit) broadcast(batchW)
            else batchW,
        Seq("w"), "left_semi")
    // no distinct over the union: LEFT SEMI ignores right-side dups
    val dupW = inBatch.unionByName(matched)
    val dup = occ.join(dupW, Seq("w"), "left_semi")
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= k, lit(0))
          .otherwise(lit(1)))
      .withColumn("grp", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        least(max(col("pos")) + (k - 1), max(col("dl"))).as("span_end"))
      .select(col("id").as("doc_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long")
          .as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  private val K = 5

  val queries: Map[String, Q] = Map(
    "x78_dup_passage_spans" -> ((s, d) =>
      duplicatePassageSpans(
        ExtensionQueries.rebalanced(Tables(s, d, "documents")),
        "doc_id", "text", K)),

    "x79_dup_passage_removal" -> ((s, d) =>
      removeDuplicatePassages(
        ExtensionQueries.rebalanced(Tables(s, d, "documents")),
        "doc_id", "text", K)),

    // incremental passage dedup: even doc_ids are the STORED corpus
    // (window-hash index), odd doc_ids arrive as the new batch. The
    // oracle recomputes the same decomposition relationally — history
    // windows as a distinct set, in-batch repeats counted separately.
    "x84_incremental_passage" -> ((s, d) => {
      val docs = ExtensionQueries.rebalanced(Tables(s, d, "documents"))
      val stored = windowIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", K)
      incrementalPassageSpans(docs.filter(col("doc_id") % 2 === 1),
        stored, "doc_id", "text", K)
    })
  )

  /** Tokenization mirrored from [[graft.functions.GraftFunctions.tokens]]
    * (lowercase, whitespace split, empties dropped).
    */
  private val TokArr =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"""

  val oracleSql: Map[String, String] = Map(
    "x78_dup_passage_spans" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $TokArr AS ts FROM documents
         |), occ AS (
         |  SELECT doc_id, CAST(i AS INT) AS pos,
         |    array_to_string(ts[i : i + ${K - 1}], ' ') AS w,
         |    len(ts) AS dl
         |  FROM tok, unnest(generate_series(1, greatest(len(ts) - ${K - 1}, 1))) AS t(i)
         |  WHERE len(ts) > 0
         |), nocc AS (
         |  SELECT w, count(*) AS n FROM occ GROUP BY w
         |), dup AS (
         |  SELECT doc_id, pos, dl FROM occ JOIN nocc USING (w) WHERE n >= 2
         |), brk AS (
         |  SELECT doc_id, pos, dl,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |              <= $K THEN 0 ELSE 1 END AS is_brk
         |  FROM dup
         |), grp AS (
         |  SELECT doc_id, pos, dl,
         |    sum(is_brk) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS UNBOUNDED PRECEDING) AS g
         |  FROM brk
         |)
         |SELECT doc_id,
         |  CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(least(max(pos) + ${K - 1}, max(dl)) AS BIGINT) AS span_end,
         |  CAST(least(max(pos) + ${K - 1}, max(dl)) - min(pos) + 1 AS BIGINT)
         |    AS span_tokens
         |FROM grp GROUP BY doc_id, g
         |ORDER BY doc_id, span_start""".stripMargin,

    "x79_dup_passage_removal" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $TokArr AS ts FROM documents
         |), occ AS (
         |  SELECT doc_id, CAST(i AS INT) AS pos,
         |    array_to_string(ts[i : i + ${K - 1}], ' ') AS w,
         |    len(ts) AS dl
         |  FROM tok, unnest(generate_series(1, greatest(len(ts) - ${K - 1}, 1))) AS t(i)
         |  WHERE len(ts) > 0
         |), ranked AS (
         |  SELECT doc_id, pos, w, dl,
         |    row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn,
         |    count(*) OVER (PARTITION BY w) AS n
         |  FROM occ
         |), removable AS (
         |  SELECT doc_id, pos, dl FROM ranked WHERE n >= 2 AND rn > 1
         |), rem AS (
         |  SELECT DISTINCT doc_id, CAST(j AS INT) AS idx
         |  FROM removable,
         |    unnest(generate_series(pos, least(pos + ${K - 1}, dl))) AS u(j)
         |), toki AS (
         |  SELECT doc_id, CAST(i AS INT) AS idx, ts[i] AS tk
         |  FROM tok, unnest(generate_series(1, len(ts))) AS t(i)
         |), kept AS (
         |  SELECT toki.doc_id, toki.idx, toki.tk
         |  FROM toki LEFT JOIN rem
         |    ON rem.doc_id = toki.doc_id AND rem.idx = toki.idx
         |  WHERE rem.doc_id IS NULL
         |)
         |SELECT d.doc_id,
         |  coalesce((SELECT string_agg(tk, ' ' ORDER BY idx)
         |            FROM kept WHERE kept.doc_id = d.doc_id), '') AS clean_text
         |FROM documents d
         |ORDER BY d.doc_id""".stripMargin,

    "x84_incremental_passage" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $TokArr AS ts FROM documents
         |), occ AS (
         |  SELECT doc_id, CAST(i AS INT) AS pos,
         |    array_to_string(ts[i : i + ${K - 1}], ' ') AS w,
         |    len(ts) AS dl
         |  FROM tok, unnest(generate_series(1, greatest(len(ts) - ${K - 1}, 1))) AS t(i)
         |  WHERE len(ts) > 0
         |), stored AS (
         |  SELECT DISTINCT w FROM occ WHERE doc_id % 2 = 0
         |), batch AS (
         |  SELECT doc_id, pos, w, dl FROM occ WHERE doc_id % 2 = 1
         |), inbatch AS (
         |  SELECT w FROM batch GROUP BY w HAVING count(*) >= 2
         |), dupw AS (
         |  SELECT w FROM inbatch UNION SELECT w FROM stored
         |), dup AS (
         |  SELECT doc_id, pos, dl FROM batch SEMI JOIN dupw USING (w)
         |), brk AS (
         |  SELECT doc_id, pos, dl,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |              <= $K THEN 0 ELSE 1 END AS is_brk
         |  FROM dup
         |), grp AS (
         |  SELECT doc_id, pos, dl,
         |    sum(is_brk) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS UNBOUNDED PRECEDING) AS g
         |  FROM brk
         |)
         |SELECT doc_id,
         |  CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(least(max(pos) + ${K - 1}, max(dl)) AS BIGINT) AS span_end,
         |  CAST(least(max(pos) + ${K - 1}, max(dl)) - min(pos) + 1 AS BIGINT)
         |    AS span_tokens
         |FROM grp GROUP BY doc_id, g
         |ORDER BY doc_id, span_start""".stripMargin
  )
}
