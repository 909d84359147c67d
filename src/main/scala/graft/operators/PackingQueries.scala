package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.{tokens, windowGrams}
import graft.operators.{TextAnalysis => TA}

/** Sequence-shaping operators for LLM training-data pipelines:
  *
  *  - [[packSequences]]: concat-and-chunk packing — documents are laid
  *    end-to-end in deterministic order and cut every `budget` tokens,
  *    the standard pretraining batch-shaping step. Packing is computed
  *    PER SHARD (a running token sum needs a window, and an
  *    unpartitioned window is the classic 100 TB scale-killer): each
  *    shard's cumulative sum runs independently, so the only global
  *    ordering requirement is within a shard, and shard count scales
  *    with the cluster. Shard assignment is a pure function of the id —
  *    reruns, engines and partitionings agree.
  *  - [[chunkOverlap]]: fixed-width overlapping token windows per
  *    document (RAG / long-context splitting). Scan + explode: no
  *    shuffle, no state; each document expands independently.
  *  - [[repetitionRatio]]: within-document duplicate trigram fraction
  *    (the Gopher/C4-family repetition quality rule). Computed with
  *    array expressions in the scan-project stage — per-document, no
  *    explode, no shuffle.
  *
  * All three are exact deterministic relational programs, so each
  * declared query is DuckDB-hash-checked (no rows-only trust).
  */
object PackingQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Tokens-per-pack budget of the declared packing query. */
  private val Budget = 512

  /** Shard count of the declared packing query. Production sizing:
    * O(cluster cores) so each shard's window sorts a bounded slice.
    */
  private val Shards = 8

  /** (id, n_tok, shard, bin, bin_offset): document `id` contributes its
    * tokens starting at `bin_offset` of pack `bin` within `shard`.
    * Documents longer than the residual pack space simply flow across
    * pack boundaries — concat-and-chunk semantics, where a "pack" is a
    * fixed window over the shard's concatenated token stream.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    budget: Int, shards: Int): DataFrame =
    packCore(docs, idCol, textCol, budget,
      pmod(col(idCol), lit(shards.toLong)))

  /** [[packSequences]] for NON-numeric ids (content-hash doc ids):
    * shard = pmod(xxhash64(id), shards), deterministic order within a
    * shard by the id itself — same plan shape, no numeric surrogate
    * key or join-back needed.
    */
  def packSequencesKeyed(docs: DataFrame, idCol: String, textCol: String,
                         budget: Int, shards: Int): DataFrame =
    packCore(docs, idCol, textCol, budget,
      pmod(xxhash64(col(idCol)), lit(shards.toLong)))

  private def packCore(docs: DataFrame, idCol: String, textCol: String,
                       budget: Int, shardExpr: Column): DataFrame =
    packCounted(docs.select(col(idCol),
      TA.tokenCount(col(textCol)).as("n_tok")), idCol, budget, shardExpr)

  /** The packer over a PRECOMPUTED (id, n_tok) relation — the entry
    * point for packing by a real tokenizer's counts (the byte-BPE
    * x123 family) instead of whitespace words: the bin algebra is
    * count-agnostic, only the counting differs.
    */
  def packCounted(counted: DataFrame, idCol: String,
                  budget: Int, shardExpr: Column): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counted.select(col(idCol), col("n_tok"), shardExpr.as("shard"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col(idCol), col("n_tok"), col("shard"),
        floor((col("cum") - col("n_tok")) / lit(budget.toDouble)).as("bin"),
        ((col("cum") - col("n_tok")) % budget).as("bin_offset"))
  }

  /** Deterministic seeded training order: assign each document a shard
    * and a position within it by sorting on md5(seed || id) — the
    * epoch-shuffle a training run needs, with the sampling family's
    * reproducibility properties (pure function of (seed, id): identical
    * across runs, engines, partitionings; a different seed is a fresh
    * permutation). The ordering window is PER SHARD — shard count
    * scales with the cluster, no global sort ever happens.
    */
  def shuffleOrder(docs: DataFrame, idCol: String, shards: Int,
                   seed: Long): DataFrame = {
    // 16 hash bits drive the shard draw: past 65536 shards the
    // distribution degenerates (and pos windows would be near-empty) —
    // fail loudly rather than skew silently
    require(shards >= 1 && shards <= 65536,
      s"shards must be in [1, 65536], got $shards")
    val key = md5(concat(lit(seed.toString), lit(":"), col(idCol).cast("string")))
    // shard from the key's leading 16 hash bits (engine-portable hex
    // arithmetic — DuckDB reads the same value as ('0x'||…)::BIGINT)
    val w = Window.partitionBy(col("shard")).orderBy(col("__k"), col(idCol))
    docs.select(col(idCol), key.as("__k"))
      .withColumn("shard",
        pmod(conv(substring(col("__k"), 1, 4), 16, 10).cast("long"),
          lit(shards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** (id, chunk_id, chunk): overlapping `width`-token windows every
    * `stride` tokens (overlap = width - stride). Start positions are
    * 0, stride, 2*stride, ... while they fall inside the document.
    */
  def chunkOverlap(docs: DataFrame, idCol: String, textCol: String,
                   width: Int, stride: Int): DataFrame =
    chunkOverlapOf(docs, idCol, tokens(col(textCol)), width, stride)

  /** Same grid over a caller-supplied token-array expression — the
    * paragraph family chunks RAW (case-preserving) tokens through the
    * one grid definition so the two conventions cannot drift.
    */
  def chunkOverlapOf(docs: DataFrame, idCol: String, tokensExpr: Column,
                     width: Int, stride: Int): DataFrame = {
    // fail fast: stride=0 surfaces as an executor-side sequence-step
    // error, width<=0 silently produces all-empty chunks
    require(stride > 0 && width > 0,
      s"width and stride must be > 0, got width=$width stride=$stride")
    val ts = tokensExpr
    docs.select(col(idCol), ts.as("__ts"))
      .filter(size(col("__ts")) > 0)
      // size-1 needs no floor guard: the filter above ensures size >= 1
      .select(col(idCol),
        explode(sequence(lit(0), size(col("__ts")) - 1, lit(stride))).as("__st"),
        col("__ts"))
      .select(col(idCol),
        (col("__st") / stride).cast("int").as("chunk_id"),
        array_join(slice(col("__ts"), col("__st") + 1, lit(width)), " ")
          .as("chunk"))
  }

  /** (id, rep_ratio): 1 - distinct/total word trigrams of the document
    * (0 = no repeated trigram). Degenerate docs (< 3 tokens) form one
    * short gram -> ratio 0, mirroring the shingle convention of the
    * dedup family ([[graft.functions.GraftFunctions.shingles]]).
    */
  def repetitionRatio(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), repetitionRatioOf(col(textCol)).as("rep_ratio"))

  /** The [[repetitionRatio]] of one text, as a column. */
  def repetitionRatioOf(text: Column): Column =
    // the gram array binds once (HOFs never codegen, so the duplicated
    // subtree would otherwise evaluate twice per row — distinct + size)
    element_at(transform(array(windowGrams(tokens(text), 3)), g =>
      round(lit(1.0) -
        size(array_distinct(g)).cast("double") /
          size(g).cast("double"), 6)), 1)

  val queries: Map[String, Q] = Map(
    "x28_pack_sequences" -> ((s, d) =>
      packSequences(Tables(s, d, "documents"), "doc_id", "text", Budget, Shards)
        .orderBy(col("doc_id"))),

    // packing stats: packs per shard and shard token mass — proves the
    // shards stay balanced (the property that lets shard count scale
    // with the cluster instead of one global running sum)
    "x28s_pack_stats" -> ((s, d) =>
      packSequences(Tables(s, d, "documents"), "doc_id", "text", Budget, Shards)
        .groupBy(col("shard"))
        .agg((max(col("bin")) + 1).as("n_bins"),
          sum(col("n_tok")).as("total_tokens"))
        .orderBy(col("shard"))),

    "x29_chunk_overlap" -> ((s, d) =>
      chunkOverlap(Tables(s, d, "documents"), "doc_id", "text",
          width = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))),

    "x30_repetition_ratio" -> ((s, d) =>
      repetitionRatio(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // seeded epoch shuffle: deterministic per-shard training order
    "x47_shuffle_order" -> ((s, d) =>
      shuffleOrder(Tables(s, d, "documents"), "doc_id", shards = 8, seed = 42L)
        .orderBy(col("shard"), col("pos")))
  )

  // list_filter mirrors Spark's tokens() empty-string filter, so an
  // empty/whitespace-only document counts 0 tokens in BOTH engines (an
  // unfiltered string_split_regex('') yields [''] = len 1, silently
  // shifting every later doc's bin in the shard)
  private val TokArr =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"""
  private val TokLen = s"len($TokArr)"

  val oracleSql: Map[String, String] = Map(
    "x28_pack_sequences" ->
      s"""SELECT doc_id, n_tok, shard,
         |  CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS bin,
         |  CAST((cum - n_tok) % 512 AS BIGINT) AS bin_offset
         |FROM (
         |  SELECT doc_id, CAST($TokLen AS INT) AS n_tok, doc_id % 8 AS shard,
         |    CAST(sum($TokLen) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM documents
         |) ORDER BY doc_id""".stripMargin,

    "x28s_pack_stats" ->
      s"""SELECT shard, CAST(max(bin) + 1 AS BIGINT) AS n_bins,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tokens
         |FROM (
         |  SELECT doc_id, n_tok, shard,
         |    CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS bin
         |  FROM (
         |    SELECT doc_id, CAST($TokLen AS INT) AS n_tok, doc_id % 8 AS shard,
         |      CAST(sum($TokLen) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
         |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |    FROM documents
         |  )
         |) GROUP BY shard ORDER BY shard""".stripMargin,

    "x29_chunk_overlap" ->
      s"""WITH tok AS (
        |  SELECT doc_id, $TokArr AS ts
        |  FROM documents
        |)
        |SELECT doc_id, CAST(st // 48 AS INT) AS chunk_id,
        |  array_to_string(ts[st + 1 : st + 64], ' ') AS chunk
        |FROM tok, unnest(generate_series(0, greatest(len(ts) - 1, 0), 48)) AS u(st)
        |WHERE len(ts) > 0
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "x47_shuffle_order" ->
      """SELECT doc_id, shard, CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
        |FROM (
        |  SELECT doc_id,
        |    md5('42:' || CAST(doc_id AS VARCHAR)) AS k,
        |    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 8 AS shard
        |  FROM documents
        |)
        |ORDER BY shard, pos""".stripMargin,

    "x30_repetition_ratio" ->
      s"""WITH tok AS (
        |  SELECT doc_id, $TokArr AS ts
        |  FROM documents
        |),
        |g AS (
        |  SELECT doc_id, array_to_string(ts[i : i + 2], ' ') AS gram
        |  FROM tok, unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS t(i)
        |)
        |SELECT doc_id,
        |  round(1 - CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 6) AS rep_ratio
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
