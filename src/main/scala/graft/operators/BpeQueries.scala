package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.tokens

/** BPE tokenizer learning (Sennrich et al., ACL'16) — the missing half
  * of token counting: LEARN the subword vocabulary from the corpus.
  *
  * Scale shape: the iteration state is the WORD VOCABULARY relation
  * (distinct words × symbol arrays, weighted by corpus frequency) —
  * corpus-sized work happens exactly once (the word count); each of the
  * `numMerges` iterations is then one map-side-combinable pair count, a
  * 1-row argmax collect, and one narrow map applying the merge — no
  * corpus re-scan, no shuffle of text. At 100 TB the vocab relation is
  * millions of rows, not billions, and each iteration stays a small
  * bounded job (production systems batch multiple merges per count;
  * the loop here picks one per iteration for exactness).
  *
  * Everything is deterministic: ties in pair counts break on (left,
  * right) lexicographic order, so the learned merge table is a pure
  * function of the corpus.
  */
object BpeQueries {
  type Q = (SparkSession, String) => DataFrame

  /** (w, freq): corpus word vocabulary over the shared tokenizer. */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode_outer(tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Character array of a word. regexp_extract_all, NOT split(w, ""):
    * Java regex split keeps a trailing empty string under limit -1,
    * which the DuckDB oracle's regexp_extract_all never produces.
    */
  def chars(w: Column): Column = regexp_extract_all(w, lit("."), lit(0))

  /** Adjacent symbol pairs of an array column as (l, r) structs —
    * the x42 zip_with shape.
    */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))

  /** Frequency-weighted count of every adjacent symbol pair in the
    * vocab (the quantity BPE maximizes each iteration).
    */
  def pairCounts(vocab: DataFrame, symsCol: String): DataFrame =
    vocab.filter(size(col(symsCol)) >= 2)
      .select(explode(adjacentPairs(col(symsCol))).as("p"), col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** One greedy left-to-right merge pass: every non-overlapping
    * adjacent (l, r) in the symbol array becomes the fused symbol.
    * A pure fold (HOF aggregate) — no shuffle, no UDF. Left-to-right
    * non-overlap falls out of folding: after fusing, the new last
    * element is the fused symbol, which no longer equals `l`, so
    * "aaa" under (a,a) yields [aa, a], the BPE convention.
    */
  def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** One learned merge: its rank, the fused pair, and the weighted
    * count at pick time.
    */
  final case class Merge(rank: Int, l: String, r: String, cnt: Long)

  /** Learn `numMerges` merges from a (w, freq) vocabulary, BATCHED:
    * each counting pass learns up to `batchSize` merges instead of one,
    * cutting driver round-trips ~batchSize× (a production tokenizer is
    * 30k-50k merges — one Spark job per merge is a driver bottleneck by
    * construction). The result is BIT-IDENTICAL to the one-merge-per-
    * pass greedy loop: a batch is the maximal PREFIX of the pair-count
    * total order (cnt desc, then l, r) that is pairwise symbol-disjoint
    * — a pair's symbol set is {l, r, l+r}, so fused-symbol interactions
    * count — trimmed to pairs whose count strictly exceeds FOUR TIMES
    * the count at the first interacting pair. Why this is exact:
    *  - disjoint prefix pairs cannot change each other's counts, so
    *    their pick-time counts and relative order equal sequential's;
    *  - every pair a prefix merge CAN touch (sharing a raw or fused
    *    symbol) sits at or below the stop rank, so its pre-merge count
    *    is <= cStop;
    *  - a merge can RAISE such a pair's count (merging (a,b) feeds
    *    (ab,c) from (b,c) occurrences). Each gained occurrence maps to
    *    a distinct occurrence of the OLD symbol pair at the junction;
    *    for a riser (ab, cd) the junction pair is one of (b,c), (ab,c),
    *    (b,cd) — at most 3 distinct parents, each interacting and so
    *    <= cStop, and the riser's own old count (it contains a fused
    *    symbol, hence interacting) is <= cStop too. A riser therefore
    *    tops out at 4*cStop, and the strict 4*cStop margin keeps every
    *    accepted pair ahead of anything a batch-mate's merge can
    *    create. The top-1 pair is always accepted (sequential picks it
    *    unconditionally).
    * Stops early when no pair remains (every word fused to one symbol).
    */
  def learnMerges(vocab: DataFrame, numMerges: Int, batchSize: Int = 16): Seq[Merge] =
    learnMergesWithPasses(vocab, numMerges, batchSize)._1

  /** [[learnMerges]] plus the number of counting passes it took —
    * exposed so tests can pin the batching actually batches.
    */
  def learnMergesWithPasses(vocab: DataFrame, numMerges: Int,
      batchSize: Int = 16): (Seq[Merge], Int) =
    learnMergesOnWithPasses(vocab.select(col("w"), col("freq"),
      chars(col("w")).as("syms")), numMerges, batchSize)

  /** [[learnMerges]] over a PRE-SYMBOLIZED (w, freq, syms) vocabulary —
    * the byte-level family passes UTF-8 byte symbols here and the
    * learner runs unchanged (the alphabet is a parameter, not a fork).
    */
  def learnMergesOn(symVocab: DataFrame, numMerges: Int,
                    batchSize: Int = 16): Seq[Merge] =
    learnMergesOnWithPasses(symVocab, numMerges, batchSize)._1

  def learnMergesOnWithPasses(symVocab: DataFrame, numMerges: Int,
      batchSize: Int = 16): (Seq[Merge], Int) = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    // NOT run under static planning (tried in round 19, reverted):
    // the per-pass pairCounts exchange is planner-inserted over an
    // unknown-size pair relation — AQE's coalescing matters there, and
    // the measured A/B was jobs-down, seconds-flat
    var v = symVocab.select(col("w"), col("freq"), col("syms"))
      .localCheckpoint(true)
    val out = Seq.newBuilder[Merge]
    var rank = 1
    var passes = 0
    var done = false
    while (rank <= numMerges && !done) {
      val want = math.min(batchSize, numMerges - rank + 1)
      // collect enough rows to see past the batch to the stop pair;
      // bounded driver data (a few hundred small rows)
      val k = math.max(4 * batchSize, 64)
      val top = pairCounts(v, "syms")
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(k).collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      passes += 1
      if (top.isEmpty) done = true
      else {
        val seen = scala.collection.mutable.HashSet.empty[String]
        val prefix = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var i = 0
        var cStop = -1L
        while (cStop < 0 && i < top.length && prefix.length < want) {
          val (l, r, c) = top(i)
          if (Seq(l, r, l + r).exists(seen)) cStop = c
          else { prefix += top(i); seen += l; seen += r; seen += (l + r); i += 1 }
        }
        if (cStop < 0)
          // stopped on batch size or list end: the first UNSCANNED rank
          // bounds every interacting pair below (0 if the entire pair
          // universe was scanned and found disjoint — nothing can rise)
          cStop = if (i < top.length) top(i)._3
            else if (top.length == k) top.last._3
            else 0L
        val batch = (prefix.take(1) ++
          prefix.drop(1).takeWhile(_._3 > 4 * cStop)).take(want)
        batch.foreach { case (l, r, c) => out += Merge(rank, l, r, c); rank += 1 }
        val folded = batch.foldLeft(col("syms")) {
          case (acc, (l, r, _)) => applyMerge(acc, l, r)
        }
        val prev = v
        v = v.withColumn("syms", folded).localCheckpoint(true)
        // The new checkpoint no longer reads the old one — release it
        // now instead of letting one block set per pass pile up.
        graft.CheckpointBlocks.release(prev)
      }
    }
    graft.CheckpointBlocks.release(v)
    (out.result(), passes)
  }

  /** Segment one text column with an already-learned merge table:
    * per word, replay the merges in rank order. Built iteratively —
    * callers with long merge tables should checkpoint between chunks
    * the way [[learnMerges]] does.
    */
  def segment(text: Column, merges: Seq[Merge]): Column = {
    val words = tokens(text)
    transform(words, w => {
      val syms = chars(w)
      merges.foldLeft(syms: Column)((acc, m) => applyMerge(acc, m.l, m.r))
    })
  }

  /** Learned merge table, memoized per (session, sfDir): the realistic
    * deployment learns ONCE and encodes many times, and the four
    * declared consumers (x54m/x54g/x81/x81g) would otherwise each rerun
    * the full driver loop.
    */
  private val mergeMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Int), Seq[Merge]]()

  def learnedMerges(s: SparkSession, d: String, numMerges: Int = 10): Seq[Merge] = {
    val k = (s, d, numMerges)
    Option(mergeMemo.get(k)).getOrElse {
      MemoEviction.register(s, "bpe") { () =>
        mergeMemo.keySet.removeIf(_._1 eq s)
      }
      val v = learnMerges(wordVocab(Tables(s, d, "documents"), "text"), numMerges)
      Option(mergeMemo.putIfAbsent(k, v)).getOrElse(v)
    }
  }

  /** Subword vocabulary AFTER encoding: apply the learned merge table to
    * the word vocabulary (distinct words, frequency-weighted — corpus
    * text is scanned exactly once, by the word count; the merge replay
    * runs on vocab rows, the same trick the learner uses) and count the
    * resulting subword occurrences. This is the "what does the corpus
    * look like under this tokenizer" relation a training pipeline
    * materializes before packing.
    */
  def encodeVocabCounts(vocab: DataFrame, merges: Seq[Merge]): DataFrame = {
    val folded = merges.foldLeft(chars(col("w")): Column)(
      (acc, m) => applyMerge(acc, m.l, m.r))
    vocab.select(explode(folded).as("subword"), col("freq"))
      .groupBy(col("subword")).agg(sum(col("freq")).as("cnt"))
  }

  // --- byte-level pretokenization (x119) ---------------------------------
  // The production-tokenizer front end (GPT-2/Llama-class) the
  // word-level family lacks: pretokenize RAW text with a regex (case
  // and punctuation preserved, leading space glued to the word), then
  // run BPE over the pretokens' UTF-8 BYTES — the alphabet is the 256
  // byte values, so encode is TOTAL (no OOV; any unseen character
  // falls back to its bytes) and decode is exact concatenation. Byte
  // symbols are 2-hex-char strings ("61", "C3", …; fused symbols
  // concatenate), which keeps the learner/encoder machinery above
  // UNCHANGED — only the initial symbol array differs — and makes the
  // DuckDB oracle a plain hex byte-walk.

  /** GPT-2-STYLE pretokenizer pattern, restricted to the RE2-compatible
    * core (no lookahead — DuckDB's engine): a letter run, a digit run,
    * or a punctuation run, each optionally absorbing ONE leading space;
    * residual whitespace runs stand alone. Explicit ASCII whitespace
    * class on both engines (Java and RE2 disagree about  in \s).
    */
  private[graft] val PretokenPattern =
    " ?[\\p{L}]+| ?[\\p{N}]+| ?[^ \\t\\n\\r\\p{L}\\p{N}]+|[ \\t\\n\\r]+"

  /** Pretokens of a raw text column (they tile the text exactly —
    * x119g clause B).
    */
  def pretokens(text: Column): Column =
    regexp_extract_all(text, lit(PretokenPattern), lit(0))

  /** UTF-8 bytes of a pretoken as 2-hex-char symbols — the byte-level
    * alphabet (uppercase hex on both engines).
    */
  def byteSyms(pt: Column): Column =
    regexp_extract_all(hex(encode(pt, "UTF-8")), lit(".."), lit(0))

  /** (w, freq): corpus PRETOKEN vocabulary over raw text — the x119
    * analog of [[wordVocab]] (case preserved, spaces glued).
    */
  def pretokenVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode_outer(pretokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** The non-ASCII exercise rider for the declared x119 family (the
    * x44 convention: same literal on both engines): multi-byte UTF-8
    * suffix on doc_id % 5 == 0 docs, so byte fallback is actually on
    * the measured path, not just possible.
    */
  private def augmentedDocs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" café naïve"))
          .otherwise(lit(""))).as("t"))

  /** The symbolized byte-level pretoken vocabulary, CHECKPOINTED and
    * memoized per (session, dir): the learner, the pair-count query,
    * and the round-trip gate all consume this relation, and a 10-deep
    * merge fold applied on top of the UN-materialized explode+groupBy
    * plan measured ~30× the fold-over-checkpoint cost (the projection
    * fuses into the aggregate stage and drops out of codegen) — the
    * barrier is the fix, same as the learner's own internal discipline.
    */
  private val byteVocabMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), org.apache.spark.sql.DataFrame]()

  private def byteVocab(s: SparkSession, d: String): DataFrame = {
    val k = (s, d)
    Option(byteVocabMemo.get(k)).getOrElse {
      MemoEviction.register(s, "bpebv") { () =>
        byteVocabMemo.keySet.removeIf(_._1 eq s)
      }
      val v = pretokenVocab(augmentedDocs(s, d), "t")
        .withColumn("syms", byteSyms(col("w")))
        .localCheckpoint(true)
      Option(byteVocabMemo.putIfAbsent(k, v)) match {
        case Some(w) => graft.CheckpointBlocks.release(v); w
        case None => v
      }
    }
  }

  /** Byte-level merge table, memoized like [[learnedMerges]]. */
  def learnedByteMerges(s: SparkSession, d: String,
                        numMerges: Int = 10): Seq[Merge] = {
    // ONE learner run at the family's largest declared budget serves
    // every byte-level consumer as a prefix slice: BPE's greedy merge
    // sequence is PREFIX-NESTED (ByteBpeSpec pins an m-merge run ==
    // the first m rows of a larger run, counts included), so the
    // n-merge table is learnMergesOn(·, n) bit-for-bit — and the
    // family stops paying two learner runs per session (the default-10
    // run for x119m/x119g/x123 PLUS the curve's 24-merge run, each
    // ~15 counting passes over the pretoken vocabulary).
    val budget = math.max(numMerges, CurveMerges.max)
    val k = (s, d, -budget) // negative key space: distinct from word-level
    val full = Option(mergeMemo.get(k)).getOrElse {
      MemoEviction.register(s, "bpe") { () =>
        mergeMemo.keySet.removeIf(_._1 eq s)
      }
      val v = learnMergesOn(byteVocab(s, d), budget)
      Option(mergeMemo.putIfAbsent(k, v)).getOrElse(v)
    }
    full.take(numMerges)
  }

  // --- vocab-size operating curve (x127) ----------------------------------

  private[graft] val CurveMerges = Seq(0, 4, 8, 16, 24)

  private val curveMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(Int, Long, Long, Long, Long)]]()

  /** The tokenizer VOCAB-SIZE operating curve (the x115/x121/x124
    * discipline applied to the last hand-picked tokenizer constant):
    * one row per merge budget m — effective subword vocabulary, total
    * corpus tokens, total corpus bytes, and bytes/token (micro) — the
    * table a deployment reads to trade vocabulary size against
    * sequence-length compression.
    *
    * ONE training at the largest budget serves every point: BPE's
    * greedy merge sequence is PREFIX-NESTED (the first m merges of a
    * 24-merge run ARE the m-merge run — pinned by spec), so each
    * curve point is a prefix-sliced merge fold over the checkpointed
    * pretoken vocabulary (the x119g fold-over-checkpoint rule; corpus
    * text is never re-touched). Costs: one learner run + |curve|
    * vocab-sized scans.
    */
  private[graft] def vocabCurve(s: SparkSession, d: String)
      : Seq[(Int, Long, Long, Long, Long)] = {
    val key = (s, d)
    Option(curveMemo.get(key)).getOrElse {
      MemoEviction.register(s, "bpecv") { () =>
        curveMemo.keySet.removeIf(_._1 eq s)
      }
      val merges = learnedByteMerges(s, d, numMerges = CurveMerges.max)
      val bv = byteVocab(s, d)
      val totalBytes = bv
        .agg(coalesce(sum(col("freq") * size(col("syms"))), lit(0L)))
        .head().getLong(0)
      val r = CurveMerges.map { m =>
        val folded = merges.take(m).foldLeft(col("syms"): Column)(
          (acc, mm) => applyMerge(acc, mm.l, mm.r))
        val row = bv.select(explode(folded).as("sub"), col("freq"))
          .agg(countDistinct(col("sub")).as("v"),
            coalesce(sum(col("freq")), lit(0L)).as("toks"))
          .head()
        val toks = math.max(row.getLong(1), 1L)
        (m, row.getLong(0), row.getLong(1), totalBytes,
          math.round(1000000.0 * totalBytes / toks))
      }
      Option(curveMemo.putIfAbsent(key, r)).getOrElse(r)
    }
  }

  /** The x127g body over an explicit curve — the spec hook proving the
    * clauses fire (a rising token column trips monotone; a minted
    * subword trips vocab_bound; a broken m=0 anchor trips anchor).
    */
  private[graft] def curveGateRows(s: SparkSession,
      curve: Seq[(Int, Long, Long, Long, Long)]): DataFrame = {
    import s.implicits._
    val viol = Seq.newBuilder[(String, String)]
    val sorted = curve.sortBy(_._1)
    sorted.headOption.foreach { case (m, _, toks, bytes, _) =>
      if (m == 0 && toks != bytes)
        viol += (("anchor", s"m=0 tokens $toks != bytes $bytes"))
    }
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        if (b._3 > a._3)
          viol += ((f"monotone_${b._1}%02d",
            s"tokens rose ${a._3} -> ${b._3}"))
      case _ =>
    }
    val alphabet = sorted.head._2
    sorted.foreach { case (m, v, _, _, _) =>
      if (v > alphabet + m)
        viol += ((f"vocab_bound_$m%02d",
          s"$v subwords exceed alphabet $alphabet + $m merges"))
    }
    if (sorted.size > 1 && sorted.last._3 >= sorted.head._3)
      viol += (("improvement",
        s"tokens ${sorted.head._3} -> ${sorted.last._3}: merges earned nothing"))
    viol.result().toDF("clause", "violation").orderBy(col("clause"))
  }

  val queries: Map[String, Q] = Map(
    // First-iteration byte-pair counts over the pretoken vocabulary,
    // top-20 — the byte-level analog of x54, hash-checked against a
    // DuckDB hex byte-walk.
    "x119_byte_bpe_pair_counts" -> ((s, d) =>
      pairCounts(byteVocab(s, d), "syms")
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(20)),

    // The learned byte-merge table (rows-only, the x54m convention —
    // the gate below carries the contract).
    "x119m_byte_bpe_learn" -> ((s, d) => {
      import s.implicits._
      learnedByteMerges(s, d)
        .toDF("rank", "l", "r", "cnt").orderBy(col("rank"))
    }),

    // Gate (empty-set oracle): encode is TOTAL and decode exact.
    // (a) pretokens tile every document — their concatenation IS the
    //     raw text (incl. the multi-byte suffix docs);
    // (b) for every distinct pretoken, the merged byte segmentation
    //     concatenates back to the pretoken's exact UTF-8 hex — merges
    //     only fuse, never drop or mint bytes, and every byte has a
    //     symbol (no OOV by construction).
    // decode(encode(x)) == x for every document follows by composing
    // (b) over (a). Evaluated on the distinct-pretoken vocabulary (the
    // x81g lesson: never re-run a merge fold per document).
    "x119g_byte_bpe_roundtrip_gate" -> ((s, d) => {
      val merges = learnedByteMerges(s, d)
      val docs = augmentedDocs(s, d)
      val tiling = docs
        .filter(array_join(pretokens(col("t")), "") =!= col("t"))
        .select(col("doc_id").cast("string").as("item"),
          lit("pretokens do not tile the text").as("violation"))
      val folded = merges.foldLeft(col("syms"): Column)(
        (acc, m) => applyMerge(acc, m.l, m.r))
      val roundtrip = byteVocab(s, d)
        .select(col("w"), array_join(folded, "").as("enc"))
        .filter(col("enc") =!= hex(encode(col("w"), "UTF-8")))
        .select(col("w").as("item"),
          lit("byte segmentation broke the round trip").as("violation"))
      tiling.unionByName(roundtrip).orderBy(col("item"))
    }),

    // Sequence packing by LEARNED-TOKENIZER counts (x123): production
    // packs by what the model will actually see — byte-BPE subwords —
    // not whitespace words. Per-doc count composes through the
    // vocabulary (the x81 trick): the merge fold runs once per DISTINCT
    // pretoken over the checkpointed vocab, per-doc counts are one
    // occurrence join + a combinable sum, and the bin algebra is the
    // shared x28 packer. Rows-only; the x123g gate carries the
    // contract.
    "x123_bpe_pack" -> ((s, d) => {
      val merges = learnedByteMerges(s, d)
      val folded = merges.foldLeft(col("syms"): Column)(
        (acc, m) => applyMerge(acc, m.l, m.r))
      val lens = byteVocab(s, d).select(col("w"), size(folded).as("n_sub"))
      val occ = augmentedDocs(s, d)
        .select(col("doc_id"), explode(pretokens(col("t"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      val counts = occ.join(lens, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c") * col("n_sub")).as("n_tok"))
      PackingQueries.packCounted(counts, "doc_id", budget = 512,
          pmod(xxhash64(col("doc_id")), lit(8L)))
        .orderBy(col("doc_id"))
    }),

    // Gate (empty-set oracle) for the x123 counting + packing
    // composition: (a) token conservation — the packed counts sum to
    // exactly Σ_w freq(w)·len(encode(w)) over the vocabulary (a
    // dropped or duplicated pretoken in the occurrence join breaks the
    // equality); (b) every document packs exactly once; (c) every
    // bin_offset sits inside the budget.
    "x123g_bpe_pack_gate" -> ((s, d) => {
      import s.implicits._
      val packed = queries("x123_bpe_pack")(s, d)
      val merges = learnedByteMerges(s, d)
      val folded = merges.foldLeft(col("syms"): Column)(
        (acc, m) => applyMerge(acc, m.l, m.r))
      val viol = Seq.newBuilder[(String, String)]
      val packedSum = packed.agg(coalesce(sum(col("n_tok")), lit(0L)))
        .head().getLong(0)
      val vocabSum = byteVocab(s, d)
        .select((col("freq") * size(folded)).as("t"))
        .agg(coalesce(sum(col("t")), lit(0L))).head().getLong(0)
      if (packedSum != vocabSum)
        viol += (("conservation",
          s"packed $packedSum != vocab-derived $vocabSum subwords"))
      val docs = augmentedDocs(s, d).count()
      val packRows = packed.count()
      if (packRows != docs)
        viol += (("one_row_per_doc", s"$packRows rows for $docs docs"))
      val over = packed.filter(col("bin_offset") >= 512 ||
        col("bin_offset") < 0).count()
      if (over > 0) viol += (("offset_budget", s"$over offsets out of range"))
      viol.result().toDF("clause", "violation").orderBy(col("clause"))
    }),

    // First-iteration weighted pair counts, top-20 under the total
    // deterministic order — the exact quantity the learner maximizes,
    // hash-checked against DuckDB's independent formulation.
    "x54_bpe_pair_counts" -> ((s, d) => {
      val vocab = wordVocab(Tables(s, d, "documents"), "text")
      pairCounts(vocab.withColumn("syms", chars(col("w"))), "syms")
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(20)
    }),

    // The learned merge table (rows-only check: a 10-step driver loop
    // is not one SQL statement) — paired with the x54g gate below.
    "x54m_bpe_learn" -> ((s, d) => {
      import s.implicits._
      learnedMerges(s, d)
        .toDF("rank", "l", "r", "cnt").orderBy(col("rank"))
    }),

    // Gate (empty-set oracle): (1) merge counts must be non-increasing
    // in rank — after fusing the best pair, a new pair's count is
    // bounded by the fused pair's, and old counts only fall, so any
    // increase proves a counting bug; (2) the rank-1 merge must equal
    // the argmax of the INDEPENDENTLY hash-checked x54 pair counts.
    "x54g_bpe_gate" -> ((s, d) => {
      import s.implicits._
      val docs = Tables(s, d, "documents")
      val merges = learnedMerges(s, d)
      val monotone = merges.sliding(2).collect {
        case Seq(a, b) if b.cnt > a.cnt =>
          (b.rank, s"count rose ${a.cnt} -> ${b.cnt}")
      }.toSeq
      val vocab = wordVocab(docs, "text")
      val first = pairCounts(vocab.withColumn("syms", chars(col("w"))), "syms")
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1).collect()
      val firstBad =
        if (merges.isEmpty || first.isEmpty) Seq((0, "no merges learned"))
        else {
          val m = merges.head
          if (first(0).getString(0) != m.l || first(0).getString(1) != m.r ||
              first(0).getLong(2) != m.cnt)
            Seq((1, s"rank-1 merge ${m.l}+${m.r}@${m.cnt} != independent argmax"))
          else Seq.empty
        }
      (monotone ++ firstBad).toDF("rank", "violation").orderBy(col("rank"))
    }),

    // Corpus subword vocabulary under the learned tokenizer: the merge
    // table replayed over the frequency-weighted word vocab, top-20
    // subwords. Rows-only (the merge table is a driver-loop product) —
    // verified by the x81g closure/round-trip gate below.
    "x81_bpe_encode_vocab" -> ((s, d) => {
      val merges = learnedMerges(s, d)
      encodeVocabCounts(wordVocab(Tables(s, d, "documents"), "text"), merges)
        .orderBy(col("cnt").desc, col("subword")).limit(20)
    }),

    // Gate (empty-set oracle) for the encoder: over every DISTINCT
    // corpus word (word-identical texts segment identically, so the
    // distinct-word check covers the corpus), (1) the segmentation must
    // concatenate back to the original word — encoding is lossless by
    // construction, any break is a fold bug; (2) every multi-char
    // subword must be the fused symbol l+r of some learned merge — the
    // only way applyMerge can mint one.
    "x81g_bpe_encode_gate" -> ((s, d) => {
      val merges = learnedMerges(s, d)
      val fusedSyms = merges.map(m => m.l + m.r)
      val folded = merges.foldLeft(chars(col("w")): Column)(
        (acc, m) => applyMerge(acc, m.l, m.r))
      // posexplode + re-aggregate so the 10-deep merge fold is evaluated
      // EXACTLY once per word: referencing the folded array from several
      // predicates re-evaluates the whole fold per reference (the first
      // cut of this gate did, at ~40x the encoder's cost)
      wordVocab(Tables(s, d, "documents"), "text")
        .select(col("w"), posexplode(folded))
        .groupBy(col("w"))
        .agg(
          array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("col")))),
              x => x.getField("col")), "").as("recon"),
          max(when(length(col("col")) > 1 &&
            !col("col").isInCollection(fusedSyms), 1).otherwise(0))
            .as("closure_bad"))
        .filter(col("recon") =!= col("w") || col("closure_bad") === 1)
        .select(col("w"),
          when(col("recon") =!= col("w"), lit("round-trip broken"))
            .otherwise(lit("subword outside merge closure")).as("violation"))
        .orderBy(col("w"))
    }),

    // the tokenizer VOCAB-SIZE operating curve (x127): one row per
    // merge budget — subword vocab, total tokens, total bytes,
    // bytes/token — from ONE 24-merge training prefix-sliced per
    // point. Rows-only (the greedy learner isn't SQL-expressible);
    // the x127g gate carries the contract.
    "x127_bpe_vocab_curve" -> ((s, d) => {
      import s.implicits._
      vocabCurve(s, d).toDF("n_merges", "vocab_subwords", "total_tokens",
          "total_bytes", "bytes_per_token_micro")
        .orderBy(col("n_merges"))
    }),

    // Gate (empty-set oracle): the m=0 anchor (tokens == bytes —
    // byte-fallback totality), tokens monotone non-increasing in the
    // merge budget, vocab bounded by alphabet + m (merges only fuse,
    // never mint), and the widest budget strictly beats m=0.
    "x127g_bpe_curve_gate" -> ((s, d) =>
      curveGateRows(s, vocabCurve(s, d)))
  )

  val oracleSql: Map[String, String] = Map(
    "x127g_bpe_curve_gate" ->
      "SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0",
    // byte-level pair counts: an independent DuckDB hex byte-walk —
    // same pretokenizer regex (RE2-compatible by construction), UTF-8
    // bytes via hex(encode(w)) split into 2-char symbols
    "x119_byte_bpe_pair_counts" ->
      """WITH a AS (
        |  SELECT text || CASE WHEN doc_id % 5 = 0 THEN ' café naïve' ELSE '' END AS t
        |  FROM documents
        |), w AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(regexp_extract_all(t, ' ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\r\p{L}\p{N}]+|[ \t\n\r]+')) AS w
        |    FROM a)
        |  GROUP BY w
        |), s AS (
        |  SELECT freq, regexp_extract_all(hex(encode(w)), '..') AS cs FROM w
        |), p AS (
        |  SELECT cs[i] AS l, cs[i + 1] AS r, freq
        |  FROM s, unnest(generate_series(1, len(cs) - 1)) AS u(i)
        |  WHERE len(cs) >= 2
        |)
        |SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY l, r
        |ORDER BY cnt DESC, l, r LIMIT 20""".stripMargin,

    "x119g_byte_bpe_roundtrip_gate" ->
      "SELECT CAST(NULL AS VARCHAR) AS item, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0",

    "x123g_bpe_pack_gate" ->
      "SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0",

    "x54_bpe_pair_counts" ->
      """WITH w AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |    FROM documents)
        |  GROUP BY w
        |), s AS (
        |  SELECT freq, regexp_extract_all(w, '.') AS cs FROM w
        |), p AS (
        |  SELECT cs[i] AS l, cs[i + 1] AS r, freq
        |  FROM s, unnest(generate_series(1, len(cs) - 1)) AS u(i)
        |  WHERE len(cs) >= 2
        |)
        |SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY l, r
        |ORDER BY cnt DESC, l, r LIMIT 20""".stripMargin,

    "x54g_bpe_gate" ->
      "SELECT CAST(NULL AS INT) AS rank, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0",

    "x81g_bpe_encode_gate" ->
      "SELECT CAST(NULL AS VARCHAR) AS w, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0"
  )
}
