package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Unigram-LM subword tokenizer (Kudo, ACL'18 — the SentencePiece
  * unigram model): the other major tokenizer family next to BPE (x54/
  * x81). Where BPE greedily merges, unigram trains piece PROBABILITIES
  * by EM over every segmentation of every word, then prunes to a target
  * vocabulary and Viterbi-decodes the single best segmentation.
  *
  * Scale shape (the x54 contract): corpus-sized work happens exactly
  * once — the word count. Everything after runs on the DISTINCT-WORD
  * relation weighted by frequency (millions of rows at 100 TB, not
  * billions). Each EM round is ONE scan of that relation: the
  * forward/backward lattice DP runs entirely inside nested HOF
  * `aggregate`/`transform` expressions (no UDF, no shuffle of text)
  * with the piece table riding the plan as a map literal; expected
  * counts reduce through one (piece)-keyed aggregation bounded by the
  * vocabulary size, and the model state (piece → prob) is driver-held
  * parameter-server state like the PQ codebooks. Viterbi encode is the
  * same one-scan shape.
  *
  * Everything is deterministic: the seed ranks ties lexicographically,
  * EM expected-count sums round to 12 significant digits before the
  * normalize (the kpp ψ convention — partition-order float jitter
  * cannot flip a trajectory), and Viterbi breaks score ties toward the
  * longest piece (smallest start index wins).
  *
  * Guaranteed contracts (gated empty-set in x101g):
  *   - the per-phase EM likelihood trace is non-decreasing (the
  *     textbook EM monotonicity guarantee — each M-step exactly
  *     maximizes the expected complete-data log-likelihood);
  *   - piece probabilities sum to 1 (exact normalization);
  *   - coverage: every corpus word segments with positive probability
  *     (single-character pieces are force-retained through the prune);
  *   - data-side round trip: Viterbi pieces concatenate back to every
  *     word exactly, and every emitted piece is in the vocabulary.
  *
  * Reference analog: none — no tokenizer surface in the reference;
  * SURVEY §7.4 extension mandate (tokenization family).
  */
object UnigramLm {
  type Q = (SparkSession, String) => DataFrame

  /** piece → probability, plus the per-phase EM likelihood traces
    * (phase 1 = seed vocab, phase 2 = after the prune) and the
    * uncovered-word count under the FINAL model.
    */
  final case class UnigramModel(probs: Map[String, Double],
                                traces: Seq[Seq[Double]],
                                coverageMisses: Long)

  private def roundSig(x: Double): Double = graft.functions.Num.roundSig(x)

  private val NegInf = lit(Double.NegativeInfinity)

  /** Streaming log-sum-exp fold over `idx`: each `term(i)` is a
    * log-space mass (−∞ = zero). The accumulator carries (running max m,
    * Σ exp(term − m)), the classic one-pass LSE — so the lattice never
    * leaves log space. A raw-probability product underflows
    * Double.MIN_VALUE around 150 characters (≈1e-2..1e-3 per piece),
    * silently zeroing α_N for long URLs/base64/hash tokens and
    * miscounting them as coverage misses.
    */
  private def lseFold(idx: Column, term: Column => Column): Column =
    aggregate(
      idx,
      struct(NegInf.as("m"), lit(0.0).as("s")),
      (acc, i) => {
        val x = term(i)
        val m = acc.getField("m")
        val s = acc.getField("s")
        when(x === NegInf, acc)
          .when(x <= m, struct(m.as("m"), (s + exp(x - m)).as("s")))
          // m = −∞ is safe here: exp(m − x) = 0, so s·0 + 1 = 1
          .otherwise(struct(x.as("m"), (s * exp(m - x) + 1.0).as("s")))
      },
      acc => when(acc.getField("s") > 0,
        acc.getField("m") + log(acc.getField("s"))).otherwise(NegInf))

  /** Forward lattice in LOG space: log α₀..log α_N as an (N+1)-array,
    * α_j = Σ_i α_{i-1} · p(w[i..j]) over pieces ending at j (length ≤
    * maxLen). log α_N is the word's log-probability under the model;
    * −∞ means unsegmentable. `vlog` maps piece → log p.
    */
  private def alphaCol(w: Column, vlog: Column, maxLen: Int): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(lit(0.0)),
      (acc, j) => concat(acc, array(
        lseFold(sequence(greatest(lit(1), j - maxLen + 1), j),
          i => coalesce(element_at(vlog, w.substr(i, j - i + 1)), NegInf) +
            element_at(acc, i)))))

  /** Backward lattice in LOG space, stored REVERSED: element 1 is
    * log β_N = 0, element N−j+1 is log β_j over β_j = Σ_e p(w[j+1..e]) · β_e.
    */
  private def betaCol(w: Column, vlog: Column, maxLen: Int): Column =
    aggregate(
      sequence(length(w) - 1, lit(0), lit(-1)),
      array(lit(0.0)),
      (acc, j) => concat(acc, array(
        lseFold(sequence(j + 1, least(length(w), j + maxLen)),
          e => coalesce(element_at(vlog, w.substr(j + 1, e - j)), NegInf) +
            element_at(acc, length(w) - e + 1)))))

  /** Every in-vocabulary piece occurrence (i..j) of the word with its
    * unnormalized LOG posterior mass log α_{i-1} + log p + log β_j —
    * subtract log α_N and exp for the expected count (the ratio is ≤ 1,
    * so the exp cannot overflow). Requires columns `al` (log-alpha) and
    * `be` (reversed log-beta) alongside `w`.
    */
  private def occCol(w: Column, vlog: Column, maxLen: Int): Column = {
    val n = length(w)
    filter(
      flatten(transform(sequence(lit(1), n), i =>
        transform(sequence(i, least(n, i + maxLen - 1)), j =>
          struct(
            w.substr(i, j - i + 1).as("piece"),
            (element_at(col("al"), i) +
              coalesce(element_at(vlog, w.substr(i, j - i + 1)), NegInf) +
              element_at(col("be"), n - j + 1)).as("lognum"))))),
      s => s.getField("lognum") > NegInf)
  }

  /** Viterbi DP table: entry j+1 = (best log-score of w[1..j], start
    * index of the final piece). Ties break to the SMALLEST start index
    * (= longest final piece): candidates scan i ascending and only a
    * strictly greater score replaces.
    */
  private def viterbiDp(w: Column, vmap: Column, maxLen: Int): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(0.0).as("s"), lit(0).as("p"))),
      (acc, j) => concat(acc, array(
        aggregate(sequence(greatest(lit(1), j - maxLen + 1), j),
          struct(lit(-1e30).as("s"), lit(0).as("p")),
          (bst, i) => {
            val pc = coalesce(element_at(vmap, w.substr(i, j - i + 1)), lit(0.0))
            val cand = element_at(acc, i).getField("s") +
              when(pc > 0, log(pc)).otherwise(lit(-1e30))
            when(cand > bst.getField("s"),
              struct(cand.as("s"), i.cast("int").as("p"))).otherwise(bst)
          }))))

  /** Viterbi segmentation as a piece array — backtracks the DP table
    * in ≤ N conditional steps (a no-op once position 0 is reached).
    * Unsegmentable words (no positive-probability path) yield null.
    */
  def viterbiPieces(w: Column, vmap: Column, maxLen: Int): Column = {
    // the DP table binds ONCE through a lambda variable (the
    // windowGrams lesson): captured directly, the backtrack fold would
    // re-run the full O(N·maxLen) DP at every one of its N steps under
    // interpreted HOF eval — quadratic per word, worst exactly on the
    // long URL/base64 tokens the log-space lattice exists to cover
    element_at(transform(array(viterbiDp(w, vmap, maxLen)), dp => {
      val n = length(w)
      val seg = aggregate(
        sequence(lit(1), n),
        struct(n.cast("int").as("pos"), array().cast("array<string>").as("ps")),
        (st, _) => {
          val pos = st.getField("pos")
          val ptr = element_at(dp, pos + 1).getField("p")
          when(pos > 0,
            struct((ptr - 1).cast("int").as("pos"),
              concat(array(w.substr(ptr, pos - ptr + 1)), st.getField("ps")).as("ps")))
            .otherwise(st)
        },
        st => st.getField("ps"))
      when(element_at(dp, n + 1).getField("s") > lit(-1e29), seg)
    }), 1)
  }

  /** Train on the (w, freq) word vocabulary: seed with the top
    * `seedSize` substrings (length ≤ maxLen) by weighted frequency plus
    * ALL single characters, run `rounds` EM rounds, prune to the
    * `target` highest-probability pieces (single characters again
    * force-retained), renormalize, and run `rounds` more EM rounds.
    */
  def fit(vocab: DataFrame, maxLen: Int, seedSize: Int, target: Int,
          rounds: Int): UnigramModel = {
    require(maxLen >= 1 && seedSize >= 1 && target >= 1 && rounds >= 1)
    val sp = vocab.sparkSession
    import sp.implicits._
    val v = vocab.select(col("w"), col("freq")).localCheckpoint(true)
    try {
      // seed: every substring up to maxLen, weighted by word frequency.
      // Selection is DISTRIBUTED (TakeOrdered for the top slice, an
      // alphabet-bounded filter for the chars) — the substring space
      // grows with the word vocabulary and must never be collected
      // whole to the driver.
      // checkpointed: the top-seedSize slice and the single-char slice
      // both read it — without the checkpoint each collect() would
      // recompute the substring explode + shuffle (the most expensive
      // step of seeding) from scratch
      val subsDf = v.select(
          explode(flatten(transform(sequence(lit(1), length(col("w"))), i =>
            transform(
              sequence(lit(0), least(lit(maxLen - 1), length(col("w")) - i)),
              l => col("w").substr(i, l + 1))))).as("piece"),
          col("freq"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("wt"))
        .localCheckpoint(true)
      val seed =
        try {
          val top = subsDf.orderBy(col("wt").desc, col("piece")).limit(seedSize)
            .collect().map(r => r.getString(0) -> r.getLong(1))
          val chars = subsDf.filter(length(col("piece")) === 1)
            .collect().map(r => r.getString(0) -> r.getLong(1))
          (chars ++ top).toMap
        } finally graft.CheckpointBlocks.release(subsDf)
      val total0 = seed.values.map(_.toDouble).sum
      var probs: Map[String, Double] =
        seed.map { case (p, wt) => p -> roundSig(wt / total0) }

      val vCount = v.count()
      var misses = 0L
      def emPhase(): Seq[Double] = {
        val trace = Seq.newBuilder[Double]
        (1 to rounds).foreach { _ =>
          // log-prob map built on the DRIVER (Spark's ln(0) is NULL, and
          // the lattice needs a clean −∞-for-zero convention)
          val vlog = typedlit(probs.map { case (p, pr) => p -> math.log(pr) })
          val scored = v.select(col("w"), col("freq"),
              alphaCol(col("w"), vlog, maxLen).as("al"),
              betaCol(col("w"), vlog, maxLen).as("be"))
            .withColumn("aN", element_at(col("al"), length(col("w")) + 1))
          val ll = scored.filter(col("aN") > NegInf)
            .agg(sum(col("freq") * col("aN")).as("ll"),
              count(lit(1)).as("n")).head()
          misses = vCount - ll.getLong(1)
          trace += roundSig(if (ll.isNullAt(0)) 0.0 else ll.getDouble(0))
          val counts = scored.filter(col("aN") > NegInf)
            .select(col("freq"), col("aN"),
              explode(occCol(col("w"), vlog, maxLen)).as("o"))
            .groupBy(col("o.piece").as("piece"))
            .agg(sum(col("freq") * exp(col("o.lognum") - col("aN"))).as("c"))
            .collect().map(r => r.getString(0) -> r.getDouble(1))
          val totalC = counts.map(_._2).sum
          probs = counts.map { case (p, c) => p -> roundSig(c / totalC) }.toMap
        }
        trace.result()
      }

      val trace1 = emPhase()
      // prune: top `target` by (prob desc, piece asc); single chars kept
      val kept = probs.toSeq.sortBy { case (p, pr) => (-pr, p) }.take(target)
        .map(_._1).toSet ++ probs.keys.filter(_.length == 1)
      val keptTotal = probs.filter(kv => kept(kv._1)).values.sum
      probs = probs.filter(kv => kept(kv._1))
        .map { case (p, pr) => p -> roundSig(pr / keptTotal) }
      val trace2 = emPhase()
      UnigramModel(probs, Seq(trace1, trace2), misses)
    } finally graft.CheckpointBlocks.release(v)
  }

  // ---------------------------------------------------------------------

  private val MaxLen = 4
  private val SeedSize = 120
  private val Target = 60
  private val Rounds = 3

  private val shared =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), UnigramModel]()

  private def model(s: SparkSession, d: String): UnigramModel = {
    val key = (s, d)
    Option(shared.get(key)).getOrElse {
      MemoEviction.register(s, "unigram") { () =>
        shared.keySet.removeIf(_._1 eq s)
      }
      val m = fit(BpeQueries.wordVocab(Tables(s, d, "documents"), "text"),
        MaxLen, SeedSize, Target, Rounds)
      Option(shared.putIfAbsent(key, m)).getOrElse(m)
    }
  }

  val queries: Map[String, Q] = Map(
    // learned vocabulary (rows-only: the EM trajectory is not
    // expressible in DuckDB SQL) — verified by the x101g contracts
    "x101_unigram_vocab" -> ((s, d) => {
      import s.implicits._
      model(s, d).probs.toSeq.sortBy { case (p, pr) => (-pr, p) }
        .zipWithIndex
        .map { case ((p, pr), i) => (i + 1, p, roundSig(pr)) }
        .toDF("rank", "piece", "prob")
        .orderBy(col("rank"))
    }),

    // Viterbi encode of every corpus word under the learned model —
    // the serving path (one scan of the distinct-word relation; a
    // corpus encode joins words to this table)
    "x101e_unigram_encode" -> ((s, d) => {
      val m = model(s, d)
      val vmap = typedlit(m.probs)
      BpeQueries.wordVocab(Tables(s, d, "documents"), "text")
        .select(col("w"), col("freq"),
          viterbiPieces(col("w"), vmap, MaxLen).as("ps"))
        .select(col("w"), col("freq"),
          array_join(col("ps"), " ").as("pieces"), size(col("ps")).as("n_pieces"))
        .orderBy(col("w"))
    }),

    // Gate (empty-set oracle), four contract families: (a) both EM
    // phase traces non-decreasing; (b) probabilities sum to 1;
    // (c) zero uncovered words; (d) data-side Viterbi round trip —
    // pieces concatenate back to the word and every piece is in-vocab.
    "x101g_unigram_gate" -> ((s, d) => gateRows(s, d, model(s, d)))
  )

  /** The x101g body over an explicit model — the spec hook proving
    * each clause FIRES on a tampered model.
    */
  private[graft] def gateRows(s: SparkSession, d: String,
                              m: UnigramModel): DataFrame = {
    import s.implicits._
    val viol = Seq.newBuilder[(String, String)]
    m.traces.zipWithIndex.foreach { case (trace, ph) =>
      trace.sliding(2).zipWithIndex.foreach {
        case (Seq(a, b), i) if b < a - 1e-8 * math.max(1.0, a.abs) =>
          viol += ((f"em_phase${ph + 1}_$i%02d", s"likelihood fell $a -> $b"))
        case _ =>
      }
    }
    val psum = m.probs.values.sum
    if (math.abs(psum - 1.0) > 1e-9)
      viol += (("prob_sum", s"probabilities sum to $psum"))
    if (m.coverageMisses > 0)
      viol += (("coverage", s"${m.coverageMisses} words unsegmentable"))
    val vmap = typedlit(m.probs)
    // The distinct-word relation is CHECKPOINTED to pin the Viterbi scan
    // ABOVE the token aggregation: the roundtrip predicate below is a
    // deterministic function of the grouping column alone, so Catalyst's
    // push-through-aggregate would otherwise run the whole lattice once
    // per CORPUS TOKEN instead of once per distinct word (measured 162 s
    // vs ~1 s at sf0.1 — the shingleTable re-evaluation trap, aggregate
    // edition). Vocabulary-sized, the same class fit() checkpoints; the
    // blocks ride the returned frame and fall to the session's regular
    // persistent-RDD cleanup.
    val words = BpeQueries.wordVocab(Tables(s, d, "documents"), "text")
      .select(col("w")).localCheckpoint(true)
    val data = words
      .select(col("w"), viterbiPieces(col("w"), vmap, MaxLen).as("ps"))
      .select(col("w"), col("ps"),
        concat_ws("", col("ps")).as("rt"),
        size(filter(col("ps"),
          p => isnull(element_at(vmap, p)))).as("oov"))
      .filter(col("ps").isNull || col("rt") =!= col("w") || col("oov") > 0)
      .select(lit("roundtrip").as("clause"),
        concat(col("w"), lit(" -> "), coalesce(col("rt"), lit("NULL"))).as("violation"))
    viol.result().toDF("clause", "violation").unionByName(data)
      .orderBy(col("clause"), col("violation"))
  }

  val oracleSql: Map[String, String] = Map(
    "x101g_unigram_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin
  )
}
