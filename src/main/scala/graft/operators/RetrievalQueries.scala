package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.tokens

/** Retrieval + data-selection operators (SURVEY §7.4 extension family):
  * the query-side half of a training-data platform — BM25 lexical
  * retrieval over the corpus, DSIR-style importance weighting for
  * targeted data selection (Xie et al. 2023's hashed-n-gram importance
  * resampling, at this corpus' vocabulary scale with exact unigram
  * LMs), and SemDeDup-style semantic canonicalization over embedding
  * near-dup clusters (Abbas et al. 2023).
  *
  * Scale shapes: BM25's per-term statistics (df, idf) are a bounded
  * relation broadcast to the scoring join; the only corpus-sized work
  * is one token explode + one map-side-combinable (doc, term) count,
  * and top-k is TakeOrderedAndProject (a per-partition k-heap + driver
  * merge, never a global sort). DSIR's vocabulary relations are
  * token-hash keyed aggregates; the per-doc weight is one combinable
  * sum. x64 reuses the multi-table LSH bucket candidates (never
  * all-pairs) + the label-propagation components of x23.
  *
  * Float convention: ln-based scores follow x42/x51 — identical
  * operation ORDER on both engines, round 6 at the oracle surface; BM25
  * constants are written as plain literals (2.2, 1.2, 0.25, 0.75) on
  * both sides so neither engine folds them differently.
  */
object RetrievalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The fixed BM25 query: common corpus terms (the synthetic documents
    * are DB-flavored word salad), one per specificity band.
    */
  private val bm25Terms = Seq("hash", "join", "merge")

  /** Okapi BM25 top-k: score = sum over query terms of
    * idf(w) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with the
    * Lucene idf = ln((N - df + 0.5)/(df + 0.5) + 1). k1=1.2, b=0.75.
    * The per-doc sum adds the (at most 3) term contributions in FIXED
    * term order via conditional-max pivoting, so the float surface is
    * bit-deterministic across engines.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int): DataFrame = {
    val N = docs.count()
    val dl = docs.select(col(idCol), size(tokens(col(textCol))).as("dl"))
    // avgdl from two exact integers (not avg() over doubles): the one
    // scalar every score depends on must not carry a sum-order seam
    val sumdl = dl.agg(coalesce(sum(col("dl")), lit(0L))).head().getLong(0)
    val avgdl = sumdl.toDouble / N
    val tok = docs
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("w"))
      .filter(col("w").isInCollection(terms))
    val tf = tok.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val contrib =
      log((lit(N) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / lit(avgdl)))
    val scored = tf.join(broadcast(df), Seq("w")).join(dl, Seq(idCol))
      .withColumn("contrib", contrib)
    val termCols = terms.map(t =>
      coalesce(max(when(col("w") === t, col("contrib"))), lit(0.0)))
    scored.groupBy(col(idCol))
      .agg(termCols.reduce(_ + _).as("raw"))
      .select(col(idCol), round(col("raw"), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** DSIR-style importance log-weight per document against a TARGET
    * subcorpus: sum over doc tokens of
    * ln P_target(w) - ln P_raw(w), add-one smoothed over the shared
    * raw vocabulary. Positive = looks like the target domain — the
    * "select data that matches the distribution you care about" weight,
    * here with exact unigram LMs (production hashes n-grams into a
    * fixed bucket space; the weight algebra is identical).
    */
  def dsirLogWeights(docs: DataFrame, idCol: String, textCol: String,
                     targetFilter: org.apache.spark.sql.Column): DataFrame = {
    val tok = docs
      .select(col(idCol), targetFilter.as("is_tgt"),
        explode_outer(tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull)
    // lazy plan for the RESULT; a separate short-lived checkpoint for
    // the driver scalars. The old single checkpoint ESCAPED through the
    // returned lazy frame, so it could never be released and leaked a
    // storage block per call — the
    // result now recomputes this one aggregation when consumed instead
    // of pinning executor storage forever.
    def rawPlan = tok.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val tgt = tok.filter(col("is_tgt")).groupBy(col("w"))
      .agg(count(lit(1)).as("ct"))
    // three exact scalars (vocab size, target tokens, raw tokens) — the
    // x42 driver-scalar shape
    val rawCp = rawPlan.localCheckpoint(true)
    val (v, r) =
      try {
        (rawCp.count(),
          rawCp.agg(coalesce(sum(col("cr")), lit(0L))).head().getLong(0))
      } finally graft.CheckpointBlocks.release(rawCp)
    val t = tgt.agg(coalesce(sum(col("ct")), lit(0L))).head().getLong(0)
    val lam = rawPlan.join(tgt, Seq("w"), "left")
      .select(col("w"),
        (log((coalesce(col("ct"), lit(0L)) + 1L).cast("double")) -
          log(lit((t + v).toDouble)) -
          log((col("cr") + 1L).cast("double")) +
          log(lit((r + v).toDouble))).as("lam"))
    val cdw = tok.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    cdw.join(lam, Seq("w"))
      .groupBy(col(idCol))
      .agg(round(sum(col("c").cast("double") * col("lam")), 6).as("dsir_logw"))
  }

  /** The x05 dup-synthesized embedding corpus (exact copies of the
    * first 20 vectors under offset ids) — the ONE shared definition,
    * memoized in [[Pq]], so the fixture constants cannot drift from
    * x05's oracle CTE.
    */
  private def vecsWithDups(s: SparkSession, d: String): DataFrame =
    Pq.corpusWithDups(s, d)

  val queries: Map[String, Q] = Map(
    "x62_bm25_topk" -> ((s, d) =>
      bm25TopK(Tables(s, d, "documents"), "doc_id", "text", bm25Terms, k = 10)),

    "x63_dsir_logratio" -> ((s, d) =>
      dsirLogWeights(Tables(s, d, "documents"), "doc_id", "text",
        col("source") === "src1").orderBy(col("doc_id"))),

    // Fasttext-style quality classifier stand-in: a fixed-weight
    // logistic regression over the x09 quality features — the "model
    // scoring as a scan projection" shape (a real classifier would swap
    // the weight vector, not the plan). Inputs are the ROUNDED feature
    // surface (exact 6dp decimals on both engines), so the logit
    // arithmetic has no float-ordering seam; exp follows the x42 libm
    // convention (round 6 at the oracle boundary).
    "x65_quality_lr" -> ((s, d) => {
      val f = TextAnalysis.qualityFeatures(
        Tables(s, d, "documents"), "doc_id", "text")
      val z = lit(-4.0) + lit(6.0) * col("quality") +
        lit(2.0) * col("stopword_ratio") - lit(3.0) * col("punct_ratio") +
        lit(0.01) * least(col("n_tokens"), lit(200)).cast("double")
      f.select(col("doc_id"),
          round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("lr_score"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-scaled source mixing (the multilingual/multi-domain
    // sampling formula): p_i = n_i^(1/T) / sum_j n_j^(1/T) with T=2,
    // i.e. sqrt — upweights small sources relative to proportional
    // sampling. sqrt is IEEE-exact (unlike pow), the denominator is one
    // bounded driver scalar, and the per-source weight is a pure
    // projection — a config-sized computation at any corpus size.
    "x66_temperature_mix" -> ((s, d) => {
      val n = Tables(s, d, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = n.agg(sum(sqrt(col("n_docs").cast("double"))))
        .head().getDouble(0)
      n.select(col("source"), col("n_docs"),
          round(sqrt(col("n_docs").cast("double")) / lit(tot), 6).as("weight"))
        .orderBy(col("source"))
    }),

    // Reciprocal-rank fusion (Cormack et al. 2009): the hybrid-retrieval
    // combiner. Two independent document rankings — BM25 for the fixed
    // query, and the LR quality score — fuse as sum 1/(60+rank). Ranks
    // are integers (deterministic tie-breaks), the two reciprocal terms
    // add in fixed order, so the float surface is exact; top-10 by
    // fused score. Rankings at scale each come from their operator's
    // own plan; the fusion itself is two id-keyed joins over top-N
    // lists — config-sized work.
    "x73_rrf_fusion" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      // both rankings live WITHIN the bounded candidate pool (the
      // reranker-fusion practice): the global windows below order 50
      // rows, never the corpus — the corpus-sized work is x62's own
      // scale-safe top-k
      val cand = bm25TopK(Tables(s, d, "documents"), "doc_id", "text",
        bm25Terms, k = 50)
      val f = TextAnalysis.qualityFeatures(
        Tables(s, d, "documents"), "doc_id", "text")
      val z = lit(-4.0) + lit(6.0) * col("quality") +
        lit(2.0) * col("stopword_ratio") - lit(3.0) * col("punct_ratio") +
        lit(0.01) * least(col("n_tokens"), lit(200)).cast("double")
      val lr = f.select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("lr"))
      cand.join(lr, Seq("doc_id"))
        .withColumn("r1", row_number().over(
          w.orderBy(col("score").desc, col("doc_id"))))
        .withColumn("r2", row_number().over(
          w.orderBy(col("lr").desc, col("doc_id"))))
        .select(col("doc_id"), col("r1"), col("r2"),
          round(lit(1.0) / (lit(60) + col("r1")) +
            lit(1.0) / (lit(60) + col("r2")), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    }),

    // Declarative data-quality audit (the dbt-tests shape): a fixed
    // suite of constraint checks — key uniqueness, referential
    // integrity, non-negativity, domain membership — each one bounded
    // aggregate emitting (check, violations). A platform runs this
    // relation per ingest and alerts on any nonzero row; every check is
    // one scan-side aggregate or one anti-join probe, nothing
    // full-table-to-driver.
    "x74_dq_audit" -> ((s, d) => {
      import s.implicits._
      val orders = Tables(s, d, "orders")
      val li = Tables(s, d, "lineitem")
      val cust = Tables(s, d, "customer")
      // each check keeps its shape (scan-side aggregate / anti-join
      // probe), but the six counts collect as ONE unioned action — the
      // audit used to submit six count() jobs and pay six rounds of
      // scheduler latency for a six-row relation
      def cnt(name: String, df: DataFrame): DataFrame =
        df.agg(lit(name).as("check"), count(lit(1)).as("violations"))
          .select(col("check"), col("violations"))
      val counted = cnt("orders_pk_unique",
          orders.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
            .filter(col("n") > 1))
        .unionByName(cnt("orders_custkey_fk",
          orders.join(cust, orders("o_custkey") === cust("c_custkey"),
            "left_anti")))
        .unionByName(cnt("lineitem_orderkey_fk",
          li.join(orders, li("l_orderkey") === orders("o_orderkey"),
            "left_anti")))
        .unionByName(cnt("lineitem_qty_positive",
          li.filter(col("l_quantity") <= 0)))
        .unionByName(cnt("lineitem_discount_domain",
          li.filter(col("l_discount") < 0 || col("l_discount") > 1)))
        .unionByName(cnt("orders_status_domain",
          orders.filter(!col("o_orderstatus").isInCollection(
            Seq("F", "O", "P")))))
        .collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      counted.toDF("check", "violations").orderBy(col("check"))
    }),

    // Incremental view maintenance: a per-flag quantity view kept as
    // stored PARTIALS, refreshed by folding a delta batch's partials in
    // - never re-scanning history. The oracle is a from-scratch
    // aggregation over the whole table: hash equality proves the
    // partial/final algebra (quantities as exact integer centi-units so
    // merged sums are order-free).
    "x77_incremental_agg" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
        .withColumn("qty_c", round(col("l_quantity") * 100).cast("long"))
      val stored = IncrementalAgg.partials(
        li.filter(col("l_orderkey") % 2 === 0), Seq("l_returnflag"), "qty_c")
      val delta = IncrementalAgg.partials(
        li.filter(col("l_orderkey") % 2 === 1), Seq("l_returnflag"), "qty_c")
      IncrementalAgg.merge(Seq("l_returnflag"), Seq(stored, delta))
        .orderBy(col("l_returnflag"))
    }),

    // SemDeDup: embedding-cosine near-dup clusters -> canonical (min-id)
    // representative per cluster; singletons are their own canonical.
    // Pairs come from the x05 bucketed-LSH candidates (identical vectors
    // always collide), components from x23's label propagation.
    "x64_semantic_canonical" -> ((s, d) => {
      val vecs = vecsWithDups(s, d)
      val pairs = Similarity.cosinePairsBucketed(vecs, "id", "embedding",
        threshold = 0.95, nbits = 8, tables = 8).select(col("a"), col("b"))
      val comp = Components.connectedComponents(pairs)
      vecs.select(col("id").as("node"))
        .join(comp, Seq("node"), "left")
        .select(col("node"), coalesce(col("root"), col("node")).as("root"))
        .orderBy(col("node"))
    }),

    // MMR diversified re-ranking over the dup-synthesized corpus: the
    // exact-duplicate pairs the fixture plants (id and id + 10000) are
    // what a plain top-k serves twice and MMR's diversity term prunes.
    // Rows-only (the greedy loop is not DuckDB-expressible) — verified
    // by the x105g contracts below.
    "x105_mmr_rerank" -> ((s, d) => {
      import s.implicits._
      mmrFromPool(mmrPool(s, d), MmrK, lambda = 0.5)
        .toDF("qid", "rank", "nid", "mmr")
        .orderBy(col("qid"), col("rank"))
    }),

    // Gate (empty-set oracle), four clauses: (a) rank-1 = the highest-
    // cosine candidate (the diversity term is zero for an empty
    // selection); (b) per-query output is exactly k distinct pool
    // members; (c) lambda = 1 degenerates to the plain top-k, order
    // included (the relevance-only limit of the MMR objective);
    // (d) diversity advantage on the dup corpus: mean pairwise cosine
    // among MMR selections <= that of the plain top-k (the planted
    // exact duplicates give plain top-k a sim-1.0 pair MMR avoids).
    "x105g_mmr_gate" -> ((s, d) => {
      val pool = mmrPool(s, d)
      mmrGateRows(s, pool, MmrK, mmrFromPool(pool, MmrK, lambda = 0.5),
        lambda = 0.5)
    })
  )

  private val MmrPoolK = 30
  private val MmrK = 10

  private val mmrPoolMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Map[Long, IndexedSeq[(Long, Double, Array[Double])]]]()

  /** The shared x105 candidate pool, collected once per (session, dir):
    * the brute-force shortlist is the pair's only corpus-sized work, and
    * both declared queries (plus the spec's schema pass) consume it.
    */
  private def mmrPool(
      s: SparkSession, d: String): Map[Long, IndexedSeq[(Long, Double, Array[Double])]] = {
    val key = (s, d)
    Option(mmrPoolMemo.get(key)).getOrElse {
      MemoEviction.register(s, "mmr-pool") { () =>
        mmrPoolMemo.keySet.removeIf(_._1 eq s)
      }
      val corpus = vecsWithDups(s, d)
      val p = collectMmrPool(corpus.filter(col("id") < 10), corpus,
        "id", "embedding", MmrPoolK)
      Option(mmrPoolMemo.putIfAbsent(key, p)).getOrElse(p)
    }
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98): greedy diversified top-k — each step takes the
    * candidate maximizing λ·sim(c, q) − (1−λ)·max_{s∈S} cos(c, s).
    *
    * Scale shape: the corpus-sized work is the shortlist itself (here
    * brute-force for exactness; at scale the x95 ADC-shortlist +
    * rerank pipeline produces the same (qid, nid, sim) relation). The
    * greedy loop is inherently sequential per query, so it runs on the
    * DRIVER over the EXPLICITLY BOUNDED Q·poolK pool — the x95
    * bounded-shortlist convention — never as a corpus-sized iteration.
    * Deterministic: scores round to 6dp with smaller-nid tie-break.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, poolK: Int, k: Int, lambda: Double): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    val sp = queries.sparkSession
    import sp.implicits._
    val pool = collectMmrPool(queries, corpus, idCol, vecCol, poolK)
    mmrFromPool(pool, k, lambda)
      .toDF("qid", "rank", "nid", "mmr")
      .orderBy(col("qid"), col("rank"))
  }

  /** (qid → candidates (nid, sim-to-query, unit vector)) in shortlist
    * rank order — the bounded driver-side pool the greedy loop runs on.
    */
  private[graft] def collectMmrPool(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      poolK: Int): Map[Long, IndexedSeq[(Long, Double, Array[Double])]] = {
    val shortlist = Similarity.bruteForceTopK(queries, corpus, idCol, vecCol, poolK)
    val rows = shortlist
      .join(corpus.select(col(idCol).cast("long").as("nid"),
        col(vecCol).cast("array<double>").as("nvec")), "nid")
      .select(col("qid").cast("long"), col("rank"), col("nid"), col("sim"),
        col("nvec"))
      .collect()
    rows.groupBy(_.getLong(0)).map { case (qid, rs) =>
      qid -> rs.sortBy(_.getInt(1)).map { r =>
        val v = r.getSeq[Double](4).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(2), r.getDouble(3), if (n > 0) v.map(_ / n) else v)
      }.toIndexedSeq
    }
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def cos6(a: Array[Double], b: Array[Double]): Double =
    round6(graft.functions.Num.dot(a, b))

  /** The greedy loop over a collected pool — pure driver arithmetic,
    * exposed so the gate and specs can drive it with a shared pool.
    */
  private[graft] def mmrFromPool(
      pool: Map[Long, IndexedSeq[(Long, Double, Array[Double])]],
      k: Int, lambda: Double): Seq[(Long, Int, Long, Double)] =
    pool.toSeq.sortBy(_._1).flatMap { case (qid, cands) =>
      val selected = scala.collection.mutable.ArrayBuffer[(Long, Double, Array[Double])]()
      val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
      val out = Seq.newBuilder[(Long, Int, Long, Double)]
      var rank = 1
      while (rank <= k && remaining.nonEmpty) {
        var bestIdx = 0
        var bestScore = Double.NegativeInfinity
        var bestNid = Long.MaxValue
        var i = 0
        while (i < remaining.length) {
          val (nid, sim, v) = remaining(i)
          val div =
            if (selected.isEmpty) 0.0
            else selected.iterator.map(s => cos6(v, s._3)).max
          val score = round6(lambda * sim - (1 - lambda) * div)
          if (score > bestScore || (score == bestScore && nid < bestNid)) {
            bestIdx = i; bestScore = score; bestNid = nid
          }
          i += 1
        }
        val chosen = remaining.remove(bestIdx)
        selected += chosen
        out += ((qid, rank, chosen._1, bestScore))
        rank += 1
      }
      out.result()
    }

  /** The x105g body over an explicit pool and selection — the spec hook
    * proving each clause FIRES on a tampered selection. The declared
    * query passes the real `mmrFromPool` output.
    */
  private[graft] def mmrGateRows(
      s: SparkSession,
      pool: Map[Long, IndexedSeq[(Long, Double, Array[Double])]],
      k: Int, mmr: Seq[(Long, Int, Long, Double)],
      lambda: Double = 0.5): DataFrame = {
    import s.implicits._
    val viol = Seq.newBuilder[(String, String)]
    val byQ = mmr.groupBy(_._1)
    pool.toSeq.sortBy(_._1).foreach { case (qid, cands) =>
      val got = byQ.getOrElse(qid, Seq.empty).sortBy(_._2)
      // (a) rank 1 maximizes the SAME first-step score mmrFromPool uses
      // — round6(lambda*sim) with smaller-nid tie — not raw sim: two
      // sims that collapse at 6dp after the lambda scale are a
      // legitimate rounded tie, and judging them by raw sim would flag
      // a correct selection
      val top1 = cands.maxBy { case (nid, sim, _) =>
        (round6(lambda * sim), -nid)
      }._1
      if (got.headOption.exists(_._3 != top1))
        viol += ((s"rank1_q$qid", s"got ${got.headOption.map(_._3)} want $top1"))
      // (b) exactly k distinct pool members
      val nids = got.map(_._3)
      val want = math.min(k, cands.size)
      if (nids.size != want || nids.distinct.size != nids.size ||
          !nids.forall(cands.map(_._1).toSet))
        viol += ((s"members_q$qid", s"${nids.size} rows, ${nids.distinct.size} distinct"))
      // (c) lambda = 1 degenerates to the plain top-k, order included
      val relevOnly = mmrFromPool(Map(qid -> cands), k, lambda = 1.0).map(_._3)
      val plain = cands.sortBy { case (nid, sim, _) => (-sim, nid) }
        .take(want).map(_._1)
      if (relevOnly != plain)
        viol += ((s"lambda1_q$qid", s"$relevOnly != $plain"))
      // (d) diversity advantage vs plain top-k on the dup corpus
      def meanPairCos(sel: Seq[Long]): Double = {
        val vs = sel.flatMap(n => cands.find(_._1 == n)).map(_._3)
        val ps = for (i <- vs.indices; j <- (i + 1) until vs.size)
          yield cos6(vs(i), vs(j))
        if (ps.isEmpty) 0.0 else ps.sum / ps.size
      }
      val dMmr = meanPairCos(nids)
      val dPlain = meanPairCos(plain)
      if (dMmr > dPlain + 1e-9)
        viol += ((s"diversity_q$qid", f"mmr $dMmr%.6f > plain $dPlain%.6f"))
    }
    viol.result().toDF("clause", "violation").orderBy(col("clause"))
  }

  val oracleSql: Map[String, String] = Map(
    "x105g_mmr_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,

    "x62_bm25_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1
        |), n AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
        |         (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS sumdl
        |), tf AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE w IN ('hash', 'join', 'merge') GROUP BY 1, 2
        |), df AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), sc AS (
        |  SELECT tf.doc_id, tf.w,
        |    ln((n.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
        |      (CAST(tf.tf AS DOUBLE) * 2.2) /
        |      (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + (0.75 * CAST(dl.dl AS DOUBLE)) / (CAST(n.sumdl AS DOUBLE) / n.n))) AS contrib
        |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN n
        |), agg AS (
        |  SELECT doc_id,
        |    coalesce(max(CASE WHEN w = 'hash' THEN contrib END), 0)
        |    + coalesce(max(CASE WHEN w = 'join' THEN contrib END), 0)
        |    + coalesce(max(CASE WHEN w = 'merge' THEN contrib END), 0) AS raw
        |  FROM sc GROUP BY doc_id
        |)
        |SELECT doc_id, round(raw, 6) AS score FROM agg
        |ORDER BY round(raw, 6) DESC, doc_id LIMIT 10""".stripMargin,

    "x63_dsir_logratio" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents
        |), raw AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY 1
        |), tgt AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS ct FROM tok WHERE source = 'src1' GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM raw) AS v,
        |         (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tgt) AS t,
        |         (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) FROM raw) AS r
        |), lam AS (
        |  SELECT raw.w,
        |    ln(CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE))
        |      - ln(CAST(tot.t + tot.v AS DOUBLE))
        |      - ln(CAST(raw.cr + 1 AS DOUBLE))
        |      + ln(CAST(tot.r + tot.v AS DOUBLE)) AS lam
        |  FROM raw LEFT JOIN tgt USING (w) CROSS JOIN tot
        |), cdw AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
        |)
        |SELECT doc_id, round(sum(CAST(c AS DOUBLE) * lam), 6) AS dsir_logw
        |FROM cdw JOIN lam USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x77_incremental_agg" ->
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum,
        |  CAST(min(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS min,
        |  CAST(max(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS max
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "x73_rrf_fusion" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1
        |), n AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
        |         (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS sumdl
        |), tf AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE w IN ('hash', 'join', 'merge') GROUP BY 1, 2
        |), df AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), sc AS (
        |  SELECT tf.doc_id, tf.w,
        |    ln((n.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
        |      (CAST(tf.tf AS DOUBLE) * 2.2) /
        |      (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + (0.75 * CAST(dl.dl AS DOUBLE)) / (CAST(n.sumdl AS DOUBLE) / n.n))) AS contrib
        |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN n
        |), agg AS (
        |  SELECT doc_id,
        |    coalesce(max(CASE WHEN w = 'hash' THEN contrib END), 0)
        |    + coalesce(max(CASE WHEN w = 'join' THEN contrib END), 0)
        |    + coalesce(max(CASE WHEN w = 'merge' THEN contrib END), 0) AS raw
        |  FROM sc GROUP BY doc_id
        |), bm AS (
        |  SELECT doc_id, round(raw, 6) AS score,
        |    row_number() OVER (ORDER BY round(raw, 6) DESC, doc_id) AS rk
        |  FROM agg
        |), cand AS (
        |  SELECT doc_id, score FROM bm WHERE rk <= 50
        |), fq AS (
        |  SELECT doc_id,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
        |    round(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')), ['the','a','of','and','is'])) AS DOUBLE)
        |          / greatest(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), 1), 6) AS stopword_ratio,
        |    round(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        |    round(
        |      least(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5 +
        |      (1.0 - least(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) * 5.0, 1.0)) * 0.3 +
        |      least(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')), ['the','a','of','and','is'])) AS DOUBLE)
        |            / greatest(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), 1) * 10.0, 1.0) * 0.2, 6) AS quality
        |  FROM documents
        |), lr AS (
        |  SELECT doc_id,
        |    round(1.0 / (1.0 + exp(-(-4.0 + 6.0 * quality + 2.0 * stopword_ratio
        |      - 3.0 * punct_ratio + 0.01 * CAST(least(n_tokens, 200) AS DOUBLE)))), 6) AS lr
        |  FROM fq
        |), j AS (
        |  SELECT c.doc_id, c.score, lr.lr FROM cand c JOIN lr USING (doc_id)
        |), rk AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS r1,
        |    row_number() OVER (ORDER BY lr DESC, doc_id) AS r2
        |  FROM j
        |)
        |SELECT doc_id, CAST(r1 AS INT) AS r1, CAST(r2 AS INT) AS r2,
        |  round(CAST(1.0 AS DOUBLE) / (60 + r1) + CAST(1.0 AS DOUBLE) / (60 + r2), 6) AS rrf
        |FROM rk ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "x74_dq_audit" ->
      """SELECT * FROM (
        |  SELECT 'orders_pk_unique' AS "check", CAST((
        |    SELECT count(*) FROM (
        |      SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
        |  ) AS BIGINT) AS violations
        |  UNION ALL SELECT 'orders_custkey_fk', CAST((
        |    SELECT count(*) FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  ) AS BIGINT)
        |  UNION ALL SELECT 'lineitem_orderkey_fk', CAST((
        |    SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  ) AS BIGINT)
        |  UNION ALL SELECT 'lineitem_qty_positive', CAST((
        |    SELECT count(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT)
        |  UNION ALL SELECT 'lineitem_discount_domain', CAST((
        |    SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
        |  UNION ALL SELECT 'orders_status_domain', CAST((
        |    SELECT count(*) FROM orders
        |    WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
        |) ORDER BY "check"""".stripMargin,

    "x65_quality_lr" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
        |    round(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')), ['the','a','of','and','is'])) AS DOUBLE)
        |          / greatest(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), 1), 6) AS stopword_ratio,
        |    round(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        |    round(
        |      least(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5 +
        |      (1.0 - least(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) * 5.0, 1.0)) * 0.3 +
        |      least(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')), ['the','a','of','and','is'])) AS DOUBLE)
        |            / greatest(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), 1) * 10.0, 1.0) * 0.2, 6) AS quality
        |  FROM documents
        |)
        |SELECT doc_id,
        |  round(1.0 / (1.0 + exp(-(-4.0 + 6.0 * quality + 2.0 * stopword_ratio
        |    - 3.0 * punct_ratio + 0.01 * CAST(least(n_tokens, 200) AS DOUBLE)))), 6) AS lr_score
        |FROM f ORDER BY doc_id""".stripMargin,

    "x66_temperature_mix" ->
      """WITH n AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1
        |), t AS (
        |  SELECT sum(sqrt(CAST(n_docs AS DOUBLE))) AS tot FROM n
        |)
        |SELECT source, n_docs,
        |  round(sqrt(CAST(n_docs AS DOUBLE)) / tot, 6) AS weight
        |FROM n, t ORDER BY source""".stripMargin,

    "x64_semantic_canonical" ->
      """WITH RECURSIVE vecs AS (
        |  SELECT vec_id AS id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 20
        |), pairs AS (
        |  SELECT a, b FROM (
        |    SELECT x.id AS a, y.id AS b,
        |      round(list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
        |        / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))
        |           * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))), 6) AS sim
        |    FROM vecs x JOIN vecs y ON x.id < y.id
        |  ) WHERE sim >= 0.95
        |), edges AS (
        |  SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs
        |), reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        |), comp AS (
        |  SELECT u AS node, least(u, min(v)) AS root FROM reach GROUP BY u
        |)
        |SELECT vecs.id AS node, coalesce(comp.root, vecs.id) AS root
        |FROM vecs LEFT JOIN comp ON comp.node = vecs.id
        |ORDER BY node""".stripMargin
  )
}
