package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions

/** IVF-PQ — the composed index (the FAISS IVFPQ shape, Jégou et al.
  * 2011 §V): a COARSE quantizer partitions the corpus into nlist cells
  * (so search scans only nprobe cells' candidates, x16's pruning), and
  * a fine product quantizer encodes each vector's RESIDUAL against its
  * cell centroid (so candidates cost M bytes to score, x80's
  * compression). Residual encoding is what makes the composition
  * better than either half: residuals concentrate near zero, so the
  * same Ks codebook spends its centroids on a far smaller volume than
  * raw-vector PQ.
  *
  * Everything reuses [[Pq]] — a coarse quantizer IS a 1-subspace PQ
  * codebook (m = 1, ks = nlist), so training, encoding, and their
  * determinism/monotonicity properties come from one implementation.
  *
  * Scale shape: the stored index is (id, cell) + (id, m, code) — M+ε
  * bytes per vector; search probes nprobe cells via one broadcast
  * distance table keyed (cell, m, code) (Q·nprobe·M·Ks rows —
  * config-sized), so the scan-side join touches only probed-cell rows
  * and moves no float vectors. Both train passes are [[Pq.train]]'s
  * one-job-per-round driver-state Lloyd.
  */
object IvfPq {
  type Q = (SparkSession, String) => DataFrame

  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    GraftExtensions.vecDot(a, b)

  /** The persistable index: coarse centroids (cell, cvec, cn2 — nlist
    * rows), fine residual codebook (m, code, cvec, cn2 — M·Ks rows),
    * cell assignment (id, cell) and residual codes (id, m, code) — one
    * + M small ints per vector. `fineErrors` is the residual-PQ Lloyd
    * error trace and `coarseErrors` the coarse quantizer's — BOTH are
    * gated for monotonicity (x82g), so a regression in either training
    * loop is caught.
    */
  final case class Index(coarse: DataFrame, fine: Pq.PqCodebook,
                         cells: DataFrame, codes: DataFrame,
                         fineErrors: Seq[Double], coarseErrors: Seq[Double])

  def build(corpus: DataFrame, idCol: String, vecCol: String,
            nlist: Int, m: Int, ks: Int, iters: Int): Index = {
    val sp = corpus.sparkSession
    GraftExtensions.register(sp)
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    // coarse quantizer = 1-subspace PQ: k-means over the whole vector
    val coarseCb = Pq.train(corpus, idCol, vecCol, m = 1, ks = nlist, iters)
    val coarse = coarseCb.centroids
      .select(col("code").as("cell"), col("cvec"), col("cn2"))
      .localCheckpoint(true)
    val cells = Pq.encode(corpus, idCol, vecCol, coarseCb, m = 1, ds = dim)
      .select(col("id"), col("code").as("cell"))
    // residuals against the owning cell centroid
    val resid = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .join(cells, Seq("id"))
      .join(broadcast(coarse), Seq("cell"))
      .select(col("id"), col("cell"),
        zip_with(col("vec"), col("cvec"), (a, b) => a - b).as("rvec"))
      .localCheckpoint(true)
    val fine = Pq.train(resid, "id", "rvec", m, ks, iters)
    val codes = Pq.encode(resid, "id", "rvec", fine, m, dim / m)
    val idx = Index(coarse,
      fine,
      resid.select(col("id"), col("cell")).localCheckpoint(true),
      codes.localCheckpoint(true),
      fine.errors, coarseCb.errors)
    // the corpus-sized residual checkpoint has served its consumers
    // (train, encode, the cells/codes projections) — release it rather
    // than pinning ~2x the vector data for the session lifetime
    graft.CheckpointBlocks.release(resid)
    idx
  }

  /** ADC search over the composed index: per query, rank the nprobe
    * nearest cells, compute the query's residual against each probed
    * centroid, build the (cell, m, code) distance table (broadcast),
    * and score only probed-cell candidates as the M-entry fold.
    * Approximate distance = ||(q − c_cell) − r̂_x||² for x in probed
    * cells, r̂ the quantized residual.
    */
  def search(queries: DataFrame, index: Index, idCol: String, vecCol: String,
             m: Int, ds: Int, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val sp = queries.sparkSession
    GraftExtensions.register(sp)
    val q = queries
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qn2", dot(col("qvec"), col("qvec")))
    // top-nprobe cells per query: an inherently all-pairs product over
    // two BOUNDED relations (Q queries × nlist centroids) — the
    // ivfAssign shape, exempted in PlanAuditSpec
    val wCell = Window.partitionBy(col("qid"))
      .orderBy(col("cd2"), col("cell"))
    val probes = q.crossJoin(broadcast(index.coarse))
      .select(col("qid"), col("qvec"), col("cell"), col("cvec"),
        (col("qn2") + col("cn2") - lit(2.0) * dot(col("qvec"), col("cvec")))
          .as("cd2"))
      .withColumn("crank", row_number().over(wCell))
      .filter(col("crank") <= nprobe)
      .select(col("qid"), col("cell"),
        zip_with(col("qvec"), col("cvec"), (a, b) => a - b).as("qrvec"))
    // distance table: (qid, cell, m, code, d) — Q·nprobe·M·Ks rows
    val table = probes.select(col("qid"), col("cell"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("qrvec"), i * ds + 1, lit(ds)))))
      .select(col("qid"), col("cell"), (col("pos") + 1).as("m"),
        col("col").as("sv"))
      .withColumn("sn2", dot(col("sv"), col("sv")))
      .join(broadcast(index.fine.centroids), Seq("m"))
      .select(col("qid"), col("cell"), col("m"), col("code"),
        (col("sn2") + col("cn2") - lit(2.0) * dot(col("sv"), col("cvec")))
          .as("d"))
    // frozen sorted-subspace fold via the codegen'd graft_adc_sum —
    // bit-identical to the interpreted HOF chain (see Pq.adcTopK)
    val summed = index.codes.join(index.cells, Seq("id"))
      .join(broadcast(table), Seq("cell", "m", "code"))
      .groupBy(col("qid"), col("id").as("nid"))
      .agg(GraftExtensions.adcSum(
        collect_list(struct(col("m"), col("d")))).as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    summed.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), round(col("adc"), 6).as("adc"))
  }

  private val NList = 16
  private val M = 8
  private val Ks = 16
  // one Lloyd round per quantizer in the declared config: the index
  // runs TWO trainings (coarse + fine) — the error trace still has two
  // points per quantizer for the monotonicity gate, and the spec
  // exercises deeper refinement
  private val Iters = 1
  private val K = 10
  private val NProbe = 4

  private val shared =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (Index, Int)]()

  private def unpersistIndex(idx: Index): Unit = {
    graft.CheckpointBlocks.release(idx.coarse)
    graft.CheckpointBlocks.release(idx.cells)
    graft.CheckpointBlocks.release(idx.codes)
  }

  private def index(s: SparkSession, d: String,
                    corpus: DataFrame): (Index, Int) = {
    val key = (s, d)
    Option(shared.get(key)).getOrElse {
      MemoEviction.register(s, "ivfpq") { () =>
        shared.keySet.removeIf(_._1 eq s)
      }
      val dim = corpus.select(size(col("embedding"))).head().getInt(0)
      val v = (build(corpus, "id", "embedding", NList, M, Ks, Iters), dim)
      Option(shared.putIfAbsent(key, v)) match {
        case Some(w) => unpersistIndex(v._1); w
        case None => v
      }
    }
  }

  // --- shortlist operating curve (x129) ------------------------------------

  private[graft] val CurveShortlists = Seq(2, 5, 10, 20, 50, 200)

  private val curveMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(Int, Long, Long, Long, Long, Long)]]()

  /** The SHORTLIST-SIZE operating curve of two-stage retrieval (the
    * x115/x124 discipline applied to the x95 dial): recall@K after
    * exact re-rank, per ADC shortlist width k' ∈ {2..50}, plus the
    * exact-scoring cost each width pays (Q·k' pairs). Everything comes
    * from ONE ADC pass at the widest k' and ONE exhaustive ground-truth
    * pass: shortlist prefixes are NESTED by ADC rank, and a true
    * neighbor inside prefix-k' always survives the exact re-rank (any
    * candidate exactly closer is itself a true neighbor), so
    * recall(k') is a suffix-sum over the truth pairs' ADC-rank
    * histogram — no per-width re-search, no rescan. Recall is exact
    * integer arithmetic (per-mille, rounded once at emit).
    */
  private[graft] def shortlistCurve(s: SparkSession, d: String)
      : Seq[(Int, Long, Long, Long, Long, Long)] = {
    val key = (s, d)
    Option(curveMemo.get(key)).getOrElse {
      MemoEviction.register(s, "ivfpqsc") { () =>
        curveMemo.keySet.removeIf(_._1 eq s)
      }
      val corpus = Pq.corpusWithDups(s, d)
      val (idx, dim) = index(s, d, corpus)
      val queriesDf = corpus.filter(col("id") < 10)
      val qn = queriesDf.count()
      // rank EVERY probed-cell candidate (k unbounded), so the
      // histogram also yields the PROBE CEILING — the recall an
      // infinite shortlist would reach given nprobe; the shortlist
      // dial is then graded against what probing allows, not against
      // truth it structurally cannot see (that is the x115 nprobe
      // curve's axis, a different table)
      val sl = search(queriesDf, idx, "id", "embedding", M, dim / M,
        Int.MaxValue, NProbe)
      // ONE exhaustive pass: exact top-K by L2 over the whole corpus
      // (self included — the identity-retrieval convention of this
      // family). The ground truth is the curve's price, the x115
      // rationale; the product is computed once and collapsed to a
      // histogram here, never served as a plan.
      val fullCand = queriesDf.select(col("id").as("qid"))
        .crossJoin(corpus.select(col("id").as("nid")))
      val truth = rerank(fullCand, queriesDf, corpus, "id", "embedding", K)
      val hitRows = truth.select(col("qid"), col("nid"))
        .join(sl.select(col("qid"), col("nid"), col("rank").as("arank")),
          Seq("qid", "nid"), "left")
        .groupBy(col("arank")).agg(count(lit(1)).as("hits"))
        .collect()
        .map(r => (if (r.isNullAt(0)) Int.MaxValue else r.getInt(0),
          r.getLong(1)))
      val truthN = math.max(hitRows.map(_._2).sum, 1L)
      val ceiling = hitRows.filter(_._1 != Int.MaxValue).map(_._2).sum
      val rows = CurveShortlists.map { sk =>
        val hits = hitRows.filter(_._1 <= sk).map(_._2).sum
        (sk, hits, truthN, math.round(hits * 1000.0 / truthN), qn * sk,
          ceiling)
      }
      Option(curveMemo.putIfAbsent(key, rows)).getOrElse(rows)
    }
  }

  /** The x129g body over an explicit curve — the spec hook. */
  private[graft] def curveGateRows(s: SparkSession,
      curve: Seq[(Int, Long, Long, Long, Long, Long)],
      minOfCeilingPm: Long): DataFrame = {
    import s.implicits._
    val viol = Seq.newBuilder[(String, String)]
    val sorted = curve.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        if (b._4 < a._4)
          viol += ((f"recall_k${b._1}%02d",
            s"recall fell ${a._4} -> ${b._4}"))
        if (b._5 < a._5)
          viol += ((f"cost_k${b._1}%02d",
            s"exact pairs fell ${a._5} -> ${b._5}"))
      case _ =>
    }
    sorted.foreach { case (sk, hits, truthN, _, _, _) =>
      if (hits > truthN)
        viol += ((f"hits_k$sk%02d", s"hits $hits exceed truth $truthN"))
    }
    // the floor is relative to the PROBE CEILING: the widest shortlist
    // must recover nearly everything nprobe-limited search can see
    sorted.lastOption.foreach { case (sk, hits, _, _, _, ceiling) =>
      if (hits * 1000L < minOfCeilingPm * ceiling)
        viol += (("floor",
          s"widest shortlist $sk recovered $hits of the $ceiling " +
            s"probe-reachable truth pairs (< $minOfCeilingPm pm)"))
    }
    viol.result().toDF("clause", "violation").orderBy(col("clause"))
  }

  val queries: Map[String, Q] = Map(
    // the SHORTLIST operating curve (x129): recall@K + exact-scoring
    // cost per ADC shortlist width, one ADC pass + one ground-truth
    // pass + suffix sums. Rows-only (the quantizer trainings aren't
    // SQL-expressible); the x129g gate carries the contract.
    "x129_rerank_shortlist_curve" -> ((s, d) => {
      import s.implicits._
      shortlistCurve(s, d).toDF("shortlist_k", "hits", "truth_n",
          "recall_pm", "exact_pairs", "ceiling_hits")
        .orderBy(col("shortlist_k"))
    }),

    // Gate (empty-set oracle): recall and cost monotone non-decreasing
    // in shortlist width, hits bounded by truth, and the widest
    // shortlist clears the recall floor.
    "x129g_shortlist_curve_gate" -> ((s, d) =>
      curveGateRows(s, shortlistCurve(s, d), minOfCeilingPm = 900L)),

    // IVF-PQ ADC top-k (rows-only: two k-means driver loops) — verified
    // by the x82g/x82r gates below.
    "x82_ann_ivfpq_topk" -> ((s, d) => {
      val corpus = Pq.corpusWithDups(s, d)
      val (idx, dim) = index(s, d, corpus)
      search(corpus.filter(col("id") < 10), idx, "id", "embedding",
        M, dim / M, K, NProbe)
        .orderBy(col("qid"), col("rank"))
    }),

    // Gate (empty-set oracle): BOTH Lloyd error traces — the coarse
    // whole-vector quantizer's and the fine residual quantizer's — must
    // be non-increasing (same contract as x80g; rows name the offending
    // quantizer).
    "x82g_ivfpq_train_gate" -> ((s, d) => {
      import s.implicits._
      val (idx, _) = index(s, d, Pq.corpusWithDups(s, d))
      def tagged(tag: String, errs: Seq[Double]) =
        Pq.lloydViolations(errs).map { case (r, v) => (tag, r, v) }
      (tagged("coarse", idx.coarseErrors) ++ tagged("fine", idx.fineErrors))
        .toDF("quantizer", "round", "violation")
        .orderBy(col("quantizer"), col("round"))
    }),

    // Gate (empty-set oracle): an exact duplicate lands in the same
    // cell (deterministic argmin), carries identical residual codes,
    // and the query's own cell is always its rank-1 probe — so the
    // duplicate holds the minimum possible ADC and must appear in the
    // query's top-k.
    "x82r_ivfpq_dup_recall" -> ((s, d) => {
      val corpus = Pq.corpusWithDups(s, d)
      val (idx, dim) = index(s, d, corpus)
      val top = search(corpus.filter(col("id") < 10), idx, "id", "embedding",
        M, dim / M, K, NProbe)
      corpus.filter(col("id") < 10)
        .select(col("id").as("qid"), (col("id") + 10000).as("nid"))
        .join(top.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
        .orderBy(col("qid"))
    }),

    // Gate (empty-set oracle): near-duplicate recall under IVF routing —
    // an ε-perturbed query (±1e-5/component) must route to the same
    // coarse cell within its nprobe probes AND retrieve its source
    // vector and the source's exact copy. Catches both cell-boundary
    // drift and residual-codebook quality regressions (x82r only proves
    // identity retrieval).
    "x82r2_ivfpq_near_dup_recall" -> ((s, d) => {
      val corpus = Pq.corpusWithDups(s, d)
      val (idx, dim) = index(s, d, corpus)
      val top = search(Pq.perturbedQueries(corpus), idx, "id", "embedding",
        M, dim / M, K, NProbe)
      Pq.nearDupExpected(corpus)
        .join(top.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
        .orderBy(col("qid"), col("nid"))
    }),

    // Two-stage retrieval — THE production ANN serving pattern: a wide
    // ADC shortlist (k' = 50, compressed codes only) re-ranked by EXACT
    // squared L2 over the shortlist's real vectors. Scale shape: the
    // shortlist is Q·k' rows; its join back to the corpus pulls exactly
    // those vectors (AQE broadcasts the tiny shortlist side — the
    // corpus scans once and never shuffles), and the re-rank window is
    // per-query over ≤ k' rows. Approximation error ends at the
    // shortlist boundary: everything the user sees is exactly scored.
    "x95_ann_ivfpq_rerank" -> ((s, d) => {
      val corpus = Pq.corpusWithDups(s, d)
      val (idx, dim) = index(s, d, corpus)
      rerank(search(corpus.filter(col("id") < 10), idx, "id", "embedding",
          M, dim / M, Shortlist, NProbe),
        corpus.filter(col("id") < 10), corpus, "id", "embedding", K)
        .orderBy(col("qid"), col("rank"))
    }),

    // Gate (empty-set oracle): exact re-ranking must surface the two
    // zero-distance members — the query itself and its exact copy —
    // within the top-2 (both are in the shortlist by the x82r
    // identical-codes argument; exact d2 = 0 is the minimum). SET
    // membership, not rank-exact assignment: which of the two zero-
    // distance rows takes rank 1 is a tiebreak detail the gate has no
    // business pinning, and a rank-exact form would fire spuriously on
    // any coincidental third zero-distance embedding with an id between
    // qid and qid+10000. (A third EXACT duplicate among ids < 10 could
    // still crowd one member out of the top-2; the deterministic
    // fixture has pairwise-distinct base embeddings, so top-2 is
    // exactly the planted pair.) An approximate ranker can bury a true
    // zero-distance match; the re-ranker never may.
    "x95g_ivfpq_rerank_gate" -> ((s, d) => {
      val corpus = Pq.corpusWithDups(s, d)
      val (idx, dim) = index(s, d, corpus)
      val top = rerank(search(corpus.filter(col("id") < 10), idx, "id",
          "embedding", M, dim / M, Shortlist, NProbe),
        corpus.filter(col("id") < 10), corpus, "id", "embedding", K)
      corpus.filter(col("id") < 10)
        .select(col("id").as("qid"), col("id").as("nid"))
        .unionByName(corpus.filter(col("id") < 10)
          .select(col("id").as("qid"), (col("id") + 10000).as("nid")))
        .join(top.filter(col("rank") <= 2).select(col("qid"), col("nid")),
          Seq("qid", "nid"), "left_anti")
        .orderBy(col("qid"), col("nid"))
    })
  )

  /** Exact re-rank of an ANN shortlist: join the (qid, nid) candidates
    * back to their true vectors, score exact squared L2, keep the
    * smallest k per query. The shortlist side is Q·k' rows — broadcast-
    * sized at any corpus scale — so the corpus is scanned, never
    * shuffled.
    */
  def rerank(shortlist: DataFrame, queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    GraftExtensions.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val c = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    // the shortlist is bounded BY CONSTRUCTION (Q·k' id pairs), so the
    // broadcast is explicit — static stats through the ADC plan would
    // otherwise decide, and a mis-estimate must never shuffle the
    // corpus to meet a relation this small
    val scored = c
      .join(broadcast(shortlist.select(col("qid"), col("nid"))), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("nvec"), col("nvec")) + dot(col("qvec"), col("qvec")) -
          lit(2.0) * dot(col("qvec"), col("nvec"))).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), round(col("d2"), 6).as("d2"))
  }

  private val Shortlist = 50

  val oracleSql: Map[String, String] = Map(
    "x129g_shortlist_curve_gate" ->
      "SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0",
    "x82g_ivfpq_train_gate" ->
      "SELECT CAST(NULL AS VARCHAR) AS quantizer, CAST(NULL AS INT) AS round, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0",
    "x82r_ivfpq_dup_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid WHERE 1 = 0",
    "x82r2_ivfpq_near_dup_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid WHERE 1 = 0",
    "x95g_ivfpq_rerank_gate" ->
      "SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid WHERE 1 = 0"
  )
}
