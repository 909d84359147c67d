package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** In-engine TRAINED quality classifier (x118 family) — the production
  * curation step FineWeb-Edu/DCLM run: learn a logistic-regression
  * scorer from labeled documents instead of scoring with hand-picked
  * weights (x65's fixed-weight form stays as the baseline this family
  * must beat). Labels come from a declared deterministic rule — the
  * Gopher rule-filter verdict (x49's relation) over the x49-augmented
  * text — which is exactly the DCLM bootstrap shape: train a cheap
  * scorer to imitate (then generalize past) a rule-based filter.
  *
  * Training is full-batch gradient descent on standardized features.
  * Scale shape: the corpus-sized work is ONE labeled-feature scan plus
  * one standardization aggregate; each GD iteration is then a single
  * map-side-combinable aggregate producing a (d+1)-vector of gradient
  * partials (the Opq/Pca parameter-server reduction) against a
  * localCheckpointed micro-int frame that never re-touches text. The
  * weight vector is bounded driver state.
  *
  * Cross-engine exactness (the x71 integer-PageRank discipline): all
  * features, weights, and per-doc probabilities live on a fixed-point
  * micro-unit (1e-6) integer surface. Per iteration: z is an EXACT
  * integer dot product (pico units), p6 = round(1e6·sigmoid(z)) is the
  * only libm crossing (the x42/x65 exp convention), gradient partials
  * (p6 − y·1e6)·g_j are exact integers summed exactly (decimal sums —
  * no float-order seam), and the weight update rounds once. The DuckDB
  * oracle replays the identical trajectory through unrolled iteration
  * CTEs (the x71 pagerankOracle pattern).
  */
object QualityClassifier {
  type Q = (SparkSession, String) => DataFrame

  /** Micro fixed-point: 1e6 integer units per 1.0. */
  private val U = 1000000L

  private[graft] val Iters = 16

  /** x65's hand-picked weights expressed in micro units on this
    * operator's feature basis (bias, quality, stopword_ratio,
    * punct_ratio, min(n_tokens,200)/200): the 0.01·min(n_tokens,200)
    * term of x65 is 2.0 on the normalized 4th feature.
    */
  private[graft] val FixedW: Array[Long] =
    Array(-4L * U, 6L * U, 2L * U, -3L * U, 2L * U)

  /** The x49 augmentation (same literal both engines): symbol noise on
    * doc_id % 7 == 0 docs so the label rule actually fires on the clean
    * synthetic corpus — and the punct feature carries signal about it.
    */
  private def augmented(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      concat(col(textCol),
        when(col(idCol) % 7 === 0, lit(" ### #! ##")).otherwise(lit("")))
        .as("t"))

  /** Labeled micro-int training surface: (id, y, fq, fs, fp, fn).
    * Features are the x09 quality surface (already rounded 6dp — the
    * micro cast is exact) over the AUGMENTED text; the label is the
    * composite Gopher pass bit over the same text. Reuses the shared
    * feature/rule builders so the surface cannot drift from x65/x49;
    * the id-keyed equi-join of the two scan-side projections is the
    * labeled-dataset build step and runs once per training.
    */
  def labeledFrame(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val aug = augmented(docs, idCol, textCol)
    val f = TextAnalysis.qualityFeatures(aug, idCol, "t")
      .select(col(idCol),
        round(col("quality") * 1e6).cast("long").as("fq"),
        round(col("stopword_ratio") * 1e6).cast("long").as("fs"),
        round(col("punct_ratio") * 1e6).cast("long").as("fp"),
        (least(col("n_tokens"), lit(200)).cast("long") * lit(5000L)).as("fn"))
    val lab = CurationQueries.gopherRules(
        CurationQueries.gopherStats(aug, idCol, "t"))
      .select(col(idCol), col("pass").cast("long").as("y"))
    f.join(lab, Seq(idCol))
  }

  /** Per-feature standardization scalars in micro units, from ONE
    * aggregate of exact integer sums (Σf, Σf² as decimals — no
    * float-order seam; the mean/std doubles then derive identically on
    * both engines). Features with no variance get std = 1.0 so their
    * standardized value is ~0.
    */
  final case class Scaler(n: Long, meanU: Array[Long], stdU: Array[Long])

  private val featCols = Seq("fq", "fs", "fp", "fn")

  def fitScaler(frame: DataFrame): Scaler = {
    val aggs = featCols.flatMap { c =>
      Seq(sum(col(c).cast("decimal(38,0)")).as(s"s1_$c"),
        sum((col(c) * col(c)).cast("decimal(38,0)")).as(s"s2_$c"))
    } :+ count(lit(1)).as("n")
    val r = frame.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(2 * featCols.size)
    require(n > 0, "classifier training on an empty split")
    val (means, stds) = featCols.indices.map { i =>
      val s1 = r.getDecimal(2 * i).doubleValue()
      val s2 = r.getDecimal(2 * i + 1).doubleValue()
      val m = s1 / n
      val v = math.max(s2 / n - m * m, 0.0)
      val mU = rndHalfUp(m)
      val sU = math.max(rndHalfUp(math.sqrt(v)), 1L)
      // a zero/micro-jitter std means "constant feature": standardize
      // with std 1.0 instead of exploding micro deviations
      (mU, if (sU < 1L) U else sU)
    }.unzip
    Scaler(n, means.toArray, stds.toArray)
  }

  /** Standardized micro-int features g1..g4 under a TRAIN-fit scaler
    * (the held-out split standardizes with the SAME scalars).
    */
  def standardize(frame: DataFrame, sc: Scaler): DataFrame = {
    val gs = featCols.zipWithIndex.map { case (c, i) =>
      round((col(c) - lit(sc.meanU(i))) * lit(1000000.0) / lit(sc.stdU(i)))
        .cast("long").as(s"g${i + 1}")
    }
    frame.select(col(frame.columns.head) +: col("y") +: gs: _*)
  }

  /** round-half-away-from-zero — Spark's round()/DuckDB's round() on
    * the same double, replicated for driver-side weight updates.
    */
  private def rndHalfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** z in pico units (exact long): w·[1e6, g1..g4]. */
  private def zPico(w: Array[Long]): Column =
    lit(w(0)) * lit(U) + lit(w(1)) * col("g1") + lit(w(2)) * col("g2") +
      lit(w(3)) * col("g3") + lit(w(4)) * col("g4")

  /** p6 = round(1e6 · sigmoid(z)) — the one libm crossing, identical
    * expression text to the oracle's.
    */
  private def p6Expr(w: Array[Long]): Column =
    round(lit(1000000.0) /
        (lit(1.0) + exp(-(zPico(w).cast("double") / lit(1.0e12)))))
      .cast("long")

  final case class TrainResult(scaler: Scaler,
                               trajectory: IndexedSeq[Array[Long]],
                               losses: IndexedSeq[Long]) {
    def finalW: Array[Long] = trajectory.last
  }

  /** Full-batch GD, `iters` iterations at rate lrNum/lrDen (declared
    * family: 1/1). One aggregate per iteration: 5 exact gradient sums +
    * the integer log-loss of the CURRENT weights (so the monotonicity
    * gate costs no extra pass); the trailing loss of the final weights
    * is one more aggregate. The train frame is checkpointed once (micro
    * ints only — text never re-scans) and released before returning.
    */
  def fit(strain: DataFrame, iters: Int = Iters,
          lrNum: Long = 1L, lrDen: Long = 1L): TrainResult = {
    require(iters >= 1 && lrDen >= 1, "iters and lrDen must be >= 1")
    val sc = fitScaler(strain)
    val cached = standardize(strain, sc).localCheckpoint(true)
    // The GD loop runs under STATIC planning: every per-iteration action
    // is one global aggregate over the checkpointed micro-int frame —
    // its only exchange is the single-partition agg exchange, where AQE
    // has nothing to coalesce and charges one extra scheduler job per
    // action (2 jobs -> 1 per iteration). Unlike the frozen float-fold
    // families this is SAFE on values, not just measured-safe: every
    // aggregate is an exact decimal/long sum, order-independent by
    // arithmetic, and the trajectory stays hash-checked by the oracle.
    try graft.CheckpointBlocks.withStaticPlanning(strain.sparkSession) {
      var w = Array.fill(5)(0L)
      val traj = IndexedSeq.newBuilder[Array[Long]]
      val losses = IndexedSeq.newBuilder[Long]
      traj += w.clone()
      (1 to iters).foreach { _ =>
        val e = p6Expr(w) - col("y") * lit(U)
        val p6c = least(greatest(p6Expr(w), lit(1L)), lit(999999L))
        val lossT = round(-(when(col("y") === 1L,
            log(p6c.cast("double") / lit(1.0e6)))
          .otherwise(log(lit(1.0) - p6c.cast("double") / lit(1.0e6)))) *
          lit(1.0e6)).cast("long")
        val gCols = (lit(U) +: (1 to 4).map(j => col(s"g$j"))).map(g =>
          sum((e * g).cast("decimal(38,0)")))
        val r = cached.agg(gCols.head,
          gCols.tail :+ sum(lossT) :+ count(lit(1)): _*).head()
        val n = r.getLong(6)
        losses += r.getLong(5)
        w = w.clone()
        (0 until 5).foreach { j =>
          val gSum = r.getDecimal(j).doubleValue()
          // identical double expression to the oracle's
          // round(CAST(sum AS DOUBLE) / (n * 1000000.0)) at lr = 1/1
          w(j) -= rndHalfUp(lrNum * gSum / (lrDen * (n * 1000000.0)))
        }
        traj += w.clone()
      }
      val p6cF = least(greatest(p6Expr(w), lit(1L)), lit(999999L))
      val lossF = round(-(when(col("y") === 1L,
          log(p6cF.cast("double") / lit(1.0e6)))
        .otherwise(log(lit(1.0) - p6cF.cast("double") / lit(1.0e6)))) *
        lit(1.0e6)).cast("long")
      losses += cached.agg(sum(lossF)).head().getLong(0)
      TrainResult(sc, traj.result(), losses.result())
    } finally graft.CheckpointBlocks.release(cached)
  }

  /** Score a standardized frame with a micro-weight vector: (id, y, p6). */
  def score(standardized: DataFrame, w: Array[Long]): DataFrame =
    standardized.select(col(standardized.columns.head), col("y"),
      p6Expr(w).as("p6"))

  /** Score a RAW labeled frame with the fixed x65 weights (the
    * baseline the advantage gate compares against) — same sigmoid
    * surface, un-standardized features in natural units.
    */
  def scoreFixed(labeled: DataFrame): DataFrame = {
    val z = lit(-4.0) + lit(6.0) * (col("fq").cast("double") / lit(1.0e6)) +
      lit(2.0) * (col("fs").cast("double") / lit(1.0e6)) -
      lit(3.0) * (col("fp").cast("double") / lit(1.0e6)) +
      lit(2.0) * (col("fn").cast("double") / lit(1.0e6))
    labeled.select(col(labeled.columns.head), col("y"),
      round(lit(1000000.0) / (lit(1.0) + exp(-z))).cast("long").as("p6"))
  }

  /** Exact ties-averaged rank-sum AUC numerator: returns
    * (num2 = 2·Σ_pos rank_avg, pos, neg) so two scorers on the SAME
    * split compare by integer num2 alone (equal denominators). The
    * group-by is over distinct p6 values — bounded by 1e6+1 rows BY
    * CONSTRUCTION, so the global cumulative window is config-sized at
    * any corpus scale.
    */
  def aucNum2(scored: DataFrame): (Long, Long, Long) = {
    val g = scored.groupBy(col("p6"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("pc"))
    val w = Window.orderBy(col("p6"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = g.withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
      .agg(sum(col("pc") * (lit(2L) * col("below") + col("c") + lit(1L))),
        sum(col("pc")), sum(col("c")))
      .head()
    val pos = r.getLong(1)
    (if (r.isNullAt(0)) 0L else r.getLong(0), pos, r.getLong(2) - pos)
  }

  // --- declared-family plumbing ------------------------------------------

  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), TrainResult]()

  private def trained(s: SparkSession, d: String): TrainResult = {
    val key = (s, d)
    Option(memo.get(key)).getOrElse {
      MemoEviction.register(s, "qlr") { () =>
        memo.keySet.removeIf(_._1 eq s)
      }
      val lf = labeledFrame(graft.Tables(s, d, "documents"), "doc_id", "text")
      val tr = fit(lf.filter(
        SamplingQueries.hashPrefix(col("doc_id")) <= SamplingQueries.TrainHi))
      Option(memo.putIfAbsent(key, tr)).getOrElse(tr)
    }
  }

  private def heldOut(s: SparkSession, d: String): DataFrame =
    labeledFrame(graft.Tables(s, d, "documents"), "doc_id", "text")
      .filter(SamplingQueries.hashPrefix(col("doc_id")) > SamplingQueries.ValHi)

  /** The x118g body over an explicit result — the spec hook proving the
    * clauses FIRE on a tampered training run (gradient ASCENT breaks
    * both monotonicity and net improvement).
    */
  private[graft] def gateRows(s: SparkSession, tr: TrainResult): DataFrame = {
    import s.implicits._
    val viol = Seq.newBuilder[(String, String)]
    tr.losses.sliding(2).zipWithIndex.foreach {
      case (Seq(a, b), i) if b > a =>
        viol += ((f"monotone_$i%02d", s"train loss rose $a -> $b"))
      case _ =>
    }
    if (tr.losses.last >= tr.losses.head)
      viol += (("improved",
        s"final loss ${tr.losses.last} !< initial ${tr.losses.head}"))
    tr.finalW.zipWithIndex.foreach { case (wj, j) =>
      if (math.abs(wj) > 100L * U)
        viol += ((s"bounded_w$j", s"|$wj| exceeds 100 in natural units"))
    }
    viol.result().toDF("clause", "violation").orderBy(col("clause"))
  }

  /** The x118a body — `forceFixed` scores the "trained" side with the
    * fixed weights too, so equality trips the strict-advantage clause
    * (the spec hook proving the gate fires).
    */
  private[graft] def advantageRows(s: SparkSession, d: String,
                                   forceFixed: Boolean): DataFrame = {
    import s.implicits._
    val tr = trained(s, d)
    val ho = heldOut(s, d)
    val trainedScored =
      if (forceFixed) scoreFixed(ho)
      else score(standardize(ho, tr.scaler), tr.finalW)
    val (n2t, pos, neg) = aucNum2(trainedScored)
    val (n2f, _, _) = aucNum2(scoreFixed(ho))
    val viol = Seq.newBuilder[(String, String)]
    // single-class held-out (possible at tiny sf) makes AUC undefined:
    // the advantage clause is then vacuous by design, not red
    if (pos > 0 && neg > 0 && n2t <= n2f)
      viol += (("auc_advantage",
        s"trained num2 $n2t !> fixed num2 $n2f (pos=$pos neg=$neg)"))
    viol.result().toDF("clause", "violation").orderBy(col("clause"))
  }

  val queries: Map[String, Q] = Map(
    // weight TRAJECTORY of the in-engine training run (micro units):
    // iteration 0 (zeros) through 16 — hash-green against the unrolled
    // iteration-CTE DuckDB replay, so the full fixed-point GD dynamics
    // are pinned cross-engine, not just the final vector.
    "x118_quality_lr_weights" -> ((s, d) => {
      import s.implicits._
      trained(s, d).trajectory.zipWithIndex.map { case (w, i) =>
        (i, w(0), w(1), w(2), w(3), w(4))
      }.toDF("iter", "w_bias", "w_quality", "w_stop", "w_punct", "w_ntok")
        .orderBy(col("iter"))
    }),

    // the deployable artifact: held-out docs scored by the trained
    // weights (micro probabilities) — hash-green via the same oracle
    // machinery plus one scoring CTE.
    "x118s_quality_lr_scores" -> ((s, d) => {
      val tr = trained(s, d)
      score(standardize(heldOut(s, d), tr.scaler), tr.finalW)
        .select(col("doc_id"), col("p6").as("score_micro"))
        .orderBy(col("doc_id"))
    }),

    // Gate (empty-set oracle): training must WORK — integer train
    // log-loss non-increasing at every step, strictly improved end to
    // end, weights bounded. Gradient ascent (the spec's tamper hook)
    // trips both loss clauses.
    "x118g_lr_train_gate" -> ((s, d) => gateRows(s, trained(s, d))),

    // Gate (empty-set oracle): the LEARNED scorer must beat the fixed
    // x65 weights on held-out AUC (exact ties-averaged rank-sum
    // integers — same denominator, so num2 compares alone). This is the
    // reason to train at all; the force-fixed hook proves the clause
    // fires on a scorer with no advantage.
    "x118a_lr_advantage_gate" -> ((s, d) => advantageRows(s, d, forceFixed = false))
  )

  // --- DuckDB oracle (unrolled-CTE GD replay, the x71 pattern) ----------

  /** Shared CTE head: augmented text → micro features + label + split
    * prefix → train-side exact sums → micro scaler → standardized
    * train/test frames → i0 (zero weights).
    */
  private def oracleHead: String =
    raw"""WITH a AS (
      |  SELECT doc_id,
      |    text || CASE WHEN doc_id % 7 = 0 THEN ' ### #! ##' ELSE '' END AS t
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, t,
      |    list_filter(string_split_regex(lower(trim(t)), '\s+'), x -> x <> '') AS ts,
      |    CAST(length(regexp_replace(t, '\s+', '', 'g')) AS INT) AS nns
      |  FROM a
      |), base AS (
      |  SELECT doc_id,
      |    CAST(round(round(
      |      least(CAST(len(ts) AS DOUBLE) / 100.0, 1.0) * 0.5 +
      |      (1.0 - least(CAST(len(regexp_extract_all(t, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(t), 1) * 5.0, 1.0)) * 0.3 +
      |      least(CAST(len(list_intersect(list_distinct(ts), ['the','a','of','and','is'])) AS DOUBLE)
      |            / greatest(len(list_distinct(ts)), 1) * 10.0, 1.0) * 0.2, 6) * 1000000) AS BIGINT) AS fq,
      |    CAST(round(round(CAST(len(list_intersect(list_distinct(ts), ['the','a','of','and','is'])) AS DOUBLE)
      |          / greatest(len(list_distinct(ts)), 1), 6) * 1000000) AS BIGINT) AS fs,
      |    CAST(round(round(CAST(len(regexp_extract_all(t, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(t), 1), 6) * 1000000) AS BIGINT) AS fp,
      |    CAST(least(len(ts), 200) * 5000 AS BIGINT) AS fn,
      |    CAST(CASE WHEN (len(ts) BETWEEN 10 AND 100000)
      |     AND (3 * len(ts) <= nns AND nns <= 10 * len(ts))
      |     AND (10 * len(list_filter(ts, x -> regexp_matches(x, '^[^a-z0-9]+$$'))) <= len(ts))
      |     AND (5 * len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) >= 4 * len(ts))
      |     AND (len(list_intersect(list_distinct(ts), ['the','a','of','and','is'])) >= 2) THEN 1 ELSE 0 END AS BIGINT) AS y,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hp
      |  FROM m
      |), tr AS (
      |  SELECT * FROM base WHERE hp <= 'cb'
      |), agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(fq) AS BIGINT) AS s1q, CAST(sum(fq*fq) AS BIGINT) AS s2q,
      |    CAST(sum(fs) AS BIGINT) AS s1s, CAST(sum(fs*fs) AS BIGINT) AS s2s,
      |    CAST(sum(fp) AS BIGINT) AS s1p, CAST(sum(fp*fp) AS BIGINT) AS s2p,
      |    CAST(sum(fn) AS BIGINT) AS s1n, CAST(sum(fn*fn) AS BIGINT) AS s2n
      |  FROM tr
      |), st AS (
      |  SELECT n,
      |    CAST(round(CAST(s1q AS DOUBLE) / n) AS BIGINT) AS mq,
      |    CAST(round(CAST(s1s AS DOUBLE) / n) AS BIGINT) AS ms,
      |    CAST(round(CAST(s1p AS DOUBLE) / n) AS BIGINT) AS mp,
      |    CAST(round(CAST(s1n AS DOUBLE) / n) AS BIGINT) AS mn,
      |    greatest(CAST(round(sqrt(greatest(CAST(s2q AS DOUBLE) / n - (CAST(s1q AS DOUBLE) / n) * (CAST(s1q AS DOUBLE) / n), 0.0))) AS BIGINT), 1) AS sq,
      |    greatest(CAST(round(sqrt(greatest(CAST(s2s AS DOUBLE) / n - (CAST(s1s AS DOUBLE) / n) * (CAST(s1s AS DOUBLE) / n), 0.0))) AS BIGINT), 1) AS ss,
      |    greatest(CAST(round(sqrt(greatest(CAST(s2p AS DOUBLE) / n - (CAST(s1p AS DOUBLE) / n) * (CAST(s1p AS DOUBLE) / n), 0.0))) AS BIGINT), 1) AS sp,
      |    greatest(CAST(round(sqrt(greatest(CAST(s2n AS DOUBLE) / n - (CAST(s1n AS DOUBLE) / n) * (CAST(s1n AS DOUBLE) / n), 0.0))) AS BIGINT), 1) AS sn
      |  FROM agg
      |), sft AS (
      |  SELECT doc_id, y,
      |    CAST(round((fq - mq) * 1000000.0 / sq) AS BIGINT) AS g1,
      |    CAST(round((fs - ms) * 1000000.0 / ss) AS BIGINT) AS g2,
      |    CAST(round((fp - mp) * 1000000.0 / sp) AS BIGINT) AS g3,
      |    CAST(round((fn - mn) * 1000000.0 / sn) AS BIGINT) AS g4
      |  FROM tr CROSS JOIN st
      |), nn AS (SELECT n FROM st),
      |i0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
      |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS w4)""".stripMargin

  /** One GD step as a CTE: score with i{k-1}'s weights, aggregate the
    * five exact gradient sums, round the update once.
    */
  private def oracleIter(k: Int): String = {
    val upd = (0 to 4).map { j =>
      val g = if (j == 0) "1000000" else s"q.g$j"
      s"    max(q.w$j) - CAST(round(CAST(sum((q.p6 - q.y * 1000000) * $g) AS DOUBLE) / (max(q.n) * 1000000.0)) AS BIGINT) AS w$j"
    }.mkString(",\n")
    s""",
       |i$k AS (
       |  SELECT
       |$upd
       |  FROM (
       |    SELECT s.y, s.g1, s.g2, s.g3, s.g4, p.w0, p.w1, p.w2, p.w3, p.w4, nn.n,
       |      CAST(round(1000000.0 / (1.0 + exp(-(CAST(p.w0 * 1000000 + p.w1 * s.g1 + p.w2 * s.g2 + p.w3 * s.g3 + p.w4 * s.g4 AS DOUBLE) / 1000000000000.0)))) AS BIGINT) AS p6
       |    FROM sft s CROSS JOIN i${k - 1} p CROSS JOIN nn
       |  ) q
       |)""".stripMargin
  }

  private def weightsOracle: String = {
    val trajectory = (0 to Iters).map(k =>
      s"SELECT CAST($k AS INT) AS iter, w0 AS w_bias, w1 AS w_quality, w2 AS w_stop, w3 AS w_punct, w4 AS w_ntok FROM i$k")
      .mkString("\nUNION ALL ")
    oracleHead + (1 to Iters).map(oracleIter).mkString +
      s"\nSELECT * FROM (\n$trajectory\n) ORDER BY iter"
  }

  private def scoresOracle: String =
    oracleHead + (1 to Iters).map(oracleIter).mkString +
      raw""",
        |sfe AS (
        |  SELECT doc_id,
        |    CAST(round((fq - mq) * 1000000.0 / sq) AS BIGINT) AS g1,
        |    CAST(round((fs - ms) * 1000000.0 / ss) AS BIGINT) AS g2,
        |    CAST(round((fp - mp) * 1000000.0 / sp) AS BIGINT) AS g3,
        |    CAST(round((fn - mn) * 1000000.0 / sn) AS BIGINT) AS g4
        |  FROM base CROSS JOIN st WHERE hp > 'e5'
        |)
        |SELECT doc_id,
        |  CAST(round(1000000.0 / (1.0 + exp(-(CAST(p.w0 * 1000000 + p.w1 * g1 + p.w2 * g2 + p.w3 * g3 + p.w4 * g4 AS DOUBLE) / 1000000000000.0)))) AS BIGINT) AS score_micro
        |FROM sfe CROSS JOIN i$Iters p
        |ORDER BY doc_id""".stripMargin

  private val emptyGateOracle =
    """SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation
      |WHERE false""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "x118_quality_lr_weights" -> weightsOracle,
    "x118s_quality_lr_scores" -> scoresOracle,
    "x118g_lr_train_gate" -> emptyGateOracle,
    "x118a_lr_advantage_gate" -> emptyGateOracle
  )
}
