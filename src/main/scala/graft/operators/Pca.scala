package graft.operators

import breeze.linalg.{eigSym, DenseMatrix => BDM}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftExtensions

/** PCA dimensionality reduction for embedding columns — the classic
  * pre-processing step in front of ANN/quantization at corpus scale
  * (project 64-dim vectors onto the top-k variance directions, search
  * or quantize in the reduced space, reconstruct on demand).
  *
  * Fit shape: the covariance sufficient statistics (Σx, Σx·xᵀ, n)
  * reduce through ONE `treeAggregate` of (d + d²)-sized partials
  * (~33 KB at d = 64 — parameter-server state, constant in corpus
  * size, the [[Opq]] Procrustes idiom); the d×d symmetric
  * eigendecomposition runs on the driver (breeze, bundled with Spark).
  * Covariance entries round to 12 significant digits before the
  * decomposition so the model is reproducible under partition-order
  * float jitter, and each eigenvector's sign is canonicalized (largest-
  * magnitude coordinate positive) — eigenvector sign is otherwise
  * arbitrary.
  *
  * Serving shape: projection and reconstruction are pure scan-side
  * Catalyst projections — the basis rides the plan as a nested-array
  * literal, each output coordinate is one codegen'd
  * [[graft.functions.VecDot]], no UDF, no shuffle. Projection uses the
  * identity B(x−μ) = Bx − Bμ with Bμ precomputed on the driver, so the
  * scan does k dots + k subtractions; reconstruction μ + Bᵀy is d dots
  * over the k-dim code.
  *
  * Guaranteed contracts (gated empty-set in x99g):
  *   - basis rows orthonormal (‖BBᵀ − I_k‖∞ at fp tolerance);
  *   - the eigenvalue spectrum is non-increasing and non-negative
  *     (covariance is PSD);
  *   - data-side: Var(y_j) = λ_j for every projected coordinate (the
  *     defining property of the eigenbasis, measured on the actual
  *     corpus — catches a wrong literal/layout/centering);
  *   - data-side: mean ‖x − x̂‖² = Σ_{j>k} λ_j (Pythagoras: the
  *     residual energy is exactly the discarded spectrum).
  * x99a additionally gates the ADVANTAGE: PCA's reconstruction error
  * beats a budget-matched deterministic random orthonormal projection
  * on correlated data (PCA is the optimal rank-k basis — with the
  * basis swapped for another random one the ratio is ~1 and the gate
  * fires; spec-driven via the forceRandom hook). x99r gates retrieval:
  * L2 top-k in the reduced space recovers the full-space top-k.
  *
  * Reference analog: none — the reference has no vector surface; SURVEY
  * §7.4 extension mandate (embedding ops scale path).
  */
object Pca {
  type Q = (SparkSession, String) => DataFrame

  /** Learned model: the mean, the top-k basis (rows = principal
    * directions, unit, sign-canonicalized), the FULL eigenvalue
    * spectrum in descending order, and the driver-checked
    * orthonormality defect ‖BBᵀ − I_k‖∞.
    */
  final case class PcaModel(mean: IndexedSeq[Double],
                            basis: IndexedSeq[IndexedSeq[Double]],
                            eigs: IndexedSeq[Double],
                            orthoErr: Double) {
    def k: Int = basis.length
    def dim: Int = mean.length
    /** Σ_{j>k} λ_j — the exact expected squared reconstruction error. */
    def residualEnergy: Double = eigs.drop(k).sum
  }

  private def roundSig(x: Double): Double = graft.functions.Num.roundSig(x)

  /** Fit on `corpus.vecCol` (array of numerics, constant length):
    * one distributed pass, driver eigendecomposition.
    */
  def fit(corpus: DataFrame, vecCol: String, k: Int): PcaModel = {
    require(k >= 1, "k must be >= 1")
    val sp = corpus.sparkSession
    import sp.implicits._
    // head(1), not head(): the dim probe is the first action to touch the
    // corpus, so the empty-input diagnostic must fire HERE, not as an
    // opaque NoSuchElementException before the n > 0 require is reached
    val dimRow = corpus.select(size(col(vecCol))).head(1)
    require(dimRow.nonEmpty, "PCA fit on an empty corpus")
    val dim = dimRow(0).getInt(0)
    require(k <= dim, s"k $k exceeds dim $dim")
    // partials: (Σx, Σ x·xᵀ upper-triangular-free full d², n) — summed
    // per partition, tree-reduced; never a per-row d² relation
    val (sumX, sumXX, n) = corpus
      .select(col(vecCol).cast("array<double>"))
      .as[Array[Double]]
      .rdd.treeAggregate((new Array[Double](dim), new Array[Double](dim * dim), 0L))(
        seqOp = { case ((s1, s2, c), x) =>
          var i = 0
          while (i < dim) {
            s1(i) += x(i)
            val xi = x(i)
            var j = 0
            while (j < dim) { s2(i * dim + j) += xi * x(j); j += 1 }
            i += 1
          }
          (s1, s2, c + 1)
        },
        combOp = { case ((a1, a2, c1), (b1, b2, c2)) =>
          var i = 0
          while (i < a1.length) { a1(i) += b1(i); i += 1 }
          var j = 0
          while (j < a2.length) { a2(j) += b2(j); j += 1 }
          (a1, a2, c1 + c2)
        })
    require(n > 0, "PCA fit on an empty corpus")
    val mu = sumX.map(_ / n)
    val cmat = BDM.zeros[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        cmat(i, j) = roundSig(sumXX(i * dim + j) / n - mu(i) * mu(j))
        j += 1
      }
      i += 1
    }
    val es = eigSym(cmat) // eigenvalues ASCENDING; eigenvector i = column i
    val order = (0 until dim).sortBy(es.eigenvalues(_)).reverse
    val eigs = order.map(es.eigenvalues(_)).toIndexedSeq
    val basis = order.take(k).map { c =>
      val v = (0 until dim).map(r => es.eigenvectors(r, c))
      // sign canonicalization: largest-|.| coordinate positive (first on tie)
      val pivot = v.indices.maxBy(r => (math.abs(v(r)), -r))
      if (v(pivot) < 0) v.map(-_) else v
    }.toIndexedSeq
    var ortho = 0.0
    basis.indices.foreach { a =>
      basis.indices.foreach { b =>
        val d0 = basis(a).iterator.zip(basis(b).iterator).map { case (x, y) => x * y }.sum
        val e = math.abs(d0 - (if (a == b) 1.0 else 0.0))
        if (e > ortho) ortho = e
      }
    }
    PcaModel(mu.toIndexedSeq, basis, eigs, ortho)
  }

  /** B(vec − μ) as a scan-side projection: one codegen'd
    * [[graft.functions.MatVec]] loop (the former zip_with HOF ran
    * interpreted), the constant Bμ offsets precomputed. Values are
    * bit-identical: same left-to-right dots, and the HOF's `dot - o` is
    * IEEE-identical to `dot + (-o)`.
    */
  def project(model: PcaModel, vec: Column): Column = {
    val offsets = model.basis.map(b =>
      b.iterator.zip(model.mean.iterator).map { case (x, y) => x * y }.sum)
    GraftExtensions.matVecPlus(model.basis, offsets.map(-_), vec)
  }

  /** μ + Bᵀy: coordinate i is μ_i plus the dot of basis COLUMN i with
    * the code — one codegen'd [[graft.functions.MatVec]] loop (`code`
    * binds once as the expression's single child, which is what the
    * former transform(array(code), …) wrapper existed to guarantee
    * around the interpreted HOF). `mu + dot` ≡ `dot + mu` bit-exactly
    * (IEEE addition commutes).
    */
  def reconstruct(model: PcaModel, code: Column): Column = {
    val cols = (0 until model.dim).map(i => model.basis.map(_(i)))
    GraftExtensions.matVecPlus(cols, model.mean, code)
  }

  // ---------------------------------------------------------------------

  private val K = 8
  private val shared =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), PcaModel]()

  private def model(s: SparkSession, d: String): PcaModel = {
    val key = (s, d)
    Option(shared.get(key)).getOrElse {
      MemoEviction.register(s, "pca") { () =>
        shared.keySet.removeIf(_._1 eq s)
      }
      val m = fit(ExtensionQueries.rebalanced(Tables(s, d, "embeddings")),
        "embedding", K)
      Option(shared.putIfAbsent(key, m)).getOrElse(m)
    }
  }

  /** Brute L2 top-k of each query row against the corpus over an
    * arbitrary vector expression — ranks by ‖x‖² − 2q·x (the ‖q‖² term
    * is rank-invariant per query). Queries broadcast; one corpus scan.
    */
  private def l2TopK(queries: DataFrame, corpus: DataFrame,
                     vec: DataFrame => Column, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      vec(queries).as("qv")))
    val c = corpus.select(col("vec_id").as("nid"), vec(corpus).as("nv"))
    val d2 = GraftExtensions.vecDot(col("nv"), col("nv")) -
      lit(2.0) * GraftExtensions.vecDot(col("qv"), col("nv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
    c.join(q, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), d2.as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Mean recall@k of `test` top-k lists against `truth` top-k lists. */
  private def meanRecall(truth: DataFrame, test: DataFrame, k: Int): Double = {
    val hits = truth.select("qid", "nid")
      .join(test.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      .count().toDouble
    val qn = truth.select("qid").distinct().count().toDouble
    if (qn == 0) 1.0 else hits / (qn * k)
  }

  /** Deterministic hash-sign basis (±1/√d), Gram-Schmidt orthonormalized
    * on the driver — the budget-matched naive competitor for x99a.
    */
  private[graft] def hashBasis(dim: Int, k: Int, salt: Long): IndexedSeq[IndexedSeq[Double]] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val raw = (0 until k).map(r => (0 until dim).map(i =>
      if ((mix(salt * 1000003L + r * 131L + i) & 1L) == 0) 1.0 else -1.0))
    val out = scala.collection.mutable.ArrayBuffer[IndexedSeq[Double]]()
    raw.foreach { v0 =>
      var v = v0
      out.foreach { u =>
        val d0 = v.iterator.zip(u.iterator).map { case (a, b) => a * b }.sum
        v = v.indices.map(i => v(i) - d0 * u(i))
      }
      val nrm = math.sqrt(v.iterator.map(x => x * x).sum)
      if (nrm > 1e-9) out += v.map(_ / nrm)
    }
    out.toIndexedSeq
  }

  /** PCA-space recall@k vs the full-space L2 truth — the x99r body,
    * exposed for spec measurement.
    */
  private[graft] def recallProbe(s: SparkSession, fixture: DataFrame,
                                 m: PcaModel, k: Int): Double = {
    val q = fixture.filter(col("vec_id") < 10)
    val truth = l2TopK(q, fixture, f => f("embedding").cast("array<double>"), k)
    val test = l2TopK(q, fixture, f => project(m, f("embedding").cast("array<double>")), k)
    meanRecall(truth, test, k)
  }

  private def basisError(corpus: DataFrame, vecCol: String,
                         m: PcaModel): Double = {
    val vec = col(vecCol).cast("array<double>")
    val resid = zip_with(vec, reconstruct(m, project(m, vec)),
      (a, b) => (a - b) * (a - b))
    val r = corpus.agg(
      sum(aggregate(resid, lit(0.0), (acc, x) => acc + x)).as("se"),
      count(lit(1)).as("n")).head()
    if (r.getLong(1) == 0) 0.0 else r.getDouble(0) / r.getLong(1)
  }

  /** The x99a measurement as violation rows (empty = advantage holds).
    * `forceRandom = true` swaps the learned basis for a second
    * hash-sign basis of the same budget — the spec hook proving the
    * gate FIRES when the optimal basis is dropped (two random bases
    * have ~equal error, far above the bar).
    */
  private[graft] def pcaAdvantage(s: SparkSession, d: String,
                                  forceRandom: Boolean): Seq[(String, String)] = {
    GraftExtensions.register(s)
    val fixture = Opq.prefixSumCorpus(s, d)
      .select(col("id").as("vec_id"), col("embedding")).localCheckpoint(true)
    try {
      val dim = fixture.select(size(col("embedding"))).head().getInt(0)
      // ONE distributed fit serves both contenders: the hash-sign
      // competitor reuses the fitted mean (fair comparison — both
      // center identically) and only swaps the basis, so the gate never
      // pays the treeAggregate + eigendecomposition twice
      val full = fit(fixture, "embedding", K)
      val pcaM =
        if (forceRandom) full.copy(basis = hashBasis(dim, K, salt = 7L))
        else full
      val randM = full.copy(basis = hashBasis(dim, K, salt = 1L))
      val errPca = basisError(fixture, "embedding", pcaM)
      val errRnd = basisError(fixture, "embedding", randM)
      if (errPca > errRnd * PcaAdvantageBar)
        Seq(("recon_error",
          f"pca $errPca%.4f > rand $errRnd%.4f x $PcaAdvantageBar"))
      else Seq.empty
    } finally graft.CheckpointBlocks.release(fixture)
  }

  /** Measured on the prefix-sum fixture: errPca/errRnd = 0.0276
    * (sf0.001) / 0.0329 (sf0.01) — prefix sums concentrate ~97% of
    * their variance in the top-8 directions, which ±1 bases cannot
    * align with. forceRandom (a second hash basis) measures 1.09–1.10.
    * The 0.5 bar has >15× margin green-side and 2× fire-side.
    */
  private val PcaAdvantageBar = 0.5

  /** Measured PCA-space recall@10 vs full-space L2 truth on the
    * prefix-sum fixture: 0.88 (sf0.001) / 0.89 (sf0.01); a budget-
    * matched random basis measures 0.48. The 0.75 bar leaves margin on
    * the green side while staying far above what any non-spectral
    * projection achieves.
    */
  private val PcaRecallBar = 0.75

  val queries: Map[String, Q] = Map(
    // PCA projection of the embeddings table to k = 8 (rows-only: the
    // eigendecomposition is not expressible in DuckDB SQL) — verified
    // by the x99g contracts below. Scalar output shape (vec_id, pc,
    // value); values rounded to 9 digits for cross-run hash stability.
    "x99_pca_project" -> ((s, d) => {
      GraftExtensions.register(s)
      val m = model(s, d)
      ExtensionQueries.rebalanced(Tables(s, d, "embeddings"))
        .select(col("vec_id"), posexplode(project(m, col("embedding"))))
        .select(col("vec_id"), col("pos").as("pc"),
          round(col("col"), 9).as("value"))
        .orderBy(col("vec_id"), col("pc"))
    }),

    // Gate (empty-set oracle), four clauses: (a) basis orthonormal;
    // (b) spectrum non-increasing and non-negative; (c) Var(y_j) = λ_j
    // on the actual data (defining property of the eigenbasis);
    // (d) mean ‖x − x̂‖² = Σ_{j>k} λ_j (Pythagoras — residual energy is
    // exactly the discarded spectrum).
    "x99g_pca_gate" -> ((s, d) => {
      import s.implicits._
      GraftExtensions.register(s)
      val m = model(s, d)
      val e = ExtensionQueries.rebalanced(Tables(s, d, "embeddings"))
      val viol = Seq.newBuilder[(String, String)]
      if (m.orthoErr > 1e-8)
        viol += (("ortho", s"|BB' - I| = ${m.orthoErr}"))
      m.eigs.sliding(2).zipWithIndex.foreach {
        case (Seq(a, b), i) if b > a + 1e-9 * math.max(1.0, a.abs) =>
          viol += ((f"spectrum_$i%02d", s"eig rose $a -> $b"))
        case _ =>
      }
      m.eigs.zipWithIndex.foreach { case (l, i) =>
        if (l < -1e-8 * math.max(1.0, m.eigs.head))
          viol += ((f"psd_$i%02d", s"negative eigenvalue $l"))
      }
      val tol = 1e-6 * math.max(1.0, m.eigs.head)
      // one scan: the k projected coords plus the per-row residual
      // energy ride as a (k+1)-array, posexplode to (pos, v), and a
      // (k+1)-group aggregation yields every Var(y_j) and the mean
      // residual — never a row-sized driver collection
      val vec = col("embedding").cast("array<double>")
      val y = project(m, vec)
      val resid = zip_with(vec, reconstruct(m, y), (a, b) => (a - b) * (a - b))
      val stats = e
        .select(posexplode(concat(y,
          array(aggregate(resid, lit(0.0), (a, x) => a + x)))))
        .groupBy(col("pos"))
        .agg(sum(col("col")).as("s"), sum(col("col") * col("col")).as("ss"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .toMap
      (0 until m.k).foreach { j =>
        val (s0, ss, n) = stats(j)
        val v = ss / n - math.pow(s0 / n, 2)
        if (math.abs(v - m.eigs(j)) > tol)
          viol += ((f"var_$j%02d", f"Var(y_$j) = $v%.9f != eig ${m.eigs(j)}%.9f"))
      }
      val (se, _, n) = stats(m.k)
      if (math.abs(se / n - m.residualEnergy) > tol)
        viol += (("pythagoras",
          f"mean residual ${se / n}%.9f != discarded spectrum ${m.residualEnergy}%.9f"))
      viol.result().toDF("clause", "violation").orderBy(col("clause"))
    }),

    // Gate (empty-set oracle): PCA's reconstruction error beats a
    // budget-matched deterministic random orthonormal basis by the
    // declared factor on the correlated fixture — deliberately
    // sensitive to dropping the learned basis (forceRandom spec hook).
    "x99a_pca_advantage_gate" -> ((s, d) => {
      import s.implicits._
      pcaAdvantage(s, d, forceRandom = false)
        .toDF("clause", "violation").orderBy(col("clause"))
    }),

    // Gate (empty-set oracle): retrieval survives the reduction — L2
    // top-10 computed in the 8-dim PCA space recovers >= 75% of the
    // full-space L2 top-10 on the correlated fixture (measured 0.88;
    // a budget-matched random basis measures 0.48).
    "x99r_pca_recall" -> ((s, d) => {
      import s.implicits._
      GraftExtensions.register(s)
      val fixture = Opq.prefixSumCorpus(s, d)
        .select(col("id").as("vec_id"), col("embedding")).localCheckpoint(true)
      try {
        val m = fit(fixture, "embedding", K)
        val rec = recallProbe(s, fixture, m, 10)
        (if (rec < PcaRecallBar)
           Seq(("recall", f"pca-space recall@10 $rec%.4f < $PcaRecallBar"))
         else Seq.empty).toDF("clause", "violation").orderBy(col("clause"))
      } finally graft.CheckpointBlocks.release(fixture)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "x99g_pca_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,
    "x99a_pca_advantage_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,
    "x99r_pca_recall" ->
      """SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin
  )
}
