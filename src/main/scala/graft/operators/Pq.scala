package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftExtensions

/** Product quantization for ANN (Jégou et al., TPAMI 2011) — the
  * MEMORY-scale path the similarity family was missing: IVF (x16/x56)
  * prunes which vectors get scored; PQ compresses what a "vector"
  * costs to store and score. Dim D splits into M subspaces; each
  * subspace learns a Ks-centroid codebook (Lloyd k-means on L2, hash-
  * seeded and deterministic like the x56 spherical refinement); a
  * vector becomes M one-byte codes. Search is asymmetric distance
  * computation (ADC): the query precomputes a (M × Ks) distance table
  * and every candidate's distance is a table-lookup sum — no float
  * vector is touched at scan time.
  *
  * Scale shape: the stored index is the codes relation (id, m, code) —
  * M bytes per vector instead of 4·D (64-d float → 8 codes = 32×
  * smaller), the difference between an in-memory index and a spilled
  * one at 10^9 vectors. Training touches full vectors once per Lloyd
  * round via one broadcast-join assign (codebook is M·Ks rows) and one
  * (m, code, pos) map-side-combinable mean; search broadcasts the
  * per-query distance table (Q·M·Ks rows — config-sized) onto the
  * codes scan, aggregates M rows per (query, candidate), and top-k is
  * a per-query window. The ADC sum folds in FIXED subspace order
  * (sorted-struct aggregate), so scores are bit-deterministic across
  * partitionings.
  *
  * Verification: x80g pins Lloyd's quantization-error monotonicity per
  * round (the k-means contract, x56g's shape); x80r pins that an exact
  * duplicate of every query — identical codes, hence the global ADC
  * minimum — lands in its top-k (the PQ analog of the x03r collision-
  * guarantee recall gate).
  */
object Pq {
  type Q = (SparkSession, String) => DataFrame

  private def dot(a: Column, b: Column): Column = GraftExtensions.vecDot(a, b)

  /** (id, m, sv): the M subvectors of every vector, m in 1..M.
    * Requires D % m == 0 (asserted from a 1-row dim probe by callers).
    */
  def subVectors(vecs: DataFrame, idCol: String, vecCol: String,
                 m: Int, ds: Int): DataFrame =
    vecs.select(col(idCol).as("id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col(vecCol).cast("array<double>"), i * ds + 1, lit(ds)))))
      .select(col("id"), (col("pos") + 1).as("m"), col("col").as("sv"))

  /** Squared L2 distance via the codegen'd dot product:
    * ||a||² + ||b||² − 2·a·b with the norms precomputed per side.
    */
  private def sqDist(sn2: Column, cn2: Column, d: Column): Column =
    sn2 + cn2 - lit(2.0) * d

  /** (m, code, cvec, cn2): one codebook per subspace, plus the summed
    * squared quantization error observed at each Lloyd assignment
    * (length iters + 1 — seed assignment through final). `asMap` is the
    * driver-state form ((m, code) -> centroid), kept so a caller can
    * warm-start a later training round from this codebook (the OPQ
    * alternating loop needs that for its monotonicity guarantee).
    */
  final case class PqCodebook(centroids: DataFrame, errors: Seq[Double],
                              asMap: Map[(Int, Int), IndexedSeq[Double]])

  /** Train M codebooks of Ks centroids each: hash-seeded picks, then
    * `iters` Lloyd rounds on L2 (cells that lose every member keep
    * their centroid so Ks never shrinks; seeding orders on
    * xxhash64(id), assignment ties break on code — deterministic up to
    * float mean jitter). The codebook lives as DRIVER state (M·Ks·ds
    * doubles — parameter-server sized at any corpus scale): each Lloyd
    * round is exactly ONE distributed pass — broadcast-join assign,
    * then a single (m, code, pos) aggregation that yields the member
    * sums/counts AND the round's summed quantization error together
    * (the error rides the pos=0 rows), collected as M·Ks·ds small
    * rows. No per-round checkpoint, no per-round lineage growth.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int, ks: Int, iters: Int,
            init: Option[Map[(Int, Int), IndexedSeq[Double]]] = None): PqCodebook = {
    require(m >= 1 && ks >= 1 && iters >= 0, "m, ks >= 1; iters >= 0")
    // a warm-start codebook must cover exactly (1..m) x (1..ks): a
    // mismatched one (different m/ks than it was trained with) would
    // silently drop whole subspaces in the assignment join and encode
    // truncated vectors downstream
    init.foreach { cb0 =>
      val expected = (for { mm <- 1 to m; c <- 1 to ks } yield (mm, c)).toSet
      require(cb0.keySet == expected,
        s"init codebook keys must cover (1..$m)x(1..$ks); " +
          s"missing ${(expected -- cb0.keySet).take(4)}..., " +
          s"extra ${(cb0.keySet -- expected).take(4)}...")
    }
    val sp = corpus.sparkSession
    GraftExtensions.register(sp)
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sv = trainSubvectors(corpus, idCol, vecCol, m, dim / m)
    try trainOn(sv, iters, init.getOrElse(seedCodebook(sv, ks)))
    finally graft.CheckpointBlocks.release(sv)
  }

  /** The checkpointed (id, m, sv, sn2) training fixture [[trainOn]]
    * iterates over — exactly the relation [[train]] always built
    * internally, exposed so callers training SEVERAL codebooks over the
    * same (corpus, m) (the x121 curve's Ks cells) materialize it once.
    * Caller releases.
    */
  private[operators] def trainSubvectors(corpus: DataFrame, idCol: String,
                                         vecCol: String, m: Int,
                                         ds: Int): DataFrame =
    subVectors(corpus, idCol, vecCol, m, ds)
      .withColumn("sn2", dot(col("sv"), col("sv")))
      .localCheckpoint(true)

  /** Hash-seeded initial codebook off a [[trainSubvectors]] fixture:
    * each subspace's first `ks` rows by xxhash64(id). Rankings at a
    * smaller ks are a PREFIX of a larger one (same window, same total
    * ranking over the same checkpointed blocks), so one collect at the
    * largest Ks serves every smaller cell via `filter(code <= ks)` of
    * the returned map.
    */
  private[operators] def seedCodebook(sv: DataFrame,
      ks: Int): Map[(Int, Int), IndexedSeq[Double]] = {
    val wSeed = Window.partitionBy(col("m")).orderBy(xxhash64(col("id")))
    sv.withColumn("code", row_number().over(wSeed))
      .filter(col("code") <= ks)
      .select(col("m"), col("code"), col("sv")).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toIndexedSeq))
      .toMap
  }

  /** The Lloyd loop of [[train]] over a prebuilt [[trainSubvectors]]
    * fixture and an explicit initial codebook (a warm start, or a
    * [[seedCodebook]] slice). Job-for-job and float-for-float identical
    * to the inline form train always ran — the member-sum formulation
    * and the fixture layout are the order-sensitive double folds the
    * no_oracle outputs embed, and they stay frozen.
    */
  private[operators] def trainOn(sv: DataFrame, iters: Int,
      init: Map[(Int, Int), IndexedSeq[Double]]): PqCodebook = {
    val sp = sv.sparkSession
    var cb: Map[(Int, Int), IndexedSeq[Double]] = init

    def toDf(c: Map[(Int, Int), IndexedSeq[Double]]): DataFrame = {
      import sp.implicits._
      c.toSeq.sortBy(_._1)
        .map { case ((mm, code), v) => (mm, code, v, v.map(x => x * x).sum) }
        .toDF("m", "code", "cvec", "cn2")
    }

    val errs = Seq.newBuilder[Double]
    var round = 0
    while (round <= iters) {
      val scored = sv.join(broadcast(toDf(cb)), Seq("m"))
        .select(col("id"), col("m"), col("sv"), col("code"),
          sqDist(col("sn2"), col("cn2"), dot(col("sv"), col("cvec")))
            .as("d2"))
      // nearest centroid per (id, m) as a min(struct) aggregate —
      // partial-combines map-side; first(sv) is safe (sv is functionally
      // determined by the group key)
      val stats = scored.groupBy(col("id"), col("m"))
        .agg(min(struct(col("d2"), col("code"))).as("b"),
          first(col("sv")).as("sv"))
        .select(col("m"), col("b.code").as("code"), col("b.d2").as("d2"),
          posexplode(col("sv")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"),
          sum(when(col("pos") === 0, col("d2"))).as("e"))
        .collect()
      errs += stats.iterator.filter(_.getInt(2) == 0)
        .map(r => if (r.isNullAt(5)) 0.0 else r.getDouble(5)).sum
      if (round < iters) {
        val means = stats.groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (k, rows) =>
            k -> rows.sortBy(_.getInt(2))
              .map(r => r.getDouble(3) / r.getLong(4)).toIndexedSeq
          }
        // cells that lost every member keep their previous centroid
        cb = cb.map { case (k, v) => k -> means.getOrElse(k, v) }
      }
      round += 1
    }
    PqCodebook(toDf(cb), errs.result(), cb)
  }

  /** Encode a corpus against a trained codebook: (id, m, code) — the
    * compact persistable index, M small ints per vector.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             codebook: PqCodebook, m: Int, ds: Int): DataFrame = {
    GraftExtensions.register(corpus.sparkSession)
    // per-row codegen argmin against the (driver-state) codebook: the
    // old form materialized |sv|·Ks join rows through an exchange and
    // a min(struct) aggregate just to pick each row's nearest code.
    // Codes are bit-identical — d2 uses the same left-to-right dot and
    // the same (d2, code) lexicographic minimum, and no cross-row
    // float accumulation is involved (unlike train's member sums,
    // which keep the join formulation for exactly that reason).
    // The driver-state map may be absent on RESTORED codebooks (the
    // streaming rotation reads committed centroid parquet back with an
    // empty asMap) — collect the centroid relation then: it is M·Ks
    // rows, parameter-server sized by the module contract. An empty
    // codebook (a leg trained on an empty batch) encodes nothing — the
    // old inner join against an empty centroid relation produced zero
    // rows, preserved here explicitly. A codebook trained on fewer
    // than Ks vectors covers a contiguous 1..C prefix per subspace,
    // which the argmin handles natively.
    val cbMap: Map[(Int, Int), IndexedSeq[Double]] =
      if (codebook.asMap.nonEmpty) codebook.asMap
      else codebook.centroids.select(col("m"), col("code"), col("cvec"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          r.getSeq[Double](2).toIndexedSeq)).toMap
    val sv = subVectors(corpus, idCol, vecCol, m, ds)
    if (cbMap.isEmpty)
      sv.select(col("id"), col("m"), lit(0).as("code")).where(lit(false))
    else {
      require(cbMap.keySet.map(_._1) == (1 to m).toSet,
        s"codebook subspaces ${cbMap.keySet.map(_._1)} do not cover 1..$m")
      sv.select(col("id"), col("m"),
        GraftExtensions.pqNearestCode(col("m").cast("int"), col("sv"),
          cbMap).as("code"))
    }
  }

  /** ADC top-k: per query, squared-L2 distance to every encoded vector
    * as the subspace-table sum, smallest k. The distance table
    * (qid, m, code, d) has Q·M·Ks rows and broadcasts; the fold over a
    * candidate's M entries runs in sorted subspace order so the double
    * sum has no partition-order seam.
    */
  def adcTopK(queries: DataFrame, codes: DataFrame, codebook: PqCodebook,
              idCol: String, vecCol: String, m: Int, ds: Int,
              k: Int): DataFrame = {
    GraftExtensions.register(queries.sparkSession)
    val qsv = subVectors(queries, idCol, vecCol, m, ds)
      .withColumn("sn2", dot(col("sv"), col("sv")))
    val table = qsv.join(broadcast(codebook.centroids), Seq("m"))
      .select(col("id").as("qid"), col("m"), col("code"),
        sqDist(col("sn2"), col("cn2"), dot(col("sv"), col("cvec"))).as("d"))
    // the sorted-subspace double fold is the FROZEN distance shape; the
    // codegen'd graft_adc_sum runs the identical sort + left-to-right
    // fold (bit-identical) without the interpreted HOF chain per group
    val summed = codes.join(broadcast(table), Seq("m", "code"))
      .groupBy(col("qid"), col("id").as("nid"))
      .agg(GraftExtensions.adcSum(
        collect_list(struct(col("m"), col("d")))).as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    summed.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), round(col("adc"), 6).as("adc"))
  }

  // ---- incremental code maintenance (the x70 append contract, for PQ) --

  /** Encode a NEW batch against a STORED codebook and append to the
    * stored codes relation — no retrain, no touch of existing rows.
    * Encoding reads only the batch (one broadcast-join pass against the
    * M·Ks-row codebook) and the union is lazy, so per-batch cost is
    * independent of stored-code count — the x34/x70 incremental
    * contract, applied to the PQ index. The appended codes are
    * byte-identical to what a full re-encode would assign (encoding is
    * deterministic given the codebook), so search quality over the
    * merged relation is exactly the full-build's.
    */
  def appendCodes(storedCodes: DataFrame, batch: DataFrame, idCol: String,
                  vecCol: String, codebook: PqCodebook, m: Int,
                  ds: Int): DataFrame =
    storedCodes.unionByName(encode(batch, idCol, vecCol, codebook, m, ds))

  /** Summed + per-vector mean squared quantization (reconstruction)
    * error of a batch under a codebook — the DRIFT statistic for stored
    * codebooks: a batch whose distribution has moved away from the
    * training corpus reconstructs worse, and nothing else in the
    * append path would notice (codes always assign SOMEWHERE). One
    * broadcast-join pass over the batch, map-side-combinable min/sum —
    * cost independent of stored index size. Returns (sum, nVectors).
    */
  def batchQuantizationError(batch: DataFrame, idCol: String, vecCol: String,
                             codebook: PqCodebook, m: Int,
                             ds: Int): (Double, Long) = {
    GraftExtensions.register(batch.sparkSession)
    val sv = subVectors(batch, idCol, vecCol, m, ds)
      .withColumn("sn2", dot(col("sv"), col("sv")))
    val best = sv.join(broadcast(codebook.centroids), Seq("m"))
      .select(col("id"), col("m"),
        sqDist(col("sn2"), col("cn2"), dot(col("sv"), col("cvec"))).as("d2"))
      .groupBy(col("id"), col("m")).agg(min(col("d2")).as("d2"))
    val r = best.agg(coalesce(sum(col("d2")), lit(0.0)).as("e"),
      (count(lit(1)) / m).cast("long").as("n")).head()
    (r.getDouble(0), r.getLong(1))
  }

  /** Drift violations for the x96d gate: the batch's per-vector error
    * vs the codebook's training-time per-vector error, within a
    * declared factor. Empty = healthy; a row = the stored codebook is
    * stale for this batch and needs retraining.
    */
  private[graft] def driftViolations(trainSum: Double, trainN: Long,
                                         batchSum: Double, batchN: Long,
                                         factor: Double): Seq[(String, String)] = {
    val trainPer = if (trainN == 0) 0.0 else trainSum / trainN
    val batchPer = if (batchN == 0) 0.0 else batchSum / batchN
    if (trainN == 0) Seq(("empty_train", "codebook trained on zero vectors"))
    else if (batchN > 0 && batchPer > factor * trainPer)
      Seq(("drift", f"batch err/vec $batchPer%.6f > $factor%.1f x " +
        f"train err/vec $trainPer%.6f"))
    else Nil
  }

  private val M = 8
  private val Ks = 16
  private val Iters = 2
  private val K = 10
  private val DriftFactor = 2.0

  /** Trained codebook + codes over a corpus, shared by the three
    * declared queries within a (session, dir) via the extension memo.
    */
  private val shared =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (PqCodebook, DataFrame, Int)]()

  private def index(s: SparkSession, d: String,
                    corpus: DataFrame): (PqCodebook, DataFrame, Int) = {
    val key = (s, d)
    Option(shared.get(key)).getOrElse {
      MemoEviction.register(s, "pq") { () =>
        shared.keySet.removeIf(_._1 eq s)
      }
      val dim = corpus.select(size(col("embedding"))).head().getInt(0)
      val cb = train(corpus, "id", "embedding", M, Ks, Iters)
      val codes = encode(corpus, "id", "embedding", cb, M, dim / M)
        .localCheckpoint(true)
      val v = (cb, codes, dim)
      Option(shared.putIfAbsent(key, v)) match {
        // lost the (theoretical) race: the winner's frames are the
        // shared ones — release this thread's just-built checkpoint
        case Some(w) => graft.CheckpointBlocks.release(codes); w
        case None => v
      }
    }
  }

  /** x96 incremental-maintenance state: codebook trained on the STORED
    * (even-id) half only, its codes, the odd-id batch appended via
    * [[appendCodes]], and the train/batch error sums for the drift
    * gate. One training + one append shared by the four x96 queries.
    */
  private final case class IncState(cb: PqCodebook, merged: DataFrame,
                                    dim: Int, trainSum: Double, trainN: Long,
                                    batchSum: Double, batchN: Long)

  private val incShared =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), IncState]()

  private def incIndex(s: SparkSession, d: String,
                       corpus: DataFrame): IncState = {
    val key = (s, d)
    Option(incShared.get(key)).getOrElse {
      MemoEviction.register(s, "pq-inc") { () =>
        incShared.keySet.removeIf(_._1 eq s)
      }
      val dim = corpus.select(size(col("embedding"))).head().getInt(0)
      val stored = corpus.filter(col("id") % 2 === 0)
      val batch = corpus.filter(col("id") % 2 === 1)
      val cb = train(stored, "id", "embedding", M, Ks, Iters)
      val trainN = stored.count()
      val storedCodes = encode(stored, "id", "embedding", cb, M, dim / M)
      val merged = appendCodes(storedCodes, batch, "id", "embedding",
        cb, M, dim / M).localCheckpoint(true)
      val (bSum, bN) = batchQuantizationError(batch, "id", "embedding",
        cb, M, dim / M)
      val v = IncState(cb, merged, dim, cb.errors.last, trainN, bSum, bN)
      Option(incShared.putIfAbsent(key, v)) match {
        case Some(w) => graft.CheckpointBlocks.release(merged); w
        case None => v
      }
    }
  }

  private val corpusMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The x05/x64 dup-synthesized corpus: exact copies of the first 20
    * vectors under offset ids, so every query (vec_id < 10) has an
    * exact duplicate at id + 10000. Checkpointed per (session, dir):
    * the PQ and IVF-PQ pipelines each consume it several times (dim
    * probe, trainings, encodes, query filter), and every consumer
    * otherwise re-reads the parquet and re-shuffles the union.
    */
  private[graft] def corpusWithDups(s: SparkSession, d: String): DataFrame = {
    val key = (s, d)
    Option(corpusMemo.get(key)).getOrElse {
      MemoEviction.register(s, "pq-corpus") { () =>
        corpusMemo.keySet.removeIf(_._1 eq s)
      }
      val v = Tables(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val built = v.unionByName(v.filter(col("id") < 20)
          .select((col("id") + 10000).as("id"), col("embedding")))
        .repartition(s.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      Option(corpusMemo.putIfAbsent(key, built)) match {
        case Some(w) => graft.CheckpointBlocks.release(built); w
        case None => built
      }
    }
  }

  /** The queries perturbed by a tiny deterministic per-component delta
    * (±1e-5, cycling by position) — a NEAR-duplicate of each query at a
    * known distance far inside any quantization cell. Shared by the
    * x80r2/x82r2 gates.
    */
  private[operators] def perturbedQueries(corpus: DataFrame): DataFrame =
    corpus.filter(col("id") < 10)
      .select(col("id"), transform(col("embedding").cast("array<double>"),
        (x, i) => x + lit(1e-5) * ((i % lit(3)) - lit(1))).as("embedding"))

  /** Lloyd-trace monotonicity violations, ONE definition shared by the
    * x80g and x82g gates (a tolerance change applied to one must reach
    * the other). Relative tolerance — float sums jitter with partition
    * order.
    */
  private[operators] def lloydViolations(errs: Seq[Double]): Seq[(Int, String)] =
    errs.sliding(2).zipWithIndex.collect {
      case (Seq(a, b), i) if b > a + 1e-9 * math.max(1.0, a.abs) =>
        (i + 1, s"error rose $a -> $b")
    }.toSeq

  /** The pairs a near-duplicate query MUST retrieve: its source vector
    * and the source's exact copy — both at perturbation distance ε.
    */
  private[operators] def nearDupExpected(corpus: DataFrame): DataFrame = {
    val q = corpus.filter(col("id") < 10).select(col("id").as("qid"))
    q.select(col("qid"), col("qid").as("nid"))
      .unionByName(q.select(col("qid"), (col("qid") + 10000).as("nid")))
  }

  // --- PQ (M, Ks) operating curve (x121) ----------------------------------

  private val CurveMs = Seq(2, 4, 8)
  private val CurveKss = Seq(16, 256)
  private val CurveShortlist = 100

  private val curveMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(Int, Int, Int, Double, Double)]]()

  /** The (M, Ks) distortion/size/recall table — the last hand-picked
    * constant in the ANN family gets its operating curve (the
    * x111/x115/x116/x117 convention): for every M in {2,4,8} and Ks in
    * {16,256}, the trained codebook's per-vector squared reconstruction
    * error, the code size in bits (M·log2 Ks — what the serving index
    * stores per vector), and recall@k of the full two-stage pipeline
    * (ADC shortlist → exact re-rank, the x95 path) against the exact
    * relation. One training per cell, memoized per (session, dir); the
    * exact reference computes once and every cell reuses it. A
    * deployment reads this table to pick (M, Ks) for a recall target at
    * a byte budget instead of folklore.
    */
  private def mksCurve(s: SparkSession, d: String): Seq[(Int, Int, Int, Double, Double)] = {
    val key = (s, d)
    Option(curveMemo.get(key)).getOrElse {
      MemoEviction.register(s, "pqcurve") { () =>
        curveMemo.keySet.removeIf(_._1 eq s)
      }
      val corpus = corpusWithDups(s, d)
      val dim = corpus.select(size(col("embedding"))).head().getInt(0)
      val n = corpus.count()
      val queries = corpus.filter(col("id") < 10)
      // exact reference: rerank over the FULL (Q x N) shortlist — Q is
      // 10 by construction, so the relation is bounded at any sf
      val allPairs = queries.select(col("id").as("qid"))
        .crossJoin(corpus.select(col("id").as("nid")))
      val exact = graft.operators.IvfPq.rerank(allPairs, queries, corpus,
        "id", "embedding", K).select(col("qid"), col("nid"))
        .localCheckpoint(true)
      val truthN = exact.count()
      // the 6 cells are INDEPENDENT trainings (separate lineages over
      // the same checkpointed fixture): run them on concurrent driver
      // threads so their per-iteration jobs interleave on the executor
      // pool instead of serializing driver round-trips. One thread per
      // cell (measured: pool 3 -> 6 cut the curve 11.7 -> 7.6 s — the
      // cells are driver-latency bound, and their tiny stages never
      // saturate the executor pool). Results assemble by cell index;
      // per-cell determinism is layout-based (partition counts, plan
      // shapes), not timing-based, so concurrency cannot move it.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      GraftExtensions.register(s)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // ONE subvector fixture + ONE seed collect per M, shared by that
      // M's Ks cells (both cells used to build their own): the fixtures
      // are plan-identical, so the shared blocks — and the frozen
      // member-sum fold order over them — are exactly what each cell's
      // private copy held, and a smaller Ks's hash seeding is a prefix
      // of the largest one's ranking (seedCodebook's contract)
      val prep = Await.result(Future.sequence(CurveMs.map { m =>
        Future {
          val sv = trainSubvectors(corpus, "id", "embedding", m, dim / m)
          m -> (sv, seedCodebook(sv, CurveKss.max))
        }
      }), Duration.Inf).toMap
      val cells = for (m <- CurveMs; ks <- CurveKss) yield (m, ks)
      val rows =
        try Await.result(Future.sequence(cells.map { case (m, ks) =>
          Future {
            val (sv, seedMax) = prep(m)
            val cb = trainOn(sv, Iters,
              seedMax.filter { case ((_, c), _) => c <= ks })
            val codes = encode(corpus, "id", "embedding", cb, m, dim / m)
            val short = adcTopK(queries, codes, cb, "id", "embedding",
              m, dim / m, CurveShortlist)
            val rr = graft.operators.IvfPq.rerank(
              short.select(col("qid"), col("nid")), queries, corpus,
              "id", "embedding", K)
            val hit = exact.join(rr.select(col("qid"), col("nid")),
              Seq("qid", "nid"), "left_semi").count()
            val bits = m * (31 - Integer.numberOfLeadingZeros(ks))
            (m, ks, bits,
              BigDecimal(cb.errors.last / n)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
              BigDecimal(hit.toDouble / math.max(truthN, 1L))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
        }), Duration.Inf)
        finally {
          prep.values.foreach { case (sv, _) =>
            graft.CheckpointBlocks.release(sv) }
          pool.shutdown()
        }
      graft.CheckpointBlocks.release(exact)
      Option(curveMemo.putIfAbsent(key, rows)).getOrElse(rows)
    }
  }

  /** The x121g body over an explicit curve — the spec hook proving the
    * clauses fire on a tampered table.
    */
  private[graft] def mksGateRows(s: SparkSession,
      curve: Seq[(Int, Int, Int, Double, Double)]): DataFrame = {
    import s.implicits._
    val viol = Seq.newBuilder[(String, String)]
    val byCell = curve.map { case (m, ks, _, e, r) => ((m, ks), (e, r)) }.toMap
    // distortion monotone non-increasing in M at fixed Ks …
    for (ks <- CurveKss; Seq(m1, m2) <- CurveMs.sliding(2))
      if (byCell((m2, ks))._1 > byCell((m1, ks))._1)
        viol += ((s"err_m_${m1}to${m2}_ks$ks",
          s"err rose ${byCell((m1, ks))._1} -> ${byCell((m2, ks))._1}"))
    // … and in Ks at fixed M (more centroids can only reconstruct better)
    for (m <- CurveMs; Seq(k1, k2) <- CurveKss.sliding(2))
      if (byCell((m, k2))._1 > byCell((m, k1))._1)
        viol += ((s"err_ks_${k1}to${k2}_m$m",
          s"err rose ${byCell((m, k1))._1} -> ${byCell((m, k2))._1}"))
    // the table's richest cell must actually serve: two-stage recall
    // floor at (max M, max Ks)
    val best = byCell((CurveMs.max, CurveKss.max))._2
    if (best < 0.9)
      viol += (("recall_best", s"recall at richest cell $best < 0.9"))
    curve.foreach { case (m, ks, bits, _, r) =>
      if (r < 0.0 || r > 1.0)
        viol += ((s"recall_range_${m}_$ks", s"recall $r outside [0,1]"))
      if (bits != m * (31 - Integer.numberOfLeadingZeros(ks)))
        viol += ((s"bits_${m}_$ks", s"code bits $bits wrong"))
    }
    viol.result().toDF("clause", "violation").orderBy(col("clause"))
  }

  val queries: Map[String, Q] = Map(
    // the (M, Ks) operating curve (rows-only: six trainings are driver
    // loops); the x121g gate below carries the contract
    "x121_pq_mks_curve" -> ((s, d) => {
      import s.implicits._
      mksCurve(s, d)
        .toDF("m", "ks", "code_bits", "err_per_vec", "recall_at_k")
        .orderBy(col("m"), col("ks"))
    }),

    // Gate (empty-set oracle): reconstruction error non-increasing in
    // M at fixed Ks and in Ks at fixed M (more subspaces / more
    // centroids can only reconstruct better), recall values sane, code
    // bits exact, and the richest cell's two-stage recall above 0.9.
    "x121g_pq_mks_gate" -> ((s, d) => mksGateRows(s, mksCurve(s, d))),

    // PQ ADC top-k (rows-only: k-means training is a driver loop) —
    // verified by the x80g/x80r gates below.
    "x80_ann_pq_topk" -> ((s, d) => {
      val corpus = corpusWithDups(s, d)
      val (cb, codes, dim) = index(s, d, corpus)
      adcTopK(corpus.filter(col("id") < 10), codes, cb,
        "id", "embedding", M, dim / M, K)
        .orderBy(col("qid"), col("rank"))
    }),

    // Gate (empty-set oracle): summed squared quantization error must be
    // non-increasing across Lloyd rounds (assign can only improve each
    // vector's cell; the mean minimizes within-cell squared error).
    "x80g_pq_train_gate" -> ((s, d) => {
      import s.implicits._
      val (cb, _, _) = index(s, d, corpusWithDups(s, d))
      lloydViolations(cb.errors).toDF("round", "violation")
        .orderBy(col("round"))
    }),

    // Gate (empty-set oracle): every query's exact duplicate carries
    // identical codes, hence the minimum possible ADC distance — it must
    // appear in the query's top-k. An anti-join of the expected
    // (qid, qid + 10000) pairs against the emitted top-k.
    "x80r_pq_dup_recall" -> ((s, d) => {
      val corpus = corpusWithDups(s, d)
      val (cb, codes, dim) = index(s, d, corpus)
      val top = adcTopK(corpus.filter(col("id") < 10), codes, cb,
        "id", "embedding", M, dim / M, K)
      corpus.filter(col("id") < 10)
        .select(col("id").as("qid"), (col("id") + 10000).as("nid"))
        .join(top.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
        .orderBy(col("qid"))
    }),

    // Gate (empty-set oracle): NEAR-duplicate recall — each query
    // perturbed by ±1e-5 per component must still retrieve its source
    // vector AND the source's exact copy in its top-k. x80r only proves
    // identity retrieval (identical codes by construction); this gate
    // catches quality regressions where quantization cells shrink or
    // drift enough that an ε-near vector stops code-sharing with its
    // source — the failure mode of a broken codebook update.
    "x80r2_pq_near_dup_recall" -> ((s, d) => {
      val corpus = corpusWithDups(s, d)
      val (cb, codes, dim) = index(s, d, corpus)
      val top = adcTopK(perturbedQueries(corpus), codes, cb,
        "id", "embedding", M, dim / M, K)
      nearDupExpected(corpus)
        .join(top.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
        .orderBy(col("qid"), col("nid"))
    }),

    // --- x96: incremental PQ code maintenance --------------------------
    // The x70 append contract for the PQ index: the odd-id half arrives
    // as a NEW batch and is encoded against the codebook trained on the
    // even-id (stored) half — no retrain, existing codes untouched.
    // Rows-only (codes are k-means state); the three gates below carry
    // full empty-set oracles.
    "x96_pq_code_append" -> ((s, d) => {
      val st = incIndex(s, d, corpusWithDups(s, d))
      st.merged.orderBy(col("id"), col("m"))
    }),

    // Coverage gate (empty-set oracle): the merged relation holds every
    // corpus vector exactly once, each with exactly M subspace codes —
    // an append that lost, duplicated, or partially encoded rows emits
    // a violation row.
    "x96g_pq_append_coverage" -> ((s, d) => {
      val corpus = corpusWithDups(s, d)
      val st = incIndex(s, d, corpus)
      val counts = st.merged.groupBy(col("id")).agg(count(lit(1)).as("n"))
      val wrong = counts.filter(col("n") =!= M)
        .select(col("id"), concat(lit("has "), col("n"),
          lit(s" code rows, want $M")).as("violation"))
      val missing = corpus.select(col("id"))
        .join(counts.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit("missing from merged codes").as("violation"))
      wrong.unionByName(missing).orderBy(col("id"))
    }),

    // Drift gate (empty-set oracle): the batch's per-vector squared
    // reconstruction error under the STORED codebook must stay within
    // DriftFactor of the codebook's own training-time error — the
    // health check that catches a stale codebook, which the append path
    // alone never would (every vector assigns SOMEWHERE).
    "x96d_pq_code_drift_gate" -> ((s, d) => {
      import s.implicits._
      val st = incIndex(s, d, corpusWithDups(s, d))
      driftViolations(st.trainSum, st.trainN, st.batchSum, st.batchN,
        DriftFactor).toDF("chk", "violation").orderBy(col("chk"))
    }),

    // Recall gate (empty-set oracle): searching the MERGED relation,
    // every query (id < 10) must retrieve its exact duplicate
    // (id + 10000). Odd queries and their copies live entirely in the
    // APPENDED half — their recall proves appended codes are exactly as
    // searchable as built ones (identical codes => minimum ADC).
    "x96r_pq_append_recall" -> ((s, d) => {
      val corpus = corpusWithDups(s, d)
      val st = incIndex(s, d, corpus)
      val top = adcTopK(corpus.filter(col("id") < 10), st.merged, st.cb,
        "id", "embedding", M, st.dim / M, K)
      corpus.filter(col("id") < 10)
        .select(col("id").as("qid"), (col("id") + 10000).as("nid"))
        .join(top.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
        .orderBy(col("qid"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "x121g_pq_mks_gate" ->
      "SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0",
    "x80g_pq_train_gate" ->
      "SELECT CAST(NULL AS INT) AS round, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0",
    "x80r_pq_dup_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid WHERE 1 = 0",
    "x80r2_pq_near_dup_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid WHERE 1 = 0",
    "x96g_pq_append_coverage" ->
      "SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0",
    "x96d_pq_code_drift_gate" ->
      "SELECT CAST(NULL AS VARCHAR) AS chk, CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0",
    "x96r_pq_append_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid WHERE 1 = 0"
  )
}
