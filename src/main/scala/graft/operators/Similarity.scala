package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions

/** Similarity search over embedding columns (array<float>).
  *
  * All scoring goes through the native codegen'd [[graft.functions.VecDot]]
  * expression (a tight primitive loop inside whole-stage codegen — the
  * HOF zip_with/aggregate formulation measured ~50x slower at pairwise
  * scale). Norms are computed once per vector (O(N)) and reused across
  * all O(N^2)/bucketed comparisons.
  *
  * Brute-force cosine top-k is the correctness baseline; the LSH
  * (random-hyperplane) bucketed variant is the 100 TB scale path — each
  * vector lands in one bucket, and only bucket collisions are scored,
  * turning the O(N*Q) cross join into a per-bucket join.
  */
object Similarity {

  private def dot(a: Column, b: Column): Column = GraftExtensions.vecDot(a, b)

  /** (id, vec, nrm) projection with the L2 norm precomputed once.
    * Zero-norm vectors (padding rows, failed embeddings) are EXCLUDED:
    * cosine against them is 0/0 = NaN, and Spark orders NaN above every
    * real number — one zero vector would out-rank the true #1 neighbor
    * in every top-k and pass every >= threshold filter. A directionless
    * vector has no legitimate cosine neighbors, so dropping it is the
    * well-defined semantic.
    */
  private def withNorm(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    GraftExtensions.register(vecs.sparkSession)
    vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", sqrt(dot(col("vec"), col("vec"))))
      // NaN components (failed embeddings) make the norm NaN, and Spark
      // orders NaN ABOVE every number — `> 0` alone would let a NaN
      // cosine out-rank every true neighbor. Exclude both degenerate
      // shapes here, once, for every caller.
      .filter(col("nrm") > 0 && !isnan(col("nrm")))
  }

  /** Pairwise cosine >= threshold between all vectors (a < b). Exact but
    * cross-join based — ONLY for bounded candidate sets (e.g. verifying
    * candidates another blocker produced). The corpus-scale entry point
    * is [[cosinePairsBucketed]].
    */
  def cosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val v = withNorm(vecs, idCol, vecCol)
    v.as("x").join(v.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        round(dot(col("x.vec"), col("y.vec")) / (col("x.nrm") * col("y.nrm")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Near-dup cosine pairs at corpus scale: candidates come from
    * multi-table random-hyperplane LSH bucket collisions (union of L
    * independent tables — AND over nbits within a table, OR across
    * tables), then only collided pairs are scored exactly. Never a
    * cross join: each table's join is per-bucket. Recall for a pair at
    * cosine s is 1-(1-p^nbits)^tables with p = 1-acos(s)/π; identical
    * vectors always collide (every table), so exact-duplicate detection
    * is lossless at any setting.
    */
  def cosinePairsBucketed(vecs: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, nbits: Int = 8,
                          tables: Int = 8): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    val v = withNorm(vecs, idCol, vecCol)
    // one dim probe + one sign collect, shared by bucketing (the
    // per-input duplicate driver round-trips were pure waste); buckets
    // derive from the already-filtered normed frame
    // eager localCheckpoint of the BUCKET relation only (3 longs/row):
    // it feeds both sides of the self-join below, and recomputing it
    // means re-running tables*nbits VecDots per vector per side.
    // The vector relation v is deliberately NOT checkpointed — at
    // corpus scale pinning every embedding in executor storage is the
    // failure mode; its re-scans are parallel parquet reads.
    val b = (dimOf(v) match {
      case None => v.select(col("id"), lit(0).as("table"), lit(0L).as("bucket")).limit(0)
      case Some(dim) =>
        val signs = hyperplaneSigns(vecs.sparkSession, dim, 0 until tables * nbits)
        bucketsFromSigns(v, signs, nbits, tables)
          .select(col("id"), col("table"), col("bucket"))
    }).localCheckpoint(true)
    val candidates = b.as("x").join(b.as("y"),
        col("x.table") === col("y.table") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    candidates
      .join(v.select(col("id").as("a"), col("vec").as("va"), col("nrm").as("na")), "a")
      .join(v.select(col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Multi-table LSH bucket relation (id, table, bucket) of a vector
    * frame — the PERSISTABLE candidate-generation half of a semantic
    * near-dup index. The hyperplanes are deterministic hash functions
    * of (seed, dimension index), so a batch arriving months later
    * buckets identically with no stored hyperplane state; only this
    * relation and the (id, vec, nrm) verification relation
    * ([[normedVecs]]) need to live in storage.
    */
  def lshBucketTable(vecs: DataFrame, idCol: String, vecCol: String,
                     nbits: Int, tables: Int): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    val v = withNorm(vecs, idCol, vecCol)
    dimOf(v) match {
      case None => v.select(col("id"), lit(0).as("table"), lit(0L).as("bucket")).limit(0)
      case Some(dim) =>
        val signs = hyperplaneSigns(vecs.sparkSession, dim, 0 until tables * nbits)
        bucketsFromSigns(v, signs, nbits, tables)
          .select(col("id"), col("table"), col("bucket"))
    }
  }

  /** The verification half of the stored semantic index: (id, vec, nrm),
    * norms precomputed so batch-time verification never rescans to
    * re-derive them.
    */
  def normedVecs(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    withNorm(vecs, idCol, vecCol)

  /** Incremental cosine near-dup pairs: a NEW vector batch against a
    * STORED index (bucket relation + normed-vector relation), plus
    * in-batch pairs — never old-vs-old, so per-batch cost is the batch's
    * bucket computation + one bucket-keyed join against the index (the
    * x34 growing-corpus contract applied to embeddings). Output
    * (a, b, sim): `b` is always a batch id; `a` is an index id
    * (new-vs-index) or a smaller batch id (in-batch).
    */
  def incrementalCosinePairsFromIndex(
      indexBuckets: DataFrame, indexVecs: DataFrame, newVecs: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nbits: Int, tables: Int): DataFrame = {
    val nv = withNorm(newVecs, idCol, vecCol)
    val nb = lshBucketTable(newVecs, idCol, vecCol, nbits, tables)
      .localCheckpoint(true)
    val vsIndex = nb.as("y")
      .join(indexBuckets.as("x"),
        col("x.table") === col("y.table") && col("x.bucket") === col("y.bucket") &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    val inBatch = nb.as("x").join(nb.as("y"),
        col("x.table") === col("y.table") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    val candidates = vsIndex.unionByName(inBatch).distinct()
    // verify: the a side may live in the index OR the batch; serve both
    // from one union so each candidate scores exactly once
    val allVecs = indexVecs.select(col("id"), col("vec"), col("nrm"))
      .unionByName(nv.select(col("id"), col("vec"), col("nrm")))
      // an id present in both (a replayed batch) must not double-score
      .groupBy(col("id")).agg(first(col("vec")).as("vec"), first(col("nrm")).as("nrm"))
    candidates
      .join(allVecs.select(col("id").as("a"), col("vec").as("va"), col("nrm").as("na")), "a")
      .join(nv.select(col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Brute-force cosine top-k neighbors for each query vector.
    * Deterministic: ties broken by neighbor id after rounding.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = withNorm(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val c = withNorm(corpus, idCol, vecCol)
      .select(col("id").as("nid"), col("vec").as("nvec"), col("nrm").as("nnrm"))
    val scored = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qnrm") * col("nnrm")), 6).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** ±1 hyperplane components for each seed, PRECOMPUTED once on the
    * driver by evaluating the defining expression — h[seed][d] = +1 iff
    * xxhash64(seed, d) is even — in one tiny job over `dim` rows. The
    * signs are then baked into literal arrays, so per-vector bucketing
    * is `tables*nbits` codegen'd VecDot calls instead of
    * `tables*nbits*dim` per-element xxhash64 evaluations (the round-2
    * constant-factor sink). Buckets are bit-identical to the inline
    * formulation: same hash values, same ±1, same left-to-right double
    * accumulation order in VecDot as the aggregate() HOF had.
    */
  private def hyperplaneSigns(spark: org.apache.spark.sql.SparkSession,
                              dim: Int, seeds: Seq[Int]): Map[Int, Seq[Double]] = {
    // d must stay IntegerType: the old inline form hashed the elements of
    // sequence(0, size-1) (int), and xxhash64 of int vs long differ.
    val rows = spark.range(dim)
      .select(col("id").cast("int").as("d"),
        array(seeds.map(sd =>
          when(xxhash64(lit(sd), col("id").cast("int")) % 2 === 0, 1.0)
            .otherwise(-1.0)): _*).as("signs"))
      .collect()
      .sortBy(_.getInt(0))
    seeds.zipWithIndex.map { case (sd, i) =>
      sd -> rows.map(_.getSeq[Double](1)(i)).toIndexedSeq
    }.toMap
  }

  /** Dimension of the embedding column (first row; assumes the uniform
    * dimension any real embedding column has). None when empty.
    */
  private def dimOf(v: DataFrame): Option[Int] =
    v.select(size(col("vec"))).take(1).headOption.map(_.getInt(0))

  /** Random-hyperplane LSH bucket id (nbits-bit signature) per vector.
    * Hyperplane h[p][d] is a deterministic pseudo-random +-1 derived from
    * xxhash64(seed, d) — no RNG state, fully reproducible across
    * runs/nodes. `table` offsets the seeds so L independent tables can
    * be derived from the same formula (table 0 = the original set).
    */
  def lshBuckets(vecs: DataFrame, idCol: String, vecCol: String,
                 nbits: Int, table: Int = 0): DataFrame = {
    GraftExtensions.register(vecs.sparkSession)
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    dimOf(v) match {
      case None => v.withColumn("bucket", lit(0L)).limit(0)
      case Some(dim) =>
        val seeds = (0 until nbits).map(p => table * nbits + p)
        val signs = hyperplaneSigns(vecs.sparkSession, dim, seeds)
        val bucketBits = (0 until nbits).map { p =>
          val dotp = dot(col("vec"), typedlit(signs(table * nbits + p)))
          when(dotp > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
        }
        // foldLeft, not reduce: nbits=0 (single bucket = exhaustive
        // search) is a valid configuration and must not throw
        v.withColumn("bucket", bucketBits.foldLeft(lit(0L))((a, b) => a.bitwiseOR(b)))
    }
  }

  /** Per-table bucket signatures over a (id, vec, ...) frame with the
    * sign maps already in hand — the single implementation every
    * multi-table caller shares, so the dim probe and the driver-side
    * sign collect run ONCE per operator, not once per input.
    */
  private def bucketsFromSigns(v: DataFrame, signs: Map[Int, Seq[Double]],
                               nbits: Int, tables: Int): DataFrame = {
    def bucketFor(t: Int) = {
      val bits = (0 until nbits).map { p =>
        val dotp = dot(col("vec"), typedlit(signs(t * nbits + p)))
        when(dotp > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }
      bits.foldLeft(lit(0L))((a, b) => a.bitwiseOR(b))
    }
    // posexplode_outer + not-null (see Dedup.shingleTable): the inner
    // form would infer a size(...)>0 filter inlining all tables*nbits
    // VecDot bucket computations below any upstream exchange
    v.select(col("id"), col("vec"),
        posexplode_outer(array((0 until tables).map(bucketFor): _*)))
      .filter(col("pos").isNotNull)
      .select(col("id"), col("vec"), col("pos").as("table"), col("col").as("bucket"))
  }

  /** L independent LSH tables in one frame: (id, table, bucket) — one
    * row per (vector, table). OR-amplification across tables: a pair is
    * a candidate when it collides in ANY table. The per-table signatures
    * are computed in a single projection (no explode of the vector).
    */
  def lshBucketsMulti(vecs: DataFrame, idCol: String, vecCol: String,
                      nbits: Int, tables: Int): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    GraftExtensions.register(vecs.sparkSession)
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    dimOf(v) match {
      case None =>
        v.select(col("id"), col("vec"), lit(0).as("table"), lit(0L).as("bucket")).limit(0)
      case Some(dim) =>
        val signs = hyperplaneSigns(vecs.sparkSession, dim, 0 until tables * nbits)
        bucketsFromSigns(v, signs, nbits, tables)
    }
  }

  /** IVF (inverted-file) coarse quantization: nlist centroids are a
    * deterministic pseudo-random corpus sample (ordered by xxhash64(id)
    * — no RNG state; production would refine with k-means‖, which only
    * moves centroids, not the algorithm). Every vector is assigned to
    * its `take` highest-cosine centroids; the window is per-vector, the
    * centroid side broadcasts (nlist is small by construction).
    */
  private def ivfAssign(v: DataFrame, centroids: DataFrame, take: Int): DataFrame = {
    val scored = v.crossJoin(broadcast(centroids))
      .select(col("id"), col("vec"), col("nrm"), col("cell"),
        (dot(col("vec"), col("cvec")) / (col("nrm") * col("cnrm"))).as("csim"))
    val w = Window.partitionBy(col("id")).orderBy(col("csim").desc, col("cell"))
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") <= take)
      .select(col("id"), col("vec"), col("nrm"), col("cell"))
  }

  /** ANN top-k via IVF: score only the corpus cells nearest the query.
    * Candidates per query ≈ nprobe/nlist of the corpus — the classic
    * accuracy/cost dial (nprobe = nlist degenerates to exact brute force,
    * asserted in the spec; precision — every emitted score appears in
    * the exhaustive relation — is gated by the declared empty-set oracle
    * x16p). Complements [[lshTopK]]: IVF adapts to the data's cluster
    * structure where hyperplane LSH is data-oblivious.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int, nlist: Int,
              nprobe: Int): DataFrame =
    ivfSearch(ivfBuild(corpus, idCol, vecCol, nlist), queries,
      idCol, vecCol, k, nprobe)

  /** The two PERSISTABLE halves of an IVF index — both plain parquet
    * shapes: `centroids` (cell, cvec, cnrm — nlist rows) and
    * `assignments` (nid, nvec, nnrm, cell — one row per corpus vector,
    * cell-keyed for probe-side pruning). The build-once / search-many
    * deployment writes both and serves every later query batch from
    * storage ([[ivfSearch]]) — the ANN mirror of the dedup family's
    * stored band index.
    */
  /** `roots`: the build-owned checkpoint frames behind the exposed
    * relations (which may be projections — unreleasable through
    * CheckpointBlocks). Builders that checkpoint populate it so
    * [[releaseIndex]] can free the storage once the index's serving
    * life ends; indexes assembled from memo-owned or stored relations
    * leave it empty and releaseIndex is a no-op.
    */
  final case class IvfIndex(centroids: DataFrame, assignments: DataFrame,
                            roots: Seq[DataFrame] = Nil)

  /** Free the build-owned checkpoints behind a DEAD index (see the
    * CheckpointBlocks contract: any later action on it would fail).
    */
  def releaseIndex(i: IvfIndex): Unit =
    i.roots.foreach(graft.CheckpointBlocks.release)

  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int): IvfIndex = {
    require(nlist >= 1, "nlist must be >= 1")
    val c = withNorm(corpus, idCol, vecCol)
    // nlist rows: the global window is over a bounded tiny frame
    val wSeed = Window.orderBy(xxhash64(col("id")))
    val centroids = c.orderBy(xxhash64(col("id"))).limit(nlist)
      .withColumn("cell", row_number().over(wSeed))
      .select(col("cell"), col("vec").as("cvec"), col("nrm").as("cnrm"))
    val assign = ivfAssign(c, centroids, take = 1)
      .select(col("id").as("nid"), col("vec").as("nvec"),
        col("nrm").as("nnrm"), col("cell"))
    IvfIndex(centroids, assign)
  }

  /** A refined index plus the summed-cosine objective measured at each
    * assignment (length iters + 1: seed assignment through final).
    */
  final case class IvfRefined(index: IvfIndex, objectives: Seq[Double])

  /** [[ivfAssign]] take=1 with the winning cosine retained — the
    * objective's per-vector term.
    */
  private def ivfAssignScored(v: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = v.crossJoin(broadcast(centroids))
      .select(col("id"), col("vec"), col("nrm"), col("cell"),
        (dot(col("vec"), col("cvec")) / (col("nrm") * col("cnrm"))).as("csim"))
    val w = Window.partitionBy(col("id")).orderBy(col("csim").desc, col("cell"))
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") <= 1)
      .select(col("id"), col("vec"), col("nrm"), col("cell"), col("csim"))
  }

  /** Lloyd-refined IVF build — spherical k-means over the hash-seeded
    * centroids: `iters` rounds of assign → recompute, each new centroid
    * the mean of its members' UNIT vectors (assignment sees direction
    * only, and normalizing before the mean is what makes every round
    * non-decreasing in summed cosine — the spherical-k-means guarantee
    * the x56g gate checks). Scale shape per round: one broadcast
    * assign (centroids are nlist rows), one (cell, pos)
    * map-side-combinable average over dim×N exploded rows — the
    * standard distributed k-means shuffle — and a 1-row objective
    * collect. Cells that lose every member keep their previous
    * centroid, so nlist never shrinks. Centroids are array<double>
    * from the seed on (the mean is double anyway; vec_dot takes
    * float/double mixes natively).
    */
  def ivfBuildRefined(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, iters: Int): IvfRefined = {
    require(nlist >= 1, "nlist must be >= 1")
    val c = withNorm(corpus, idCol, vecCol).localCheckpoint(true)
    try lloydRefine(c, hashSeedCentroids(c, nlist), iters)
    finally graft.CheckpointBlocks.release(c)
  }

  /** The hash-ordered pseudo-random seed: nlist corpus vectors by
    * xxhash64(id) order — deterministic, one tiny bounded window.
    */
  private def hashSeedCentroids(c: DataFrame, nlist: Int): DataFrame = {
    val wSeed = Window.orderBy(xxhash64(col("id")))
    c.orderBy(xxhash64(col("id"))).limit(nlist)
      .withColumn("cell", row_number().over(wSeed))
      .select(col("cell"),
        transform(col("vec"), x => x.cast("double")).as("cvec"),
        col("nrm").as("cnrm"))
  }

  /** The shared Lloyd loop over an already-normed corpus `c` and a
    * (cell, cvec, cnrm) seed — both the hash seed ([[ivfBuildRefined]])
    * and the k-means‖ seed ([[ivfBuildKpp]]) refine through this one
    * implementation, so the monotonicity guarantee (and its x56g gate)
    * covers every seeding path. Superseded per-round checkpoints are
    * released as soon as their successor materializes (the PageRank
    * pattern): a long refinement must not pin iters× the centroid and
    * assignment relations in executor storage. The RETURNED frames
    * (final centroids + assignment) stay checkpointed — they are the
    * index the caller serves from.
    */
  private def lloydRefine(c: DataFrame, seed: DataFrame, iters: Int): IvfRefined = {
    require(iters >= 0, "iters must be >= 0")
    var centroids = seed.localCheckpoint(true)
    val objs = Seq.newBuilder[Double]
    var assign = ivfAssignScored(c, centroids).localCheckpoint(true)
    objs += assign.agg(sum(col("csim"))).head().getDouble(0)
    (1 to iters).foreach { _ =>
      val means = assign
        .select(col("cell"), posexplode(transform(col("vec"), x => x / col("nrm"))))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("ncvec"))
        .withColumn("ncnrm", sqrt(dot(col("ncvec"), col("ncvec"))))
        // a cell whose members cancel to ~zero has no direction: keep old
        .filter(col("ncnrm") > 0 && !isnan(col("ncnrm")))
      val nextCentroids = centroids.join(means, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("ncvec"), col("cvec")).as("cvec"),
          coalesce(col("ncnrm"), col("cnrm")).as("cnrm"))
        .localCheckpoint(true)
      graft.CheckpointBlocks.release(centroids)
      centroids = nextCentroids
      val nextAssign = ivfAssignScored(c, centroids).localCheckpoint(true)
      graft.CheckpointBlocks.release(assign)
      assign = nextAssign
      objs += assign.agg(sum(col("csim"))).head().getDouble(0)
    }
    IvfRefined(
      IvfIndex(centroids, assign.select(col("id").as("nid"),
        col("vec").as("nvec"), col("nrm").as("nnrm"), col("cell")),
        // the final loop checkpoints ESCAPE through the index (the
        // assignments relation is a projection over `assign`, so only
        // this handle can ever release them) — without it every
        // refined build leaked two corpus-sized blocks until a driver
        // GC happened to run
        roots = Seq(centroids, assign)),
      objs.result())
  }

  /** k-means‖ seed state: the reclustered seed centroids (cell, cvec,
    * cnrm — ready for [[lloydRefine]]), the number of NEW candidates
    * drawn in each oversampling round, and the clustering cost ψ
    * (summed spherical squared distance 2−2·cos to the nearest
    * candidate) measured after each round — non-increasing by
    * construction, gated in x98g.
    */
  final case class KppSeed(centroids: DataFrame, candidateCounts: Seq[Long],
                           costs: Seq[Double])

  /** Per-round candidate cap: the expected draw is `oversample` points
    * (the k-means‖ sampling masses sum to ℓ), so 16× that bound only
    * fires on a broken sampler — it exists to keep the driver-side
    * candidate state bounded by CONSTRUCTION, not just in expectation.
    * Public (`cap = KppRoundCap * oversample`) so the x98g gate and the
    * spec check the SAME bound the implementation enforces — a retune
    * here cannot leave a stale magic number guarding elsewhere.
    */
  val KppRoundCap = 16

  /** Round a double to 12 significant digits: ψ is a distributed float
    * sum whose low bits depend on partition order, and it feeds the
    * per-point sampling threshold — rounding makes the sampled set
    * reproducible across runs/partitionings (a threshold flip would
    * need a hash-uniform to land inside the discarded 1e-12 band).
    */
  private def roundSig(x: Double): Double = graft.functions.Num.roundSig(x)

  /** k-means‖ (scalable k-means++, Bahmani et al., VLDB 2012) seeding
    * for the IVF coarse quantizer — the production-scale replacement
    * for the hash-ordered pseudo-random seed: instead of hoping nlist
    * hash-picked rows spread across the data's clusters, each of
    * `rounds` passes samples points with probability ∝ their squared
    * distance to the current candidate set (oversampling ℓ =
    * `oversample` expected draws per round), then the O(ℓ·rounds)
    * candidates are weighted by their attraction counts and reclustered
    * on the driver to nlist seeds.
    *
    * Spherical form: all distances are 2−2·cos on unit vectors (squared
    * Euclidean on the sphere), matching the spherical Lloyd refinement
    * the seed feeds. Fully deterministic: the Bernoulli draws use
    * xxhash64(id, round) uniforms, ψ is rounded to 12 significant
    * digits before thresholding ([[roundSig]]), and the driver
    * recluster is greedy (argmax sampling mass) + sequential Lloyd.
    *
    * Scale shape per round: candidates live on the DRIVER (bounded ≤
    * 1 + rounds·16·oversample by the per-round cap) and enter the plan
    * as literals, so the distance update is a single scan of codegen'd
    * VecDots — no join, no shuffle; ψ is one agg. The weighting pass is
    * one scan-side literal argmax over the corpus whose only exchange is
    * a candidate-keyed count (bounded by partitions × candidates). Total
    * distributed work: rounds+2 scans + small aggregations — the shape
    * that survives a
    * 100 TB corpus where a driver k-means++ over the raw data cannot.
    */
  def kmeansParallelSeed(corpus: DataFrame, idCol: String, vecCol: String,
                         nlist: Int, rounds: Int, oversample: Int): KppSeed = {
    val c = withNorm(corpus, idCol, vecCol).localCheckpoint(true)
    try kppSeedFromNormed(c, nlist, rounds, oversample)
    finally graft.CheckpointBlocks.release(c)
  }

  /** [[kmeansParallelSeed]] over an already-normed (id, vec, nrm) frame
    * — the internal entry [[ivfBuildKpp]] shares its checkpoint with.
    */
  private def kppSeedFromNormed(c: DataFrame, nlist: Int, rounds: Int,
                                oversample: Int): KppSeed = {
    require(nlist >= 1, "nlist must be >= 1")
    require(rounds >= 0, "rounds must be >= 0")
    require(oversample >= 1, "oversample must be >= 1")
    val sp = c.sparkSession
    val cap = KppRoundCap * oversample

    // first candidate: the hash-min corpus point (deterministic)
    val first = c.orderBy(xxhash64(col("id")), col("id")).limit(1)
      .select(col("id"), transform(col("vec"), x => x.cast("double") / col("nrm")).as("uvec"))
      .collect()
    if (first.isEmpty) {
      // empty corpus: an empty seed with the right shape
      val empty = c.limit(0).select(lit(1).as("cell"),
        transform(col("vec"), x => x.cast("double")).as("cvec"),
        col("nrm").as("cnrm"))
      return KppSeed(empty, Seq.empty, Seq.empty)
    }
    val candIds = scala.collection.mutable.ArrayBuffer[Any](first(0).get(0))
    val candVecs = scala.collection.mutable.ArrayBuffer[IndexedSeq[Double]](
      first(0).getSeq[Double](1).toIndexedSeq)

    def minD2Update(state: DataFrame, newVecs: Seq[IndexedSeq[Double]]): DataFrame = {
      // greatest() needs >= 2 args; -1 is the cosine floor, so it is the
      // identity for the max and never changes the result
      val dots = newVecs.map(v => dot(col("uvec"), typedlit(v))) :+ lit(-1.0)
      state.withColumn("d2",
        least(col("d2"), lit(2.0) - lit(2.0) * greatest(dots: _*)))
    }

    // (id, uvec, d2) with d2 = distance to the current candidate set;
    // updated scan-side each round, superseded checkpoints released
    var state = minD2Update(
      c.select(col("id"),
          transform(col("vec"), x => x.cast("double") / col("nrm")).as("uvec"))
        .withColumn("d2", lit(java.lang.Double.MAX_VALUE)),
      candVecs.toSeq).localCheckpoint(true)
    val counts = Seq.newBuilder[Long]
    val costs = Seq.newBuilder[Double]
    var psi = roundSig(state.agg(sum(col("d2"))).head().getDouble(0))
    costs += psi
    var r = 1
    while (r <= rounds && psi > 0) {
      val u = pmod(xxhash64(col("id"), lit(r)), lit(1L << 40)).cast("double") /
        lit((1L << 40).toDouble)
      val drawn = state
        .filter(u < lit(oversample.toDouble) * col("d2") / lit(psi))
        .orderBy(col("id")).limit(cap)
        .select(col("id"), col("uvec")).collect()
      counts += drawn.length.toLong
      if (drawn.nonEmpty) {
        val newVecs = drawn.map(_.getSeq[Double](1).toIndexedSeq).toSeq
        candIds ++= drawn.map(_.get(0))
        candVecs ++= newVecs
        val next = minD2Update(state, newVecs).localCheckpoint(true)
        graft.CheckpointBlocks.release(state)
        state = next
        psi = roundSig(state.agg(sum(col("d2"))).head().getDouble(0))
      }
      costs += psi
      r += 1
    }

    // weight pass: every corpus point votes for its nearest candidate.
    // The argmax runs SCAN-SIDE over the driver-held candidate literals
    // (the minD2Update idiom — struct-greatest over codegen'd VecDots,
    // ties to the smaller candidate index via the negated-index field);
    // the only shuffle is groupBy(ci).count(), whose partial aggregation
    // bounds the exchange at partitions × candidates. The earlier
    // crossJoin + groupBy(id) form shuffled every (id, ci, dp) row —
    // an O(corpus) exchange with no map-side reduction, exactly the
    // cost this file's no-join scale doctrine exists to avoid.
    import sp.implicits._
    val candStructs = candVecs.toIndexedSeq.zipWithIndex.map { case (v, i) =>
      struct(dot(col("uvec"), typedlit(v)).as("dp"), lit(-i).as("ni"))
    }
    val best =
      if (candStructs.length == 1) candStructs.head
      else greatest(candStructs: _*)
    val weights = state
      .select((-best.getField("ni")).cast("int").as("ci"))
      .groupBy(col("ci")).count().collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    graft.CheckpointBlocks.release(state)

    // pad: fewer candidates than nlist (tiny corpus / rounds=0) tops up
    // from the hash-ordered sample, excluding ids already drawn
    val padNeed = nlist - candVecs.length
    if (padNeed > 0) {
      val pads = c.filter(!col("id").isInCollection(candIds.toSeq))
        .orderBy(xxhash64(col("id")), col("id")).limit(padNeed)
        .select(col("id"),
          transform(col("vec"), x => x.cast("double") / col("nrm")).as("uvec"))
        .collect()
      candIds ++= pads.map(_.get(0))
      candVecs ++= pads.map(_.getSeq[Double](1).toIndexedSeq)
    }

    val seeds = recluster(candVecs.toIndexedSeq,
      candVecs.indices.map(i => weights.getOrElse(i, 1L).toDouble), nlist)
    val seedDf = seeds.zipWithIndex
      .map { case (v, i) =>
        (i + 1, v, math.sqrt(v.iterator.map(x => x * x).sum))
      }.toDF("cell", "cvec", "cnrm")
    KppSeed(seedDf, counts.result(), costs.result())
  }

  /** Driver-side weighted recluster of the k-means‖ candidates to k
    * seeds: greedy k-means++ (each next seed = the candidate with the
    * largest sampling mass w·d² against the chosen set — the
    * deterministic argmax form of the ++ draw), then 5 sequential
    * weighted spherical Lloyd rounds. Pure driver arithmetic over ≤
    * 1 + rounds·16·oversample candidates — bounded parameter-server
    * state, the [[Pq.train]] codebook idiom.
    */
  private def recluster(cands: IndexedSeq[IndexedSeq[Double]],
                        w: IndexedSeq[Double], k: Int): IndexedSeq[IndexedSeq[Double]] = {
    if (cands.isEmpty) return IndexedSeq.empty
    def dotv(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double =
      graft.functions.Num.dot(a, b)
    def unit(a: IndexedSeq[Double]): IndexedSeq[Double] = {
      val n = math.sqrt(dotv(a, a))
      if (n > 0) a.map(_ / n) else a
    }
    // greedy ++: start from the heaviest candidate, then argmax w·d²
    val chosen = scala.collection.mutable.ArrayBuffer[Int](
      cands.indices.maxBy(i => (w(i), -i)))
    val d2 = Array.tabulate(cands.length)(i =>
      2.0 - 2.0 * dotv(cands(i), cands(chosen.head)))
    while (chosen.length < math.min(k, cands.length)) {
      // argmax of the ++ sampling mass; when every remaining mass is 0
      // (all remaining candidates coincide with chosen seeds) this still
      // picks deterministically by index — a duplicate seed direction is
      // harmless (a cell that never wins keeps its centroid in Lloyd)
      val next = cands.indices.filterNot(chosen.contains)
        .maxBy(i => (w(i) * d2(i), -i))
      chosen += next
      var i = 0
      while (i < d2.length) {
        d2(i) = math.min(d2(i), 2.0 - 2.0 * dotv(cands(i), cands(next)))
        i += 1
      }
    }
    var centers = chosen.toIndexedSeq.take(k).map(cands)
    (1 to 5).foreach { _ =>
      val sums = Array.fill(centers.length)(new Array[Double](cands.head.length))
      val mass = new Array[Double](centers.length)
      cands.indices.foreach { i =>
        var best = 0; var bestDp = Double.NegativeInfinity
        centers.indices.foreach { j =>
          val dp = dotv(cands(i), unit(centers(j)))
          if (dp > bestDp) { best = j; bestDp = dp }
        }
        var p = 0
        while (p < sums(best).length) { sums(best)(p) += w(i) * cands(i)(p); p += 1 }
        mass(best) += w(i)
      }
      centers = centers.indices.map { j =>
        if (mass(j) > 0) {
          val m = unit(sums(j).toIndexedSeq.map(_ / mass(j)))
          if (m.exists(_ != 0.0)) m else centers(j) // direction lost: keep
        } else centers(j) // cell lost every member: keep (Lloyd contract)
      }
    }
    centers
  }

  /** A k-means‖-seeded refined IVF build plus the seed diagnostics —
    * the x98 entry point. Identical downstream contract to
    * [[ivfBuildRefined]] (same Lloyd loop, same monotone objective);
    * only the seed is smarter, so at equal refinement budget the
    * objective starts (and stays) at least as high as the hash seed's
    * on clustered data — gated in x98g.
    */
  final case class IvfKpp(refined: IvfRefined, seed: KppSeed)

  def ivfBuildKpp(corpus: DataFrame, idCol: String, vecCol: String,
                  nlist: Int, rounds: Int, oversample: Int,
                  iters: Int): IvfKpp = {
    val c = withNorm(corpus, idCol, vecCol).localCheckpoint(true)
    try {
      val seed = kppSeedFromNormed(c, nlist, rounds, oversample)
      IvfKpp(lloydRefine(c, seed.centroids, iters), seed)
    } finally graft.CheckpointBlocks.release(c)
  }

  /** Append a new vector batch into a STORED index: broadcast-assign
    * each new vector to its nearest EXISTING centroid and emit rows
    * shaped exactly like [[IvfIndex.assignments]] — the caller unions
    * (or parquet-appends) them onto the stored relation and serves
    * queries from the merged index unchanged. Centroids do not move:
    * the incremental contract is assignment-only (re-training is a
    * separate offline [[ivfBuildRefined]] run), so per-batch cost is
    * one broadcast assign over the BATCH — independent of index size.
    * The x34 growing-corpus contract applied to embeddings.
    */
  def ivfAppend(centroids: DataFrame, batch: DataFrame,
                idCol: String, vecCol: String): DataFrame =
    ivfAssign(withNorm(batch, idCol, vecCol), centroids, take = 1)
      .select(col("id").as("nid"), col("vec").as("nvec"),
        col("nrm").as("nnrm"), col("cell"))

  def ivfSearch(index: IvfIndex, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val probes = ivfAssign(withNorm(queries, idCol, vecCol),
        index.centroids, take = nprobe)
      .select(col("id").as("qid"), col("vec").as("qvec"),
        col("nrm").as("qnrm"), col("cell"))
    val scored = probes.join(index.assignments, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qnrm") * col("nnrm")), 6).as("sim"))
      .distinct() // a (q, n) pair probed via two cells scores once
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Predicate-filtered IVF ANN search — "nearest among rows matching
    * pred", the shape production vector serving almost always takes
    * (a language, license, or date predicate rides every query). The
    * predicate applies to the stored ASSIGNMENT relation inside the
    * cell scan — on a persisted index Catalyst pushes it into the
    * parquet read — never to the ranked output: filtering AFTER top-k
    * silently degrades recall at high selectivity (the k winners are
    * computed before the filter, so filtered true neighbors lose to
    * unfiltered non-candidates and < k rows survive — FilteredAnnSpec
    * proves the failure on the naive form). The probe width adapts to
    * the MEASURED selectivity: with keptN/nlist expected filtered rows
    * per cell, nprobe widens until the expected candidate pool covers
    * oversample·k, capped at nlist (scan every cell — the honest floor
    * at extreme selectivity, where any fixed nprobe must either
    * under-fill or lie). Two count aggregates per query batch, driver
    * scalars — the measured-decision convention (x20's hot keys, the
    * passage index's broadcast bound).
    */
  def ivfSearchFiltered(index: IvfIndex, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int, nprobe: Int,
                        pred: Column, oversample: Double = 4.0): DataFrame = {
    val kept = index.assignments.filter(pred)
    // one measurement pass over the filtered relation per CALL — a
    // serving layer issuing many batches against one (index, pred)
    // should measure once and call the kept-relation form below
    // (keptN from a persisted per-cell stats table shares even that
    // pass with the index build)
    val keptN = kept.count()
    val nlist = index.centroids.count()
    val probeEff = filteredProbeWidth(keptN, nlist, k, nprobe, oversample)
    ivfSearchFilteredKept(index.centroids, kept, queries, idCol, vecCol,
      k, probeEff)
  }

  /** Probe width for a filtered search at measured selectivity: widen
    * from `nprobe` until the EXPECTED filtered candidate pool covers
    * oversample·k, capped at nlist (scan every cell — the honest floor
    * at extreme selectivity). Pure arithmetic over two measured
    * scalars, exposed so gates can assert saturation (probeEff ==
    * nlist) before demanding recall equality with brute force.
    */
  def filteredProbeWidth(keptN: Long, nlist: Long, k: Int, nprobe: Int,
                         oversample: Double): Int = {
    require(nprobe >= 1, "nprobe must be >= 1")
    require(oversample >= 1.0, "oversample must be >= 1.0")
    val perCell = math.max(keptN.toDouble / math.max(nlist, 1L), 1e-9)
    math.min(math.max(nlist, 1L),
      math.max(nprobe.toLong, math.ceil(oversample * k / perCell).toLong)).toInt
  }

  /** The measured-width half of [[ivfSearchFiltered]]: search `kept`
    * (the pre-filtered assignment relation) at an already-decided probe
    * width. This is the repeated-serving entry point — the caller
    * filters + counts ONCE (or keeps per-cell counts beside the
    * persisted index) and every query batch pays only the cell-scan
    * join, no re-measurement pass.
    */
  def ivfSearchFilteredKept(centroids: DataFrame, kept: DataFrame,
                            queries: DataFrame, idCol: String, vecCol: String,
                            k: Int, probeEff: Int): DataFrame = {
    require(probeEff >= 1, "probeEff must be >= 1")
    val probes = ivfAssign(withNorm(queries, idCol, vecCol),
        centroids, take = probeEff)
      .select(col("id").as("qid"), col("vec").as("qvec"),
        col("nrm").as("qnrm"), col("cell"))
    // no distinct: every stored vector lives in exactly ONE cell
    // (ivfAssign take=1 at build/append) and a query's probe cells are
    // distinct ranks of one window, so (qid, nid) is unique by
    // construction — a dedup exchange here would re-shuffle the
    // operator's dominant intermediate for nothing (the multi-TABLE
    // LSH searches genuinely need it; this one never does)
    val scored = probes.join(kept, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qnrm") * col("nnrm")), 6)
          .as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** The nprobe OPERATING CURVE of a stored IVF index: for every
    * nprobe in 1..nlist, recall@k against the exact relation and the
    * fraction of stored rows a search at that nprobe scans — the table
    * a deployment reads to pick nprobe for a recall target instead of
    * folklore (the x111 threshold-sweep pattern applied to ANN
    * serving). ONE exhaustive scoring pass (the ground truth — the
    * same cost as a single exact search) plus bounded Q·nlist cell
    * ranks; every nprobe value then falls out of generator suffix
    * sums over integer buckets, no per-nprobe rescan, no join wider
    * than the Q·k truth relation. recall is exact-arithmetic
    * (count/count, rounded once at emit), so the curve hashes
    * identically across runs.
    */
  def ivfOperatingCurve(index: IvfIndex, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int): DataFrame = {
    val sp = queries.sparkSession
    GraftExtensions.register(sp)
    val q = withNorm(queries, idCol, vecCol)
    // rank of EVERY cell per query by centroid cosine (Q·nlist rows,
    // bounded: the probe order a search at any nprobe follows)
    val cellRanks = {
      val scored = q.crossJoin(broadcast(index.centroids))
        .select(col("id").as("qid"), col("cell"),
          (dot(col("vec"), col("cvec")) / (col("nrm") * col("cnrm")))
            .as("csim"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("csim").desc, col("cell"))
      scored.withColumn("crank", row_number().over(w))
        .select(col("qid"), col("cell"), col("crank"))
    }
    val nlist = index.centroids.count()
    val nQ = q.count()
    // exact ground truth over the INDEXED rows (one Q x N scoring pass)
    val qSide = q.select(col("id").as("qid"), col("vec").as("qvec"),
      col("nrm").as("qnrm"))
    val exact = {
      val scored = qSide.join(index.assignments, col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), col("cell"),
          round(dot(col("qvec"), col("nvec")) / (col("qnrm") * col("nnrm")), 6)
            .as("sim"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("nid"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
    // each truth pair becomes visible at nprobe >= crank of its cell —
    // collected per-crank: <= nlist rows BY CONSTRUCTION, and the one
    // collect yields both the histogram and the recall denominator, so
    // the exhaustive pass runs exactly ONCE (a driver-side count of the
    // truth relation would re-run the Q x N scoring for a scalar)
    val hitRows = exact.join(cellRanks, Seq("qid", "cell"))
      .groupBy(col("crank")).agg(count(lit(1)).as("hits"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val truthN = hitRows.map(_._2).sum.toDouble
    // per-cell sizes: <= nlist rows; their sum is the corpus size, so
    // no separate count scan either
    val sizeRows = index.assignments.groupBy(col("cell"))
      .agg(count(lit(1)).as("csize"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val nCorpus = sizeRows.valuesIterator.sum
    import sp.implicits._
    val hitAt = hitRows.toDF("crank", "hits")
    // scan cost: each (query, cell) contributes its cell's rows at
    // nprobe >= crank — suffix sums over crank buckets via the
    // generator (the x111 shape, no per-nprobe rescan)
    val sizeLit = typedlit(sizeRows)
    val scanAt = cellRanks
      .select(col("crank"), element_at(sizeLit, col("cell")).as("csize"))
      .groupBy(col("crank")).agg(sum(col("csize")).as("rows"))
    val zeros = sp.range(1, nlist + 1)
      .select(col("id").as("nprobe"), lit(0L).as("hits"), lit(0L).as("rows"))
    hitAt.join(scanAt, Seq("crank"), "full_outer")
      .select(explode(sequence(col("crank"), lit(nlist))).as("nprobe"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("rows"), lit(0L)).as("rows"))
      .unionByName(zeros)
      .groupBy(col("nprobe"))
      .agg(sum(col("hits")).as("h"), sum(col("rows")).as("r"))
      .select(col("nprobe").cast("int").as("nprobe"),
        round(col("h") / lit(math.max(truthN, 1.0)), 6).as("recall_at_k"),
        round(col("r") / lit(math.max(nQ * nCorpus, 1L).toDouble), 6)
          .as("scan_frac"))
      .orderBy(col("nprobe"))
  }

  /** ANN top-k via multi-table LSH: candidates are the union of
    * same-bucket collisions over `tables` independent hash tables
    * (OR-amplification — recall 1-(1-p^nbits)^tables per neighbor),
    * deduped, then scored exactly and ranked per query. `nbits` tunes
    * bucket granularity (candidates per table ~ N/2^nbits), `tables`
    * buys recall at linear candidate cost. Approximate — recall@k and
    * precision (scores ⊆ exact scores) are verified in the spec suite
    * and by the declared empty-set oracle gates.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int, nbits: Int,
              tables: Int = 1): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    GraftExtensions.register(queries.sparkSession)
    val q = withNorm(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val c = withNorm(corpus, idCol, vecCol)
      .select(col("id").as("nid"), col("vec").as("nvec"), col("nrm").as("nnrm"))
    // ONE dim probe + ONE sign collect serve both sides: the seeds are
    // identical by construction, so the per-input duplicates were two
    // wasted driver round-trips on the hot ANN path
    val signs = dimOf(c.select(col("nid").as("id"), col("nvec").as("vec")))
      .orElse(dimOf(q.select(col("qid").as("id"), col("qvec").as("vec"))))
      .map(dim => hyperplaneSigns(queries.sparkSession, dim, 0 until tables * nbits))
    val (qb, cb) = signs match {
      case Some(sg) => (
        bucketsFromSigns(queries.select(col(idCol).as("id"), col(vecCol).as("vec")),
            sg, nbits, tables)
          .select(col("id").as("qid"), col("table"), col("bucket")),
        bucketsFromSigns(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
            sg, nbits, tables)
          .select(col("id").as("nid"), col("table"), col("bucket")))
      case None => (
        q.select(col("qid"), lit(0).as("table"), lit(0L).as("bucket")).limit(0),
        c.select(col("nid"), lit(0).as("table"), lit(0L).as("bucket")).limit(0))
    }
    val candidates = qb.join(cb, Seq("table", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
      .distinct() // a pair colliding in several tables is scored once
    val scored = candidates.join(q, "qid").join(c, "nid")
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qnrm") * col("nnrm")), 6).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }
}
