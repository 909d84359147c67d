package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._
import graft.operators.{TextAnalysis => TA}

/** Declared queries for the LLM-pipeline extension operators (SURVEY.md
  * §7.4): dedup, similarity search, text analysis, multimodal plumbing.
  *
  * The documents/embeddings testdata has no natural duplicates, so dedup
  * queries synthesize them deterministically inside the query (exact
  * copies at id+10000, tail-modified copies at id+20000) — the same
  * construction appears in the DuckDB oracle, so results still hash-match.
  *
  * Queries without an oracleSql entry (simhash, LSH-ANN, multimodal)
  * are approximate or non-SQL-expressible; they get the driver's
  * rows-only check and are verified against their exact counterparts in
  * the ScalaTest suites instead. The recall/precision GATES (x03r, x04r,
  * x07p) are anti-joins against provably-contained relations, so their
  * oracle is the empty set with the matching schema — declared below so
  * the driver scores them hash-green rather than rows-only.
  *
  * Each approximate family's pair relation is computed ONCE per
  * (session, data dir) and shared between the declared query and its
  * gate ([[shared]]): the relations are tiny (pairs / top-k rows), and
  * recomputing the full LSH/SimHash pipeline inside the gate doubled
  * the round-2 bench cost for zero information.
  */
object ExtensionQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Memoized small result relations, keyed by (session, dir, name).
    * Eagerly localCheckpoint-ed (NOT persist: a caller's
    * catalog.clearCache would silently turn reuse back into a full
    * recompute; checkpointed blocks survive it and the lineage is
    * cut). Entries are per-session so a stopped session's frames are
    * never reused.
    */
  private val shared =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  // NOT computeIfAbsent: memoized builders call each other (jaccardPairs
  // -> sharedShingles), and a nested computeIfAbsent on one CHM throws
  // IllegalStateException("Recursive update") whenever the two keys hash
  // to the same bin. Compute outside the map, then putIfAbsent — queries
  // run sequentially, so the lost-race recompute is theoretical.
  /** `afterPin` runs once f's result has MATERIALIZED as the memo
    * checkpoint (winner or race-loser alike, never on a memo hit) —
    * the release point for build-owned state the lazy result plan
    * still needed (e.g. a refined IVF index consumed by a search).
    * It ALSO runs if the build or materialization throws (closures
    * must null-guard state f never got to assign): the build-owned
    * checkpoints have no other owner, and skipping release on the
    * failure path would leak them for the session's lifetime.
    */
  /** Driver-side training trajectories captured when a memoized index
    * build runs (plain Seqs — no blocks to release), so the invariant
    * gates (x56g, x98g) audit THE build whose search results the
    * family dumps instead of re-running an identical ~40-job training
    * to read three driver Seqs. Populated inside the owning `once`
    * builder.
    */
  private val trajectories = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), AnyRef]()

  private def putTrajectory(s: SparkSession, d: String, name: String,
                            v: AnyRef): Unit = {
    MemoEviction.register(s, "extraj") { () =>
      trajectories.keySet.removeIf(_._1 eq s)
    }
    trajectories.put((s, d, name), v)
  }

  private def once(s: SparkSession, d: String, name: String,
                   afterPin: () => Unit = () => ())(f: => DataFrame): DataFrame = {
    val k = (s, d, name)
    Option(shared.get(k)).getOrElse {
      // stopped sessions must not stay pinned by their memo entries
      MemoEviction.register(s, "ext") { () =>
        shared.keySet.removeIf(_._1 eq s)
      }
      // afterPin must run on the FAILURE path too: builders assign
      // build-owned checkpoints (e.g. a refined IVF index) inside f and
      // rely on afterPin as their sole release point — if the
      // materialization throws, skipping it would leak those
      // corpus-sized blocks for the session's lifetime.
      val v = try {
        val r = f
        // a builder that returns its OWN root checkpoint (components
        // labels, prebuilt index halves) is ADOPTED as-is: wrapping it
        // in a second localCheckpoint would copy the blocks and orphan
        // the original root to GC-timing reclamation — the memo owns
        // the original directly instead
        r.queryExecution.analyzed match {
          case _: org.apache.spark.sql.execution.LogicalRDD => r
          case _ => r.localCheckpoint(true)
        }
      } finally afterPin()
      Option(shared.putIfAbsent(k, v)) match {
        // lost the (theoretical) race: release this thread's blocks
        case Some(w) => graft.CheckpointBlocks.release(v); w
        case None => v
      }
    }
  }

  /** Rebalance a small-scan input to the cluster's cores before a
    * row-expansion stage (shingle/token explode, per-vector LSH
    * scoring). The bench tables are single-row-group parquet — one
    * scan partition — so without this the expansion runs on one core
    * until its first shuffle. The exchange moves the small
    * PRE-expansion rows; at production scale the scan already yields
    * thousands of partitions and this becomes a cheap rebalance of
    * scan splits, never of expanded rows.
    */
  private[operators] def rebalanced(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** One ImageIO pass over the fixture blobs serving BOTH x83 queries
    * (channel stats + grid embeddings) — decoded once per (session,
    * dir), checkpointed.
    */
  private def pixelProfile(s: SparkSession, d: String): DataFrame =
    once(s, d, "pixel_profile") {
      Multimodal.pixelProfile(s, mediaBlobs(s, d), grid = 2)
    }

  /** dHash signatures for the x87 family: 500 gradient fixtures (per-doc
    * spatial structure — solid x12 fixtures all hash alike) plus their
    * +20 brightness-shifted re-encodes under offset ids, hashed once and
    * shared by the pair query and its recall gate. The bounded-probe
    * convention (x13): the corpus slice is fixed-size at any sf.
    */
  private def imageDhashSigs(s: SparkSession, d: String): DataFrame =
    once(s, d, "dhash_sigs") {
      val docs = rebalanced(
        Tables(s, d, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 500))
      val base = Multimodal.gradientBlobs(s, docs)
      val shifted = Multimodal.brightnessShift(s, base, 20)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("content"))
      Multimodal.dHash(s, base.unionByName(shifted))
        .select(col("doc_id").as("id"), col("dhash").as("sig"))
    }

  /** The real-image blob fixtures, ImageIO-encoded ONCE per (session,
    * dir) and checkpointed: x12 and its gate consume the relation four
    * times between them (decode + the two second opinions + the plain
    * query), and re-running the per-row encoder for each consumer made
    * the gate 4x its honest cost. The rebalance matters as much as the
    * memo — the documents parquet is one scan split, and 60k ImageIO
    * encodes on one core was most of the wall time.
    */
  private[operators] def mediaBlobs(s: SparkSession, d: String): DataFrame =
    once(s, d, "media_blobs") {
      Multimodal.syntheticMediaBlobs(s,
        rebalanced(Tables(s, d, "documents").select(col("doc_id"))))
    }

  /** Header-parse metadata of the fixture blobs, decoded ONCE per
    * (session, dir) — x12 and both x12g gate legs consume it; before
    * this memo each consumer re-ran the sniff pass over the corpus.
    */
  private def decodedMeta(s: SparkSession, d: String): DataFrame =
    once(s, d, "decoded_meta") {
      Multimodal.decodeMeta(s, mediaBlobs(s, d))
    }

  /** ImageIO decode metadata of the fixture blobs, decoded ONCE per
    * (session, dir) — the x12g gate's independent second decoder. The
    * full ImageIO pass is the family's dominant cost; memoizing it
    * makes the gate a cheap three-way join of checkpointed relations.
    */
  private def imageIoMeta(s: SparkSession, d: String): DataFrame =
    once(s, d, "imageio_meta") {
      Multimodal.imageIoMetaTable(s, mediaBlobs(s, d))
    }

  /** The trigram shingle relation of the dup-synthesized corpus,
    * materialized once and shared by the exact-PPJoin (x02) and
    * MinHash-LSH (x03 family) paths — at sf0.1 it is a few tens of MB
    * of (long, int, long) rows.
    */
  private def sharedShingles(s: SparkSession, d: String): DataFrame =
    once(s, d, "shingles") {
      Dedup.shingleTable(rebalanced(docsWithDups(s, d)), "id", "text", n = 3)
    }

  /** The exact PPJoin near-dup pair relation (a, b, jaccard) —
    * consumed by x02 and the cluster queries x23/x24.
    */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    once(s, d, "jaccard_pairs") {
      Dedup.ngramJaccardPairsFromShingles(sharedShingles(s, d), 0.5)
    }

  /** Duplicate clusters (node, root) over the exact pair relation —
    * consumed by x23 and the keep-canonical x24.
    */
  private def dupClusters(s: SparkSession, d: String): DataFrame =
    once(s, d, "dup_clusters") {
      Components.connectedComponents(jaccardPairs(s, d).select("a", "b"))
    }

  /** The full MinHash-LSH near-dup pair relation (a, b, jaccard) at the
    * declared parameters — consumed by x03 and its recall gate x03r.
    */
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    once(s, d, "minhash_pairs") {
      Dedup.minhashLshPairsFromShingles(sharedShingles(s, d),
        numPerm = 32, bands = 16, threshold = 0.5)
    }

  /** SimHash near-dup pairs (a, b, dist) — consumed by x04 and x04r. */
  private def simhashPairs(s: SparkSession, d: String): DataFrame =
    once(s, d, "simhash_pairs") {
      Dedup.simhashPairs(rebalanced(docsWithDups(s, d)), "id", "text", maxDist = 3)
    }

  /** LSH ANN top-k (qid, rank, nid, sim) — consumed by x07 and x07p. */
  /** Exhaustively-scored ANN reference relation (rank over EVERY
    * neighbor) — x06's top-5 and both precision gates slice it, so the
    * full query-by-corpus scoring pass runs once per (session, dir).
    */
  private def annExhaustive(s: SparkSession, d: String): DataFrame =
    once(s, d, "ann_exhaustive") {
      val e = rebalanced(Tables(s, d, "embeddings"))
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = Int.MaxValue)
    }

  private def annLsh(s: SparkSession, d: String): DataFrame =
    once(s, d, "ann_lsh") {
      val e = rebalanced(Tables(s, d, "embeddings"))
      Similarity.lshTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5,
        nbits = 4, tables = 4)
    }

  /** IVF ANN top-k — consumed by x16 and x16p. */
  private def annIvf(s: SparkSession, d: String): DataFrame =
    once(s, d, "ann_ivf") {
      val e = rebalanced(Tables(s, d, "embeddings"))
      Similarity.ivfTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5,
        nlist = 16, nprobe = 4)
    }

  /** Stored IVF index over the embeddings table — consumed by the
    * filtered-search family x114 and the operating curve x115, built
    * once per (session, dir) like every shared index.
    */
  private def ivfIndexShared(s: SparkSession, d: String): Similarity.IvfIndex = {
    // both halves ride the standard `once` memo like every other
    // shared relation; the lazy build runs at most once per miss
    lazy val built = {
      val e = rebalanced(Tables(s, d, "embeddings"))
      Similarity.ivfBuild(e, "vec_id", "embedding", nlist = 16)
    }
    Similarity.IvfIndex(
      once(s, d, "ivf_index_centroids")(built.centroids),
      once(s, d, "ivf_index_assignments")(built.assignments))
  }

  /** The x114 metadata predicate: vec_id % 97 == 0 — a deterministic
    * stand-in (the x12 convention) for the HIGH-selectivity case
    * filtered serving exists for ("nearest among docs with this rare
    * license"): ~1% of the corpus survives, so a fixed nprobe must
    * either under-fill top-k or miss filtered neighbors, and the
    * measured-selectivity widening provably floors at nprobe = nlist
    * (scan every cell) through sf0.1 — which is exactly why the recall
    * gate can demand EQUALITY with brute-force-on-the-filtered-subset.
    */
  private val x114Pred = col("nid") % 97 === 0

  /** Exhaustive scored relation over the FILTERED corpus — the x114
    * gates' ground truth (precision: every emitted score appears here;
    * recall: the top-k slice of this is fully recovered).
    */
  private def annFilteredExhaustive(s: SparkSession, d: String): DataFrame =
    once(s, d, "ann_filtered_exhaustive") {
      val e = rebalanced(Tables(s, d, "embeddings"))
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10),
        e.filter(col("vec_id") % 97 === 0), "vec_id", "embedding",
        k = Int.MaxValue)
    }

  /** The x115 operating curve, computed once per (session, dir): the
    * exhaustive ground-truth pass is the family's most expensive job,
    * and x115 + x115g both consume the identical 16-row table.
    */
  private def ivfCurveShared(s: SparkSession, d: String): DataFrame =
    once(s, d, "ivf_operating_curve") {
      Similarity.ivfOperatingCurve(ivfIndexShared(s, d),
        rebalanced(Tables(s, d, "embeddings")).filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }

  private def annFiltered(s: SparkSession, d: String): DataFrame =
    once(s, d, "ann_filtered") {
      val e = rebalanced(Tables(s, d, "embeddings"))
      Similarity.ivfSearchFiltered(ivfIndexShared(s, d),
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 4, pred = x114Pred, oversample = 20.0)
    }

  /** Lloyd-refined IVF ANN top-k — consumed by x56 and x56p. */
  private def annIvfRefined(s: SparkSession, d: String): DataFrame = {
    var idx: Similarity.IvfIndex = null
    once(s, d, "ann_ivf_refined",
        afterPin = () => Option(idx).foreach(Similarity.releaseIndex)) {
      val e = rebalanced(Tables(s, d, "embeddings"))
      val rb = Similarity.ivfBuildRefined(e, "vec_id", "embedding",
        nlist = 16, iters = 3)
      idx = rb.index
      putTrajectory(s, d, "ivf_refined_objs", rb.objectives)
      Similarity.ivfSearch(idx,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 4)
    }
  }

  /** The Lloyd objective trajectory of the build [[annIvfRefined]]
    * serves from — what x56g audits. Memo-first: the bench/verify
    * order always builds the family memo before the gate runs, so the
    * gate stops paying a second identical training; the fallback (a
    * fresh build, the gate's pre-r19 body) keeps the gate total in
    * any standalone context.
    */
  private def ivfRefinedObjectives(s: SparkSession, d: String): Seq[Double] = {
    annIvfRefined(s, d)
    Option(trajectories.get((s, d, "ivf_refined_objs")))
      .map(_.asInstanceOf[Seq[Double]])
      .getOrElse {
        val rb = Similarity.ivfBuildRefined(
          rebalanced(Tables(s, d, "embeddings")), "vec_id", "embedding",
          nlist = 16, iters = 3)
        Similarity.releaseIndex(rb.index)
        rb.objectives
      }
  }

  /** k-means‖-seeded refined IVF ANN top-k — consumed by x98 and x98p. */
  private def annIvfKpp(s: SparkSession, d: String): DataFrame = {
    var idx: Similarity.IvfIndex = null
    once(s, d, "ann_ivf_kpp",
        afterPin = () => Option(idx).foreach(Similarity.releaseIndex)) {
      val e = rebalanced(Tables(s, d, "embeddings"))
      val kb = Similarity.ivfBuildKpp(e, "vec_id", "embedding",
        nlist = 16, rounds = 3, oversample = 8, iters = 2)
      idx = kb.refined.index
      putTrajectory(s, d, "ivf_kpp_traj",
        (kb.seed.costs, kb.seed.candidateCounts, kb.refined.objectives))
      Similarity.ivfSearch(idx,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 4)
    }
  }

  /** The k-means‖ seed ψ-costs, per-round candidate draws, and Lloyd
    * objectives of the build [[annIvfKpp]] serves from — what x98g
    * audits (same memo-first/fallback shape as
    * [[ivfRefinedObjectives]]).
    */
  private def ivfKppTrajectories(
      s: SparkSession, d: String): (Seq[Double], Seq[Long], Seq[Double]) = {
    annIvfKpp(s, d)
    Option(trajectories.get((s, d, "ivf_kpp_traj")))
      .map(_.asInstanceOf[(Seq[Double], Seq[Long], Seq[Double])])
      .getOrElse {
        val kb = Similarity.ivfBuildKpp(
          rebalanced(Tables(s, d, "embeddings")), "vec_id", "embedding",
          nlist = 16, rounds = 3, oversample = 8, iters = 2)
        Similarity.releaseIndex(kb.refined.index)
        (kb.seed.costs, kb.seed.candidateCounts, kb.refined.objectives)
      }
  }

  /** 8 tight spherical clusters built deterministically from the
    * embeddings table: vector = anchor(vec_id % 8) + 0.1·embedding,
    * with anchor[i] = ±1 from xxhash64(cluster, i). The k-means‖
    * advantage fixture: a hash-ordered seed of 8 points almost surely
    * lands two in one cluster and misses another (the 8!/8⁸ coupon
    * odds), while the distance-weighted oversampling draw spreads
    * across clusters by construction.
    */
  private[graft] def clusteredCorpus(s: SparkSession, d: String): DataFrame =
    rebalanced(Tables(s, d, "embeddings")).select(col("vec_id").as("id"),
      transform(col("embedding"), (x, i) =>
        when(xxhash64(pmod(col("vec_id"), lit(8)).cast("int"), i) % 2 === 0,
          lit(1.0)).otherwise(lit(-1.0)) + lit(0.1) * x.cast("double")).as("vec"))

  /** k-means‖ seed advantage over the hash seed at equal config on the
    * clustered fixture — the x98a gate body. `forceHash` swaps the
    * k-means‖ seed for the hash seed (the two programs are then
    * identical, so the objective ratio is exactly 1) — the spec hook
    * proving the gate FIRES when the smarter seeding is dropped.
    */
  private[graft] def seedAdvantage(s: SparkSession, d: String,
                                   forceHash: Boolean): Seq[(String, String)] = {
    val corpus = clusteredCorpus(s, d).localCheckpoint(true)
    try {
      // iters = 0: objectives.head is the SEED's assignment objective —
      // the seeding is the only thing the two programs differ in.
      // Objectives are driver scalars measured during the build, so the
      // index is dead on return: release its checkpoints immediately.
      val hb = Similarity.ivfBuildRefined(corpus, "id", "vec",
        nlist = 8, iters = 0)
      Similarity.releaseIndex(hb.index)
      val hashObj = hb.objectives.head
      val kppObj =
        if (forceHash) hashObj
        else {
          val kb = Similarity.ivfBuildKpp(corpus, "id", "vec", nlist = 8,
            rounds = 3, oversample = 8, iters = 0)
          Similarity.releaseIndex(kb.refined.index)
          kb.refined.objectives.head
        }
      if (kppObj < hashObj * KppAdvantageBar)
        Seq(("seed_objective",
          f"kpp $kppObj%.3f < hash $hashObj%.3f x $KppAdvantageBar"))
      else Seq.empty
    } finally graft.CheckpointBlocks.release(corpus)
  }

  /** Measured seed-objective ratios kpp/hash on the clustered fixture:
    * 1.4534 (sf0.001) and 1.4524 (sf0.01) — a missed cluster costs its
    * members most of their cosine, and the hash seed misses 2-3 of the
    * 8 clusters at both scales. With forceHash the ratio is exactly 1,
    * so 1.2 has a wide margin in both directions and stays deliberately
    * sensitive to dropping the smarter seeding.
    */
  private val KppAdvantageBar = 1.2

  /** Stored-centroid relation of the incremental-IVF demo: the index is
    * BUILT over the even-id half of the corpus (the "already indexed"
    * state) and never retrained. ivfBuild is hash-seed deterministic,
    * so the two memo entries below cannot drift apart.
    */
  private def ivfAppendCentroids(s: SparkSession, d: String): DataFrame =
    once(s, d, "ivf_append_centroids") {
      val e = rebalanced(Tables(s, d, "embeddings"))
      Similarity.ivfBuild(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", nlist = 16).centroids
    }

  /** Merged assignment relation: stored half + the odd-id batch appended
    * via [[Similarity.ivfAppend]] against the STORED centroids — no
    * rebuild, no touch of existing rows (the x34 contract for
    * embeddings).
    */
  private def ivfAppendAssignments(s: SparkSession, d: String): DataFrame =
    once(s, d, "ivf_append_assign") {
      val e = rebalanced(Tables(s, d, "embeddings"))
      val centroids = ivfAppendCentroids(s, d)
      // base half and batch half both go through the same stored-centroid
      // assignment path (ivfAppend == the build's assign at take=1), so
      // the demo is two append batches over one build's centroids
      Similarity.ivfAppend(centroids,
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
        .unionByName(Similarity.ivfAppend(centroids,
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding"))
    }

  /** Search over the merged (built + appended) index — consumed by x70
    * and its precision gate.
    */
  private def annIvfAppended(s: SparkSession, d: String): DataFrame =
    once(s, d, "ann_ivf_append") {
      val e = rebalanced(Tables(s, d, "embeddings"))
      Similarity.ivfSearch(
        Similarity.IvfIndex(ivfAppendCentroids(s, d), ivfAppendAssignments(s, d)),
        e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, nprobe = 4)
    }

  /** documents ∪ exact copies (id+10000 for id<50) ∪ near-dup copies with
    * a 3-token tail appended (id+20000 for 50<=id<80).
    */
  private def docsWithDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents").select(col("doc_id").as("id"), col("text"))
    docs
      .unionByName(docs.filter(col("id") < 50)
        .select((col("id") + 10000).as("id"), col("text")))
      .unionByName(docs.filter(col("id") >= 50 && col("id") < 80)
        .select((col("id") + 20000).as("id"),
          concat(col("text"), lit(" zz ww qq")).as("text")))
  }

  /** documents with a deterministic per-source 8-token header prepended
    * — the boilerplate fixture: the header is identical across a
    * source's docs (the site-chrome shape), the bodies are not. SQL
    * twin: docsWithBoilerSql.
    */
  private def docsWithBoiler(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").select(col("doc_id").as("id"), col("source"),
      concat(array_join(array_repeat(col("source"), 8), " "),
        lit(" "), col("text")).as("text"))

  private val docsWithBoilerSql =
    """docs AS (
      |  SELECT doc_id AS id, source,
      |    repeat(source || ' ', 8) || text AS text
      |  FROM documents
      |)""".stripMargin

  private val docsWithDupsSql =
    """docs AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
      |  UNION ALL SELECT doc_id + 20000, text || ' zz ww qq'
      |    FROM documents WHERE doc_id >= 50 AND doc_id < 80
      |)""".stripMargin

  /** The near-dup cluster chain over the `docs` CTE — exact >= 0.5
    * Jaccard pairs, symmetric transitive closure as a recursive CTE
    * (UNION dedups, so it terminates; tractable because dedup clusters
    * are tiny), min reachable node per node as `cc(node, root)`.
    * Shared by every oracle that consumes the cluster relation
    * (x23/x24/x110n/x110ng) so the copies can never drift. Callers must
    * open with WITH RECURSIVE and may also reference the intermediate
    * `pairs(a, b)`.
    */
  private val nearDupCcSql =
    """tok AS (SELECT id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM docs),
      |sh AS (
      |  SELECT DISTINCT id, array_to_string(ts[i:i+2], ' ') AS shingle
      |  FROM tok, unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS t(i)
      |  WHERE array_to_string(ts[i:i+2], ' ') <> ''
      |),
      |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
      |inter AS (
      |  SELECT x.id AS a, y.id AS b, count(*) AS icnt
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
      |  GROUP BY 1, 2
      |),
      |pairs AS (
      |  SELECT a, b FROM (
      |    SELECT a, b, CAST(icnt AS DOUBLE) / (sa.sz + sb.sz - icnt) AS jaccard
      |    FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
      |  ) WHERE jaccard >= 0.5
      |),
      |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      |),
      |cc AS (SELECT u AS node, least(u, min(v)) AS root FROM reach GROUP BY u)""".stripMargin

  /** embeddings ∪ exact copies (id+10000 for id<20). */
  // ONE definition of the x05 dup-synthesized corpus (id<20 copied to
  // id+10000), shared with the PQ/IVF-PQ and SemDeDup consumers —
  // memoized + checkpointed in Pq so the fixture contract lives in one
  // place and every consumer reads the same materialization
  private def vecsWithDups(s: SparkSession, d: String): DataFrame =
    Pq.corpusWithDups(s, d)

  // sqrt(aa)*sqrt(bb), NOT sqrt(aa*bb): must match the engine's norm
  // precomputation bit-for-bit or round(...,6) can split at a boundary.
  private val cosSqlExpr =
    "list_dot_product(%A::DOUBLE[], %B::DOUBLE[]) / " +
      "(sqrt(list_dot_product(%A::DOUBLE[], %A::DOUBLE[])) * sqrt(list_dot_product(%B::DOUBLE[], %B::DOUBLE[])))"
  private def cosSql(a: String, b: String): String =
    cosSqlExpr.replace("%A", a).replace("%B", b)

  val queries: Map[String, Q] = Map(
    // --- dedup -----------------------------------------------------------
    "x01_dedup_exact" -> ((s, d) =>
      Dedup.exactKeepFirst(docsWithDups(s, d), "id", "text")
        .select(col("id")).orderBy(col("id"))),

    "x02_dedup_ngram_jaccard" -> ((s, d) =>
      jaccardPairs(s, d).orderBy(col("a"), col("b"))),

    // duplicate clusters over the exact pairs: min-id root per component
    "x23_dedup_clusters" -> ((s, d) =>
      dupClusters(s, d).orderBy(col("node"))),

    // PageRank over the symmetrized customer-supplier order graph in
    // exact integer micro-units (damping 85/100 via integer division):
    // the canonical iterative graph op, with a FULL SQL oracle because
    // nothing floats — float PageRank would sum in nondeterministic
    // order and could never hash-match across engines.
    "x71_pagerank" -> ((s, d) => {
      val ol = Tables(s, d, "orders")
        .join(Tables(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
      val edges = ol.select(col("c").as("src"), col("s").as("dst"))
        .unionByName(ol.select(col("s").as("src"), col("c").as("dst")))
      Components.pageRank(edges, iters = 5).orderBy(col("node"))
    }),

    // Per-node triangle counts over the part co-purchase graph (parts
    // sharing an order; per-order pair fan-out is bounded by the
    // order's line count, so the edge build scales linearly in
    // lineitem). Degree-ordered orientation bounds the wedge relation
    // at m^(3/2) whatever the degree skew — see
    // Components.triangleCounts. FULL SQL oracle: counting is integer
    // and the canonical a<b<c enumeration is three equi-joins DuckDB
    // expresses directly.
    "x103_triangle_count" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      val pairs = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("p1"))
        .join(li.select(col("l_orderkey").as("ok"), col("l_partkey").as("p2")), "ok")
        .filter(col("p1") < col("p2"))
        .select(col("p1").as("a"), col("p2").as("b"))
      Components.triangleCounts(pairs).orderBy(col("node"))
    }),

    // Fuzzy entity-resolution join: customers matched to single-char-
    // corrupted clones (deterministic substitution, SQL-expressible) at
    // levenshtein <= 2, through the lossless length-band blocker. The
    // probe sets are bounded (the x13 convention) so candidate counts
    // stay fixed across scale factors.
    "x72_fuzzy_join" -> ((s, d) => {
      val cust = Tables(s, d, "customer").filter(col("c_custkey") < 300)
      val p = (col("c_custkey") % length(col("c_name"))).cast("int") + 1
      val mutated = concat(
        col("c_name").substr(lit(1), p - 1), lit("q"),
        col("c_name").substr(p + 1, length(col("c_name")) - p))
      Dedup.fuzzyJoin(
          cust.select(col("c_custkey").as("lid"), col("c_name").as("name")),
          cust.select((col("c_custkey") + 1000000L).as("rid"), mutated.as("name")),
          "lid", "rid", "name", maxDist = 2)
        .orderBy(col("lid"), col("rid"))
    }),

    // the end-to-end dedup OUTPUT: one canonical doc per cluster
    "x24_dedup_canonical" -> ((s, d) =>
      docsWithDups(s, d).select(col("id"))
        .join(dupClusters(s, d).filter(col("root") =!= col("node"))
          .select(col("node").as("id")), Seq("id"), "left_anti")
        .orderBy(col("id"))),

    // bands=16 (r=2): per-pair collision prob at the j=0.5 threshold is
    // 1-(1-0.25)^16 ≈ 0.99 and >0.999 above j=0.6 — on this corpus LSH
    // recall is exact, so x03 carries the SAME full oracle as x02 (its
    // verified output must equal the exact relation, hash and all).
    "x03_dedup_minhash_lsh" -> ((s, d) =>
      minhashPairs(s, d).orderBy(col("a"), col("b"))),

    // INCREMENTAL dedup — the growing-corpus shape: the originals
    // (id < 10000) stand for the already-indexed corpus, the synthesized
    // copies (id >= 10000) for the incoming batch; pairs touching a new
    // doc, never old-vs-old. Same LSH params as x03, so the oracle is
    // the exact relation restricted to new-doc pairs (recall argument
    // identical to x03's).
    "x34_dedup_incremental" -> ((s, d) => {
      val sh = sharedShingles(s, d)
      Dedup.incrementalMinhashLshPairs(
          sh.filter(col("id") < 10000), sh.filter(col("id") >= 10000),
          numPerm = 32, bands = 16, threshold = 0.5)
        .orderBy(col("a"), col("b"))
    }),

    // recall gate: every synthesized EXACT-copy pair (jaccard 1.0 —
    // identical minhash signatures, collide in every band) must be in
    // the LSH output; anti-join => provably-empty oracle.
    "x03r_dedup_minhash_recall" -> ((s, d) => {
      val expected = Tables(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id").as("a"), (col("doc_id") + 10000).as("b"))
      expected.join(minhashPairs(s, d).select("a", "b"), Seq("a", "b"), "left_anti")
        .orderBy(col("a"))
    }),

    "x04_dedup_simhash" -> ((s, d) =>
      simhashPairs(s, d).orderBy(col("a"), col("b"))),

    // recall gate: exact copies have identical simhash (dist 0) and an
    // equal block in every position — they can never be missed.
    "x04r_dedup_simhash_recall" -> ((s, d) => {
      val expected = Tables(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id").as("a"), (col("doc_id") + 10000).as("b"))
      expected.join(simhashPairs(s, d).select("a", "b"), Seq("a", "b"), "left_anti")
        .orderBy(col("a"))
    }),

    // the 100×-safe declared plan: candidates from multi-table LSH
    // bucket collisions (identical vectors always collide), exact
    // scoring on collisions only — same oracle as the all-pairs form.
    "x05_embed_cosine_pairs" -> ((s, d) =>
      Similarity.cosinePairsBucketed(vecsWithDups(s, d), "id", "embedding",
          threshold = 0.95, nbits = 8, tables = 8)
        .orderBy(col("a"), col("b"))),

    // --- similarity search ------------------------------------------------
    // x06 and both precision gates derive from ONE memoized exhaustive
    // scoring relation — the full query-by-corpus pass is the family's
    // expensive stage and used to run three times
    "x06_ann_brute_topk" -> ((s, d) =>
      annExhaustive(s, d).filter(col("rank") <= 5)
        .orderBy(col("qid"), col("rank"))),

    "x07_ann_lsh_topk" -> ((s, d) =>
      annLsh(s, d).orderBy(col("qid"), col("rank"))),

    // precision gate: every (qid, nid, sim) the LSH path emits must
    // appear, score-identical, in the exhaustively-scored relation —
    // anti-join => provably-empty oracle.
    "x07p_ann_lsh_precision" -> ((s, d) =>
      annLsh(s, d).select("qid", "nid", "sim")
        .join(annExhaustive(s, d).select("qid", "nid", "sim"),
          Seq("qid", "nid", "sim"), "left_anti")
        .orderBy(col("qid"), col("nid"))),

    // IVF: the data-adaptive ANN scale path (coarse-quantize the corpus,
    // probe nearest cells). Approximate -> rows-only; its precision gate
    // below is oracle-gated, and nprobe=nlist equivalence to brute force
    // is asserted in DedupSimilaritySpec.
    "x16_ann_ivf_topk" -> ((s, d) =>
      annIvf(s, d).orderBy(col("qid"), col("rank"))),

    "x16p_ann_ivf_precision" -> ((s, d) =>
      annIvf(s, d).select("qid", "nid", "sim")
        .join(annExhaustive(s, d).select("qid", "nid", "sim"),
          Seq("qid", "nid", "sim"), "left_anti")
        .orderBy(col("qid"), col("nid"))),

    // Lloyd-refined IVF (spherical k-means centroids): same contract as
    // x16 — rows-only result, every emitted score exact (x56p), plus
    // the refinement-specific gate below.
    "x56_ann_ivf_refined_topk" -> ((s, d) =>
      annIvfRefined(s, d).orderBy(col("qid"), col("rank"))),

    "x56p_ann_ivf_refined_precision" -> ((s, d) =>
      annIvfRefined(s, d).select("qid", "nid", "sim")
        .join(annExhaustive(s, d).select("qid", "nid", "sim"),
          Seq("qid", "nid", "sim"), "left_anti")
        .orderBy(col("qid"), col("nid"))),

    // Gate (empty-set oracle): the spherical k-means objective (summed
    // cosine to the assigned centroid) must be non-decreasing across
    // rounds — normalize-then-mean makes each round a guaranteed
    // improvement step; a drop beyond float-sum jitter proves the
    // recompute or the assignment broke.
    "x56g_ivf_refine_gate" -> ((s, d) => {
      import s.implicits._
      // the trajectory of the SAME build x56/x56p serve from (the
      // memoized one) — the gate used to re-run an identical ~40-job
      // training just to read this Seq
      val objs = ivfRefinedObjectives(s, d)
      // Tolerance is RELATIVE to the objective: the float-sum jitter of
      // a non-deterministic partition order grows with corpus size, so
      // a fixed absolute epsilon would fire spuriously on larger tables.
      objs.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if b < a - 1e-9 * math.max(1.0, a.abs) =>
          (i + 1, s"objective fell $a -> $b")
      }.toSeq.toDF("round", "violation").orderBy(col("round"))
    }),

    // --- filtered ANN search (x114) -------------------------------------
    // "nearest among rows matching the predicate" with the predicate
    // INSIDE the cell scan and the probe width widened from the
    // MEASURED selectivity — see Similarity.ivfSearchFiltered. The
    // x12-convention stand-in predicate is vec_id % 97 == 0 (~1% of
    // the corpus — the rare-license shape). Rows-only (hash-seeded
    // cells aren't SQL-expressible); the precision + recall gates below
    // carry the oracles, and FilteredAnnSpec proves the naive
    // filter-after-top-k form loses neighbors this operator keeps.
    "x114_ann_filtered" -> ((s, d) =>
      annFiltered(s, d).orderBy(col("qid"), col("rank"))),

    // Gate (empty-set oracle): precision — every emitted (q, n, sim)
    // appears in the exhaustive relation over the FILTERED corpus. A
    // row = a fabricated score or a predicate leak (an unfiltered
    // neighbor served past the filter).
    "x114p_ann_filtered_precision" -> ((s, d) =>
      annFiltered(s, d).select("qid", "nid", "sim")
        .join(annFilteredExhaustive(s, d).select("qid", "nid", "sim"),
          Seq("qid", "nid", "sim"), "left_anti")
        .orderBy(col("qid"), col("nid"))),

    // Gate (empty-set oracle): recall — the exact top-k over the
    // filtered corpus, rank for rank, is fully recovered. THIS is the
    // contract a post-search filter breaks: its top-k is computed
    // before the predicate, so filtered true neighbors lose their
    // slots to unfiltered rows and vanish.
    "x114r_ann_filtered_recall" -> ((s, d) => {
      // precondition, not hope: rank-for-rank equality with brute force
      // only holds when the measured-selectivity widening SATURATES
      // (probeEff == nlist — every cell scanned, the search IS
      // exhaustive-over-kept). That is provably the case for this
      // fixture through sf0.1, but a larger sf could push keptN past
      // the saturation point and a true neighbor in an unprobed cell
      // would fail the gate even though the operator behaves as
      // designed — so the gate asserts the regime it is valid in and
      // raises a diagnostic (not a silent red row) outside it.
      val idx = ivfIndexShared(s, d)
      val keptN = idx.assignments.filter(x114Pred).count()
      val nlist = idx.centroids.count()
      val probeEff = Similarity.filteredProbeWidth(keptN, nlist,
        k = 5, nprobe = 4, oversample = 20.0)
      require(probeEff == nlist,
        s"x114r recall-EQUALITY gate requires widening saturation " +
          s"(probeEff $probeEff == nlist $nlist); at this scale the " +
          s"search is legitimately approximate — gate on recall@k >= " +
          s"threshold instead")
      annFilteredExhaustive(s, d).filter(col("rank") <= 5)
        .select("qid", "rank", "nid", "sim")
        .join(annFiltered(s, d).select("qid", "rank", "nid", "sim"),
          Seq("qid", "rank", "nid", "sim"), "left_anti")
        .orderBy(col("qid"), col("rank"))
    }),

    // --- IVF operating curve (x115) -------------------------------------
    // recall@k and scan fraction per nprobe in one pass over the stored
    // assignment relation (the x111 threshold-sweep pattern applied to
    // ANN serving) — the table a deployment picks nprobe from. Rows-only
    // (hash-seeded cells); the monotonicity + exhaustive-endpoint gate
    // below carries the oracle.
    "x115_ivf_operating_curve" -> ((s, d) =>
      ivfCurveShared(s, d).orderBy(col("nprobe"))),

    // Gate (empty-set oracle): the curve must be a valid operating
    // curve — recall non-decreasing in nprobe, scan fraction
    // non-decreasing, and recall exactly 1.0 at nprobe = nlist (every
    // cell probed = exhaustive search; the x56g shape, applied to the
    // serving dial).
    "x115g_ivf_curve_gate" -> ((s, d) => {
      import s.implicits._
      val rows = ivfCurveShared(s, d).orderBy(col("nprobe"))
        .select(col("nprobe"), col("recall_at_k"), col("scan_frac"))
        .as[(Int, Double, Double)].collect().toSeq
      val mono = rows.sliding(2).collect {
        case Seq((n1, r1, s1), (n2, r2, s2)) if r2 < r1 || s2 < s1 =>
          (n2, s"curve fell: recall $r1 -> $r2, scan $s1 -> $s2")
      }.toSeq
      val endpoint = rows.lastOption.collect {
        case (n, r, _) if r != 1.0 =>
          (n, s"recall at nprobe = nlist is $r, not 1.0")
      }.toSeq
      (mono ++ endpoint).toDF("nprobe", "violation").orderBy(col("nprobe"))
    }),

    // Incremental IVF maintenance: new vectors broadcast-assign into the
    // STORED index (centroids frozen, existing rows untouched) and
    // queries serve from the merged relation — per-batch cost
    // independent of index size (the x34 contract for embeddings).
    // Rows-only; precision + coverage gates below carry the oracles.
    "x70_ivf_append_topk" -> ((s, d) =>
      annIvfAppended(s, d).orderBy(col("qid"), col("rank"))),

    // precision gate: every score served from the merged index appears,
    // score-identical, in the exhaustive relation — anti-join => empty.
    "x70p_ivf_append_precision" -> ((s, d) =>
      annIvfAppended(s, d).select("qid", "nid", "sim")
        .join(annExhaustive(s, d).select("qid", "nid", "sim"),
          Seq("qid", "nid", "sim"), "left_anti")
        .orderBy(col("qid"), col("nid"))),

    // coverage gate: the merged index holds EVERY corpus vector exactly
    // once — an appended batch that lost, duplicated, or re-shuffled
    // existing rows emits a violation row => empty-set oracle.
    "x70g_ivf_append_coverage" -> ((s, d) => {
      val merged = ivfAppendAssignments(s, d)
      val dupes = merged.groupBy(col("nid")).agg(count(lit(1)).as("n"))
        .filter(col("n") =!= 1)
        .select(col("nid"), concat(lit("assigned "), col("n"), lit("x")).as("violation"))
      val missing = Tables(s, d, "embeddings")
        .select(col("vec_id").as("nid"))
        .join(merged.select(col("nid")), Seq("nid"), "left_anti")
        .select(col("nid"), lit("missing from merged index").as("violation"))
      dupes.unionByName(missing).orderBy(col("nid"))
    }),

    // k-means‖ (scalable k-means++, Bahmani et al. VLDB 2012) seeded
    // IVF: rounds of distance-weighted oversampling replace the hash
    // seed, the bounded candidate set reclusters on the driver, and the
    // SAME shared Lloyd loop refines — so the x56 contracts carry over.
    // Rows-only top-k; every emitted score exact (x98p); the
    // seeding-specific invariants + advantage are the two gates below.
    "x98_ann_ivf_kpp_topk" -> ((s, d) =>
      annIvfKpp(s, d).orderBy(col("qid"), col("rank"))),

    "x98p_ann_ivf_kpp_precision" -> ((s, d) =>
      annIvfKpp(s, d).select("qid", "nid", "sim")
        .join(annExhaustive(s, d).select("qid", "nid", "sim"),
          Seq("qid", "nid", "sim"), "left_anti")
        .orderBy(col("qid"), col("nid"))),

    // Gate (empty-set oracle), three clauses: (a) the k-means‖ cost
    // trace ψ is non-increasing (each round's candidates can only lower
    // every point's min distance — a rise proves the scan-side update
    // broke); (b) every round's draw respects the structural candidate
    // cap (driver state stays bounded by construction, not just in
    // expectation); (c) the Lloyd objective over the k-means‖ seed is
    // non-decreasing (the x56g contract must hold for EVERY seed path).
    "x98g_kpp_invariants_gate" -> ((s, d) => {
      import s.implicits._
      // trajectories of the SAME build x98/x98p serve from (the
      // memoized one) — the gate used to re-run an identical ~48-job
      // training just to read three driver Seqs
      val (costs, draws, objectives) = ivfKppTrajectories(s, d)
      val viol = Seq.newBuilder[(String, String)]
      costs.sliding(2).zipWithIndex.foreach {
        case (Seq(a, b), i) if b > a + 1e-9 * math.max(1.0, a.abs) =>
          viol += ((f"cost_$i%02d", s"psi rose $a -> $b"))
        case _ =>
      }
      draws.zipWithIndex.foreach { case (n, i) =>
        if (n > Similarity.KppRoundCap.toLong * 8)
          viol += ((f"draw_$i%02d", s"$n candidates exceeds cap"))
      }
      objectives.sliding(2).zipWithIndex.foreach {
        case (Seq(a, b), i) if b < a - 1e-9 * math.max(1.0, a.abs) =>
          viol += ((f"lloyd_$i%02d", s"objective fell $a -> $b"))
        case _ =>
      }
      viol.result().toDF("clause", "violation").orderBy(col("clause"))
    }),

    // Gate (empty-set oracle): on the clustered fixture the k-means‖
    // seed's assignment objective beats the hash seed's by the declared
    // factor at equal config — deliberately sensitive to dropping the
    // smarter seeding (the forceHash spec hook makes the two programs
    // identical and the bar fail).
    "x98a_kpp_advantage_gate" -> ((s, d) => {
      import s.implicits._
      seedAdvantage(s, d, forceHash = false)
        .toDF("clause", "violation").orderBy(col("clause"))
    }),

    // --- cross-split leakage audit --------------------------------------
    // The doc_id-hash split (x22) is ID-disjoint but not CONTENT-
    // disjoint: a duplicated document whose copies hash into different
    // splits leaks eval content into training — the train/test
    // contamination mode ID-level splitting cannot see. The audit keys
    // both sides by the x01 normalized content hash and reports every
    // (train doc, eval doc) pair sharing a hash. One equi-join on the
    // content hash (the x01 shuffle shape — scales like exact dedup);
    // split reuses the ONE x22 hashPrefix definition, so a split
    // retune cannot silently diverge from the audit. FULL SQL oracle.
    "x100_split_leakage" -> ((s, d) => {
      val split =
        when(SamplingQueries.hashPrefix(col("id")) <= SamplingQueries.TrainHi, "train")
          .when(SamplingQueries.hashPrefix(col("id")) <= SamplingQueries.ValHi, "val")
          .otherwise("test")
      val docs = docsWithDups(s, d).filter(col("text").isNotNull)
        .select(col("id"), md5(lower(trim(col("text")))).as("h"), split.as("split"))
      docs.filter(col("split") === "train")
        .select(col("id").as("train_id"), col("h"))
        .join(docs.filter(col("split") =!= "train")
          .select(col("id").as("eval_id"), col("split"), col("h")), Seq("h"))
        .select(col("train_id"), col("eval_id"), col("split"))
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // leakage rate per eval split: distinct leaked eval docs / split
    // size — the headline number an audit dashboard shows
    "x100s_leakage_rate" -> ((s, d) =>
      queries("x100_split_leakage")(s, d)
        .groupBy(col("split"))
        .agg(countDistinct(col("eval_id")).as("leaked"))
        .orderBy(col("split"))),

    // --- corpus dedup-planning profiles ---------------------------------
    // Duplicate-multiplicity profile: how the corpus' duplication mass
    // distributes over cluster sizes (csize=1 singletons, csize=k
    // k-way copies) — the table that sizes a dedup run before paying
    // for it. Two map-side-combinable aggregations: the first is the
    // x01 exact-dedup shuffle shape (content-hash keyed), the second
    // groups the CLUSTER-SIZED relation by an integer. FULL oracle.
    "x112_dup_profile" -> ((s, d) => {
      val h = md5(lower(trim(col("text"))))
      docsWithDups(s, d).filter(col("text").isNotNull)
        .select(h.as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"),
          sum(col("csize")).as("n_docs"))
        .orderBy(col("csize"))
    }),

    // Corpus-wide heavy 5-grams (the WIMBD-style "what repeats most"
    // profile) over the dup-synthesized corpus: top-10 by count with a
    // gram-asc tie-break and each gram's share of total 5-gram mass.
    // ONE corpus explode: per-gram counts aggregate map-side and the
    // top-k plans as TakeOrderedAndProject (per-partition heaps, never
    // a global sort). The TOTAL never explodes anything — per doc it
    // is just max(len-4, 1), summed in a scan-side aggregate (the
    // original form re-ran the 15M-row explode for a bare count, 8 s
    // at sf0.1 for what a token-length sum answers). FULL oracle.
    "x113_top_ngrams" -> ((s, d) => {
      val docs = docsWithDups(s, d).filter(col("text").isNotNull)
      val total = docs
        .select(greatest(size(tokens(col("text"))) - 4, lit(1)).as("nw"))
        .agg(sum(col("nw"))).head().getLong(0).toDouble
      docs.select(explode(windowGrams(tokens(col("text")), 5)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("g")).limit(10)
        .select(col("g").as("gram"), col("n"),
          round(col("n") / lit(total), 6).as("mass_frac"))
    }),

    // --- content-group split (the FIX for what x100 audits) ------------
    // Split by the hash of the NORMALIZED CONTENT instead of the doc
    // id: byte-equal duplicates share the split key, so exact-dup
    // train/eval leakage is impossible BY CONSTRUCTION rather than
    // audited after the fact (sklearn's GroupShuffleSplit idea, with
    // content as the group). Same scan-level-predicate properties as
    // x22 — no RNG, no shuffle, membership stable under partitioning
    // and corpus growth. NEAR-dup pairs can still straddle (their
    // content hashes are independent) — x110n below closes that by
    // grouping on the x23/x24 canonical cluster id. FULL oracle.
    "x110_group_split" -> ((s, d) => {
      val h = md5(lower(trim(col("text"))))
      val split =
        when(SamplingQueries.hashPrefix(h) <= SamplingQueries.TrainHi, "train")
          .when(SamplingQueries.hashPrefix(h) <= SamplingQueries.ValHi, "val")
          .otherwise("test")
      docsWithDups(s, d).filter(col("text").isNotNull)
        .select(col("id"), split.as("split"))
        .orderBy(col("id"))
    }),

    // Gate: the x100 leakage audit run against the GROUP split — empty
    // by construction (equal content hash => equal split key). The
    // oracle is the HONEST full audit SQL (DuckDB computes the same
    // empty join), not an empty-set literal.
    "x110g_group_leakage_gate" -> ((s, d) => {
      val h = md5(lower(trim(col("text"))))
      val split =
        when(SamplingQueries.hashPrefix(h) <= SamplingQueries.TrainHi, "train")
          .when(SamplingQueries.hashPrefix(h) <= SamplingQueries.ValHi, "val")
          .otherwise("test")
      val docs = docsWithDups(s, d).filter(col("text").isNotNull)
        .select(col("id"), h.as("h"), split.as("split"))
      docs.filter(col("split") === "train")
        .select(col("id").as("train_id"), col("h"))
        .join(docs.filter(col("split") =!= "train")
          .select(col("id").as("eval_id"), col("split"), col("h")), Seq("h"))
        .select(col("train_id"), col("eval_id"), col("split"))
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // --- cluster-group split (NEAR-dup-proof, the x110 escalation) -----
    // x110's content-hash group key makes exact-dup leakage impossible,
    // but a NEAR-dup pair (the x02/x23 >= 0.5-Jaccard relation) hashes
    // to two independent keys and can straddle train/eval — exactly the
    // paraphrase leakage x97 demonstrated matters. Here the group key
    // is the x23/x24 canonical CLUSTER id (connected components over
    // the verified near-dup pairs; a singleton's cluster is itself), so
    // any two docs related by ANY chain of near-duplication share the
    // split key by construction. The cluster map is a (node, root) pair
    // per CLUSTERED doc only — at corpus scale a small fraction of the
    // corpus, one equi-join against the scan (broadcastable when dup
    // rates are web-typical); singletons take the null-root coalesce
    // path and never shuffle. FULL oracle: DuckDB computes the same
    // clusters with x23's recursive-CTE transitive closure.
    "x110n_cluster_group_split" -> ((s, d) => {
      val g = coalesce(col("root"), col("id")).cast("long")
      val split =
        when(SamplingQueries.hashPrefix(g) <= SamplingQueries.TrainHi, "train")
          .when(SamplingQueries.hashPrefix(g) <= SamplingQueries.ValHi, "val")
          .otherwise("test")
      docsWithDups(s, d).filter(col("text").isNotNull)
        .join(dupClusters(s, d).withColumnRenamed("node", "id"),
          Seq("id"), "left")
        .select(col("id"), split.as("split"))
        .orderBy(col("id"))
    }),

    // Gate: the near-dup leakage audit x110's content split CANNOT pass
    // (NearDupSplitSpec proves the same join is non-empty there) run
    // against the CLUSTER split — empty by construction: a >= 0.5-
    // Jaccard pair is an edge, edges land in one component, components
    // have one root, roots have one split. The oracle is the HONEST
    // full audit SQL (recursive-CTE clusters + the pair relation +
    // the same anti-equality join), not an empty-set literal.
    "x110ng_cluster_leakage_gate" -> ((s, d) => {
      val g = coalesce(col("root"), col("id")).cast("long")
      val split =
        when(SamplingQueries.hashPrefix(g) <= SamplingQueries.TrainHi, "train")
          .when(SamplingQueries.hashPrefix(g) <= SamplingQueries.ValHi, "val")
          .otherwise("test")
      val lab = docsWithDups(s, d).filter(col("text").isNotNull)
        .join(dupClusters(s, d).withColumnRenamed("node", "id"),
          Seq("id"), "left")
        .select(col("id"), split.as("split"))
      jaccardPairs(s, d).select(col("a"), col("b"))
        .join(lab.select(col("id").as("a"), col("split").as("split_a")), Seq("a"))
        .join(lab.select(col("id").as("b"), col("split").as("split_b")), Seq("b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("a"), col("b"), col("split_a"), col("split_b"))
        .orderBy(col("a"), col("b"))
    }),

    // --- near-dup threshold operating curve (x116) ----------------------
    // The x111/x115 sweep applied to the dedup dial: for each Jaccard
    // threshold in {0.50, 0.55, …, 1.00}, how many verified pairs
    // survive and how many documents carry at least one >= thr pair
    // (the upper bound on docs a dedup at thr would touch) — the
    // planning table that picks the near-dup threshold for a retention
    // target BEFORE paying for the full dedup (the x112/x113 family).
    // ONE pass over the x02 pair relation: integer centi-Jaccard
    // buckets (jc DIV 5 >= i ⟺ jaccard >= i·0.05 exactly on the
    // 5%-grid — no float seam), per-doc MAX bucket, generator suffix
    // sums; no join, no per-threshold rescan. FULL oracle.
    "x116_neardup_threshold_curve" -> ((s, d) => {
      val withJc = jaccardPairs(s, d)
        .select(col("a"), col("b"),
          expr("CAST(round(jaccard * 100) AS INT) DIV 5").as("bk"))
      val pAt = withJc.groupBy(col("bk")).agg(count(lit(1)).as("np"))
        .select(explode(sequence(lit(10L), col("bk").cast("long"))).as("i"),
          col("np"), lit(0L).as("nd"))
      val dAt = withJc
        .select(explode(array(col("a"), col("b"))).as("id"), col("bk"))
        .groupBy(col("id")).agg(max(col("bk")).as("mbk"))
        .groupBy(col("mbk")).agg(count(lit(1)).as("nd"))
        .select(explode(sequence(lit(10L), col("mbk").cast("long"))).as("i"),
          lit(0L).as("np"), col("nd"))
      val zeros = s.range(10, 21)
        .select(col("id").as("i"), lit(0L).as("np"), lit(0L).as("nd"))
      pAt.unionByName(dAt).unionByName(zeros)
        .groupBy(col("i"))
        .agg(sum(col("np")).as("n_pairs"), sum(col("nd")).as("n_docs"))
        .select((col("i") * 5).cast("int").as("thr_pct"),
          col("n_pairs"), col("n_docs"))
        .orderBy(col("thr_pct"))
    }),

    // --- skew handling ----------------------------------------------------
    // salted shuffle join: identical relation to the plain join (the
    // oracle IS the unsalted SQL); the salt spreads each hot orderkey
    // across 8 shuffle partitions. Hot keys come from a single-pass
    // frequent-items sketch over the probe, so ONLY measured-hot keys
    // replicate build rows — cold keys (salt 0, single build copy) pay
    // nothing. Sketch false positives merely over-replicate a few keys;
    // the result is the plain join either way. Money leaves as integer
    // cents.
    "x20_salted_join" -> ((s, d) => {
      val probe = Tables(s, d, "lineitem").select(col("l_orderkey").as("okey"),
        col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      val build = Tables(s, d, "orders").select(col("o_orderkey").as("okey"),
        col("o_custkey"), col("o_orderstatus"))
      val hot = probe.stat.freqItems(Array("okey"), 0.001)
        .select(explode(col("okey_freqItems")).as("okey"))
      Skew.saltedJoinHot(probe, build, "okey", nSalt = 8, hotKeys = hot)
        .orderBy(col("okey"), col("l_linenumber"), col("price_cents"))
    }),

    // --- text analysis -----------------------------------------------------
    "x08_lang_id" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), TA.languageId(col("text")).as("predicted"))
        .orderBy(col("doc_id"))),

    "x09_quality_score" -> ((s, d) =>
      TA.qualityFeatures(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    "x10_token_count" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"),
          TA.tokenCount(col("text")).as("ws_tokens"),
          TA.bpeishTokenCount(col("text")).as("bpeish_tokens"))
        .orderBy(col("doc_id"))),

    "x11_fingerprint" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // --- multimodal decode (real PNG/JPEG/GIF header parse) ---------------
    // Each doc carries a REAL image blob (ImageIO-encoded PNG/JPEG, a
    // spec-valid handcrafted animated GIF) whose dimensions/frames are
    // deterministic arithmetic on doc_id — so the decoded metadata has
    // a full SQL oracle: DuckDB recomputes format/width/height/frames
    // from doc_id alone, and a hash match proves the byte-level header
    // parse recovered exactly what the encoders wrote.
    "x12_multimodal_meta" -> ((s, d) =>
      decodedMeta(s, d)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_frames"))
        .orderBy(col("doc_id"))),

    // gate: the JVM header parser (MediaCodec.sniff) must agree with
    // TWO independent decoders on the same real image bytes — (a) a
    // pure-Catalyst fixed-offset recompute of the PNG/GIF headers and
    // (b) a full JDK ImageIO decode (format, dimensions, GIF frame
    // count). Divergence in any field emits a row => empty-set oracle.
    // TextAnalysisSpec proves the gate has teeth (a tampered field
    // fires it) and pins exact fixture dimensions.
    "x12g_multimodal_meta_gate" -> ((s, d) => {
      val decoded = decodedMeta(s, d)
      Multimodal.metaMismatches(decoded,
          Multimodal.expectedMeta(mediaBlobs(s, d)))
        .unionByName(
          Multimodal.imageIoMismatchesFrom(decoded, imageIoMeta(s, d)))
        .orderBy(col("doc_id"), col("chk"))
    }),

    // REAL pixel decode with a FULL SQL oracle: whole-image mean RGB
    // over the PNG fixtures. PNG is lossless, so the decoded plane must
    // be EXACTLY the encoded solid color and the channel means are pure
    // doc_id arithmetic — DuckDB recomputes them from doc_id alone and
    // a hash match proves the pixel path end-to-end (encoder → bytes →
    // ImageIO → per-pixel accumulation). JPEG (lossy) and GIF
    // (palette-mapped) pixels are covered by MultimodalSpec and x83e.
    "x83_multimodal_pixel_stats" -> ((s, d) =>
      pixelProfile(s, d)
        .filter(col("is_pixels") && col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"), col("n_px"))
        .orderBy(col("doc_id"))),

    // the multimodal -> similarity bridge on REAL pixels: grid-pooled
    // color-layout descriptors (pixelFeatures) ranked by exact cosine
    // for 10 image queries. Rows-only (ImageIO decode in the loop); the
    // descriptor algebra and the fallback flag are pinned by spec.
    "x83e_pixel_embed_topk" -> ((s, d) => {
      val feats = pixelProfile(s, d).filter(col("is_pixels"))
        .select(col("doc_id"), col("embedding"))
      Similarity.bruteForceTopK(feats.filter(col("doc_id") < 10), feats,
        "doc_id", "embedding", k = 5)
        .orderBy(col("qid"), col("rank"))
    }),

    // x83e's declared companion gate (empty-set oracle): the same
    // descriptor algebra (pixelProfile grid descriptors ranked by
    // bruteForceTopK cosine) over a twin-paired fixture — 10 separated
    // solid colors each encoded through BOTH the PNG and the GIF JDK
    // writer path. Clauses: every blob decodes to pixels, every rank-1
    // cosine is 1.0 (the exact cross-format duplicate is present), and
    // the rank-1 neighbor IS the twin. MultimodalSpec proves the gate
    // has teeth (tampered descriptors fire each clause).
    "x83eg_pixel_embed_gate" -> ((s, d) => {
      val feats = once(s, d, "pixel_embed_gate_feats") {
        Multimodal.pixelFeatures(s,
          Multimodal.twinFormatBlobs(s, off = 100L), grid = 2)
      }
      Multimodal.pixelEmbedGateRows(feats, off = 100L)
    }),

    // perceptual image dedup: dHash signatures over a gradient-image
    // corpus UNION brightness-shifted re-encodes of every image — the
    // "same photo, different exposure" class whose BYTES share nothing
    // (content-hash dedup is blind to it), paired by the x04 pigeonhole
    // Hamming blocking. Rows-only; the recall gate below is the
    // correctness contract.
    "x87_image_dhash_pairs" -> ((s, d) =>
      Dedup.hammingPairsFromSignatures(imageDhashSigs(s, d), maxDist = 3)
        .orderBy(col("a"), col("b"))),

    // gate (empty-set oracle): every original must pair with its
    // brightness-shifted twin — a clip-free uniform shift commutes with
    // the downscale average and preserves every dHash comparison, so
    // the twin's signature is IDENTICAL and the pigeonhole join cannot
    // miss it.
    "x87g_image_dhash_recall" -> ((s, d) => {
      val pairs = Dedup.hammingPairsFromSignatures(
        imageDhashSigs(s, d), maxDist = 3)
      Tables(s, d, "documents").select(col("doc_id")).filter(col("doc_id") < 500)
        .select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
        .join(pairs.select(col("a"), col("b")), Seq("a", "b"), "left_anti")
        .orderBy(col("a"))
    }),

    // --- paragraph hygiene (FineWeb/C4 passes) ----------------------------
    // corpus-frequency paragraph dedup over the dup-synthesized corpus:
    // exact-copy docs lose every paragraph, tail-modified copies keep
    // only their divergent tail chunk
    "x40_para_dedup" -> ((s, d) =>
      ParagraphOps.paragraphDedup(rebalanced(docsWithDups(s, d)), "id", "text",
          width = 8, maxDf = 1)
        .orderBy(col("id"))),

    // per-source boilerplate strip: the synthetic 8-token source header
    // (present in 100% of a source's docs) must vanish, the body chunks
    // (each in ~1 doc, far under the 50% bar) must all survive
    "x41_boilerplate_strip" -> ((s, d) =>
      ParagraphOps.boilerplateStrip(rebalanced(docsWithBoiler(s, d)),
          "id", "text", "source", width = 8, minFrac = 0.5)
        .orderBy(col("id"))),

    // corpus-trained bigram LM score (CCNet-style perplexity filter)
    "x42_bigram_logprob" -> ((s, d) =>
      TA.bigramLogProb(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy(col("id"))),

    // reference-LM scoring: train the bigram LM on the x22 TRAIN split,
    // score the held-out TEST split (the CCNet deployment — a clean
    // reference LM judges candidate text; unseen grams take the
    // add-one floor)
    "x48_bigram_logprob_split" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      TA.bigramLogProbAgainst(
          docs.filter(SamplingQueries.hashPrefix(col("doc_id")) <= SamplingQueries.TrainHi),
          docs.filter(SamplingQueries.hashPrefix(col("doc_id")) > SamplingQueries.ValHi),
          "doc_id", "text")
        .orderBy(col("id"))
    }),

    // Lee et al. span-level dedup: rewrite documents by removing every
    // repeated 5-token span (globally-first occurrence survives) — the
    // exact-substring family's rewrite form over the dup-synthesized
    // corpus (exact copies hollow out, tail-modified copies keep only
    // their divergent tail tokens)
    "x46_span_dedup" -> ((s, d) =>
      Contamination.dropRepeatedSpans(rebalanced(docsWithDups(s, d)),
          "id", "text", k = 5)
        .orderBy(col("id"))),

    // NFC canonicalization (native Normalizer expression with the
    // isNormalized fast path). The corpus is ASCII, so the declared
    // query appends a DECOMPOSED accent (e + U+0301) from a literal on
    // both engines — the composition to é is what the oracle checks.
    "x44_unicode_normalize" -> ((s, d) => {
      graft.functions.GraftExtensions.register(s)
      val raw = concat(col("text"), lit(" cafe\u0301"))
      Tables(s, d, "documents").select(col("doc_id").as("id"),
        graft.functions.GraftExtensions.unicodeNormalize(raw, "NFC")
          .as("norm_text"),
        length(raw).as("n_raw"),
        length(graft.functions.GraftExtensions.unicodeNormalize(raw, "NFC"))
          .as("n_norm"))
        .orderBy(col("id"))
    })
  )

  /** x71's oracle: the same 5 integer-arithmetic rounds unrolled as
    * chained CTEs (DuckDB `//` floors exactly like Spark's `div`; the
    * BIGINT sums promote to HUGEINT and cast back losslessly).
    */
  private def pagerankOracle: String = {
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    CAST(150000000000 + (85 * sum(r.rank // d.outdeg)) // 100 AS BIGINT) AS rank
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.src JOIN outdeg d ON d.src = e.src
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH el AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |), edges AS (
       |  SELECT c AS src, s AS dst FROM el UNION ALL SELECT s, c FROM el
       |), outdeg AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1
       |), r0 AS (
       |  SELECT DISTINCT src AS node, CAST(1000000000000 AS BIGINT) AS rank FROM edges
       |),
       |$rounds
       |SELECT node, rank FROM r5 ORDER BY node""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "x71_pagerank" -> pagerankOracle,

    "x103_triangle_count" ->
      """WITH e AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |), t AS (
        |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), n AS (
        |  SELECT ta AS node FROM t
        |  UNION ALL SELECT tb FROM t
        |  UNION ALL SELECT tc FROM t
        |)
        |SELECT node, COUNT(*) AS triangles
        |FROM n GROUP BY node ORDER BY node""".stripMargin,

    "x72_fuzzy_join" ->
      """WITH l AS (
        |  SELECT c_custkey AS lid, c_name AS name
        |  FROM customer WHERE c_custkey < 300
        |), m AS (
        |  SELECT c_custkey + 1000000 AS rid,
        |    substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT)) || 'q' ||
        |    substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2) AS name
        |  FROM customer WHERE c_custkey < 300
        |)
        |SELECT l.lid, m.rid, CAST(levenshtein(l.name, m.name) AS INT) AS dist
        |FROM l, m
        |WHERE abs(length(l.name) - length(m.name)) <= 2
        |  AND levenshtein(l.name, m.name) <= 2
        |ORDER BY lid, rid""".stripMargin,
    "x01_dedup_exact" ->
      s"""WITH $docsWithDupsSql
         |SELECT id FROM (
         |  SELECT id, row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY id) AS rn
         |  FROM docs WHERE text IS NOT NULL
         |) WHERE rn = 1
         |UNION ALL SELECT id FROM docs WHERE text IS NULL
         |ORDER BY id""".stripMargin,

    "x02_dedup_ngram_jaccard" ->
      s"""WITH $docsWithDupsSql,
         |tok AS (SELECT id, string_split_regex(lower(trim(text)), '\\s+') AS ts FROM docs),
         |sh AS (
         |  SELECT DISTINCT id, array_to_string(ts[i:i+2], ' ') AS shingle
         |  FROM tok, unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS t(i)
         |  WHERE array_to_string(ts[i:i+2], ' ') <> ''
         |),
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT x.id AS a, y.id AS b, count(*) AS icnt
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
         |  GROUP BY 1, 2
         |)
         |SELECT a, b, jaccard FROM (
         |  SELECT a, b, CAST(icnt AS DOUBLE) / (sa.sz + sb.sz - icnt) AS jaccard
         |  FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
         |) WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,

    // x03 carries the SAME exact-Jaccard oracle as x02: at bands=16
    // (r=2) the per-pair collision probability at the j=0.5 threshold is
    // 1-(1-0.25)^16 ≈ 0.99 and >0.999 above j=0.6, and every LSH
    // candidate is exact-verified — on this corpus recall is exact, so
    // the LSH output must equal the exact all-pairs relation, hash and
    // all (confirmed: identical 115 rows in round 2).
    "x03_dedup_minhash_lsh" ->
      s"""WITH $docsWithDupsSql,
         |tok AS (SELECT id, string_split_regex(lower(trim(text)), '\\s+') AS ts FROM docs),
         |sh AS (
         |  SELECT DISTINCT id, array_to_string(ts[i:i+2], ' ') AS shingle
         |  FROM tok, unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS t(i)
         |  WHERE array_to_string(ts[i:i+2], ' ') <> ''
         |),
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT x.id AS a, y.id AS b, count(*) AS icnt
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
         |  GROUP BY 1, 2
         |)
         |SELECT a, b, jaccard FROM (
         |  SELECT a, b, CAST(icnt AS DOUBLE) / (sa.sz + sb.sz - icnt) AS jaccard
         |  FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
         |) WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,

    // Connected components in DuckDB: the shared nearDupCcSql chain
    // (recursive-CTE transitive closure over the >= 0.5 Jaccard pairs).
    "x23_dedup_clusters" ->
      s"""WITH RECURSIVE $docsWithDupsSql,
         |$nearDupCcSql
         |SELECT node, root FROM cc ORDER BY node""".stripMargin,

    "x24_dedup_canonical" ->
      s"""WITH RECURSIVE $docsWithDupsSql,
         |$nearDupCcSql
         |SELECT id FROM docs
         |WHERE id NOT IN (SELECT node FROM cc WHERE root <> node)
         |ORDER BY id""".stripMargin,

    "x34_dedup_incremental" ->
      s"""WITH $docsWithDupsSql,
         |tok AS (SELECT id, string_split_regex(lower(trim(text)), '\\s+') AS ts FROM docs),
         |sh AS (
         |  SELECT DISTINCT id, array_to_string(ts[i:i+2], ' ') AS shingle
         |  FROM tok, unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS t(i)
         |  WHERE array_to_string(ts[i:i+2], ' ') <> ''
         |),
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT x.id AS a, y.id AS b, count(*) AS icnt
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
         |  GROUP BY 1, 2
         |)
         |SELECT a, b, jaccard FROM (
         |  SELECT a, b, CAST(icnt AS DOUBLE) / (sa.sz + sb.sz - icnt) AS jaccard
         |  FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
         |) WHERE jaccard >= 0.5 AND (a >= 10000 OR b >= 10000)
         |ORDER BY a, b""".stripMargin,

    // The gates' PASS condition is the empty set (anti-join of a
    // provably-contained relation): the oracle is an empty relation
    // with the matching schema.
    "x03r_dedup_minhash_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b WHERE false",

    "x04r_dedup_simhash_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b WHERE false",

    "x07p_ann_lsh_precision" ->
      """SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid,
        |  CAST(NULL AS DOUBLE) AS sim WHERE false""".stripMargin,

    "x16p_ann_ivf_precision" ->
      """SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid,
        |  CAST(NULL AS DOUBLE) AS sim WHERE false""".stripMargin,

    "x56p_ann_ivf_refined_precision" ->
      """SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid,
        |  CAST(NULL AS DOUBLE) AS sim WHERE false""".stripMargin,

    "x56g_ivf_refine_gate" ->
      """SELECT CAST(NULL AS INT) AS round, CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,

    "x114p_ann_filtered_precision" ->
      """SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid,
        |  CAST(NULL AS DOUBLE) AS sim WHERE false""".stripMargin,

    "x114r_ann_filtered_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS INT) AS rank,
        |  CAST(NULL AS BIGINT) AS nid, CAST(NULL AS DOUBLE) AS sim
        |WHERE false""".stripMargin,

    "x115g_ivf_curve_gate" ->
      """SELECT CAST(NULL AS INT) AS nprobe, CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,

    "x70p_ivf_append_precision" ->
      """SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid,
        |  CAST(NULL AS DOUBLE) AS sim WHERE false""".stripMargin,

    "x70g_ivf_append_coverage" ->
      """SELECT CAST(NULL AS BIGINT) AS nid, CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,

    "x98p_ann_ivf_kpp_precision" ->
      """SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid,
        |  CAST(NULL AS DOUBLE) AS sim WHERE false""".stripMargin,

    "x100_split_leakage" ->
      s"""WITH $docsWithDupsSql,
         |h AS (
         |  SELECT id, md5(lower(trim(text))) AS h,
         |    CASE WHEN substr(md5(CAST(id AS VARCHAR)), 1, 2) <= 'cb' THEN 'train'
         |         WHEN substr(md5(CAST(id AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM docs WHERE text IS NOT NULL
         |)
         |SELECT t.id AS train_id, e.id AS eval_id, e.split
         |FROM h t JOIN h e ON t.h = e.h
         |WHERE t.split = 'train' AND e.split <> 'train'
         |ORDER BY train_id, eval_id""".stripMargin,

    "x100s_leakage_rate" ->
      s"""WITH $docsWithDupsSql,
         |h AS (
         |  SELECT id, md5(lower(trim(text))) AS h,
         |    CASE WHEN substr(md5(CAST(id AS VARCHAR)), 1, 2) <= 'cb' THEN 'train'
         |         WHEN substr(md5(CAST(id AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM docs WHERE text IS NOT NULL
         |)
         |SELECT e.split, count(DISTINCT e.id) AS leaked
         |FROM h t JOIN h e ON t.h = e.h
         |WHERE t.split = 'train' AND e.split <> 'train'
         |GROUP BY e.split ORDER BY e.split""".stripMargin,

    "x112_dup_profile" ->
      s"""WITH $docsWithDupsSql,
         |g AS (
         |  SELECT md5(lower(trim(text))) AS h, count(*) AS csize
         |  FROM docs WHERE text IS NOT NULL GROUP BY 1
         |)
         |SELECT csize, count(*) AS n_clusters, CAST(sum(csize) AS BIGINT) AS n_docs
         |FROM g GROUP BY csize ORDER BY csize""".stripMargin,

    "x113_top_ngrams" ->
      s"""WITH $docsWithDupsSql,
         |tok AS (
         |  SELECT id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ts
         |  FROM docs WHERE text IS NOT NULL
         |),
         |w AS (
         |  SELECT array_to_string(ts[i : i + 4], ' ') AS g
         |  FROM tok, unnest(generate_series(1, greatest(len(ts) - 4, 1))) AS t(i)
         |),
         |c AS (SELECT g, count(*) AS n FROM w GROUP BY g)
         |SELECT g AS gram, n,
         |  round(CAST(n AS DOUBLE) / (SELECT count(*) FROM w), 6) AS mass_frac
         |FROM c ORDER BY n DESC, g LIMIT 10""".stripMargin,

    "x110_group_split" ->
      s"""WITH $docsWithDupsSql
         |SELECT id,
         |  CASE WHEN substr(md5(md5(lower(trim(text)))), 1, 2) <= 'cb' THEN 'train'
         |       WHEN substr(md5(md5(lower(trim(text)))), 1, 2) <= 'e5' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM docs WHERE text IS NOT NULL
         |ORDER BY id""".stripMargin,

    "x110g_group_leakage_gate" ->
      s"""WITH $docsWithDupsSql,
         |lab AS (
         |  SELECT id, md5(lower(trim(text))) AS h,
         |    CASE WHEN substr(md5(md5(lower(trim(text)))), 1, 2) <= 'cb' THEN 'train'
         |         WHEN substr(md5(md5(lower(trim(text)))), 1, 2) <= 'e5' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM docs WHERE text IS NOT NULL
         |)
         |SELECT t.id AS train_id, e.id AS eval_id, e.split
         |FROM lab t JOIN lab e ON t.h = e.h
         |WHERE t.split = 'train' AND e.split <> 'train'
         |ORDER BY train_id, eval_id""".stripMargin,

    // FULL oracle for the cluster-group split: DuckDB recomputes the
    // x23 clusters (shared nearDupCcSql chain) and hashes the same
    // coalesce(root, id) group key. Spark's md5(CAST(long AS STRING))
    // and DuckDB's md5(CAST(BIGINT AS VARCHAR)) agree on the decimal
    // rendering, the x22 hashPrefix convention.
    // same pair chain as x02 (inter/sizes), then the integer
    // centi-Jaccard bucket arithmetic the engine uses verbatim
    "x116_neardup_threshold_curve" ->
      s"""WITH $docsWithDupsSql,
         |tok AS (SELECT id, string_split_regex(lower(trim(text)), '\\s+') AS ts FROM docs),
         |sh AS (
         |  SELECT DISTINCT id, array_to_string(ts[i:i+2], ' ') AS shingle
         |  FROM tok, unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS t(i)
         |  WHERE array_to_string(ts[i:i+2], ' ') <> ''
         |),
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT x.id AS a, y.id AS b, count(*) AS icnt
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
         |  GROUP BY 1, 2
         |),
         |p2 AS (
         |  SELECT a, b, CAST(round(jaccard * 100) AS INT) // 5 AS bk FROM (
         |    SELECT a, b, CAST(icnt AS DOUBLE) / (sa.sz + sb.sz - icnt) AS jaccard
         |    FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
         |  ) WHERE jaccard >= 0.5
         |),
         |pb AS (SELECT bk, count(*) AS np FROM p2 GROUP BY bk),
         |db AS (
         |  SELECT id, max(bk) AS mbk FROM (
         |    SELECT a AS id, bk FROM p2 UNION ALL SELECT b, bk FROM p2
         |  ) GROUP BY id
         |),
         |dbb AS (SELECT mbk, count(*) AS nd FROM db GROUP BY mbk),
         |t AS (SELECT unnest(generate_series(10, 20)) AS i)
         |SELECT CAST(i * 5 AS INT) AS thr_pct,
         |  CAST(coalesce((SELECT sum(np) FROM pb WHERE pb.bk >= t.i), 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce((SELECT sum(nd) FROM dbb WHERE dbb.mbk >= t.i), 0) AS BIGINT) AS n_docs
         |FROM t ORDER BY thr_pct""".stripMargin,

    "x110n_cluster_group_split" ->
      s"""WITH RECURSIVE $docsWithDupsSql,
         |$nearDupCcSql,
         |g AS (
         |  SELECT d.id,
         |    substr(md5(CAST(coalesce(cc.root, d.id) AS VARCHAR)), 1, 2) AS hp
         |  FROM docs d LEFT JOIN cc ON cc.node = d.id
         |  WHERE d.text IS NOT NULL
         |)
         |SELECT id,
         |  CASE WHEN hp <= 'cb' THEN 'train'
         |       WHEN hp <= 'e5' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM g ORDER BY id""".stripMargin,

    "x110ng_cluster_leakage_gate" ->
      s"""WITH RECURSIVE $docsWithDupsSql,
         |$nearDupCcSql,
         |lab AS (
         |  SELECT d.id,
         |    CASE WHEN substr(md5(CAST(coalesce(cc.root, d.id) AS VARCHAR)), 1, 2) <= 'cb' THEN 'train'
         |         WHEN substr(md5(CAST(coalesce(cc.root, d.id) AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM docs d LEFT JOIN cc ON cc.node = d.id
         |  WHERE d.text IS NOT NULL
         |)
         |SELECT p.a, p.b, la.split AS split_a, lb.split AS split_b
         |FROM pairs p JOIN lab la ON la.id = p.a JOIN lab lb ON lb.id = p.b
         |WHERE la.split <> lb.split
         |ORDER BY a, b""".stripMargin,

    "x98g_kpp_invariants_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,

    "x98a_kpp_advantage_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,

    "x87g_image_dhash_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b
        |WHERE false""".stripMargin,

    "x83eg_pixel_embed_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS clause, CAST(NULL AS BIGINT) AS qid,
        |  CAST(NULL AS BIGINT) AS nid, CAST(NULL AS DOUBLE) AS sim
        |WHERE false""".stripMargin,

    "x12_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png'
        |       WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
        |  CAST(16 + (doc_id % 21) * 3 AS INTEGER) AS width,
        |  CAST(16 + (doc_id % 13) * 5 AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 4 ELSE 1 END
        |    AS INTEGER) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x12g_multimodal_meta_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS chk,
        |  CAST(NULL AS VARCHAR) AS got, CAST(NULL AS VARCHAR) AS exp
        |WHERE false""".stripMargin,

    // the fixture PNG color is (doc_id * 2654435761) & 0xffffff and the
    // image is solid, so decoded channel means are the channel bytes
    // over 255; n_px is the fixture dimension arithmetic
    "x83_multimodal_pixel_stats" ->
      """SELECT doc_id,
        |  round((((doc_id * 2654435761) % 16777216) // 65536) / 255.0, 6) AS mean_r,
        |  round(((((doc_id * 2654435761) % 16777216) // 256) % 256) / 255.0, 6) AS mean_g,
        |  round((((doc_id * 2654435761) % 16777216) % 256) / 255.0, 6) AS mean_b,
        |  CAST((16 + (doc_id % 21) * 3) * (16 + (doc_id % 13) * 5) AS BIGINT) AS n_px
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin,

    "x05_embed_cosine_pairs" ->
      s"""WITH vecs AS (
         |  SELECT vec_id AS id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 20
         |)
         |SELECT a, b, sim FROM (
         |  SELECT x.id AS a, y.id AS b,
         |    round(${cosSql("x.embedding", "y.embedding")}, 6) AS sim
         |  FROM vecs x JOIN vecs y ON x.id < y.id
         |) WHERE sim >= 0.95 ORDER BY a, b""".stripMargin,

    "x06_ann_brute_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
         |s AS (
         |  SELECT qid, nid, round(${cosSql("qv", "nv")}, 6) AS sim
         |  FROM q, c WHERE qid <> nid
         |)
         |SELECT qid,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rank,
         |  nid, sim
         |FROM s QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,

    "x20_salted_join" ->
      """SELECT l.l_orderkey AS okey, l.l_linenumber,
        |  CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_cents,
        |  o.o_custkey, o.o_orderstatus
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |ORDER BY okey, l_linenumber, price_cents""".stripMargin,

    "x08_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS ts
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_intersect(ts, ['the','a','of','and','is'])) AS DOUBLE) / greatest(len(ts), 1) AS s_en,
        |    CAST(len(list_intersect(ts, ['der','die','und','das','ist'])) AS DOUBLE) / greatest(len(ts), 1) AS s_de,
        |    CAST(len(list_intersect(ts, ['el','la','de','que','es'])) AS DOUBLE) / greatest(len(ts), 1) AS s_es,
        |    CAST(len(list_intersect(ts, ['le','la','et','les','des'])) AS DOUBLE) / greatest(len(ts), 1) AS s_fr
        |  FROM t
        |)
        |SELECT doc_id, lang,
        |  CASE
        |    WHEN s_en > 0 AND s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
        |    WHEN s_de > 0 AND s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
        |    WHEN s_es > 0 AND s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
        |    WHEN s_fr > 0 AND s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
        |    ELSE 'und'
        |  END AS predicted
        |FROM sc ORDER BY doc_id""".stripMargin,

    "x09_quality_score" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
        |  round(CAST(length(text) AS DOUBLE) / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1), 6) AS mean_token_len,
        |  round(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')), ['the','a','of','and','is'])) AS DOUBLE)
        |        / greatest(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), 1), 6) AS stopword_ratio,
        |  round(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(
        |    least(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5 +
        |    (1.0 - least(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) * 5.0, 1.0)) * 0.3 +
        |    least(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')), ['the','a','of','and','is'])) AS DOUBLE)
        |          / greatest(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), 1) * 10.0, 1.0) * 0.2, 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x10_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x11_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x40_para_dedup" ->
      s"""WITH $docsWithDupsSql,
         |tok AS (SELECT id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ts FROM docs),
         |para AS (
         |  SELECT id, CAST(st // 8 AS INT) AS pid,
         |    array_to_string(ts[st + 1 : st + 8], ' ') AS chunk
         |  FROM tok, unnest(generate_series(0, greatest(len(ts) - 1, 0), 8)) AS u(st)
         |  WHERE len(ts) > 0
         |),
         |freq AS (SELECT chunk, count(DISTINCT id) AS df FROM para GROUP BY chunk),
         |kept AS (
         |  SELECT p.id, p.pid, p.chunk FROM para p
         |  JOIN freq f ON p.chunk = f.chunk WHERE f.df <= 1
         |),
         |tot AS (SELECT id, count(*) AS tot FROM para GROUP BY id),
         |re AS (
         |  SELECT id, string_agg(chunk, ' ' ORDER BY pid) AS clean_text,
         |    count(*) AS n_kept
         |  FROM kept GROUP BY id
         |)
         |SELECT d.id, coalesce(re.clean_text, '') AS clean_text,
         |  CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(t.tot, 0) - coalesce(re.n_kept, 0) AS BIGINT) AS n_dropped
         |FROM docs d
         |LEFT JOIN tot t ON d.id = t.id
         |LEFT JOIN re ON d.id = re.id
         |ORDER BY d.id""".stripMargin,

    "x41_boilerplate_strip" ->
      s"""WITH $docsWithBoilerSql,
         |tok AS (SELECT id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ts FROM docs),
         |para AS (
         |  SELECT id, CAST(st // 8 AS INT) AS pid,
         |    array_to_string(ts[st + 1 : st + 8], ' ') AS chunk
         |  FROM tok, unnest(generate_series(0, greatest(len(ts) - 1, 0), 8)) AS u(st)
         |  WHERE len(ts) > 0
         |),
         |paras AS (SELECT p.id, p.pid, p.chunk, d.source FROM para p JOIN docs d ON p.id = d.id),
         |srcn AS (SELECT source, count(*) AS ns FROM docs GROUP BY source),
         |freq AS (SELECT source, chunk, count(DISTINCT id) AS nd FROM paras GROUP BY 1, 2),
         |keepk AS (
         |  SELECT f.source, f.chunk FROM freq f
         |  JOIN srcn s ON f.source = s.source
         |  WHERE f.nd * 1000000 < 500000 * s.ns
         |),
         |kept AS (
         |  SELECT p.id, p.pid, p.chunk FROM paras p
         |  JOIN keepk k ON p.source = k.source AND p.chunk = k.chunk
         |),
         |tot AS (SELECT id, count(*) AS tot FROM para GROUP BY id),
         |re AS (
         |  SELECT id, string_agg(chunk, ' ' ORDER BY pid) AS clean_text,
         |    count(*) AS n_kept
         |  FROM kept GROUP BY id
         |)
         |SELECT d.id, coalesce(re.clean_text, '') AS clean_text,
         |  CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(t.tot, 0) - coalesce(re.n_kept, 0) AS BIGINT) AS n_dropped
         |FROM docs d
         |LEFT JOIN tot t ON d.id = t.id
         |LEFT JOIN re ON d.id = re.id
         |ORDER BY d.id""".stripMargin,

    "x42_bigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ts
        |  FROM documents
        |),
        |t AS (SELECT doc_id, unnest(ts) AS w FROM tok),
        |uni AS (SELECT w, count(*) AS c1 FROM t GROUP BY w),
        |v AS (SELECT count(*) AS vv FROM uni),
        |bg AS (
        |  SELECT doc_id, ts[i] AS w1, array_to_string(ts[i : i + 1], ' ') AS g
        |  FROM tok, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |  WHERE len(ts) >= 2
        |),
        |bgc AS (SELECT g, count(*) AS c12 FROM bg GROUP BY g),
        |sc AS (
        |  SELECT doc_id,
        |    round(avg(ln((c12 + 1.0) / (c1 + vv))), 6) AS lm_logprob
        |  FROM bg JOIN bgc USING (g) JOIN uni ON bg.w1 = uni.w CROSS JOIN v
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id AS id, sc.lm_logprob
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY id""".stripMargin,

    "x48_bigram_logprob_split" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ts,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS pfx
        |  FROM documents
        |),
        |tr AS (SELECT doc_id, ts FROM tok WHERE pfx <= 'cb'),
        |ev AS (SELECT doc_id, ts FROM tok WHERE pfx > 'e5'),
        |t AS (SELECT doc_id, unnest(ts) AS w FROM tr),
        |uni AS (SELECT w, count(*) AS c1 FROM t GROUP BY w),
        |v AS (SELECT count(*) AS vv FROM uni),
        |bgtr AS (
        |  SELECT doc_id, ts[i] AS w1, array_to_string(ts[i : i + 1], ' ') AS g
        |  FROM tr, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |  WHERE len(ts) >= 2
        |),
        |bgc AS (SELECT g, count(*) AS c12 FROM bgtr GROUP BY g),
        |bgev AS (
        |  SELECT doc_id, ts[i] AS w1, array_to_string(ts[i : i + 1], ' ') AS g
        |  FROM ev, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |  WHERE len(ts) >= 2
        |),
        |sc AS (
        |  SELECT doc_id,
        |    round(avg(ln((coalesce(c12, 0) + 1.0) / (coalesce(c1, 0) + vv))), 6)
        |      AS lm_logprob
        |  FROM bgev LEFT JOIN bgc USING (g) LEFT JOIN uni ON bgev.w1 = uni.w
        |  CROSS JOIN v
        |  GROUP BY doc_id
        |)
        |SELECT e.doc_id AS id, sc.lm_logprob
        |FROM (SELECT doc_id FROM ev) e LEFT JOIN sc USING (doc_id)
        |ORDER BY id""".stripMargin,

    "x46_span_dedup" ->
      s"""WITH $docsWithDupsSql,
         |tok AS (SELECT id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ts FROM docs),
         |t AS (
         |  SELECT id, CAST(i AS INT) AS p, ts[i] AS tk
         |  FROM tok, unnest(generate_series(1, len(ts))) AS u(i)
         |  WHERE len(ts) > 0
         |),
         |wins AS (
         |  SELECT id, CAST(i AS INT) AS st1,
         |    lower(array_to_string(ts[i : i + 4], ' ')) AS w
         |  FROM tok, unnest(generate_series(1, len(ts) - 4)) AS u(i)
         |  WHERE len(ts) >= 5
         |),
         |dups AS (
         |  SELECT id, st1 FROM (
         |    SELECT id, st1,
         |      row_number() OVER (PARTITION BY w ORDER BY id, st1) AS rk
         |    FROM wins
         |  ) WHERE rk > 1
         |),
         |cov AS (
         |  SELECT DISTINCT id, st1 + o.o AS p
         |  FROM dups, unnest(generate_series(0, 4)) AS o(o)
         |),
         |kept AS (
         |  SELECT t.id, t.p, t.tk FROM t
         |  LEFT JOIN cov ON t.id = cov.id AND t.p = cov.p
         |  WHERE cov.p IS NULL
         |),
         |re AS (
         |  SELECT id, string_agg(tk, ' ' ORDER BY p) AS clean_text,
         |    count(*) AS n_kept
         |  FROM kept GROUP BY id
         |),
         |tot AS (SELECT id, count(*) AS tot FROM t GROUP BY id)
         |SELECT d.id, coalesce(re.clean_text, '') AS clean_text,
         |  CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(tot.tot, 0) - coalesce(re.n_kept, 0) AS BIGINT) AS n_dropped
         |FROM docs d
         |LEFT JOIN tot ON d.id = tot.id
         |LEFT JOIN re ON d.id = re.id
         |ORDER BY d.id""".stripMargin,

    "x44_unicode_normalize" ->
      """SELECT doc_id AS id,
        |  nfc_normalize(text || ' cafe' || chr(769)) AS norm_text,
        |  CAST(length(text || ' cafe' || chr(769)) AS INT) AS n_raw,
        |  CAST(length(nfc_normalize(text || ' cafe' || chr(769))) AS INT) AS n_norm
        |FROM documents ORDER BY id""".stripMargin
  )
}
