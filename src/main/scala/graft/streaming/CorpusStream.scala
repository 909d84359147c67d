package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

import graft.CorpusPipeline
import graft.operators.{Components, Contamination, Dedup, PassageDedup,
  Similarity, TextAnalysis}
import graft.sources.WarcCodec

/** Incremental corpus ingestion — the growing-corpus form of
  * [[graft.CorpusPipeline]]: WARC blobs LAND in a watched directory and
  * each micro-batch flows through the same curation chain, then dedups
  * against the PERSISTED corpus state instead of against itself:
  *
  *   new blobs (file-source checkpoint = each blob exactly once)
  *   -> records -> htmlToText -> URL canonicalize/blocklist (in-batch
  *      dedup) -> language/Gopher/quality gates -> PII redact
  *   -> exact dedup vs the curated store's content hashes
  *   -> near-dup dedup vs the persisted band + array index (the x34
  *      incremental-LSH contract: new-vs-index and in-batch pairs only,
  *      never old-vs-old — per-batch cost involves NO recomputation
  *      over corpus history, just scans of the stored index)
  *   -> append survivors + their index rows, batch-atomically
  *
  * State layout under `workDir`: `curated/batch=N` (accepted documents
  * + content_hash), `bands/batch=N` + `docarrs/batch=N` (the two stored
  * halves of the near-dup index — LSH band rows for candidate
  * generation, one sorted shingle-hash array per doc for exact
  * verification), `ledger/batch=N` (per-batch counts),
  * `quarantine/batch=N` (failed-blob dead letters), `chk/` (the
  * file-source checkpoint), plus — when [[ingestWithSessions]] runs —
  * `sessions/` (closed crawl sessions, parquet-sink append) and
  * `chk_sessions/` (the session leg's own source + state checkpoint).
  * Every batch directory is
  * written with mode=overwrite keyed by the foreachBatch batchId, so a
  * crash-replayed batch REWRITES its own output instead of doubling it
  * — idempotent without a MERGE, the Delta-style exactly-once recipe on
  * plain parquet. [[compact]] folds accumulated batch dirs into one
  * `base=<mark>` per store (the small-files remedy for a long-lived
  * ingest); the `_compacted` high-water mark keeps replayed
  * below-the-mark batches invisible to readers. Single writer per
  * workDir — run one ingest() drain at a time.
  *
  * Scale posture: per batch, the only state-sized work is one
  * band-bucket join against the index (8-byte keys) and one id
  * anti-join against the curated hashes; the WARC scan, curation, and
  * shingling touch only the batch. At 100 TB of accumulated corpus the
  * band index is what it is on disk — no rebuild, no full-corpus
  * shuffle, no driver materialization.
  */
class CorpusStream(spark: SparkSession, workDir: String,
                   cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
                   targetSplitBytes: Long = 128L << 20,
                   semanticThreshold: Option[Double] = None,
                   passageK: Option[Int] = None,
                   pqM: Option[Int] = None,
                   exportShards: Option[Int] = None,
                   knnK: Option[Int] = None,
                   bpeMerges: Option[Int] = None) {
  import spark.implicits._

  // declared BEFORE the requires below — constructor order means a val
  // read before its declaration silently reads 0
  private val SemDim = 64
  private val KnnBeam = 16
  private val KnnHops = 8

  require(pqM.isEmpty || semanticThreshold.nonEmpty,
    "the PQ leg serves rerank from the semantic leg's stored vectors — " +
      "set semanticThreshold when pqM is set")
  pqM.foreach(m => require(m >= 1 && SemDim % m == 0,
    s"pqM must divide the embedding dim $SemDim, got $m"))
  require(knnK.isEmpty || semanticThreshold.nonEmpty,
    "the graph leg indexes the semantic leg's stored vectors — " +
      "set semanticThreshold when knnK is set")
  knnK.foreach(k => require(k >= 1 && 2 * k <= KnnBeam,
    s"knnK must satisfy 1 <= k <= ${KnnBeam / 2} (beam $KnnBeam >= 2k)"))
  bpeMerges.foreach(m => require(m >= 1 && m <= 256,
    s"bpeMerges must be in [1, 256], got $m"))

  private val curatedPath = s"$workDir/curated"
  private val bandPath = s"$workDir/bands"
  private val docArrPath = s"$workDir/docarrs"
  private val ledgerPath = s"$workDir/ledger"
  private val dlqPath = s"$workDir/quarantine"
  private val sessionsPath = s"$workDir/sessions"
  private val vecPath = s"$workDir/vecs"
  private val vecBucketPath = s"$workDir/vecbuckets"
  private val semDupPath = s"$workDir/semdups"
  private val winPath = s"$workDir/windows"
  private val passSpanPath = s"$workDir/passagespans"
  private val exportPath = s"$workDir/export"
  private val exportManifestPath = s"$workDir/exportmanifest"
  private val pqCodesPath = s"$workDir/pqcodes"
  // versioned: pqcodebook/v=K per training event (v=0 initial, v>0
  // drift rotations — old versions are kept: the crash-replay path
  // reads v-1, and the dirs are M·Ks rows each). pqmeta is the
  // version LEDGER (readOr batch dirs), its row the commit sentinel.
  private val pqCbPath = s"$workDir/pqcodebook"
  private val pqMetaPath = s"$workDir/pqmeta"
  private val pqDriftPath = s"$workDir/pqdrift"
  // reference state, not batch-keyed: the registered eval split's
  // distinct window hashes ([[indexEvalSet]]) — the decontamination
  // leg's probe target
  private val evalWindowPath = s"$workDir/evalwindows"
  private val contamLedgerPath = s"$workDir/contamledger"
  // versioned: qualitymodel/v=K per training event (v=0 registration
  // via [[indexQualityModel]], v>0 drift rotations — one row each:
  // weights + scaler + threshold). qualitymeta is the rotation LEDGER
  // (readOr batch dirs), its row the rotation commit; qualitydrift is
  // the per-batch covariate-shift telemetry — the same
  // alarm-and-response design as the PQ codebook leg.
  private val qualityModelPath = s"$workDir/qualitymodel"
  private val qualityLedgerPath = s"$workDir/qualityledger"
  private val qualityMetaPath = s"$workDir/qualitymeta"
  private val qualityDriftPath = s"$workDir/qualitydrift"
  // append-only kNN edge LOG (the graph leg): per-batch x125 deltas;
  // the serving graph derives by a top-k cut at read (the LSM shape —
  // history is never rewritten by APPENDS; a drift-triggered REBUILD
  // folds the log into a fresh NN-Descent base=N dir behind the
  // _compacted mark — the one deliberately state-sized response, the
  // PQ-rotation design). knngmeta is the rebuild LEDGER (its row the
  // commit), knngdrift the per-batch staleness telemetry.
  private val knngPath = s"$workDir/knngraph"
  private val knngMetaPath = s"$workDir/knngmeta"
  private val knngDriftPath = s"$workDir/knngdrift"
  // tokenizer-maintenance leg (opt-in via bpeMerges): versioned byte-
  // BPE merge tables bpevocab/v=K per training event (v=0 trains on
  // the first non-empty batch's accumulated store, v>0 drift
  // rotations); bpemeta is the version LEDGER (its row the commit —
  // same protocol as pqmeta), bpeledger the per-batch token
  // accounting, bpedrift the per-batch fertility telemetry. The
  // serving vocab is a driver-side merge list (bounded, ≤ bpeMerges
  // rows) — per-batch cost reads the BATCH only.
  private val bpeVocabPath = s"$workDir/bpevocab"
  private val bpeMetaPath = s"$workDir/bpemeta"
  private val bpeLedgerPath = s"$workDir/bpeledger"
  private val bpeDriftPath = s"$workDir/bpedrift"
  private val SemBits = 8
  private val SemTables = 8
  private val PqKs = 16
  private val PqIters = 2
  private val PqDriftFactor = 2.0
  // quality-model drift: a batch whose standardized features move more
  // than 2 train-split standard deviations (micro units) from the
  // train mean is covariate-shifted relative to what the weights were
  // fit on. Verdicts need a non-degenerate scaler (train_n floor).
  private val QDriftGMicro = 2000000L
  private val QDriftMinTrainN = 8L
  // graph-index staleness: NN-Descent quality is BUILD-time — appended
  // nodes carry only beam-searched edges, so a graph where most nodes
  // are append-born navigates like a beam cache, not an index. Rebuild
  // when more than half the nodes postdate the last build; below the
  // node floor the graph is toy-sized and verdicts are null.
  private val KnnStaleFracPm = 500L
  private val KnnStaleMinNodes = 32L
  private val KnnRebuildRounds = 2
  // tokenizer staleness: a vocab's value is its compression — bytes
  // per token under the serving merge table. On a covariate-shifted
  // batch the learned merges stop firing and bpt collapses toward the
  // 1-byte floor; a batch whose bpt falls below 80% of the serving
  // vocab's TRAIN-time bpt is drift. Verdicts need a non-degenerate
  // train corpus (token floor) — a vocab trained on a handful of
  // tokens memorizes them and any batch would flag.
  private val BpeDriftFracPm = 800L
  private val BpeDriftMinTokens = 256L
  // exact-dedup store probe: batches up to this many docs ship their
  // hashes as a broadcast semi probe of the stored hash history (md5
  // strings ≈ 56 B/row → ≤ ~56 MB); bigger (backfill-sized) batches
  // degrade to the partitioned anti-join — the measured-broadcast
  // dispatch convention of incrementalPassageSpans
  private val ExactProbeBroadcastLimit = 1000000L

  // binaryFile's fixed schema — file streams require it explicitly
  private val binSchema = new StructType()
    .add("path", StringType).add("modificationTime", TimestampType)
    .add("length", LongType).add("content",
      org.apache.spark.sql.types.BinaryType)

  /** High-water mark of [[compact]] for one state store: batch dirs at
    * or below it are folded into the `base=<mark>` dir and IGNORED at
    * read time — so a crash-replayed old batch that rewrites its dir
    * cannot double its rows against the compacted base.
    */
  private def markOf(path: String): Long = {
    val f = new java.io.File(path, "_compacted")
    if (f.isFile) new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.toLong
    else -1L
  }

  private def batchId(name: String): Long = name.stripPrefix("batch=").toLong

  private def readOr(path: String, empty: => DataFrame,
                     excludeBatch: Long = -1L): DataFrame = {
    val dir = new java.io.File(path)
    val mark = markOf(path)
    // list the dirs EXPLICITLY (no glob): a glob re-resolves at every
    // downstream job and logs spurious FileNotFoundExceptions when it
    // races a concurrent batch write. No basePath/partition discovery:
    // state consumers see the logical schema, not the storage layout.
    // excludeBatch drops ONE batch dir from the view — the replay
    // guard's "state as of before this batch" read (see processBatch).
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
    val parts = files
      .filter(f => f.isDirectory &&
        ((f.getName.startsWith("batch=") && batchId(f.getName) > mark &&
          batchId(f.getName) != excludeBatch) ||
          f.getName == s"base=$mark"))
      .map(_.getAbsolutePath)
    if (parts.isEmpty) empty
    else spark.read.parquet(parts.toIndexedSeq: _*)
  }

  /** Fold every batch directory of the three state stores into one
    * consolidated `base=<mark>` dir each — the small-files compaction a
    * long-lived ingest needs (thousands of per-batch dirs otherwise
    * accumulate forever). Crash-safe ordering: the new base is fully
    * written BEFORE the `_compacted` marker moves atomically; until the
    * marker lands, readers keep using the old base + batch dirs, and a
    * stale half-written base dir is simply overwritten by the next
    * attempt. Call between [[ingest]] drains (single writer) — and
    * only between COMPLETED drains: folding an uncommitted batch's
    * dirs into the base would defeat the replay guard's
    * batch-provenance exclusion (the replayed batch would dedup
    * against its own folded rows, and the export leg — which has no
    * mark by design — would overwrite its real shards with an empty
    * rewrite). The guard below refuses instead of corrupting.
    */
  def compact(acknowledgeNoCheckpoint: Boolean = false): Unit = {
    // uncommitted-batch detector: the stream checkpoint records an
    // offsets file per STARTED batch and a commits file per FINISHED
    // one; a pending replay shows as offsets ahead of commits
    def maxId(sub: String): Long = {
      val d = new java.io.File(s"$workDir/chk/$sub")
      Option(d.listFiles()).getOrElse(Array.empty)
        .flatMap(f => f.getName.toLongOption).foldLeft(-1L)(math.max)
    }
    val stores = Seq(curatedPath, bandPath, docArrPath, ledgerPath, dlqPath,
      vecPath, vecBucketPath, semDupPath, winPath, passSpanPath,
      pqCodesPath, pqDriftPath, pqMetaPath, exportManifestPath,
      contamLedgerPath, qualityLedgerPath, qualityMetaPath,
      qualityDriftPath, knngPath, knngMetaPath, knngDriftPath,
      bpeMetaPath, bpeLedgerPath, bpeDriftPath)
    val (off, com) = (maxId("offsets"), maxId("commits"))
    // a missing checkpoint with batch dirs on disk is NOT "no pending
    // replay" — it is "this writer cannot tell" (state written through
    // direct processBatch calls, or a checkpoint relocated/cleared).
    // Silently treating unknown as safe would fold a possibly-
    // uncommitted batch into the base, which is exactly the corruption
    // the detector exists to refuse — so the caller must acknowledge it
    // explicitly (it alone knows every batch completed).
    val hasBatchDirs = stores.exists { p =>
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .exists(f => f.isDirectory && f.getName.startsWith("batch="))
    }
    if (off == -1L && com == -1L && hasBatchDirs)
      require(acknowledgeNoCheckpoint,
        s"$workDir holds batch dirs but no stream checkpoint — the " +
          "uncommitted-batch detector cannot run. If every batch is " +
          "known complete (e.g. state written via direct processBatch " +
          "calls), pass acknowledgeNoCheckpoint = true")
    else require(off == com,
      s"batch $off started but not committed — a crashed drain is " +
        "pending replay; run ingest() to completion before compacting " +
        "(folding the uncommitted batch would defeat the replay guard)")
    stores.foreach(compactOne)
    // codebook-version GC: serving reads only the max committed version
    // and a crash replay of the rotating batch reads max-1; older v=K
    // dirs are dead weight a long-lived stream with repeated drift
    // rotations would otherwise accumulate without bound
    pqMetaRows.lastOption.foreach { case (maxVer, _, _, _) =>
      Option(new java.io.File(pqCbPath).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v=") &&
          f.getName.stripPrefix("v=").toLongOption.exists(_ < maxVer - 1))
        .foreach(deleteRec)
    }
    // same GC for quality-model versions (same serving/replay window:
    // max committed and max-1)
    qualityMetaRows.lastOption.foreach { case (maxVer, _, _) =>
      Option(new java.io.File(qualityModelPath).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v=") &&
          f.getName.stripPrefix("v=").toLongOption.exists(_ < maxVer - 1))
        .foreach(deleteRec)
    }
    // and for tokenizer merge-table versions (bpe registration rides
    // the bpemeta LEDGER, never a specific v=K dir — the quality-leg
    // v=0-pin lesson — so the window GC cannot disable the leg)
    bpeMetaRows.lastOption.foreach { case (maxVer, _, _, _) =>
      Option(new java.io.File(bpeVocabPath).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v=") &&
          f.getName.stripPrefix("v=").toLongOption.exists(_ < maxVer - 1))
        .foreach(deleteRec)
    }
  }
    // exportPath is deliberately NOT compacted: its batch=N/shard=K
    // layout IS the trainer handoff format — folding it would destroy
    // the shard partitioning the manifests describe.

  private def compactOne(path: String): Unit = {
    val dir = new java.io.File(path)
    if (!dir.isDirectory) return
    val mark = markOf(path)
    // orphan sweep: a crash between the marker swap and the deletes of a
    // PREVIOUS compaction leaves folded batch dirs (<= mark) and stale
    // bases on disk — readers already ignore them; reclaim the space now
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      val orphanBatch = f.isDirectory && f.getName.startsWith("batch=") &&
        batchId(f.getName) <= mark
      val orphanBase = f.isDirectory && f.getName.startsWith("base=") &&
        f.getName != s"base=$mark"
      if (orphanBatch || orphanBase) deleteRec(f)
    }
    val newBatches = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch=") &&
        batchId(f.getName) > mark)
    if (newBatches.isEmpty) return
    val newMark = newBatches.map(f => batchId(f.getName)).max
    // current logical view = old base + live batch dirs
    readOr(path, null) match {
      case null => ()
      case view =>
        val tmp = new java.io.File(dir, ".base_tmp")
        if (tmp.exists()) deleteRec(tmp)
        view.coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val newBase = new java.io.File(dir, s"base=$newMark")
        if (newBase.exists()) deleteRec(newBase)
        require(tmp.renameTo(newBase), s"compaction rename failed: $newBase")
        moveMark(path, newMark)
        // now unreferenced: folded batch dirs + the previous base
        newBatches.foreach(deleteRec)
        val oldBase = new java.io.File(dir, s"base=$mark")
        if (mark >= 0 && oldBase.exists()) deleteRec(oldBase)
    }
  }

  /** Atomically advance a store's `_compacted` high-water mark
    * (write-then-move — the swap point readers observe). Shared by
    * [[compactOne]] and the PQ rotation's snapshot commit.
    */
  private def moveMark(path: String, mark: Long): Unit = {
    val dir = new java.io.File(path)
    dir.mkdirs()
    val mtmp = java.nio.file.Files.write(
      new java.io.File(dir, "._compacted_tmp").toPath,
      mark.toString.getBytes)
    java.nio.file.Files.move(mtmp, new java.io.File(dir, "_compacted").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  /** The accumulated curated corpus (doc_id, url, date, text,
    * content_hash) — empty frame before the first batch lands.
    */
  def curated: DataFrame = readOr(curatedPath,
    Seq.empty[(String, String, String, String, String)]
      .toDF("doc_id", "url", "date", "text", "content_hash"))

  // the two persisted halves of the near-dup index (the x34 FromIndex
  // contract): LSH bands for candidate generation, per-doc sorted
  // shingle arrays for exact verification — one row per doc each, no
  // recomputation over corpus history at batch time
  private def bandIndex: DataFrame = readOr(bandPath,
    Seq.empty[(String, Int, Int)].toDF("id", "band", "bucket"))

  private def docArrIndex: DataFrame = readOr(docArrPath,
    Seq.empty[(String, Int, Array[Long])].toDF("id", "sz", "arr"))

  /** Per-batch ledger (batch_id, ingested, curatedIn, exactDropped,
    * nearDropped, accepted).
    */
  def ledger: DataFrame = readOr(ledgerPath,
    Seq.empty[(Long, Long, Long, Long, Long, Long)]
      .toDF("batch_id", "ingested", "curated_in", "exact_dropped",
        "near_dropped", "accepted"))

  /** The dead-letter relation (path, blob_error): a poisoned blob costs
    * its own remaining records and lands here — the QueuePipeline DLQ
    * convention applied to the corpus path.
    */
  def quarantined: DataFrame = readOr(dlqPath,
    Seq.empty[(String, String)].toDF("path", "blob_error"))

  /** Semantic near-dup FLAGS (a, b, sim) accumulated when
    * `semanticThreshold` is set: `b` is always the then-new doc, `a` an
    * earlier-indexed doc or a smaller in-batch id. Flagging, not
    * dropping — semantic near-dups (SemDeDup) are a review-then-prune
    * signal, unlike the lexical MinHash stage which drops inline; a
    * caller prunes by anti-joining `b` ids (or clustering a/b) at its
    * own threshold.
    */
  def semanticDuplicates: DataFrame = readOr(semDupPath,
    Seq.empty[(String, String, Double)].toDF("a", "b", "sim"))

  // the two persisted halves of the semantic index: hashed-TF unit
  // vectors (with precomputed norms) for verification, LSH bucket rows
  // for candidate generation — hyperplanes are stateless hash functions,
  // so nothing else needs to persist
  private def vecIndex: DataFrame = readOr(vecPath,
    Seq.empty[(String, Array[Double], Double)].toDF("id", "vec", "nrm"))

  private def vecBucketIndex: DataFrame = readOr(vecBucketPath,
    Seq.empty[(String, Int, Long)].toDF("id", "table", "bucket"))

  /** Duplicated-passage spans flagged at ingest time when `passageK` is
    * set (the x84 incremental contract): token positions in each
    * accepted doc covered by a window seen in corpus history or twice
    * in the doc's own batch. Flagging, not dropping — span excision is
    * a downstream rewrite ([[graft.operators.PassageDedup]]), and the
    * spans relation is the review surface.
    */
  def passageSpans: DataFrame = readOr(passSpanPath,
    Seq.empty[(String, Long, Long, Long)]
      .toDF("doc_id", "span_start", "span_end", "span_tokens"))

  // the persisted window-hash index, id-keyed for replay idempotency
  private def storedWindowIndex: DataFrame = readOr(winPath,
    Seq.empty[(String, Long)].toDF("id", "w"))

  /** Register (or replace) the held-out eval split the ingest must
    * decontaminate against: persist its DISTINCT window hashes (the x33
    * relation at cfg.contamWindow) under the workDir. Registering
    * ENABLES the decontamination leg — every later batch drops arriving
    * docs whose eval-window fraction exceeds cfg.maxContamFrac, exactly
    * the batch recipe's stage 10 — so a long-lived ingest can no longer
    * ship docs the batch pipeline would have refused. Call between
    * drains (single writer, like [[compact]]); docs already shipped
    * before registration are not retroactively rewritten (re-screen the
    * accumulated store offline with the same x38 relation if the eval
    * set arrives late).
    */
  def indexEvalSet(evalDocs: DataFrame, idCol: String, textCol: String): Unit = {
    Contamination.tokenWindows(evalDocs, idCol, textCol, cfg.contamWindow)
      .select(col("w")).distinct()
      .write.mode("overwrite").parquet(evalWindowPath)
    evalBloomCache = None
  }

  private def evalIndexRegistered: Boolean = {
    val d = new java.io.File(evalWindowPath)
    d.isDirectory && Option(d.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith("part-"))
  }

  /** The Bloom sketch of the registered eval windows — built ONCE per
    * (instance, registration) from the persisted index and probed by
    * every batch: per-batch decontamination cost is a scan-side probe
    * of the batch's own windows against broadcast bytes, flat in eval
    * index size (the sketch grows, the probe does not — the x38 scale
    * argument riding the stream).
    */
  @volatile private var evalBloomCache: Option[Array[Byte]] = None
  private def evalBloom: Option[Array[Byte]] =
    if (!evalIndexRegistered) None
    else evalBloomCache.orElse {
      val b = Contamination.bloomOfWindows(spark.read.parquet(evalWindowPath))
      evalBloomCache = Some(b)
      Some(b)
    }

  /** Per-batch decontamination ledger (batch_id, checked,
    * contam_dropped) — rows appear only while the leg is enabled.
    */
  def contamLedger: DataFrame = readOr(contamLedgerPath,
    Seq.empty[(Long, Long, Long)]
      .toDF("batch_id", "checked", "contam_dropped"))

  /** Register (or replace) a TRAINED quality model (x118's deployment
    * step: train offline on labeled docs, filter at ingest): micro-int
    * weights, the train-split scaler, and the drop threshold (micro
    * probability). Enables the learned-quality leg — every later batch
    * drops docs scoring below the threshold, with its own ledger. The
    * model is the caller's: weights from QualityClassifier.fit, from a
    * previous corpus, or hand-set — the leg only evaluates. Call
    * between drains (single writer); already-shipped docs are not
    * retroactively rescreened.
    */
  def indexQualityModel(weights: Array[Long],
                        scaler: graft.operators.QualityClassifier.Scaler,
                        thresholdMicro: Long): Unit = {
    require(weights.length == 5 && scaler.meanU.length == 4 &&
      scaler.stdU.length == 4, "model shape: 5 weights, 4-feature scaler")
    // layout guard mirroring pqVersions: a workDir written before model
    // versioning stored the one-row model flat under qualitymodel/ —
    // silently adopting it as v=0 would graft the rotation ledger onto
    // a version history that never existed; refuse instead.
    val d = new java.io.File(qualityModelPath)
    require(!(d.isDirectory && Option(d.listFiles()).getOrElse(Array.empty)
        .exists(f => f.isFile && f.getName.startsWith("part-"))),
      s"$qualityModelPath holds a pre-versioning flat layout — this " +
        "engine reads only versioned models (qualitymodel/v=K + the " +
        "qualitymeta rotation ledger); re-register into a fresh workDir")
    writeQualityVersion(0L, weights, scaler, thresholdMicro)
    qualityModelCache = None
  }

  private def writeQualityVersion(ver: Long, weights: Array[Long],
      scaler: graft.operators.QualityClassifier.Scaler,
      thresholdMicro: Long): Unit =
    Seq((weights.toSeq, scaler.meanU.toSeq, scaler.stdU.toSeq,
        scaler.n, thresholdMicro))
      .toDF("w", "mean_u", "std_u", "train_n", "threshold_micro")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$qualityModelPath/v=$ver")

  @volatile private var qualityModelCache:
      Option[(Long, (Array[Long], graft.operators.QualityClassifier.Scaler,
        Long))] = None

  /** Registration check: the leg is enabled iff ANY committed model
    * version dir exists. Rotations only ever stack on a registered
    * model, but the check must NOT demand v=0 specifically: compact()'s
    * version GC keeps only the serving window (max committed and
    * max-1), so after two drift rotations v=0 is legitimately gone
    * while the leg is very much live — pinning registration to v=0
    * would silently disable scoring (and its ledgers) on exactly the
    * long-running streams the rotation exists for.
    */
  private def qualityRegistered: Boolean = {
    val root = new java.io.File(qualityModelPath)
    Option(root.listFiles()).getOrElse(Array.empty).exists { d =>
      d.isDirectory && d.getName.startsWith("v=") &&
        d.getName.stripPrefix("v=").toLongOption.isDefined &&
        Option(d.listFiles()).getOrElse(Array.empty)
          .exists(_.getName.startsWith("part-"))
    }
  }

  /** One committed model version, instance-cached (a handful of
    * literals; serving reads one version per batch so a single-slot
    * cache suffices).
    */
  private def loadQualityModel(ver: Long)
      : (Array[Long], graft.operators.QualityClassifier.Scaler, Long) =
    qualityModelCache.collect { case (v, m) if v == ver => m }.getOrElse {
      val r = spark.read.parquet(s"$qualityModelPath/v=$ver").head()
      val m = (r.getSeq[Long](0).toArray,
        graft.operators.QualityClassifier.Scaler(r.getLong(3),
          r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray),
        r.getLong(4))
      qualityModelCache = Some((ver, m))
      m
    }

  /** Quality-model rotation ledger (version, train_n, batch_id) — one
    * row per drift-triggered retrain; the row is the rotation's commit
    * sentinel (v=0 registration is an external call, not a batch event,
    * and carries no row).
    */
  def qualityVersions: DataFrame = readOr(qualityMetaPath,
    Seq.empty[(Long, Long, Long)].toDF("version", "train_n", "batch_id"))

  private def qualityMetaRows: Seq[(Long, Long, Long)] =
    qualityVersions.orderBy("version")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** Per-batch covariate-shift telemetry (batch_id, batch_n,
    * max_abs_g_mean, drifted) for the learned-quality leg — `drifted`
    * is null (telemetry without a verdict) while the serving model's
    * train split is below the verdict floor or the batch scored
    * nothing.
    */
  def qualityDrift: DataFrame = readOr(qualityDriftPath,
    Seq.empty[(Long, Long, Long, Option[Boolean])]
      .toDF("batch_id", "batch_n", "max_abs_g_mean", "drifted"))

  /** Per-batch learned-quality ledger (batch_id, scored, q_dropped) —
    * rows appear only while the leg is enabled.
    */
  def qualityLedger: DataFrame = readOr(qualityLedgerPath,
    Seq.empty[(Long, Long, Long)]
      .toDF("batch_id", "scored", "q_dropped"))

  /** Tokenizer rotation ledger (version, train_tokens, train_bpt_micro,
    * batch_id) — one row per training event (v=0 first-batch training
    * included, the pqmeta convention: the row is the commit sentinel).
    * train_bpt_micro is the trained vocab's bytes-per-token on its own
    * train corpus — the drift baseline every later batch compares to.
    */
  def bpeVersions: DataFrame = readOr(bpeMetaPath,
    Seq.empty[(Long, Long, Long, Long)]
      .toDF("version", "train_tokens", "train_bpt_micro", "batch_id"))

  private def bpeMetaRows: Seq[(Long, Long, Long, Long)] =
    bpeVersions.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)

  /** Per-batch tokenizer ledger (batch_id, docs, pretokens, tokens,
    * bytes, bpt_micro, merged_pm) — rows appear once the leg has a
    * committed vocab to serve.
    */
  def bpeLedger: DataFrame = readOr(bpeLedgerPath,
    Seq.empty[(Long, Long, Long, Long, Long, Long, Long)]
      .toDF("batch_id", "docs", "pretokens", "tokens", "bytes",
        "bpt_micro", "merged_pm"))

  /** Per-batch tokenizer drift telemetry (batch_id, batch_bpt_micro,
    * train_bpt_micro, drifted) — `drifted` is null while the serving
    * vocab's train corpus is below the verdict floor or the batch
    * tokenized nothing.
    */
  def bpeDrift: DataFrame = readOr(bpeDriftPath,
    Seq.empty[(Long, Long, Long, Option[Boolean])]
      .toDF("batch_id", "batch_bpt_micro", "train_bpt_micro", "drifted"))

  /** The SERVING merge table (max committed version) as a relation
    * (rank, l, r) — what an external encoder would deploy. Empty
    * before the leg's first training.
    */
  def bpeMergeTable: DataFrame =
    bpeMetaRows.lastOption match {
      case Some((ver, _, _, _)) =>
        spark.read.parquet(s"$bpeVocabPath/v=$ver")
          .select(col("rank"), col("l"), col("r")).orderBy(col("rank"))
      case None =>
        Seq.empty[(Int, String, String)].toDF("rank", "l", "r")
    }

  @volatile private var bpeVocabCache:
      Option[(Long, Seq[graft.operators.BpeQueries.Merge])] = None

  private def writeBpeVersion(ver: Long,
      merges: Seq[graft.operators.BpeQueries.Merge]): Unit =
    merges.map(m => (m.rank, m.l, m.r, m.cnt))
      .toDF("rank", "l", "r", "cnt")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$bpeVocabPath/v=$ver")

  /** One committed merge table, instance-cached (≤ bpeMerges literal
    * rows; serving reads one version per batch).
    */
  private def loadBpeMerges(ver: Long)
      : Seq[graft.operators.BpeQueries.Merge] =
    bpeVocabCache.collect { case (v, m) if v == ver => m }.getOrElse {
      val m = spark.read.parquet(s"$bpeVocabPath/v=$ver")
        .orderBy("rank").collect().toSeq
        .map(r => graft.operators.BpeQueries.Merge(
          r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      bpeVocabCache = Some((ver, m))
      m
    }

  /** Per-batch export manifests (shard, n_docs, n_tokens, min_doc,
    * max_doc, checksum, batch_id) — the x108 handoff contract riding
    * the stream: each batch ships its accepted docs shard-partitioned
    * under export/batch=N/shard=K and ledgers the manifest a trainer
    * re-derives and byte-compares. Checksums are per-batch; the
    * cumulative per-shard checksum is bit_xor over batches (xor is
    * associative — exactly why the manifest uses it).
    */
  def exportManifests: DataFrame = readOr(exportManifestPath,
    Seq.empty[(Long, Long, Long, String, String, Long, Long)]
      .toDF("shard", "n_docs", "n_tokens", "min_doc", "max_doc",
        "checksum", "batch_id"))

  /** Exported shard files (partition discovery over every batch).
    * Degrades to an empty frame before the export leg has shipped
    * anything (leg disabled, or no batch has run) — the readOr
    * convention every sibling state accessor follows. Partition
    * discovery needs the directory root, so the guard is existence
    * rather than readOr's explicit batch-dir listing.
    */
  def exportedDocs: DataFrame =
    if (new java.io.File(exportPath).isDirectory) spark.read.parquet(exportPath)
    else Seq.empty[(String, String, String, String, String, Int, Int)]
      .toDF("doc_id", "url", "date", "text", "content_hash", "batch", "shard")

  /** The maintained PQ code table (id, m, code) — M small ints per
    * accepted document, encoded at ingest time against the STORED
    * codebook (the x96 contract riding the stream). Empty before the
    * codebook trains.
    */
  def pqCodes: DataFrame = readOr(pqCodesPath,
    Seq.empty[(String, Int, Int)].toDF("id", "m", "code"))

  /** Per-batch drift ledger (batch_id, batch_err_per_vec,
    * train_err_per_vec, drifted): the x96d health signal as stream
    * telemetry. A `drifted = true` row is the retrain-the-codebook
    * alarm AND its own response: the same batch rotates the codebook
    * (see the pqM leg) — the version ledger [[pqVersions]] records the
    * rotation the drift row triggered. The append path itself never
    * fails on drift (every vector assigns SOMEWHERE, which is exactly
    * why the signal must exist).
    */
  def pqDrift: DataFrame = readOr(pqDriftPath,
    Seq.empty[(Long, Double, Double, Boolean)]
      .toDF("batch_id", "batch_err_per_vec", "train_err_per_vec", "drifted"))

  /** Codebook version ledger (version, train_err_sum, train_n,
    * batch_id), one row per training event: version 0 is the initial
    * first-non-empty-batch training, each version > 0 row is a
    * drift-triggered ROTATION — retrained on the full accumulated
    * vector store at that batch, with every stored code re-encoded
    * (the x96d alarm's response path). The row is the COMMIT sentinel
    * of its training: centroids and the re-encoded code snapshot land
    * first, readers switch only when the row appears, and a
    * crash-replayed batch redoes the (deterministic) rotation
    * byte-identically.
    */
  def pqVersions: DataFrame = {
    // a workDir written before codebook versioning stored the meta as
    // flat parquet at this path's ROOT; silently reading it as "never
    // trained" would retrain v=0 on one batch while the stored codes
    // keep the OLD codebook's assignments — a permanently mixed code
    // table. Refuse loudly instead.
    val legacy = Option(new java.io.File(pqMetaPath).listFiles())
      .getOrElse(Array.empty)
      .exists(f => f.isFile && f.getName.startsWith("part-"))
    require(!legacy,
      s"$pqMetaPath holds a pre-versioning flat layout — this engine " +
        "reads only the versioned ledger (pqmeta/batch=N + " +
        "pqcodebook/v=K); re-ingest into a fresh workDir")
    readOr(pqMetaPath,
      Seq.empty[(Long, Double, Long, Long)]
        .toDF("version", "train_err_sum", "train_n", "batch_id"))
  }

  /** The version ledger as driver rows, ascending version — one row
    * per training event, parameter-server sized by construction.
    */
  private def pqMetaRows: Seq[(Long, Double, Long, Long)] =
    pqVersions.collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)

  /** Load one committed codebook version as the Pq operator shape plus
    * its training stats. Driver-state sized (M·Ks rows) by construction
    * — the collect is the parameter-server load, not a corpus
    * materialization.
    */
  private def loadCodebook(row: (Long, Double, Long, Long)):
      (graft.operators.Pq.PqCodebook, Double, Long, Long) = {
    val (ver, errSum, n, _) = row
    val cents = spark.read.parquet(s"$pqCbPath/v=$ver")
    (graft.operators.Pq.PqCodebook(cents, Seq(errSum), Map.empty),
      errSum, n, ver)
  }

  /** Current stored codebook (max committed version), None before the
    * first training batch.
    */
  private def storedCodebook:
      Option[(graft.operators.Pq.PqCodebook, Double, Long, Long)] =
    pqMetaRows.lastOption.map(loadCodebook)

  /** Drain every unseen WARC blob, processing each through
    * [[processBatch]]. The default Trigger.AvailableNow drains and
    * stops — call repeatedly as new blobs land; pass
    * Trigger.ProcessingTime(...) instead for a continuously-running
    * ingest. Either way the checkpoint hands each blob to exactly one
    * batch across runs.
    */
  def ingest(warcDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // register BEFORE start: the streaming runner clones the session at
    // query start, and a clone forked earlier would lack the native
    // functions the dedup verify kernel resolves by name
    graft.functions.GraftExtensions.register(spark)
    spark.readStream.format("binaryFile").schema(binSchema).load(warcDir)
      .select(col("path"))
      .writeStream
      .option("checkpointLocation", s"$workDir/chk")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId)
      }
      .start()
  }

  /** [[ingest]] plus an event-time crawl-session leg riding the same
    * drain: a second streaming query over the same blob directory
    * projects each record's (host, WARC-Date, payload bytes) and runs
    * the watermarked `flatMapGroupsWithState` sessionizer
    * ([[EventTimeStreams.gapSessions]]), appending each CLOSED session
    * to `workDir/sessions` exactly once (parquet sink + its own
    * checkpoint). Sessions close only when the event-time watermark
    * passes last+gap, so out-of-order fetches within the watermark
    * horizon still extend or bridge an open session, and fetches
    * arriving later than the watermark are dropped — the late-data
    * contract of every watermarked stage in this engine.
    *
    * The leg keeps its own file-source checkpoint (`chk_sessions`), so
    * each blob feeds the sessionizer exactly once across drains even
    * though the document leg tracks the same directory independently.
    * Scale note: the leg re-reads blob bytes but does header-only work
    * per record (no HTML extraction, no curation) — the document leg's
    * decode cost dominates end-to-end; per-key session state is bounded
    * by the watermark horizon.
    */
  def ingestWithSessions(warcDir: String,
                         sessionGapMs: Long = 30 * 60 * 1000L,
                         sessionWatermark: String = "10 minutes",
                         trigger: Trigger = Trigger.AvailableNow()): Seq[StreamingQuery] = {
    val main = ingest(warcDir, trigger)
    val events = WarcCodec.fetchEventsForPaths(spark,
        spark.readStream.format("binaryFile").schema(binSchema).load(warcDir)
          .select(col("path")).as[String])
      .flatMap { case (url, date, bytes) =>
        // ISO-8601 WARC-Date; a record without a parseable date has no
        // event time and cannot ride a watermarked stream — skipped
        val ts =
          try Some(java.sql.Timestamp.from(java.time.Instant.parse(date)))
          catch { case scala.util.control.NonFatal(_) => None }
        ts.map(t => EventTimeStreams.SessionEvent(
          CorpusStream.hostHash(CorpusStream.hostOf(url)), t, bytes))
      }
    val closed = EventTimeStreams.gapSessions(events, sessionGapMs, sessionWatermark)
    val sq = closed
      .select(col("userId").as("host_hash"),
        col("sessionStart").as("session_start"),
        col("sessionEnd").as("session_end"),
        col("cnt").as("fetches"), col("amountCents").as("bytes"))
      .writeStream.format("parquet")
      .option("path", sessionsPath)
      .option("checkpointLocation", s"$workDir/chk_sessions")
      .outputMode("append")
      .trigger(trigger)
      .start()
    Seq(main, sq)
  }

  /** Closed crawl sessions accumulated by [[ingestWithSessions]]:
    * (host_hash, session_start, session_end, fetches, bytes). Empty
    * before the first session closes.
    */
  def sessions: DataFrame = {
    val d = new java.io.File(sessionsPath)
    val hasData = d.isDirectory && Option(d.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith("part-"))
    if (!hasData)
      Seq.empty[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Long)]
        .toDF("host_hash", "session_start", "session_end", "fetches", "bytes")
    else spark.read.parquet(sessionsPath)
  }

  /** Two-stage retrieval served FROM THE MAINTAINED STREAM STATE — the
    * x95 production pattern composed with the incremental code table:
    * ADC shortlist over [[pqCodes]] (compressed codes only, scanned
    * once), exact re-rank of the Q·shortlistK candidates against the
    * semantic leg's stored TRUE vectors ([[IvfPq.rerank]]'s explicit
    * broadcast — the corpus is never shuffled). Queries are raw texts;
    * they embed with the same hashed-TF function the ingest used, so a
    * query equal to an ingested document scores exact distance 0.
    * Throws before the first codebook-training batch (nothing to serve).
    *
    * `pred` (optional) is a metadata predicate over the CURATED store's
    * columns (url, date, content_hash, …) — "nearest among docs from
    * this host/license" — applied BEFORE the ADC scan (one semi-join of
    * the code table against the filtered ids), the x114 discipline: a
    * post-shortlist filter computes top-k' among unfiltered docs first,
    * so at high selectivity the true filtered neighbors lose their
    * shortlist slots and vanish. Filtering the codes directly also
    * SHRINKS the scan instead of wasting it.
    */
  def searchPq(queryDocs: DataFrame, idCol: String, textCol: String,
               k: Int, shortlistK: Int = 50,
               pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val m = pqM.getOrElse(
      throw new IllegalStateException("searchPq requires the pqM leg"))
    val (cb, _, _, _) = storedCodebook.getOrElse(
      throw new IllegalStateException(
        "no stored PQ codebook yet — ingest a non-empty batch first"))
    val codes = pred match {
      case None => pqCodes
      case Some(p) => pqCodes.join(
        curated.filter(p).select(col("doc_id").as("id")),
        Seq("id"), "left_semi")
    }
    val q = queryDocs.select(col(idCol).as("qid"),
      TextAnalysis.hashedTfEmbedding(col(textCol), SemDim).as("emb"))
    val shortlist = graft.operators.Pq.adcTopK(
      q.withColumnRenamed("qid", "id"), codes, cb, "id", "emb",
      m, SemDim / m, shortlistK)
    graft.operators.IvfPq.rerank(shortlist,
      q.select(col("qid").as("id"), col("emb").as("vec")),
      vecIndex.select(col("id"), col("vec")), "id", "vec", k)
  }

  /** Append-only kNN edge log accumulated by the graph leg:
    * (id, nid, sim) rows — each batch's x125 delta (the new docs'
    * top-k edges plus the reverse edges they induce). Empty before
    * the leg's first batch.
    */
  def knnEdges: DataFrame = readOr(knngPath,
    Seq.empty[(String, String, Double)].toDF("id", "nid", "sim"))

  /** Graph rebuild ledger (version, n_nodes, batch_id) — one row per
    * staleness-triggered NN-Descent rebuild; the row is the rebuild's
    * commit sentinel (the mark-folded base dir is invisible until the
    * marker moves, and the marker move is invisible to THIS ledger
    * until the row lands).
    */
  def knngVersions: DataFrame = readOr(knngMetaPath,
    Seq.empty[(Long, Long, Long)].toDF("version", "n_nodes", "batch_id"))

  private def knngMetaRows: Seq[(Long, Long, Long)] =
    knngVersions.orderBy("version")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** Per-batch graph staleness telemetry (batch_id, n_nodes,
    * n_appended, appended_pm, stale) — `stale` is null below the node
    * floor (a toy graph navigates fine either way).
    */
  def knngDrift: DataFrame = readOr(knngDriftPath,
    Seq.empty[(Long, Long, Long, Long, Option[Boolean])]
      .toDF("batch_id", "n_nodes", "n_appended", "appended_pm", "stale"))

  /** The SERVED kNN graph, derived from the edge log by the top-k cut
    * at read (duplicate observations collapse; each node keeps its
    * best k) — the LSM read side of the graph leg.
    */
  def knnGraph: DataFrame = {
    val k = knnK.getOrElse(
      throw new IllegalStateException("knnGraph requires the knnK leg"))
    graft.operators.KnnGraph.graphFromEdgeLog(knnEdges, k)
  }

  /** Graph-ANN serving FROM THE MAINTAINED STREAM STATE — the x122
    * beam walk over [[knnGraph]] with the semantic leg's stored true
    * vectors as the scoring corpus. Queries are raw texts; they embed
    * with the same hashed-TF function the ingest used, so a query
    * equal to an ingested document walks straight to that document's
    * neighborhood. Throws before the leg's first batch.
    */
  def searchKnn(queryDocs: DataFrame, idCol: String, textCol: String,
                k: Int, beam: Int = 16, hops: Int = 8): DataFrame = {
    require(knnK.nonEmpty, "searchKnn requires the knnK leg")
    val corpus = vecIndex.select(col("id"), col("vec"))
    require(!corpus.isEmpty,
      "no stored vectors yet — ingest a non-empty batch first")
    val queries = queryDocs.select(col(idCol).as("id"),
      TextAnalysis.hashedTfEmbedding(col(textCol), SemDim).as("vec"))
    graft.operators.KnnGraph.search(knnGraph, corpus, "id", "vec",
      queries, k, beam, hops)
  }

  private def overwriteBatch(df: DataFrame, path: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$path/batch=$batchId")

  private[streaming] def processBatch(paths: DataFrame, batchId: Long): Unit = {
    // the micro-batch frame lives in the runner's cloned session —
    // make sure that registry has the native functions too
    graft.functions.GraftExtensions.register(paths.sparkSession)
    // Per-batch checkpoint registry: every eager localCheckpoint below
    // is batch-scoped state, fully consumed (written to parquet) before
    // the batch ends — without an explicit release the blocks linger
    // until driver GC happens to collect the frame and ContextCleaner
    // gets around to it, which on a long-running stream accumulates as
    // storage-memory pressure batch after batch. The finally makes
    // the release deterministic, including
    // on a failing batch (the runner will replay it anyway).
    val cps = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def cp(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true); cps += c; c
    }
    try {
    // record-range fan-out: a batch containing one oversized blob (the
    // 1 GB CommonCrawl member case) parses as MANY tasks over disjoint
    // gzip-member ranges instead of one straggler task — the
    // release_batcher-style per-unit batch expansion applied inside the
    // micro-batch (blobs <= targetSplitBytes take the whole-file path)
    val raw = cp(WarcCodec.rawDocumentsForPathsSharded(spark,
      paths.select("path").as[String], targetSplitBytes)
      .toDF())
    val docs = WarcCodec.documentsFromRaw(raw)

    // curation: the SAME stage transforms the batch pipeline runs, in
    // the same order (URL hygiene first, opt-in Gopher gate after
    // language ID). URL dedup here is within-batch; a re-crawl landing
    // in a LATER batch is still caught by the content-hash anti-join
    // against the store below.
    // encoding repair (x107, opt-in) AFTER the URL stage: urlFilter
    // never reads text, so the repair regexes shouldn't be paid for
    // docs the cheap URL-dedup/blocklist drop is about to discard —
    // but it stays before language ID and the content hashes, which
    // is all the correctness the repair protects (see stage 1b of the
    // batch pipeline)
    val urlKept = CorpusPipeline.urlFilter(docs, cfg)
    // checkpointed like the batch pipeline's stage 2b: downstream
    // stages reference text many times and must see the repaired
    // STRING, not a re-executed repair expression per reference
    val fixed =
      if (cfg.encodingFix) cp(CorpusPipeline.fixEncoding(urlKept))
      else urlKept
    val langKept = CorpusPipeline.languageFilter(fixed, cfg)
    val gated =
      if (cfg.gopherRules) CorpusPipeline.gopherFilter(langKept) else langKept
    val repGated =
      if (cfg.repetitionGate) CorpusPipeline.repetitionFilter(gated) else gated
    val cur0 = cp(CorpusPipeline.redactPii(
      CorpusPipeline.qualityFilter(repGated, cfg)))

    // learned-quality leg (opt-in via indexQualityModel): the x118
    // deployment — score the curated batch with the CURRENT COMMITTED
    // model version (one scan-side projection; the model is a handful
    // of literals) and drop below-threshold docs BEFORE dedup pays for
    // them. Pure function of (batch, committed model state) — replays
    // are byte-identical: a batch whose OWN rotation already committed
    // (crash after the ledger row) re-scores against the PRE-rotation
    // version, exactly like the PQ leg's committedRotationHere path.
    // Drift telemetry rides qualityDrift, and a drifted verdict has a
    // RESPONSE: after this batch's curated rows land, the same batch
    // retrains on the accumulated curated store and commits the new
    // weights as version+1 (see the rotation block below the curated
    // write — the retrain corpus must include this batch).
    var qualityRotation: Option[(Long, Long)] = None // (maxVer, threshold)
    val cur = if (!qualityRegistered) cur0 else {
      val metaRows = qualityMetaRows
      val committedHere = metaRows.find(_._3 == batchId)
      val maxVer = metaRows.lastOption.map(_._1).getOrElse(0L)
      val serveVer = committedHere.map(_._1 - 1).getOrElse(maxVer)
      val (w, sc, thr) = loadQualityModel(serveVer)
      val lowQ = graft.operators.QualityClassifier
        .scoreDocs(cur0, "doc_id", "text", sc, w)
        .filter(col("p6") < thr)
        .select(col("doc_id"))
      val kept = cp(cur0.join(lowQ, Seq("doc_id"), "left_anti"))
      val nScored = cur0.count()
      overwriteBatch(
        Seq((batchId, nScored, nScored - kept.count()))
          .toDF("batch_id", "scored", "q_dropped"),
        qualityLedgerPath, batchId)
      // covariate-shift alarm: standardized feature means of the batch
      // under the SERVING model's train-fit scaler (~0 on the train
      // split by construction). One scan-side aggregate.
      val (bN, maxAbsG) = graft.operators.QualityClassifier
        .featureDriftMicro(cur0, "doc_id", "text", sc)
      val verdict: Option[Boolean] =
        if (sc.n < QDriftMinTrainN || bN == 0) None
        else Some(maxAbsG > QDriftGMicro)
      overwriteBatch(
        Seq((batchId, bN, maxAbsG, verdict))
          .toDF("batch_id", "batch_n", "max_abs_g_mean", "drifted"),
        qualityDriftPath, batchId)
      if (verdict.contains(true) && committedHere.isEmpty)
        qualityRotation = Some((maxVer, thr))
      kept
    }

    // exact dedup: in-batch keep-first, then anti-join the store's
    // hashes (id-level state probe; the store never re-shuffles itself).
    // content_hash is (re)derived AFTER exactKeepFirst — it drops its
    // internal column of the same name — with the same normalization.
    // no distinct() on the store side: every batch admits only hashes
    // unseen at its time, so stored content_hash values are globally
    // unique by construction — deduplicating them again would add a
    // full aggregation pass over corpus history per batch
    // replay guard: a crash between the curated write and the stream
    // checkpoint commit replays a batch whose own rows are ALREADY in
    // the store — without excluding them, every replayed doc would
    // anti-join ITSELF away and the rewrite would be an empty dir
    // (silent data loss). The exclusion is by batch PROVENANCE (skip
    // this batch's own store dir), not by doc id: a byte-identical
    // re-crawl in a later batch carries the same content-derived
    // doc_id and must still dedup against the prior batch's hash. If a
    // compact() folded the uncommitted batch's rows into the base, the
    // replayed dir lands at/below the mark and stays invisible — the
    // store keeps serving the folded original either way.
    val priorHashes = readOr(curatedPath,
        Seq.empty[String].toDF("content_hash"),
        excludeBatch = batchId)
      .select(col("content_hash"))
    val hashed = Dedup.exactKeepFirst(cur, "doc_id", "text")
      .withColumn("content_hash", md5(lower(trim(col("text")))))
    // STORE-PROBE DECOMPOSITION (the incrementalPassageSpans
    // discipline): an anti-join can only broadcast its RIGHT side, so
    // the naive batch ▷ store shape SHUFFLES the whole hash history
    // once per batch as soon as it outgrows the planner's broadcast
    // threshold — invisible at fixture scale (the store side
    // auto-broadcasts while small), ruinous at corpus scale. Rewritten
    // as batch ▷ (store ⋉ broadcast(batch hashes)): the store is
    // SCANNED, never exchanged — the batch's hashes land on it as a
    // broadcast semi probe and only matching hashes (≤ the batch's own
    // distinct-hash count) come back to drive the bounded anti-join.
    // Semantically identical: h drops iff h ∈ store iff h ∈ matched.
    // The dispatch is MEASURED (batch doc count off the pinned frame,
    // one cached-count job), not planner-estimated: a backfill-sized
    // batch degrades to the partitioned anti-join, paying the O(store)
    // shuffle only when its own size genuinely demands it.
    val exactKept = cp(CorpusStream.exactStoreProbe(hashed, priorHashes,
      cur.count(), ExactProbeBroadcastLimit))

    // near-dup vs the persisted index (the x34 FromIndex shape: stored
    // bands + stored verification arrays, zero recompute over corpus
    // history). A new doc paired with ANY indexed doc loses (the index
    // is canonical history); surviving in-batch pairs canonicalize by
    // connected component.
    val newSh = Dedup.shingleTable(exactKept, "doc_id", "text", cfg.shingleN)
    val pairs = cp(Dedup.incrementalMinhashLshPairsFromIndex(
      bandIndex, docArrIndex, newSh,
      cfg.numPerm, cfg.bands, cfg.nearDupThreshold))
    val newIds = exactKept.select(col("doc_id"))
    val vsIndex = pairs
      .join(newIds.select(col("doc_id").as("a")), Seq("a"), "left_semi")
      .join(newIds.select(col("doc_id").as("b")), Seq("b"), "left_anti")
      .select(col("a").as("doc_id"))
      .unionByName(pairs
        .join(newIds.select(col("doc_id").as("b")), Seq("b"), "left_semi")
        .join(newIds.select(col("doc_id").as("a")), Seq("a"), "left_anti")
        .select(col("b").as("doc_id")))
      .distinct()
    val afterIndex = exactKept.join(vsIndex, Seq("doc_id"), "left_anti")
    val inBatchPairs = pairs
      .join(afterIndex.select(col("doc_id").as("a")), Seq("a"), "left_semi")
      .join(afterIndex.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
    val acceptedPreContam =
      cp(Components.keepCanonical(afterIndex, "doc_id", inBatchPairs))

    // decontamination leg (opt-in via indexEvalSet): the batch recipe's
    // stage 10 riding the stream — drop arriving docs whose window
    // fraction against the registered eval split exceeds the threshold,
    // BEFORE any state append, so neither the curated store nor any
    // index/export leg ever carries an eval-contaminated doc. The probe
    // is the batch's own windows against the instance-cached Bloom of
    // the PERSISTED eval index: per-batch cost is scan-side, flat in
    // both corpus history and eval index size. Pure function of (batch,
    // static reference state) — a crash-replayed batch recomputes the
    // identical verdicts, no provenance guard needed.
    val accepted = evalBloom match {
      case None => acceptedPreContam
      case Some(bloom) =>
        val batchW = Contamination.tokenWindows(
          acceptedPreContam, "doc_id", "text", cfg.contamWindow)
        val contaminated = Contamination.bloomFracAgainst(batchW, bloom)
          .filter(col("bloom_frac") > cfg.maxContamFrac)
          .select(col("id").as("doc_id"))
        val kept = cp(acceptedPreContam
          .join(contaminated, Seq("doc_id"), "left_anti"))
        val nChecked = acceptedPreContam.count()
        overwriteBatch(
          Seq((batchId, nChecked, nChecked - kept.count()))
            .toDF("batch_id", "checked", "contam_dropped"),
          contamLedgerPath, batchId)
        kept
    }

    // semantic leg (opt-in): hashed-TF embeddings for the ACCEPTED docs,
    // near-dup FLAGS against the persisted vector index (+ in-batch),
    // then index append — the incremental-IVF/x34 contract: batch-side
    // bucket computation + one bucket-keyed join vs the index, zero
    // recompute over embedding history.
    // shared by the semantic + PQ legs: one embedding computation for
    // the batch (both consume the same hashed-TF vectors)
    lazy val newVecs = cp(accepted.select(col("doc_id"),
      TextAnalysis.hashedTfEmbedding(col("text"), SemDim).as("emb")))
    semanticThreshold.foreach { thr =>
      // a crash-REPLAYED batch finds its own half-written index rows on
      // disk; anti-joining the batch's ids off the index side makes the
      // replay's flag output byte-identical to the first attempt
      val batchIds = newVecs.select(col("doc_id").as("id"))
      overwriteBatch(Similarity.incrementalCosinePairsFromIndex(
          vecBucketIndex.join(batchIds, Seq("id"), "left_anti"),
          vecIndex.join(batchIds, Seq("id"), "left_anti"),
          newVecs, "doc_id", "emb", thr,
          SemBits, SemTables),
        semDupPath, batchId)
      overwriteBatch(Similarity.normedVecs(newVecs, "doc_id", "emb"),
        vecPath, batchId)
      overwriteBatch(Similarity.lshBucketTable(newVecs, "doc_id", "emb",
        SemBits, SemTables), vecBucketPath, batchId)
    }

    // PQ leg (opt-in): maintain the serving code table incrementally —
    // the x96 append contract riding the stream. The codebook trains
    // on the first non-empty batch (version 0; deterministic, so a
    // crash-replayed training batch rebuilds the identical codebook)
    // and every later batch encodes against the STORED codebook:
    // per-batch cost reads the batch + the M·Ks-row codebook, never
    // the stored codes (PlanAuditSpec pins encode as a pure projection).
    // Drift telemetry rides pqDrift — and a drifted verdict now has a
    // RESPONSE PATH: the same batch rotates the codebook (retrain on
    // the full accumulated vector store, re-encode every stored code,
    // commit as version+1 in the pqVersions ledger). Rotation is the
    // one deliberately state-sized operation in the leg: it costs one
    // pass over the accumulated vectors and fires only when the alarm
    // does, which is exactly the trade a stale serving index is not.
    pqM.foreach { m =>
      import graft.operators.Pq
      val ds = SemDim / m
      val metaRows = pqMetaRows
      // committed-rotation replay fast path: a version-ledger row AT
      // THIS batch id with version > 0 means the rotation below already
      // committed before a crash-replay — serve the drift/codes rows
      // against the PRE-rotation codebook so the replayed batch's
      // on-disk writes are byte-identical to the first attempt, and
      // skip re-rotating (centroids, snapshot and ledger row are
      // already on disk, and re-encoding the corpus twice buys nothing)
      val committedRotationHere =
        metaRows.find(r => r._4 == batchId && r._1 > 0)
      val cbOpt = committedRotationHere match {
        case Some(r) => Some(loadCodebook(metaRows.find(_._1 == r._1 - 1).get))
        case None => metaRows.lastOption.map(loadCodebook).orElse {
          if (newVecs.isEmpty) None
          else {
            val cb = Pq.train(newVecs, "doc_id", "emb", m, PqKs, PqIters)
            val trainN = newVecs.count()
            // centroids first, ledger row last: the row is the commit —
            // a crash between the writes is re-entered by the replayed
            // batch, which retrains the same deterministic codebook and
            // overwrites both
            cb.centroids.coalesce(1).write.mode("overwrite")
              .parquet(s"$pqCbPath/v=0")
            overwriteBatch(
              Seq((0L, cb.errors.last, trainN, batchId))
                .toDF("version", "train_err_sum", "train_n", "batch_id"),
              pqMetaPath, batchId)
            Some((cb, cb.errors.last, trainN, 0L))
          }
        }
      }
      cbOpt.foreach { case (cb, trainSum, trainN, ver) =>
        overwriteBatch(Pq.encode(newVecs, "doc_id", "emb", cb, m, ds),
          pqCodesPath, batchId)
        val (bSum, bN) = Pq.batchQuantizationError(newVecs, "doc_id", "emb",
          cb, m, ds)
        val trainPer = if (trainN == 0) 0.0 else trainSum / trainN
        val batchPer = if (bN == 0) 0.0 else bSum / bN
        // a codebook trained on fewer vectors than it has centroids per
        // subspace memorizes its training batch (error ~0), and ANY
        // later batch would flag against that degenerate baseline — a
        // drift VERDICT needs trainN >= Ks; below it the ledger row
        // records null (telemetry without a verdict)
        val verdict: Option[Boolean] =
          if (trainN < PqKs) None
          else Some(bN > 0 && batchPer > PqDriftFactor * trainPer)
        overwriteBatch(
          Seq((batchId, batchPer, trainPer, verdict))
            .toDF("batch_id", "batch_err_per_vec", "train_err_per_vec",
              "drifted"),
          pqDriftPath, batchId)
        // drift response: rotate. The retrain corpus is the semantic
        // leg's persisted vector store (which already contains THIS
        // batch — its vecs landed above), so the rotation is a pure
        // function of accumulated state and replays deterministically.
        // Write order is the commit protocol: (1) centroids v+1,
        // (2) full re-encode snapshot as the codes store's base dir,
        // (3) the _compacted marker move (stale per-batch code dirs
        // become invisible), (4) the version-ledger row — the commit.
        // A crash anywhere before (4) leaves the ledger at v, and the
        // replayed batch re-enters here and rewrites (1)-(4)
        // identically; between (3) and (4) a reader pairs the v
        // codebook with v+1 codes, a transiently degraded ADC shortlist
        // whose exact re-rank (true vectors) stays correct.
        if (verdict.contains(true) && committedRotationHere.isEmpty) {
          val corpus = vecIndex.select(col("id"), col("vec"))
            .localCheckpoint(true)
          try {
            // the store excludes zero-norm/NaN vectors (withNorm's
            // contract); if nothing indexable has ever landed there is
            // nothing to retrain ON or re-encode — keep the alarm row,
            // skip the rotation
            val n2 = corpus.count()
            if (n2 > 0) {
              val cb2 = Pq.train(corpus, "id", "vec", m, PqKs, PqIters)
              cb2.centroids.coalesce(1).write.mode("overwrite")
                .parquet(s"$pqCbPath/v=${ver + 1}")
              // write-then-rename (the compactOne discipline): on a
              // crash-REPLAYED rotation the mark already points at
              // base=N, and an in-place overwrite would first delete
              // the live marked base — a second crash mid-write would
              // leave readers a partial dir that fails schema
              // inference. With the rename, the worst window is a
              // missing base (readOr simply skips it: degraded, never
              // crashing) until the next replay completes.
              val codesDir = new java.io.File(pqCodesPath)
              codesDir.mkdirs()
              val tmp = new java.io.File(codesDir, ".rot_tmp")
              if (tmp.exists()) deleteRec(tmp)
              Pq.encode(corpus, "id", "vec", cb2, m, ds)
                .write.mode("overwrite").parquet(tmp.getAbsolutePath)
              val base = new java.io.File(codesDir, s"base=$batchId")
              if (base.exists()) deleteRec(base)
              require(tmp.renameTo(base), s"rotation rename failed: $base")
              moveMark(pqCodesPath, batchId)
              overwriteBatch(
                Seq((ver + 1, cb2.errors.last, n2, batchId))
                  .toDF("version", "train_err_sum", "train_n", "batch_id"),
                pqMetaPath, batchId)
            }
          } finally graft.CheckpointBlocks.release(corpus)
        }
      }
    }

    // graph-index leg (opt-in via knnK): maintain a serving kNN graph
    // over the semantic leg's vectors incrementally — the x125 delta
    // contract riding the stream as an append-only edge LOG. Per
    // batch: the new docs beam-search the graph-as-of-before-this-
    // batch for candidates (id-keyed joins against stored state, the
    // x122 cost shape), batch-internal pairs score exactly, and the
    // delta (new-node top-k + induced reverse edges) lands as this
    // batch's dir; the serving graph derives at read by a top-k cut,
    // so history is never rewritten and overwrite-by-batchId is the
    // whole replay story. Replay guard: the batch's own prior-attempt
    // rows are excluded from BOTH the corpus side (vecIndex already
    // holds this batch's vectors — they landed above) and the edge
    // log the pre-batch graph derives from, so a crash-replayed batch
    // recomputes a byte-identical delta.
    knnK.foreach { k =>
      val metaRows = knngMetaRows
      // committed-rebuild replay fast path: a ledger row AT this batch
      // id means a prior attempt appended the delta, measured
      // staleness, rebuilt, AND committed — the rebuilt base SUBSUMES
      // this batch's delta, and the pre-rebuild state the first
      // attempt measured is no longer addressable behind the moved
      // mark, so the only idempotent replay is to touch nothing (all
      // three artifacts are already on disk, byte-exact).
      if (!metaRows.exists(_._3 == batchId)) {
        val batchIds = newVecs.select(col("doc_id").as("id"))
        val baseVecs = vecIndex.join(batchIds, Seq("id"), "left_anti")
          .select(col("id"), col("vec"))
        val graph0 = graft.operators.KnnGraph.graphFromEdgeLog(
          readOr(knngPath,
            Seq.empty[(String, String, Double)].toDF("id", "nid", "sim"),
            excludeBatch = batchId), k)
        val delta = graft.operators.KnnGraph.appendDelta(graph0, baseVecs,
          newVecs.select(col("doc_id").as("id"), col("emb").as("vec")),
          "id", "vec", k, beam = KnnBeam, hops = KnnHops)
        try overwriteBatch(delta, knngPath, batchId)
        finally graft.CheckpointBlocks.release(delta)
        // staleness telemetry: graph nodes ARE the vec store's rows,
        // so both counts come from parquet footers (no data scan, flat
        // per batch); n_base is the last rebuild's ledger row. An
        // append-born node carries only beam-searched edges — when
        // most nodes are append-born the "index" is really a beam
        // cache and navigability has no build-time floor.
        val nTotal = vecIndex.count()
        val nBase = metaRows.lastOption.map(_._2).getOrElse(0L)
        val nApp = math.max(nTotal - nBase, 0L)
        val appendedPm =
          if (nTotal == 0) 0L else math.round(nApp * 1000.0 / nTotal)
        val stale: Option[Boolean] =
          if (nTotal < KnnStaleMinNodes) None
          else Some(appendedPm > KnnStaleFracPm)
        overwriteBatch(
          Seq((batchId, nTotal, nApp, appendedPm, stale))
            .toDF("batch_id", "n_nodes", "n_appended", "appended_pm",
              "stale"),
          knngDriftPath, batchId)
        // staleness RESPONSE: bounded NN-Descent rebuild over the full
        // vector store (which includes this batch — its vecs landed in
        // the semantic leg above), folded in as the edge log's base
        // dir. Write order is the commit protocol: (1) rebuilt edges
        // write-then-rename to base=N (a crash mid-write never
        // destroys a live base), (2) the _compacted marker move (per-
        // batch dirs at or below N become invisible — the rebuilt base
        // subsumes them), (3) the knngmeta ledger row — the commit. A
        // crash before (3) re-enters here on replay and rewrites
        // (1)-(3) identically (the build is deterministic in the
        // store); between (2) and (3) readers already serve the
        // rebuilt base, strictly fresher than what they had.
        if (stale.contains(true)) {
          val rebuilt = graft.operators.KnnGraph.build(
            vecIndex.select(col("id"), col("vec")),
            "id", "vec", k, KnnRebuildRounds)
          try {
            val dir = new java.io.File(knngPath)
            dir.mkdirs()
            val tmp = new java.io.File(dir, ".rot_tmp")
            if (tmp.exists()) deleteRec(tmp)
            rebuilt.select(col("id"), col("nid"), col("sim"))
              .write.mode("overwrite").parquet(tmp.getAbsolutePath)
            val base = new java.io.File(dir, s"base=$batchId")
            if (base.exists()) deleteRec(base)
            require(tmp.renameTo(base), s"graph rebuild rename failed: $base")
            moveMark(knngPath, batchId)
            overwriteBatch(
              Seq((metaRows.lastOption.map(_._1).getOrElse(0L) + 1L,
                  nTotal, batchId))
                .toDF("version", "n_nodes", "batch_id"),
              knngMetaPath, batchId)
          } finally graft.CheckpointBlocks.release(rebuilt)
        }
      }
    }

    // passage leg (opt-in): token-window spans duplicated against the
    // persisted window index OR within the batch (the x84 incremental
    // contract) — flags ride passageSpans; the batch's distinct (id, w)
    // rows append to the index. Replay: anti-joining the batch's own
    // ids off the index side makes a crash-replayed batch's spans
    // byte-identical to the first attempt.
    passageK.foreach { k =>
      val batchIds = accepted.select(col("doc_id").as("id"))
      val storedW = storedWindowIndex
        .join(batchIds, Seq("id"), "left_anti").select(col("w"))
      overwriteBatch(PassageDedup.incrementalPassageSpans(
        accepted, storedW, "doc_id", "text", k), passSpanPath, batchId)
      overwriteBatch(PassageDedup.windowIdIndex(accepted, "doc_id", "text", k),
        winPath, batchId)
    }

    // batch-atomic state append: overwrite-by-batchId = replay-idempotent
    overwriteBatch(raw.filter(col("blob_error").isNotNull)
      .select(col("path"), col("blob_error")), dlqPath, batchId)
    overwriteBatch(accepted, curatedPath, batchId)

    // tokenizer leg (opt-in via bpeMerges): maintain the DEPLOYED
    // byte-BPE vocab — the last learned/served artifact to get the
    // alarm-and-response treatment (PQ codes, quality weights, and the
    // kNN graph already have it; a stale vocab on a shifting corpus
    // silently degrades every downstream consumer's fertility with no
    // error). v=0 trains on the accumulated curated store at the first
    // non-empty batch (which IS that batch — its rows just landed
    // above); every later batch tokenizes against the STORED merge
    // table, a ≤bpeMerges-row driver literal: per-batch cost reads the
    // BATCH only, so it stays flat as the store grows. Telemetry
    // is bytes-per-token under the serving vocab — on a covariate-
    // shifted batch the learned merges stop firing and bpt collapses
    // toward the 1-byte floor. A drifted verdict retrains on the
    // accumulated store (this batch included) and commits version+1:
    // merge table first, bpemeta ledger row second (the commit — the
    // pqmeta protocol). Unlike PQ there is no stored artifact to
    // re-encode: a rotated vocab changes only how FUTURE batches (and
    // the trainer handoff) tokenize. Crash-replay: a committed
    // rotation AT this batch id serves the PRE-rotation version for
    // the ledger/drift rows (byte-identical outputs) and skips
    // re-rotating; a crash between the two rotation writes re-enters
    // and rewrites both deterministically (the learner is a pure
    // function of the store).
    bpeMerges.foreach { nm =>
      import graft.operators.BpeQueries
      if (bpeMetaRows.isEmpty && !curated.isEmpty) {
        val store = curated
        val merges = BpeQueries.learnMergesOn(
          BpeQueries.pretokenVocab(store, "text")
            .withColumn("syms", BpeQueries.byteSyms(col("w"))), nm)
        val (_, tTok, tBytes, _) =
          BpeQueries.byteTokenStats(store, "text", merges)
        if (tTok > 0) {
          writeBpeVersion(0L, merges)
          overwriteBatch(
            Seq((0L, tTok, math.round(tBytes * 1e6 / tTok), batchId))
              .toDF("version", "train_tokens", "train_bpt_micro",
                "batch_id"),
            bpeMetaPath, batchId)
          bpeVocabCache = None
        }
      }
      val metaRows = bpeMetaRows
      metaRows.lastOption.foreach { last =>
        val committedRotationHere =
          metaRows.find(r => r._4 == batchId && r._1 > 0)
        val (serveVer, trainTok, trainBpt) = committedRotationHere match {
          case Some(r) =>
            val p = metaRows.find(_._1 == r._1 - 1).get
            (p._1, p._2, p._3)
          case None => (last._1, last._2, last._3)
        }
        val merges = loadBpeMerges(serveVer)
        val nDocs = accepted.count()
        val (pre, tok, bytes, merged) =
          BpeQueries.byteTokenStats(accepted, "text", merges)
        val bpt = if (tok == 0) 0L else math.round(bytes * 1e6 / tok)
        val mergedPm = if (tok == 0) 0L
          else math.round(merged * 1000.0 / tok)
        overwriteBatch(
          Seq((batchId, nDocs, pre, tok, bytes, bpt, mergedPm))
            .toDF("batch_id", "docs", "pretokens", "tokens", "bytes",
              "bpt_micro", "merged_pm"),
          bpeLedgerPath, batchId)
        val verdict: Option[Boolean] =
          if (trainTok < BpeDriftMinTokens || tok == 0) None
          else Some(bpt * 1000L < trainBpt * BpeDriftFracPm)
        overwriteBatch(
          Seq((batchId, bpt, trainBpt, verdict))
            .toDF("batch_id", "batch_bpt_micro", "train_bpt_micro",
              "drifted"),
          bpeDriftPath, batchId)
        if (verdict.contains(true) && committedRotationHere.isEmpty) {
          val store = curated
          val merges2 = BpeQueries.learnMergesOn(
            BpeQueries.pretokenVocab(store, "text")
              .withColumn("syms", BpeQueries.byteSyms(col("w"))), nm)
          val (_, tTok2, tBytes2, _) =
            BpeQueries.byteTokenStats(store, "text", merges2)
          if (tTok2 > 0) {
            writeBpeVersion(last._1 + 1L, merges2)
            overwriteBatch(
              Seq((last._1 + 1L, tTok2,
                  math.round(tBytes2 * 1e6 / tTok2), batchId))
                .toDF("version", "train_tokens", "train_bpt_micro",
                  "batch_id"),
              bpeMetaPath, batchId)
            bpeVocabCache = None
          }
        }
      }
    }

    // quality-model drift RESPONSE (armed by the leg above): retrain on
    // the accumulated curated store — which now includes this batch's
    // rows — and commit the new weights as version+1. Weak labels are
    // the Gopher pass bit over the raw stored text (rawLabeledFrame):
    // the same bootstrap rule x118 trains on, applied to the corpus as
    // it actually arrived. Write order is the commit protocol: weights
    // v+1 first, the qualitymeta ledger row second (the commit) — a
    // crash between the two leaves serving at v, and the replayed batch
    // re-enters here and rewrites both identically (the retrain is a
    // pure function of the curated store, whose state the replay's own
    // overwrite-by-batchId reproduces). Unlike the PQ rotation there is
    // no stored artifact to re-encode: rotated weights change only how
    // FUTURE batches are screened, so the rotation costs one labeled
    // scan of the store plus the bounded GD iterations.
    qualityRotation.foreach { case (maxVer, thr) =>
      val lf = graft.operators.QualityClassifier
        .rawLabeledFrame(curated, "doc_id", "text")
        .localCheckpoint(true)
      try {
        // an empty store (every doc this far dropped) leaves nothing to
        // retrain on — keep the alarm row, skip the rotation
        if (lf.count() > 0) {
          val tr = graft.operators.QualityClassifier.fit(lf)
          writeQualityVersion(maxVer + 1, tr.finalW, tr.scaler, thr)
          overwriteBatch(
            Seq((maxVer + 1, tr.scaler.n, batchId))
              .toDF("version", "train_n", "batch_id"),
            qualityMetaPath, batchId)
          qualityModelCache = None
        }
      } finally graft.CheckpointBlocks.release(lf)
    }

    // export leg (opt-in): ship the batch's ACCEPTED docs
    // shard-partitioned (the x108 contract riding the stream) and
    // ledger the manifest the trainer re-derives from the files it
    // received. Same replay discipline as every store: overwrite by
    // batchId, so a crash-replayed batch rewrites identical shards and
    // an identical manifest.
    exportShards.foreach { nsh =>
      import graft.operators.ExportQueries
      accepted
        .withColumn("shard", ExportQueries.shardOf(nsh))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$exportPath/batch=$batchId")
      overwriteBatch(
        ExportQueries.manifest(
            ExportQueries.shardAssign(accepted, nsh))
          .withColumn("batch_id", lit(batchId)),
        exportManifestPath, batchId)
    }
    val acceptedSh = cp(newSh
      .join(accepted.select(col("doc_id").as("id")), Seq("id"), "left_semi"))
    overwriteBatch(Dedup.lshBandTable(acceptedSh, cfg.numPerm, cfg.bands),
      bandPath, batchId)
    overwriteBatch(Dedup.docShingleArrays(acceptedSh), docArrPath, batchId)

    val nDocs = docs.count()
    val nCur = cur.count()
    val nExact = exactKept.count()
    val nAccepted = accepted.count()
    overwriteBatch(
      Seq((batchId, nDocs, nCur, nCur - nExact, nExact - nAccepted, nAccepted))
        .toDF("batch_id", "ingested", "curated_in", "exact_dropped",
          "near_dropped", "accepted"),
      ledgerPath, batchId)
    } finally cps.foreach(graft.CheckpointBlocks.release)
  }
}

object CorpusStream {
  /** The exact-dedup store probe, extracted so its plan shape is
    * PINNABLE (the batch frame is checkpointed inside processBatch,
    * which hides the join): batch ▷ (store ⋉ broadcast(batch hashes))
    * under the measured limit — store SCANNED, both joins broadcast —
    * degrading to the partitioned batch ▷ store anti-join past it.
    * See the call site for the full rationale.
    */
  private[graft] def exactStoreProbe(hashed: org.apache.spark.sql.DataFrame,
      priorHashes: org.apache.spark.sql.DataFrame, batchN: Long,
      broadcastLimit: Long): org.apache.spark.sql.DataFrame =
    if (batchN <= broadcastLimit) {
      val matched = priorHashes.join(
        org.apache.spark.sql.functions.broadcast(
          hashed.select(org.apache.spark.sql.functions.col("content_hash"))),
        Seq("content_hash"), "left_semi")
      hashed.join(org.apache.spark.sql.functions.broadcast(matched),
        Seq("content_hash"), "left_anti")
    } else hashed.join(priorHashes, Seq("content_hash"), "left_anti")

  /** Host component of a URL, "" when absent or unparsable. */
  private[streaming] def hostOf(url: String): String =
    try Option(new java.net.URI(url).getHost).getOrElse("")
    catch { case scala.util.control.NonFatal(_) => "" }

  /** FNV-1a 64-bit over the UTF-8 host bytes — the session key. 64 bits
    * because web-scale host cardinality (~10^8) meets the 32-bit
    * birthday bound; a deterministic pure function so batch replays and
    * external joins reproduce the key.
    */
  private[graft] def hostHash(host: String): Long = {
    var h = 0xcbf29ce484222325L
    host.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xFFL); h *= 0x100000001b3L
    }
    h
  }
}
