package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

import graft.{CheckpointBlocks, CorpusPipeline}
import graft.operators.{Components, Contamination, Dedup}
import graft.sources.WarcCodec

/** Incremental corpus ingestion — the growing-corpus form of
  * [[graft.CorpusPipeline.run]]: WARC blobs LAND in a watched directory
  * and each micro-batch runs `run`'s own stage functions, then dedups
  * against the PERSISTED corpus state instead of against itself:
  *
  *   new blobs (file-source checkpoint = each blob exactly once)
  *   -> sharded raw scan (failed blobs to the quarantine)
  *   -> URL canonicalize/blocklist (in-batch dedup) -> encoding repair
  *      (opt-in) -> the language/Gopher/repetition/quality gates in one
  *      job ([[graft.CorpusPipeline.gates]]) -> PII redact
  *   -> exact dedup vs the curated store's content hashes
  *   -> near-dup dedup vs the persisted band + array index (the x34
  *      incremental-LSH contract: new-vs-index and in-batch pairs only,
  *      never old-vs-old — per-batch cost involves NO recomputation
  *      over corpus history, just scans of the stored index)
  *   -> decontamination vs the eval split registered with
  *      [[indexEvalSet]] (off until one is registered)
  *   -> append survivors + their index rows, batch-atomically
  *
  * `run`'s paragraph dedup, split assignment and packing are
  * whole-corpus passes and stay batch-only; with no duplicate spanning
  * two drops and no paragraph shared by two documents, the curated
  * store equals one `run` over the union of the drops.
  *
  * State layout under `workDir`: `curated/batch=N` (accepted documents
  * + content_hash), `bands/batch=N` + `docarrs/batch=N` (the two stored
  * halves of the near-dup index — LSH band rows for candidate
  * generation, one sorted shingle-hash array per doc for exact
  * verification), `ledger/batch=N` (per-batch counts),
  * `contamledger/batch=N` (per-batch decontamination counts),
  * `quarantine/batch=N` (failed-blob dead letters), `evalwindows/`
  * (the registered eval split's window hashes) and `chk/` (the
  * file-source checkpoint). Every batch directory is written with
  * mode=overwrite keyed by the foreachBatch batchId, so a
  * crash-replayed batch REWRITES its own output instead of doubling it
  * — idempotent without a MERGE, the Delta-style exactly-once recipe on
  * plain parquet. [[compact]] folds accumulated batch dirs into one
  * `base=<mark>` per store (the small-files remedy for a long-lived
  * ingest); the `_compacted` high-water mark keeps replayed
  * below-the-mark batches invisible to readers. Single writer per
  * workDir — run one ingest() drain at a time.
  *
  * Scale posture: per batch, the only state-sized work is one
  * band-bucket join against the index (8-byte keys) and one hash probe
  * of the curated store; the WARC scan, curation, and shingling touch
  * only the batch. The ledger counts are observed on the batch's own
  * stage checkpoints, so they cost no job of their own (only
  * `ingested` is counted, as in `run`).
  */
class CorpusStream(spark: SparkSession, workDir: String,
                   cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
                   targetSplitBytes: Long = 128L << 20) {
  import spark.implicits._

  private val curatedPath = s"$workDir/curated"
  private val bandPath = s"$workDir/bands"
  private val docArrPath = s"$workDir/docarrs"
  private val ledgerPath = s"$workDir/ledger"
  private val dlqPath = s"$workDir/quarantine"
  // reference state, not batch-keyed: the registered eval split's
  // distinct window hashes ([[indexEvalSet]]) — the decontamination
  // stage's probe target
  private val evalWindowPath = s"$workDir/evalwindows"
  private val contamLedgerPath = s"$workDir/contamledger"
  // exact-dedup store probe: batches up to this many docs ship their
  // hashes as a broadcast semi probe of the stored hash history (md5
  // strings ≈ 56 B/row → ≤ ~56 MB); bigger (backfill-sized) batches
  // degrade to the partitioned anti-join
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

  /** Fold every batch directory of the state stores into one
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
    * against its own folded rows). The guard below refuses instead of
    * corrupting.
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
      contamLedgerPath)
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
  }

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
        // the swap point readers observe: write-then-move the marker
        val mtmp = java.nio.file.Files.write(
          new java.io.File(dir, "._compacted_tmp").toPath,
          newMark.toString.getBytes)
        java.nio.file.Files.move(mtmp, new java.io.File(dir, "_compacted").toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // now unreferenced: folded batch dirs + the previous base
        newBatches.foreach(deleteRec)
        val oldBase = new java.io.File(dir, s"base=$mark")
        if (mark >= 0 && oldBase.exists()) deleteRec(oldBase)
    }
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

  /** Register (or replace) the held-out eval split the ingest must
    * decontaminate against: persist its DISTINCT window hashes (the x33
    * relation at cfg.contamWindow) under the workDir. Registering
    * ENABLES decontamination — every later batch drops arriving docs
    * whose eval-window fraction exceeds cfg.maxContamFrac, exactly the
    * batch recipe's stage 10 — so a long-lived ingest can no longer
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
    * contam_dropped) — rows appear only while an eval set is registered.
    */
  def contamLedger: DataFrame = readOr(contamLedgerPath,
    Seq.empty[(Long, Long, Long)]
      .toDF("batch_id", "checked", "contam_dropped"))

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
    // a stage checkpoint that observes its own row count while it
    // materialises, so the ledger costs no job of its own
    def counted(df: DataFrame): (DataFrame, Long) = {
      val (c, Seq(n)) = CheckpointBlocks.observedCheckpoint(df, count(lit(1)))
      cps += c
      (c, n.asInstanceOf[Long])
    }
    try {
    // 1. record-range fan-out: a batch containing one oversized blob
    // (the 1 GB CommonCrawl member case) parses as MANY tasks over
    // disjoint gzip-member ranges instead of one straggler task (blobs
    // <= targetSplitBytes take the whole-file path)
    val raw = cp(WarcCodec.rawDocumentsForPathsSharded(spark,
      paths.select("path").as[String], targetSplitBytes)
      .toDF())
    overwriteBatch(raw.filter(col("blob_error").isNotNull)
      .select(col("path"), col("blob_error")), dlqPath, batchId)
    val docs = WarcCodec.documentsFromRaw(raw)

    // 2-6. curation: `run`'s own stage functions, in `run`'s order. URL
    // dedup here is within-batch; a re-crawl landing in a LATER batch
    // is still caught by the content-hash probe of the store below.
    // The encoding repair is checkpointed as in `run`: downstream
    // stages reference text many times and must see the repaired
    // STRING, not a re-executed repair expression per reference.
    val urlKept = CorpusPipeline.urlFilter(docs, cfg)
    val fixed =
      if (cfg.encodingFix) cp(CorpusPipeline.fixEncoding(urlKept))
      else urlKept
    val (gated, gateCounts) = CorpusPipeline.gates(fixed, cfg)
    cps += gated
    val nCur = gateCounts.last
    val cur = CorpusPipeline.redactPii(gated)

    // 7. exact dedup: in-batch keep-first, then drop hashes the store
    // already holds. content_hash is (re)derived AFTER exactKeepFirst —
    // it drops its internal column of the same name — with the same
    // normalization. No distinct() on the store side: every batch
    // admits only hashes unseen at its time, so stored content_hash
    // values are globally unique by construction.
    // Replay guard: a crash between the curated write and the stream
    // checkpoint commit replays a batch whose own rows are ALREADY in
    // the store — without excluding them, every replayed doc would
    // dedup against ITSELF and the rewrite would be an empty dir
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
    // the probe's broadcast dispatch reads the gates' observed count
    // (see exactStoreProbe)
    val (exactKept, nExact) = counted(CorpusStream.exactStoreProbe(
      hashed, priorHashes, nCur, ExactProbeBroadcastLimit))

    // 8. near-dup vs the persisted index (the x34 FromIndex shape:
    // stored bands + stored verification arrays, zero recompute over
    // corpus history). A new doc paired with ANY indexed doc loses (the
    // index is canonical history); surviving in-batch pairs
    // canonicalize by connected component.
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
    val (canonical, nCanonical) =
      counted(Components.keepCanonical(afterIndex, "doc_id", inBatchPairs))

    // 10. decontamination (`run`'s stage numbers: paragraph dedup, 9,
    // is a whole-corpus pass and stays batch-only), on once
    // [[indexEvalSet]] has registered an eval split: drop arriving docs
    // whose window fraction against the eval split exceeds the
    // threshold, BEFORE any state append, so neither the curated store
    // nor the index ever carries an eval-contaminated doc. The probe is
    // the batch's own windows against the instance-cached Bloom of the
    // PERSISTED eval index: per-batch cost is scan-side, flat in both
    // corpus history and eval index size. Pure function of (batch,
    // static reference state) — a crash-replayed batch recomputes the
    // identical verdicts, no provenance guard needed.
    val decontaminated = evalBloom.map { bloom =>
      val batchW = Contamination.tokenWindows(
        canonical, "doc_id", "text", cfg.contamWindow)
      val contaminated = Contamination.bloomFracAgainst(batchW, bloom)
        .filter(col("bloom_frac") > cfg.maxContamFrac)
        .select(col("id").as("doc_id"))
      counted(canonical.join(contaminated, Seq("doc_id"), "left_anti"))
    }
    val (accepted, nAccepted) = decontaminated.getOrElse((canonical, nCanonical))

    // batch-atomic state append: overwrite-by-batchId = replay-idempotent
    overwriteBatch(accepted, curatedPath, batchId)
    val acceptedSh = cp(newSh
      .join(accepted.select(col("doc_id").as("id")), Seq("id"), "left_semi"))
    overwriteBatch(Dedup.lshBandTable(acceptedSh, cfg.numPerm, cfg.bands),
      bandPath, batchId)
    overwriteBatch(Dedup.docShingleArrays(acceptedSh), docArrPath, batchId)
    // every gated doc is charged to exactly one of exact_dropped,
    // near_dropped, the contam ledger's contam_dropped, or accepted
    overwriteBatch(
      Seq((batchId, docs.count(), nCur, nCur - nExact, nExact - nCanonical,
          nAccepted))
        .toDF("batch_id", "ingested", "curated_in", "exact_dropped",
          "near_dropped", "accepted"),
      ledgerPath, batchId)
    decontaminated.foreach { _ =>
      overwriteBatch(
        Seq((batchId, nCanonical, nCanonical - nAccepted))
          .toDF("batch_id", "checked", "contam_dropped"),
        contamLedgerPath, batchId)
    }
    } finally cps.foreach(CheckpointBlocks.release)
  }
}

object CorpusStream {
  /** The exact-dedup store probe, extracted so its plan shape is
    * PINNABLE (the batch frame is checkpointed inside processBatch,
    * which hides the join). An anti-join can only broadcast its RIGHT
    * side, so the naive batch ▷ store shape SHUFFLES the whole hash
    * history once per batch as soon as it outgrows the planner's
    * broadcast threshold. Under the limit it runs as
    * batch ▷ (store ⋉ broadcast(batch hashes)): the store is SCANNED,
    * never exchanged, and only matching hashes (≤ the batch's own
    * distinct-hash count) come back to drive the bounded anti-join —
    * h drops iff h ∈ store iff h ∈ matched. `batchN` is a MEASURED
    * batch size, not a planner estimate: a backfill-sized batch past
    * the limit degrades to the partitioned anti-join, paying the
    * O(store) shuffle only when its own size genuinely demands it.
    */
  private[graft] def exactStoreProbe(hashed: DataFrame, priorHashes: DataFrame,
      batchN: Long, broadcastLimit: Long): DataFrame =
    if (batchN <= broadcastLimit) {
      val matched = priorHashes.join(
        broadcast(hashed.select(col("content_hash"))),
        Seq("content_hash"), "left_semi")
      hashed.join(broadcast(matched), Seq("content_hash"), "left_anti")
    } else hashed.join(priorHashes, Seq("content_hash"), "left_anti")
}
