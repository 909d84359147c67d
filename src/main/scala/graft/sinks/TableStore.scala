package graft.sinks

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed-table sink semantics of the reference repository layer
  * (supabase_repository.py:37-71 + supabase_schema.sql FK cascades),
  * re-expressed over parquet table directories.
  *
  * There is no Delta in the offline jar set (SURVEY §7.6), so MERGE is
  * implemented over ONE layout, used by every table: a directory of
  * `bNNNN` bucket subdirectories (bucket = pmod(hash(key), N), N recorded
  * in a `_graft_buckets` marker at creation). An upsert rewrites ONLY the
  * buckets containing batch keys — an upsert of a 10k-row batch into a
  * huge table reads and rewrites just the collided buckets; every other
  * bucket's files are untouched (byte-identical, asserted in
  * TableStoreSpec). At 1000-executor scale bucket count is sized so a
  * bucket is a few GB; the merge job for all affected buckets is ONE
  * Spark job (partitionBy on the bucket id), not a per-bucket loop.
  * `append` keeps the same layout with N = 1: its rows land in `b0000`,
  * so upsert, lookup and deleteCascade work on appended tables unchanged
  * (pmod(hash, 1) = 0).
  *
  * Writes are crash-safe per bucket: new data lands in a staging dir,
  * then live→.bak, staging→live, drop .bak — a failure at any step
  * leaves a recoverable copy (the reference's transactional UPSERT
  * analog). Renames assume a single filesystem (local/HDFS-style); on
  * object stores swap via a manifest instead.
  *
  * All operations are idempotent: re-running an upsert of the same batch
  * yields an identical table (the OP-61 at-least-once retry model stays
  * exactly-once-effective), and an empty input is a no-op that writes
  * nothing, so callers need no emptiness guard of their own.
  */
object TableStore {

  /** Default bucket count for new tables. Production sizing: total table
    * bytes / target bucket size (a few GB); must be fixed at creation.
    */
  val DefaultBuckets = 16

  private val BucketMarker = "_graft_buckets"

  private def bucketName(b: Int): String = f"b$b%04d"

  private def bucketDirs(path: String): Seq[File] =
    Option(new File(path).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
      .sortBy(_.getName)

  /** Declared bucket count of an existing bucketed table, if any. Read
    * from the marker, NOT from the number of bucket dirs present — empty
    * buckets have no directory, and merging with the wrong modulus would
    * silently duplicate keys.
    */
  private def declaredBuckets(path: String): Option[Int] = {
    val f = new File(path, BucketMarker)
    if (f.exists()) Some(new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.toInt)
    else None
  }

  private def bucketExpr(key: String, n: Int): Column = pmod(hash(col(key)), lit(n))

  /** Swap-in-progress marker of an upsert: present => the staged
    * buckets are authoritative (roll FORWARD on recovery).
    */
  private val SwapMarker = "_graft_swap"

  /** Crash recovery, run before every read or rewrite. Heals, in order:
    *  - orphaned per-bucket backups (`bNNNN.bak`): a crash between
    *    swapIn's backup and promote steps leaves the ONLY copy of the
    *    bucket in `.bak`, which no read path consults — restore it
    *    (promote never happened) or drop it (live exists => promote
    *    completed, only the cleanup was lost);
    *  - an interrupted upsert swap: with the [[SwapMarker]] present,
    *    promote the remaining staged buckets and drop the staging dir.
    */
  private def recover(path: String): Unit = {
    Option(new File(path).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("b\\d+\\.bak"))
      .foreach { bak =>
        val live = new File(path, bak.getName.stripSuffix(".bak"))
        if (live.exists()) deleteRec(bak)
        else require(bak.renameTo(live), s"recover: restore failed for $bak")
      }
    val marker = new File(path, SwapMarker)
    if (marker.exists()) {
      val staging = new File(path + ".staging")
      Option(staging.listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("__b="))
        .foreach { part =>
          val b = part.getName.stripPrefix("__b=").toInt
          swapIn(part, new File(path, bucketName(b)))
        }
      deleteRec(staging)
      val _ = marker.delete()
    }
  }

  /** Read a table: every bucket dir, or None if the table has none. */
  def read(spark: SparkSession, path: String): Option[DataFrame] = {
    recover(path)
    val parts = bucketDirs(path).map(_.getPath)
    if (parts.isEmpty) None else Some(spark.read.parquet(parts: _*))
  }

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    val _ = f.delete()
  }

  /** Crash-safe directory swap: live→.bak, staging→live, drop .bak.
    * A failure between steps always leaves either live or .bak intact.
    */
  private def swapIn(staging: File, live: File): Unit = {
    val bak = new File(live.getPath + ".bak")
    if (bak.exists()) deleteRec(bak)
    if (live.exists()) require(live.renameTo(bak), s"swap: backup failed for $live")
    require(staging.renameTo(live), s"swap: promote failed for $live")
    if (bak.exists()) deleteRec(bak)
  }

  /** Deterministic batch-internal dedup, keep-LAST: the reference sends
    * chunks sequentially and its later chunk wins (UPSERT ... ON CONFLICT
    * DO UPDATE, supabase_repository.py:59-65). With no ingest-order
    * column on the batch, "last" is resolved by DESCENDING all-column
    * order — deterministic and permutation-independent.
    */
  private[sinks] def dedupeKeepLast(batch: DataFrame, key: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      .orderBy(batch.columns.map(c => col(c).desc).toIndexedSeq: _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Working column names the store claims for itself: a user column
    * with one of these names would be silently overwritten (and, for
    * __b, stripped by partitionBy) — refuse up front instead.
    */
  private val Reserved = Set("__b", "__k", "__rn")
  private def requireUnreserved(df: DataFrame, op: String): Unit = {
    val clash = df.columns.filter(Reserved)
    require(clash.isEmpty,
      s"$op: column name(s) ${clash.mkString(", ")} are reserved by TableStore")
  }

  /** Creates the table dir and its bucket-count marker if absent. Runs
    * BEFORE any bucket lands: a crash after buckets land but before the
    * marker would let a later upsert merge with a different default
    * modulus and silently duplicate keys.
    */
  private def declare(path: String, n: Int): Unit = {
    val marker = new File(path, BucketMarker)
    if (!marker.exists()) {
      new File(path).mkdirs()
      val _ = java.nio.file.Files.write(marker.toPath, n.toString.getBytes("UTF-8"))
    }
  }

  /** OP-11: bulk upsert — new rows win on key collision. Only buckets
    * containing batch keys are rewritten.
    */
  def upsert(batch: DataFrame, path: String, key: String,
             numBuckets: Int = DefaultBuckets): Unit = {
    val spark = batch.sparkSession
    requireUnreserved(batch, "upsert")
    val deduped = dedupeKeepLast(batch, key).localCheckpoint(true)
    if (deduped.isEmpty) return
    recover(path)
    val n = declaredBuckets(path).getOrElse(numBuckets)
    val withB = deduped.withColumn("__b", bucketExpr(key, n))
    val affected = withB.select("__b").distinct().collect().map(_.getInt(0)).toSeq.sorted

    // existing rows of the affected buckets, batch keys removed
    val existingParts =
      affected.map(b => new File(path, bucketName(b))).filter(_.exists()).map(_.getPath)
    // null-safe key equality: with plain ===, an existing null-key row
    // never matches the anti-join and a new null-key row is APPENDED on
    // every upsert — unbounded duplicates instead of replacement
    val keep = if (existingParts.isEmpty) withB.limit(0) else
      spark.read.parquet(existingParts: _*)
        .join(broadcast(deduped.select(col(key).as("__k"))),
          col(key) <=> col("__k"), "left_anti")
        .withColumn("__b", bucketExpr(key, n))

    // ONE job writes every affected bucket via partitionBy, then each
    // bucket dir is swapped in individually (crash-safe per bucket);
    // the swap marker makes recovery roll forward from here on
    val staging = new File(path + ".staging")
    if (staging.exists()) deleteRec(staging)
    keep.unionByName(withB)
      .write.partitionBy("__b").mode(SaveMode.Overwrite).parquet(staging.getPath)
    declare(path, n)
    java.nio.file.Files.write(new File(path, SwapMarker).toPath, Array.emptyByteArray)
    affected.foreach { b =>
      val part = new File(staging, s"__b=$b")
      if (part.exists()) swapIn(part, new File(path, bucketName(b)))
      else { // bucket emptied (or never existed): remove stale dir if present
        val live = new File(path, bucketName(b))
        if (live.exists()) deleteRec(live)
      }
    }
    deleteRec(staging)
    val _ = new File(path, SwapMarker).delete()
  }

  /** OP-08 at scale: point lookup by the table's bucket key. Reads ONE
    * bucket directory — the one `pmod(hash(value), n)` selects — instead
    * of scanning the table: on a thousand-bucket production table this
    * is a thousandth of the IO. The hash is evaluated through the same
    * Catalyst expression the writer used, so reader and writer can never
    * disagree.
    */
  def lookup(spark: SparkSession, path: String, key: String, value: Any): Option[DataFrame] =
    for (whole <- read(spark, path); n <- declaredBuckets(path)) yield {
      // cast the literal to the key's table type before hashing:
      // hash(int 42) != hash(long 42), and a width mismatch would
      // silently probe the wrong bucket
      val lv = lit(value).cast(whole.schema(key).dataType)
      val b = spark.range(1).select(pmod(hash(lv), lit(n)).as("b")).head().getInt(0)
      val part = new File(path, bucketName(b))
      if (part.exists()) spark.read.parquet(part.getPath).filter(col(key) === lv)
      else whole.limit(0)
    }

  /** OP-12 + OP-44: append-only chunked insert into a one-bucket table
    * (created on first use): rows land in `b0000`, so the table stays in
    * the one layout every other operation reads. `chunkRows` bounds rows
    * per output file (the reference's DB_BULK_SIZE=500 write batching,
    * supabase_repository.py:67-71 + constants.py:56); 0 = no bound. A
    * table declared with more buckets is refused: unbucketed rows there
    * would break the key-to-bucket invariant upsert and lookup rely on.
    * The empty check evaluates `batch` once more — pass a materialized
    * frame when it is costly to compute.
    */
  def append(batch: DataFrame, path: String, chunkRows: Int = 0): Unit = {
    requireUnreserved(batch, "append")
    recover(path)
    declaredBuckets(path).foreach(n => require(n == 1,
      s"append: $path is declared with $n buckets; append extends one-bucket tables only"))
    if (batch.isEmpty) return
    declare(path, 1)
    val w = if (chunkRows > 0)
      batch.write.option("maxRecordsPerFile", chunkRows.toLong)
    else batch.write
    w.mode(SaveMode.Append).parquet(new File(path, bucketName(0)).getPath)
  }

  /** OP-13 + OP-29: delete parent rows by key with explicit cascade to
    * child tables (Spark has no FK cascades — each child is rewritten
    * with an anti-join on its FK). Only buckets that actually contain
    * matching rows are rewritten; the rest keep their files untouched.
    *
    * The delete key is often NOT the table's bucket key (record is
    * bucketed by nca_number but cascaded on release_id), so affected
    * buckets can't be derived from key hashes. Instead each row's bucket
    * is recovered from its file path: ONE semi-join job finds the
    * affected bucket set, ONE partitionBy job rewrites exactly those
    * buckets — O(1) Spark jobs per table regardless of bucket count
    * (the round-2 per-bucket isEmpty/replace driver loop was a
    * driver-side bottleneck at production bucket counts).
    */
  def deleteCascade(spark: SparkSession, keys: DataFrame, keyCol: String,
                    parent: (String, String),
                    children: Seq[(String, String)] = Nil): Unit = {
    // localCheckpoint cuts lineage: the caller's keys may derive from the
    // very tables being rewritten — without materialization, the second
    // table's anti-join would recompute keys against already-swapped files
    val k = keys.select(col(keyCol).as("__k")).distinct().localCheckpoint(true)
    if (k.isEmpty) return
    // CHILDREN FIRST (reverse FK order, like SQL cascades): a crash
    // between tables then leaves the parent row in place, so the
    // caller's retry re-detects the condition and re-runs the cascade.
    // Parent-first would strand orphaned child rows forever — with the
    // parent gone, CDC classifies the release as "new" and the cascade
    // never re-fires.
    (children :+ parent).foreach { case (path, fk) =>
      recover(path)
      val dirs = bucketDirs(path)
      if (dirs.nonEmpty) {
        // job 1: affected buckets (bucket id recovered from file path)
        val bOf = regexp_extract(input_file_name(), "/b(\\d+)/[^/]*$", 1).cast("int")
        val t = spark.read.parquet(dirs.map(_.getPath): _*).withColumn("__b", bOf)
        val affected = t.join(broadcast(k), col(fk) === col("__k"), "left_semi")
          .select("__b").distinct().collect().map(_.getInt(0)).toSeq.sorted
        if (affected.nonEmpty) {
          // job 2: rewrite only the affected buckets, one partitionBy
          // write, then swap each bucket dir in (crash-safe per bucket)
          val keep = spark.read
            .parquet(affected.map(b => new File(path, bucketName(b)).getPath): _*)
            .withColumn("__b", bOf)
            .join(broadcast(k), col(fk) === col("__k"), "left_anti")
          val staging = new File(path + ".delstaging")
          if (staging.exists()) deleteRec(staging)
          keep.write.partitionBy("__b").mode(SaveMode.Overwrite).parquet(staging.getPath)
          affected.foreach { b =>
            val part = new File(staging, s"__b=$b")
            val live = new File(path, bucketName(b))
            if (part.exists()) swapIn(part, live)
            else if (live.exists()) deleteRec(live) // bucket fully deleted
          }
          deleteRec(staging)
        }
      }
    }
  }

  /** OP-15: the reference raises on empty bulk writes
    * (supabase_repository.py:55-57).
    */
  def requireNonEmpty(df: DataFrame, what: String): DataFrame = {
    require(!df.isEmpty, s"empty bulk write: $what")
    df
  }
}
