package graft.sinks

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.CheckpointBlocks

/** Keyed-table sink semantics of the reference repository layer
  * (supabase_repository.py:37-71 + supabase_schema.sql FK cascades) over
  * parquet. No Delta or Iceberg jar is available offline (SURVEY §7.6),
  * so a table is their log cut down to one file: `bNNNN` bucket dirs
  * (bucket = pmod(hash(key), n)) and a `_manifest` recording the bucket
  * key and count, the schema, a version and each bucket's live files.
  *
  * Every write is one [[merge]]: remove rows by a key set, add rows. It
  * rewrites only the touched buckets, all in ONE partitionBy job, moves
  * the new files into their bucket dirs, and commits by renaming a new
  * manifest (version N+1) over the old one; other buckets' files stay
  * byte-identical. The recovery rule ([[recover]]) runs before every
  * read and write, so a crash leaves version N or N+1 and the retry
  * converges. Renames assume one filesystem (local/HDFS-style). Writes
  * are idempotent under the OP-61 at-least-once replay, and an empty
  * input writes nothing.
  *
  * A merge's job budget: the pins of its inputs (none for a frame that
  * already reads only checkpoints or local rows), ONE narrow job that
  * collects the touched bucket ids with no exchange, and the write.
  * Removal keys are not deduplicated (the semi and anti joins ignore
  * duplicates), so removing by the bucket key reads no table file to
  * find its buckets; a cascade should remove by each table's own key.
  * The write carries [[NioLocalFileSystem.WriteOptions]]: without
  * libhadoop, Hadoop's local filesystem forks a `chmod` for every file
  * and directory it creates.
  */
object TableStore {

  /** Buckets of a keyed table, fixed at creation; production sizing is
    * table bytes / a few GB. A table created without a key has one.
    */
  private val DefaultBuckets = 16

  private val ManifestName = "_manifest"
  private val PendingName = "_manifest.pending"
  private val StagingName = "_staging"

  /** One committed table version; `files` holds the non-empty buckets. */
  private final case class Manifest(version: Long, key: String, buckets: Int,
                                    schema: StructType, files: Map[Int, Seq[String]]) {
    def render: String =
      (Seq(s"version\t$version", s"key\t$key", s"buckets\t$buckets", s"schema\t${schema.json}") ++
        files.toSeq.sortBy(_._1).flatMap { case (b, fs) => fs.map(f => s"file\t$b\t$f") })
        .mkString("", "\n", "\n")
  }

  private def parse(lines: Seq[String]): Manifest = {
    val rows = lines.map(_.split("\t", -1).toSeq)
    def field(name: String): String = rows.collectFirst { case Seq(`name`, v) => v }
      .getOrElse(throw new IllegalStateException(s"manifest has no $name line"))
    Manifest(field("version").toLong, field("key"), field("buckets").toInt,
      DataType.fromJson(field("schema")).asInstanceOf[StructType],
      rows.collect { case Seq("file", b, f) => b.toInt -> f }.groupMap(_._1)(_._2))
  }

  private def bucketName(b: Int): String = f"b$b%04d"

  private def dirs(path: String, buckets: Iterable[Int]): Seq[String] =
    buckets.toSeq.sorted.map(b => new File(path, bucketName(b)).getPath)

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    val _ = f.delete()
  }

  /** The one recovery rule: delete every file in a bucket dir that the
    * manifest does not name (from a merge that crashed before or after
    * its rename), empty bucket dirs, and any pending manifest or staging
    * dir. Returns the manifest; None for an absent table. Bucket dirs
    * with neither manifest come from the store before it kept one; the
    * rule would delete their rows, so the table is refused (no migration).
    */
  private def recover(path: String): Option[Manifest] = {
    val committed = new File(path, ManifestName)
    val pending = new File(path, PendingName)
    val buckets = Option(new File(path).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
    if (!committed.exists() && !pending.exists() && buckets.nonEmpty)
      throw new IllegalStateException(s"$path has bucket dirs but no $ManifestName: it was " +
        "written by the pre-manifest store, which has no migration; rebuild it from its source")
    val m = Option.when(committed.exists())(parse(Files.readAllLines(committed.toPath).asScala.toSeq))
    buckets.foreach { d =>
      val live = m.flatMap(_.files.get(d.getName.drop(1).toInt)).getOrElse(Nil).toSet
      d.listFiles().filterNot(f => live(f.getName)).foreach(deleteRec)
      if (live.isEmpty) deleteRec(d)
    }
    // the pending manifest goes last: a crash inside this rule then never
    // leaves a first merge's bucket dirs without either manifest
    Seq(new File(path, StagingName), pending).foreach(deleteRec)
    m
  }

  /** Read a table: its live bucket dirs, or None if it has no rows. The
    * schema comes from the manifest, so a read runs no Spark job.
    */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    recover(path).filter(_.files.nonEmpty)
      .map(m => spark.read.schema(m.schema).parquet(dirs(path, m.files.keys): _*))

  /** Batch-internal dedup, keep-LAST: the reference's later chunk wins
    * (UPSERT ... ON CONFLICT DO UPDATE, supabase_repository.py:59-65);
    * "last" is the DESCENDING all-column order, permutation-independent.
    */
  private[sinks] def dedupeKeepLast(batch: DataFrame, key: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      .orderBy(batch.columns.map(c => col(c).desc).toIndexedSeq: _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Working column names: a user column so named would be silently
    * overwritten (or, for __b, stripped by partitionBy), so it is refused.
    */
  private val Reserved = Set("__b", "__k", "__rn")
  private def requireUnreserved(df: DataFrame): Unit = {
    val clash = df.columns.filter(Reserved)
    require(clash.isEmpty, s"column name(s) ${clash.mkString(", ")} are reserved by TableStore")
  }

  /** `df`, checkpointed before any file changes unless it deterministically
    * reads only checkpoints and local rows: it may read the table being
    * rewritten, and its rows must hash alike in the touched job and the write.
    */
  private def pinned(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val inMemory = plan.collectLeaves().forall {
      case _: LogicalRDD | _: LocalRelation => true
      case _ => false
    }
    if (inMemory && plan.deterministic) df else CheckpointBlocks.cleanCheckpoint(df)
  }

  /** The store's one write: in the table at `path`, bucketed on `key`
    * (16 buckets when new; an existing one-bucket table takes any key),
    * delete the rows whose `remove._1` column is in `remove._2`'s column
    * of that name (null-safe `<=>`), then add the rows of `add`. Touched
    * buckets are the added rows' and those holding removed rows: from the
    * hash when `remove._1` is the key, else from one column-pruned scan.
    */
  def merge(path: String, key: String,
            remove: Option[(String, DataFrame)], add: Option[DataFrame]): Unit =
    commit(path, Some(key), remove, add, chunkRows = 0)

  /** [[merge]], on the table's own key when `key` is None; `chunkRows` > 0
    * bounds rows per output file.
    */
  private def commit(path: String, key: Option[String], remove: Option[(String, DataFrame)],
                     add: Option[DataFrame], chunkRows: Int): Unit = {
    add.foreach(requireUnreserved)
    val before = recover(path)
    if (add.isEmpty && (before.isEmpty || remove.isEmpty)) return
    val rows = add.map(pinned)
    // no distinct: the semi and anti joins below ignore duplicate keys
    val gone = remove.map { case (c, keys) => c -> pinned(keys.select(col(c).as("__k"))) }
    val spark = (rows ++ gone.map(_._2)).head.sparkSession
    val m = before.getOrElse(Manifest(0, key.getOrElse(""),
      if (key.isDefined) DefaultBuckets else 1, rows.get.schema, Map.empty))
    key.foreach(k => require(m.buckets == 1 || k == m.key, s"merge: $path is bucketed on ${m.key}, not $k"))
    def bucketOf(c: Column): Column =
      if (m.buckets == 1) lit(0) else pmod(hash(c.cast(m.schema(m.key).dataType)), lit(m.buckets))
    def table(buckets: Iterable[Int]): DataFrame =
      spark.read.schema(m.schema).parquet(dirs(path, buckets): _*)
    val live = m.files.keySet

    val removedFrom = gone.filter(_ => live.nonEmpty).map { case (c, k) =>
      if (c == m.key) k.select(bucketOf(col("__k")).as("__b")).filter(col("__b").isin(live.toSeq: _*))
      else table(live).select(col(c)).join(broadcast(k), col(c) <=> col("__k"), "left_semi")
        .select(regexp_extract(input_file_name(), "/b(\\d+)/[^/]*$", 1).cast("int"))
    }
    // one narrow job: bucket ids deduplicated within each partition, no exchange
    val touched = (rows.map(_.select(bucketOf(col(m.key)))) ++ removedFrom).reduceOption(_ union _)
      .fold(Set.empty[Int])(_.as(Encoders.scalaInt).mapPartitions(_.distinct)(Encoders.scalaInt).collect().toSet)
    if (touched.isEmpty) return

    val kept = Option.when((live & touched).nonEmpty)(table(live & touched)).map(t =>
      gone.fold(t) { case (c, k) => t.join(broadcast(k), col(c) <=> col("__k"), "left_anti") })
    // one task per bucket, so a rewrite leaves one file per bucket
    val next = (kept ++ rows).reduce(_ unionByName _).withColumn("__b", bucketOf(col(m.key)))
      .repartition(col("__b"))
    val staging = new File(path, StagingName)
    val w = next.write.options(NioLocalFileSystem.WriteOptions).partitionBy("__b").mode(SaveMode.Overwrite)
    (if (chunkRows > 0) w.option("maxRecordsPerFile", chunkRows.toLong) else w).parquet(staging.getPath)

    val written = Option(staging.listFiles()).toSeq.flatten.filter(_.getName.startsWith("__b="))
      .map(d => d.getName.stripPrefix("__b=").toInt ->
        d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq).toMap
    // rows outside the touched buckets would replace files never read
    require(written.keySet.subsetOf(touched), s"merge: $path wrote untouched buckets")
    val pending = new File(path, PendingName)
    Using.resource(new PrintWriter(pending, "UTF-8"))(_.print(Manifest(m.version + 1, m.key,
      m.buckets, StructType(next.schema.filterNot(_.name == "__b")), m.files -- touched ++ written).render))
    written.foreach { case (b, fs) =>
      val dir = new File(path, bucketName(b))
      dir.mkdirs()
      fs.foreach(f => Files.move(new File(staging, s"__b=$b/$f").toPath, new File(dir, f).toPath))
    }
    Files.move(pending.toPath, new File(path, ManifestName).toPath, StandardCopyOption.ATOMIC_MOVE)
    val _ = recover(path)
  }

  /** OP-11: bulk upsert — new rows win on key collision; duplicate keys
    * in the batch keep the last row ([[dedupeKeepLast]]).
    */
  def upsert(batch: DataFrame, path: String, key: String): Unit = {
    requireUnreserved(batch)
    val rows = CheckpointBlocks.cleanCheckpoint(dedupeKeepLast(batch, key))
    merge(path, key, Some(key -> rows), Some(rows))
  }

  /** OP-12 + OP-44: append-only insert into the buckets of the table's
    * key (a table created here has no key and one bucket). `chunkRows`
    * bounds rows per output file (the reference's DB_BULK_SIZE=500,
    * supabase_repository.py:67-71 + constants.py:56); 0 = no bound.
    */
  def append(batch: DataFrame, path: String, chunkRows: Int = 0): Unit =
    commit(path, None, None, Some(batch), chunkRows)

  /** OP-13 + OP-29: delete parent rows by key with explicit cascade to
    * child tables, one merge per table removing by its FK column; a null
    * key matches nothing, as in SQL. CHILDREN FIRST (reverse FK order): a
    * crash between tables leaves the parent row, so the caller's retry
    * re-detects the condition and re-runs the cascade. Parent-first would
    * strand orphaned child rows: with the parent gone, CDC classifies the
    * release as "new" and the cascade never re-fires.
    */
  def deleteCascade(spark: SparkSession, keys: DataFrame, keyCol: String,
                    parent: (String, String),
                    children: Seq[(String, String)] = Nil): Unit = {
    // pinned once: a child's rewrite must not change the parent's key set
    val k = pinned(keys.select(col(keyCol)).filter(col(keyCol).isNotNull))
    (children :+ parent).foreach { case (path, fk) =>
      commit(path, None, Some(fk -> k.withColumnRenamed(keyCol, fk)), None, chunkRows = 0)
    }
  }
}
