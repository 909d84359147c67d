package graft

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.sinks.TableStore

class TableStoreSpec extends SparkSpecBase {
  import spark.implicits._

  test("upsert inserts then last-writer-wins on key, idempotently") {
    val dir = Files.createTempDirectory("ts").toString + "/t"
    TableStore.upsert(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir, "k")
    TableStore.upsert(Seq((2, "B2"), (3, "c")).toDF("k", "v"), dir, "k")
    val expect = Set((1, "a"), (2, "B2"), (3, "c"))
    def state = TableStore.read(spark, dir).get.as[(Int, String)].collect().toSet
    assert(state === expect)
    // idempotent replay of the same batch
    TableStore.upsert(Seq((2, "B2"), (3, "c")).toDF("k", "v"), dir, "k")
    assert(state === expect)
  }

  test("upsert dedupes duplicate keys inside one batch, keep-LAST (later chunk wins)") {
    val dir = Files.createTempDirectory("ts2").toString + "/t"
    // same key twice in one batch: descending all-column order keeps ("y")
    TableStore.upsert(Seq((1, "x"), (1, "y")).toDF("k", "v"), dir, "k")
    assert(TableStore.read(spark, dir).get.as[(Int, String)].collect().toSet
      === Set((1, "y")))
  }

  test("a null-key row is REPLACED on re-upsert, not appended forever") {
    val dir = Files.createTempDirectory("tsnull").toString + "/t"
    val rows1 = Seq((Some(1), "a"), (None, "n1"))
      .toDF("k", "v").select($"k".cast("int").as("k"), $"v")
    TableStore.upsert(rows1, dir, "k")
    val rows2 = Seq((Some(1), "a2"), (None, "n2"))
      .toDF("k", "v").select($"k".cast("int").as("k"), $"v")
    TableStore.upsert(rows2, dir, "k")
    // plain === key equality would never match the existing null row:
    // every upsert would append another one
    val state = TableStore.read(spark, dir).get
      .as[(Option[Int], String)].collect().toSet
    assert(state === Set((Some(1), "a2"), (None, "n2")))
  }

  test("reserved working column names are refused up front") {
    val dir = Files.createTempDirectory("tsres").toString + "/t"
    val bad = Seq((1, 2)).toDF("k", "__b")
    val e = intercept[IllegalArgumentException] {
      TableStore.upsert(bad, dir, "k")
    }
    assert(e.getMessage.contains("__b"))
    intercept[IllegalArgumentException] {
      TableStore.append(Seq((1, 2)).toDF("k", "__rn"), dir)
    }
  }

  test("upsert rewrites only buckets containing batch keys (others byte-identical)") {
    val dir = Files.createTempDirectory("ts4").toString + "/t"
    // many keys spread over all buckets
    TableStore.upsert((1 to 500).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k")
    val before = bucketFileState(dir)
    assert(before.size > 1, "expected a multi-bucket layout")
    // single-key upsert touches exactly the buckets of its keys
    TableStore.upsert(Seq((42, "UPDATED")).toDF("k", "v"), dir, "k")
    val after = bucketFileState(dir)
    val changed = after.keySet.filter(b => before.get(b) != after.get(b)) ++
      before.keySet.diff(after.keySet)
    assert(changed.size === 1, s"only one bucket may change, got $changed")
    // content still correct
    val all = TableStore.read(spark, dir).get.as[(Int, String)].collect().toMap
    assert(all.size === 500 && all(42) === "UPDATED" && all(41) === "v41")
  }

  /** relative path -> (size, md5) of every file under a table dir. */
  private def tableFileState(dir: String): Map[String, (Long, String)] = {
    val root = new File(dir).toPath
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f))
        .map("%02x".format(_)).mkString
      root.relativize(f).toString -> ((Files.size(f), md5))
    }.toMap finally walk.close()
  }

  /** bucket dir -> the fingerprints of its files. */
  private def bucketFileState(dir: String): Map[String, Map[String, (Long, String)]] =
    tableFileState(dir).groupBy(_._1.split('/').head).filter(_._1.matches("b\\d{4}"))

  test("append accumulates; deleteCascade removes parent and child rows") {
    val base = Files.createTempDirectory("ts3").toString
    val parent = s"$base/release"
    val child = s"$base/record"
    TableStore.upsert(Seq(("r1", 2024), ("r2", 2025)).toDF("id", "year"), parent, "id")
    TableStore.append(Seq(("n1", "r1"), ("n2", "r1"), ("n3", "r2"))
      .toDF("nca", "release_id"), child)
    TableStore.deleteCascade(spark, Seq("r1").toDF("id"), "id",
      parent = (parent, "id"), children = Seq((child, "release_id")))
    assert(TableStore.read(spark, parent).get.as[(String, Int)].collect().toSet
      === Set(("r2", 2025)))
    assert(TableStore.read(spark, child).get.as[(String, String)].collect().toSet
      === Set(("n3", "r2")))
  }

  test("deleteCascade on a bucketed table leaves unmatched buckets untouched") {
    val dir = Files.createTempDirectory("ts5").toString + "/t"
    TableStore.upsert((1 to 500).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k")
    val before = bucketFileState(dir)
    TableStore.deleteCascade(spark, Seq(42).toDF("k"), "k", parent = (dir, "k"))
    val after = bucketFileState(dir)
    val changed = after.keySet.filter(b => before.get(b) != after.get(b)) ++
      before.keySet.diff(after.keySet)
    assert(changed.size === 1, s"only one bucket may change, got $changed")
    assert(TableStore.read(spark, dir).get.count() === 499)
  }

  test("append then upsert on the same table merges into its one bucket") {
    val dir = Files.createTempDirectory("ts6").toString + "/t"
    TableStore.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    TableStore.append(Seq((4, "d")).toDF("k", "v"), dir)
    TableStore.upsert(Seq((2, "B2"), (3, "c")).toDF("k", "v"), dir, "k")
    assert(TableStore.read(spark, dir).get.as[(Int, String)].collect().toSet
      === Set((1, "a"), (2, "B2"), (3, "c"), (4, "d")))
    // the append created one bucket, and upsert keeps it
    assert(bucketFileState(dir).keySet === Set("b0000"))
    // no loose files at the table root
    assert(!new File(dir).listFiles().exists(f => f.isFile && !f.getName.startsWith("_")))
  }

  test("empty upsert, deleteCascade and append write nothing") {
    val base = Files.createTempDirectory("tsempty").toString
    val bucketed = s"$base/bucketed"
    val appended = s"$base/appended"
    TableStore.upsert((1 to 100).map(i => (i, s"v$i")).toDF("k", "v"), bucketed, "k")
    TableStore.append((1 to 10).map(i => (i, s"v$i")).toDF("k", "v"), appended)
    val empty = Seq.empty[(Int, String)].toDF("k", "v")
    Seq(bucketed, appended).foreach { t =>
      val before = tableFileState(t)
      TableStore.upsert(empty, t, "k")
      TableStore.deleteCascade(spark, empty, "k", parent = (t, "k"))
      if (t == appended) TableStore.append(empty, t)
      assert(tableFileState(t) === before, s"$t changed")
    }
    // on an absent table none of them creates anything
    val absent = s"$base/absent"
    TableStore.upsert(empty, absent, "k")
    TableStore.deleteCascade(spark, empty, "k", parent = (absent, "k"))
    TableStore.append(empty, absent, chunkRows = 500)
    assert(!new File(absent).exists())
    assert(new File(base).list().sorted.toSeq === Seq("appended", "bucketed"))
  }

  test("append chunkRows bounds rows per output file (OP-44, DB_BULK_SIZE analog)") {
    val dir = Files.createTempDirectory("ts7").toString + "/t"
    TableStore.append((1 to 1200).toDF("k").coalesce(1), dir, chunkRows = 500)
    val files = new File(dir, "b0000").listFiles().filter(_.getName.endsWith(".parquet"))
    val counts = files.map(f => spark.read.parquet(f.getPath).count()).sorted.toSeq
    assert(counts.forall(_ <= 500), s"file over chunk bound: $counts")
    assert(counts.sum === 1200)
    assert(files.length >= 3)
  }

  /** "bNNNN/name" of every file the table's committed manifest names. */
  private def named(dir: String): Set[String] =
    Files.readAllLines(new File(dir, "_manifest").toPath).asScala.map(_.split("\t"))
      .collect { case Array("file", b, f) => f"b${b.toInt}%04d/$f" }.toSet

  private def rows(dir: String): Set[(Int, String)] =
    TableStore.read(spark, dir).get.as[(Int, String)].collect().toSet

  /** Crash states are built by hand from a table before and after one
    * upsert of `batch`: `before` and `after` are copies of the table dir.
    */
  private def crashStates(tag: String): (String, String, Set[(Int, String)], Set[(Int, String)]) = {
    val base = Files.createTempDirectory(tag).toString
    val dir = s"$base/t"
    TableStore.upsert((1 to 200).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k")
    val old = rows(dir)
    copyTree(dir, s"$base/before")
    TableStore.upsert(batch, dir, "k")
    (s"$base/before", dir, old, rows(dir))
  }
  private val batch = Seq((7, "NEW"), (300, "x")).toDF("k", "v")

  /** After recovery, only the manifest and the files it names are left. */
  private def assertOnlyNamed(dir: String): Unit =
    assert(tableFileState(dir).keySet === named(dir) + "_manifest")

  test("crash before the manifest rename: the next read returns the old version exactly") {
    val (before, after, old, updated) = crashStates("tscrash1")
    val committed = tableFileState(before)
    // the merge's new files moved into their buckets and its pending
    // manifest written, but no rename: the old manifest is still live
    named(after).diff(named(before)).foreach { f =>
      Files.createDirectories(new File(before, f).toPath.getParent)
      Files.copy(new File(after, f).toPath, new File(before, f).toPath)
    }
    Files.copy(new File(after, "_manifest").toPath, new File(before, "_manifest.pending").toPath)
    assert(rows(before) === old)
    assert(tableFileState(before) === committed)
    // the retried merge converges to the uncrashed result
    TableStore.upsert(batch, before, "k")
    assert(rows(before) === updated)
    assertOnlyNamed(before)
  }

  test("crash after the manifest rename: the next read returns the new version and drops superseded files") {
    val (before, after, old, updated) = crashStates("tscrash2")
    assert(updated !== old)
    // the rename done, but the superseded files (and the staging dir)
    // still present
    val superseded = named(before).diff(named(after))
    assert(superseded.nonEmpty)
    superseded.foreach(f => Files.copy(new File(before, f).toPath, new File(after, f).toPath))
    new File(after, "_staging/__b=3").mkdirs()
    assert(rows(after) === updated)
    assertOnlyNamed(after)
    assert(!new File(after, "_staging").exists())
    TableStore.upsert(batch, after, "k")
    assert(rows(after) === updated)
    assertOnlyNamed(after)
  }

  test("a crash during the first merge leaves an absent table") {
    val base = Files.createTempDirectory("tscrash3").toString
    val dir = s"$base/t"
    TableStore.upsert(batch, s"$base/done", "k")
    // files moved into their buckets and the pending manifest written, no rename
    copyTree(s"$base/done", dir)
    assert(new File(dir, "_manifest").renameTo(new File(dir, "_manifest.pending")))
    assert(TableStore.read(spark, dir).isEmpty)
    assert(new File(dir).list().isEmpty)
    TableStore.upsert(batch, dir, "k")
    assert(rows(dir) === rows(s"$base/done"))
  }

  test("a table written before the store kept a manifest is refused, not emptied") {
    val dir = Files.createTempDirectory("tspre").toString + "/t"
    // the old layout: bucket dirs under a bucket-count marker
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/b0000")
    Files.write(new File(dir, "_graft_buckets").toPath, "1".getBytes("UTF-8"))
    val before = tableFileState(dir)
    val e = intercept[IllegalStateException](TableStore.read(spark, dir))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("_manifest"))
    intercept[IllegalStateException](TableStore.upsert(batch, dir, "k"))
    assert(tableFileState(dir) === before)
  }

  test("deleteCascade on an appended table stays correct end to end") {
    val dir = Files.createTempDirectory("tsrec4").toString + "/t"
    TableStore.append((1 to 10).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    TableStore.deleteCascade(spark, Seq(3, 7).toDF("k"), "k", parent = (dir, "k"))
    assert(rows(dir).map(_._1) === (1 to 10).toSet -- Set(3, 7))
    // still one bucket, and no protocol droppings left behind
    assert(bucketFileState(dir).keySet === Set("b0000"))
    assertOnlyNamed(dir)
  }

  test("append into a bucketed table places rows by the table's key") {
    val dir = Files.createTempDirectory("tsapp").toString + "/t"
    TableStore.upsert((1 to 100).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k")
    TableStore.append(Seq((101, "x"), (102, "y")).toDF("k", "v"), dir)
    // a later upsert finds the appended rows in their key's bucket
    TableStore.upsert(Seq((101, "X2")).toDF("k", "v"), dir, "k")
    assert(rows(dir) === (1 to 100).map(i => (i, s"v$i")).toSet + ((101, "X2")) + ((102, "y")))
  }

  test("merge removes by a non-key column and adds, rewriting only the touched buckets") {
    val dir = Files.createTempDirectory("tsmerge").toString + "/t"
    val all = (1 to 300).map(i => (i, s"v$i", if (i <= 3) "batch0" else "batch1"))
    TableStore.merge(dir, "k", remove = None, add = Some(all.toDF("k", "v", "batch")))
    val before = bucketFileState(dir)
    // replace batch0's three rows with one new row: only the buckets that
    // hold batch0 rows (found by the scan) and the new row's are touched
    TableStore.merge(dir, "k", remove = Some("batch" -> Seq("batch0").toDF("batch")),
      add = Some(Seq((3, "new", "batch0")).toDF("k", "v", "batch")))
    val state = TableStore.read(spark, dir).get.as[(Int, String, String)].collect().toSet
    assert(state === all.filterNot(_._3 == "batch0").toSet + ((3, "new", "batch0")))
    val after = bucketFileState(dir)
    val changed = before.keySet.filter(b => before.get(b) != after.get(b))
    assert(changed.nonEmpty && changed.size <= 3, s"only batch0's buckets may change, got $changed")
    // a merge on a different key is refused
    intercept[IllegalArgumentException](TableStore.merge(dir, "v", None, Some(all.toDF("k", "v", "batch"))))
  }

  test("a read plans a bucketed table without running a Spark job") {
    val dir = Files.createTempDirectory("tsjobs").toString + "/t"
    TableStore.upsert((1 to 500).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k")
    assert(bucketFileState(dir).size === 16)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val _ = groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // no schema inference (the manifest has it) and no listing job (16
      // bucket dirs are under the parallel-listing threshold of 32)
      sc.setJobGroup("ts-read", "TableStore.read")
      assert(TableStore.read(spark, dir).get.inputFiles.length >= 16)
      // the listener bus is FIFO: once the probe job is seen, every job
      // the read started has been seen too
      sc.setJobGroup("ts-probe", "listener probe")
      spark.range(1).count()
      var spins = 0
      while (!groups.contains("ts-probe") && spins < 100) { spins += 1; Thread.sleep(50) }
      assert(groups.contains("ts-probe"))
      assert(!groups.contains("ts-read"))
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("a merge with duplicated removal keys leaves the same rows as one with distinct keys") {
    val base = Files.createTempDirectory("tsdup").toString
    val all = (1 to 300).map(i => (i, s"v$i", s"batch${i % 7}")).toDF("k", "v", "batch")
    def state(keys: Seq[Int], batches: Seq[String]): Set[(Int, String, String)] = {
      val dir = s"$base/${keys.size}"
      TableStore.merge(dir, "k", remove = None, add = Some(all))
      // the duplicates spread over several partitions
      TableStore.merge(dir, "k", remove = Some("k" -> keys.toDF("k").repartition(3)), add = None)
      TableStore.merge(dir, "k", remove = Some("batch" -> batches.toDF("batch").repartition(3)),
        add = Some(Seq((2, "new", "batch2")).toDF("k", "v", "batch")))
      TableStore.read(spark, dir).get.as[(Int, String, String)].collect().toSet
    }
    val distinct = state(Seq(5, 42, 250), Seq("batch2", "batch3"))
    assert(distinct === all.as[(Int, String, String)].collect().toSet
      .filterNot(r => Set(5, 42, 250)(r._1) || Set("batch2", "batch3")(r._3)) + ((2, "new", "batch2")))
    assert(state(Seq.fill(4)(Seq(5, 42, 250)).flatten, Seq.fill(5)(Seq("batch2", "batch3")).flatten) === distinct)
  }

  test("a merge and an enqueue start no child process for their files, and keep the local filesystem's modes") {
    import java.nio.file.attribute.PosixFilePermissions.{toString => mode}
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import graft.streaming.QueuePipeline
    val base = Files.createTempDirectory("tsfork").toRealPath().toString
    val batch = (1 to 100).map(i => (i, s"v$i")).toDF("k", "v")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      TableStore.upsert(batch, s"$base/t", "k")
      TableStore.merge(s"$base/t", "k", remove = Some("v" -> Seq("v7").toDF("v")), add = None)
      QueuePipeline.enqueue(batch, s"$base/q")
    } finally rec.stop()
    val jfr = Files.createTempFile("tsfork", ".jfr")
    try rec.dump(jfr) finally rec.close()
    // only forks naming this test's files: an earlier suite's sessions may
    // still be cleaned up (an `rm -rf` of their artifact dirs) meanwhile
    val forks = RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command")).filter(_.contains(base)).toSeq
    assert(forks.isEmpty, s"${forks.size} child processes, e.g. ${forks.take(3).mkString("; ")}")

    // a plain write through the session's default local filesystem
    batch.write.parquet(s"$base/default")
    def modeOf(f: File): String = mode(Files.getPosixFilePermissions(f.toPath))
    val fileMode = modeOf(new File(s"$base/default").listFiles().filter(_.getName.endsWith(".parquet")).head)
    val dirMode = modeOf(new File(s"$base/default"))
    val buckets = new File(s"$base/t").listFiles().filter(_.isDirectory)
    assert(buckets.length === 16)
    buckets.foreach(d => assert(modeOf(d) === dirMode, d))
    (buckets.flatMap(_.listFiles()) ++ new File(s"$base/q").listFiles().filter(_.getName.startsWith("part-")))
      .foreach(f => assert(modeOf(f) === fileMode, f))
    assert(modeOf(new File(s"$base/q")) === dirMode)
  }
}
