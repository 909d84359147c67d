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

  test("lookup probes a single bucket and survives literal width mismatch") {
    val dir = Files.createTempDirectory("ts7").toString + "/t"
    TableStore.upsert((1 to 500).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k")
    assert(TableStore.lookup(spark, dir, "k", 42).get
      .as[(Int, String)].collect().toSeq === Seq((42, "v42")))
    // a long literal against an int key must still hash to the right bucket
    assert(TableStore.lookup(spark, dir, "k", 42L).get
      .as[(Int, String)].collect().toSeq === Seq((42, "v42")))
    assert(TableStore.lookup(spark, dir, "k", 9999).get.isEmpty)
    // single-bucket proof: remove every bucket dir EXCEPT the key's —
    // the lookup must not notice
    val keyBucket = TableStore.lookup(spark, dir, "k", 42).get
      .inputFiles.head.replaceAll(".*/(b\\d{4})/.*", "$1")
    new File(dir).listFiles().filter(f => f.isDirectory && f.getName != keyBucket)
      .foreach(f => { def rm(x: File): Unit = { Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); }; rm(f) })
    assert(TableStore.lookup(spark, dir, "k", 42).get
      .as[(Int, String)].collect().toSeq === Seq((42, "v42")))
  }

  test("lookup on an absent table is None") {
    val dir = Files.createTempDirectory("tslk").toString + "/absent"
    assert(TableStore.lookup(spark, dir, "k", 1).isEmpty)
    assert(!new File(dir).exists())
  }

  test("lookup on bucket dirs without a bucket marker is None") {
    // append and upsert declare the marker before any bucket lands, so
    // without it the key-to-bucket modulus is unknown: lookup must not
    // guess one (a wrong modulus probes the wrong bucket)
    val dir = Files.createTempDirectory("tsnm").toString + "/t"
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/b0000")
    assert(TableStore.read(spark, dir).get.count() === 2)
    assert(TableStore.lookup(spark, dir, "k", 1).isEmpty)
  }

  test("append then upsert on the same table merges into its one bucket") {
    val dir = Files.createTempDirectory("ts6").toString + "/t"
    TableStore.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    TableStore.append(Seq((4, "d")).toDF("k", "v"), dir)
    TableStore.upsert(Seq((2, "B2"), (3, "c")).toDF("k", "v"), dir, "k")
    assert(TableStore.read(spark, dir).get.as[(Int, String)].collect().toSet
      === Set((1, "a"), (2, "B2"), (3, "c"), (4, "d")))
    // the append declared one bucket, and upsert keeps the declaration
    assert(bucketFileState(dir).keySet === Set("b0000"))
    assert(new String(Files.readAllBytes(new File(dir, "_graft_buckets").toPath)).trim === "1")
    assert(TableStore.lookup(spark, dir, "k", 3).get
      .as[(Int, String)].collect().toSeq === Seq((3, "c")))
    // no loose files at the table root
    assert(!new File(dir).listFiles().exists(f => f.isFile && !f.getName.startsWith("_")))
  }

  test("append into a multi-bucket table is refused") {
    val dir = Files.createTempDirectory("ts8").toString + "/t"
    TableStore.upsert((1 to 100).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k")
    val before = tableFileState(dir)
    val e = intercept[IllegalArgumentException] {
      TableStore.append(Seq((101, "x")).toDF("k", "v"), dir)
    }
    assert(e.getMessage.contains("16 buckets"))
    assert(tableFileState(dir) === before)
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

  test("recover: an orphaned bucket backup is restored on the next read") {
    val dir = Files.createTempDirectory("tsrec").toString + "/t"
    TableStore.upsert((1 to 200).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k")
    // simulate a crash between swapIn's backup and promote steps: the
    // live bucket dir is gone, its only copy sits in .bak
    val buckets = new File(dir).listFiles().filter(_.getName.matches("b\\d+"))
    val victim = buckets.head
    val bak = new File(dir, victim.getName + ".bak")
    assert(victim.renameTo(bak))
    // without recovery this read would silently miss the bucket's rows
    assert(TableStore.read(spark, dir).get.count() === 200)
    assert(!bak.exists(), "backup must be promoted back to live")
  }

  test("recover: an appended table's delete rewrite crashed before promote is restored") {
    val dir = Files.createTempDirectory("tsrec2").toString + "/t"
    TableStore.append((1 to 10).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    // simulate a crash inside deleteCascade's swap of b0000: the survivors
    // are staged, the live bucket moved to its backup, promote never ran
    val staging = dir + ".delstaging"
    (1 to 10).filter(_ != 3).map(i => (i, s"v$i", 0)).toDF("k", "v", "__b")
      .write.partitionBy("__b").parquet(staging)
    val bak = new File(dir, "b0000.bak")
    assert(new File(dir, "b0000").renameTo(bak))
    // the bucket .bak rule rolls back: the delete never happened
    assert(TableStore.read(spark, dir).get.count() === 10)
    assert(!bak.exists() && new File(dir, "b0000").isDirectory)
    // and the retried delete converges, clearing the stale staging dir
    TableStore.deleteCascade(spark, Seq(3).toDF("k"), "k", parent = (dir, "k"))
    assert(TableStore.read(spark, dir).get.as[(Int, String)].collect().map(_._1).toSet
      === (1 to 10).toSet - 3)
    assert(!new File(staging).exists())
  }

  test("deleteCascade on an appended table stays correct end to end") {
    val dir = Files.createTempDirectory("tsrec4").toString + "/t"
    TableStore.append((1 to 10).map(i => (i, s"v$i")).toDF("k", "v"), dir)
    TableStore.deleteCascade(spark, Seq(3, 7).toDF("k"), "k", parent = (dir, "k"))
    assert(TableStore.read(spark, dir).get.as[(Int, String)].collect().map(_._1).toSet
      === (1 to 10).toSet -- Set(3, 7))
    // still one bucket, and no protocol droppings left behind
    assert(bucketFileState(dir).keySet === Set("b0000"))
    assert(!new File(dir, "b0000.bak").exists())
    assert(!new File(dir + ".delstaging").exists())
  }

  test("requireNonEmpty guards empty bulk writes") {
    intercept[IllegalArgumentException] {
      TableStore.requireNonEmpty(Seq.empty[Int].toDF("x"), "records")
    }
  }
}
