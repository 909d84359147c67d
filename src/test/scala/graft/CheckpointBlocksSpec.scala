package graft

class CheckpointBlocksSpec extends SparkSpecBase {
  import spark.implicits._

  test("release drops a localCheckpoint's persisted RDD; Dataset.unpersist does not") {
    def persistedIds: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet

    val before = persistedIds
    val df = (1 to 1000).toDF("n").localCheckpoint(true)
    assert(df.count() === 1000)
    val added = persistedIds -- before
    assert(added.nonEmpty, "localCheckpoint must register a persisted RDD")

    // the trap this helper exists for: Dataset.unpersist goes through the
    // CacheManager, which never heard of the checkpoint RDD — blocks stay
    df.unpersist(blocking = true)
    assert((persistedIds -- before) === added,
      "Dataset.unpersist must NOT be able to drop checkpoint blocks (or this helper is obsolete)")

    CheckpointBlocks.release(df)
    assert((persistedIds -- before).isEmpty,
      "release must unpersist the checkpoint-backing RDD")
    // NOTE the contract: a local checkpoint's lineage is truncated, so
    // after release the frame is gone for good (recompute would throw
    // "checkpoint block not found") — release() is strictly for frames
    // that are DEAD: dropped memo entries, putIfAbsent losers,
    // superseded per-round iteration state.
  }

  test("release is a no-op on frames that are not checkpoint-backed") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val df = (1 to 10).toDF("n").filter($"n" > 2)
    CheckpointBlocks.release(df) // must not throw
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === before)
    assert(df.count() === 8)
  }

  test("claim validation trips on a mis-claimed layout and passes a true claim") {
    // spark.graft.validateClaims=true session-wide (SparkSpecBase): a
    // frame laid out by hash(a) but CLAIMED as hash(b) must fail loud —
    // in production mode an over-claim mis-joins silently, wrong rows,
    // no exception. The passing leg pins that a true claim stays quiet.
    val df = (1 to 512).map(i => (i.toLong, (i % 7).toLong)).toDF("a", "b")
    val good = CheckpointBlocks.sizedCheckpoint(df, Seq("a"), 512)
    assert(good.count() === 512)
    CheckpointBlocks.release(good)
    val ex = intercept[IllegalStateException] {
      CheckpointBlocks.claimedCheckpoint(
        df.repartition(4, $"a"), Seq("b"))
    }
    assert(ex.getMessage.contains("violates hash(b)"))
  }

  test("an observed claimed checkpoint delivers its metric with the blocks") {
    val df = (1 to 100).map(i => (i.toLong, i.toLong * 2)).toDF("k", "v")
      .repartition(2, $"k")
    val (ck, ms) = CheckpointBlocks.claimedCheckpointObserved(df, Seq("k"),
      org.apache.spark.sql.functions.sum($"v"))
    assert(ms === Seq(100L * 101L))
    assert(ck.count() === 100)
    CheckpointBlocks.release(ck)
  }

  test("release REFUSES a derived frame: the upstream checkpoint must survive") {
    val ckpt = (1 to 100).toDF("n").localCheckpoint(true)
    val derived = ckpt.select($"n" * 2 as "m").filter($"m" > 10)
    // releasing the dead projection must NOT destroy the live checkpoint
    CheckpointBlocks.release(derived)
    assert(ckpt.count() === 100, "upstream checkpoint poisoned by derived release")
    CheckpointBlocks.release(ckpt)
  }

  test("partitionsFor: one partition per RowsPerPartition rows, floored at 1") {
    val rpp = CheckpointBlocks.RowsPerPartition
    assert(rpp === 65536L)
    assert(CheckpointBlocks.partitionsFor(spark, -5) === 1)
    assert(CheckpointBlocks.partitionsFor(spark, 0) === 1)
    assert(CheckpointBlocks.partitionsFor(spark, rpp) === 1)
    assert(CheckpointBlocks.partitionsFor(spark, rpp + 1) === 2)
    assert(CheckpointBlocks.partitionsFor(spark, 3 * rpp) === 3)
  }

  test("partitionsFor caps at parallelism until 8 x RowsPerPartition rows per partition") {
    val rpp = CheckpointBlocks.RowsPerPartition
    val cores = spark.sparkContext.defaultParallelism
    // past the parallelism, consolidation stops at one partition per core
    assert(CheckpointBlocks.partitionsFor(spark, (cores + 6).toLong * rpp) === cores)
    // ... until that would put more than 8 x RowsPerPartition in each
    val huge = 100L * cores * rpp
    assert(CheckpointBlocks.partitionsFor(spark, huge) === (100 * cores + 7) / 8)
  }

  test("sizedCheckpoint lays the rows out in partitionsFor partitions, rows unchanged") {
    val rpp = CheckpointBlocks.RowsPerPartition
    val df = (1 to 300).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val ck = CheckpointBlocks.sizedCheckpoint(df, Seq("k"), 3 * rpp)
    assert(ck.rdd.getNumPartitions === 3)
    assert(ck.as[(Long, String)].collect().toSet ===
      (1 to 300).map(i => (i.toLong, s"v$i")).toSet)
    CheckpointBlocks.release(ck)
  }

  test("claim validation is off without spark.graft.validateClaims and on for 1") {
    val key = "spark.graft.validateClaims"
    val prev = spark.conf.getOption(key)
    val df = (1 to 512).map(i => (i.toLong, (i % 7).toLong)).toDF("a", "b")
    try {
      // production mode: a mis-claim is not scanned (no exception)
      spark.conf.unset(key)
      val unchecked = CheckpointBlocks.claimedCheckpoint(
        df.repartition(4, $"a"), Seq("b"))
      assert(unchecked.count() === 512)
      CheckpointBlocks.release(unchecked)
      // "1" enables the scan as "true" does
      spark.conf.set(key, "1")
      val ex = intercept[IllegalStateException] {
        CheckpointBlocks.claimedCheckpoint(df.repartition(4, $"a"), Seq("b"))
      }
      assert(ex.getMessage.contains("violates hash(b)"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("withStaticPlanning turns AQE off for the body and restores it, also on failure") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val seen = CheckpointBlocks.withStaticPlanning(spark)(spark.conf.get(key))
      assert(seen === "false")
      assert(spark.conf.get(key) === "true")
      intercept[RuntimeException] {
        CheckpointBlocks.withStaticPlanning(spark)(throw new RuntimeException("body"))
      }
      assert(spark.conf.get(key) === "true")
      // an AQE that was already off stays off
      spark.conf.set(key, "false")
      CheckpointBlocks.withStaticPlanning(spark)(())
      assert(spark.conf.get(key) === "false")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("resizeCheckpoint re-lays a checkpoint and releases the source blocks") {
    def persistedIds: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    val rpp = CheckpointBlocks.RowsPerPartition
    val before = persistedIds
    val src = (1 to 200).map(i => (i.toLong, i * 2L)).toDF("k", "v")
      .localCheckpoint(true)
    val srcIds = persistedIds -- before
    assert(srcIds.nonEmpty)
    val resized = CheckpointBlocks.resizeCheckpoint(src, Seq("k"), 2 * rpp)
    assert(resized.rdd.getNumPartitions === 2)
    assert(resized.as[(Long, Long)].collect().toSet ===
      (1 to 200).map(i => (i.toLong, i * 2L)).toSet)
    assert((persistedIds intersect srcIds).isEmpty,
      "the source checkpoint's blocks must be released")
    CheckpointBlocks.release(resized)
    assert((persistedIds -- before).isEmpty)
  }

  test("observedCheckpoint returns its metrics in order with the rows") {
    import org.apache.spark.sql.functions.{count, lit, max}
    val (ck, ms) = CheckpointBlocks.observedCheckpoint(
      (1 to 50).toDF("n"), max($"n"), count(lit(1)))
    assert(ms.map(_.asInstanceOf[Number].longValue) === Seq(50L, 50L))
    assert(ck.count() === 50)
    CheckpointBlocks.release(ck)
  }
}
