package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Releases the block-manager storage behind localCheckpoint'd frames.
  *
  * `Dataset.unpersist` is the WRONG tool for these: it only asks the
  * CacheManager to uncache the query, and the CacheManager never knows
  * about checkpoint RDDs — `localCheckpoint` persists the underlying
  * RDD directly. (This is also why `catalog.clearCache()` can't drop
  * them.) The blocks do get reclaimed eventually — ContextCleaner,
  * after the frame becomes unreachable and a GC runs — but a
  * long-lived session that drops a memo wants the storage back NOW,
  * not at the next full GC.
  *
  * [[release]] reaches the actual RDD through the frame's ROOT
  * LogicalRDD node and unpersists it — and only the root: a derived
  * frame (a projection/filter OVER a checkpoint) is refused, because
  * its leaf checkpoint may well be alive elsewhere and destroying it
  * would poison every sibling consumer. No-op for anything that is not
  * itself a checkpoint result.
  *
  * CONTRACT: only call on DEAD frames. A local checkpoint's lineage is
  * truncated, so once its blocks are dropped the frame cannot be
  * recomputed — any later action on it throws "checkpoint block not
  * found". Valid call sites are dropped memo entries, putIfAbsent
  * losers, and superseded per-round iteration state.
  */
object CheckpointBlocks {
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => () // derived frame: never touch an upstream checkpoint
    }

  /** `localCheckpoint(eager)` that also DROPS the checkpoint's origin
    * constraints. A plain local checkpoint carries its input plan's
    * constraints verbatim (LogicalRDD bypasses the prune-to-output
    * filter); when the checkpointed frame is later self-joined or
    * unioned, relation deduplication re-aliases one instance's output
    * while the carried constraints still name the OLD expression ids,
    * and Union constraint rewriting faults with `key not found: id#N`
    * (Spark 4.1.2). Any checkpoint whose INPUT went through a Filter
    * and whose result feeds a self-join/union must use this form —
    * un-filtered inputs carry no constraints and are safe either way.
    * Constraints are an optimizer hint only; dropping them never
    * changes results. [[release]] works on the result as usual (same
    * underlying checkpoint RDD).
    */
  def cleanCheckpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.GraftCleanCheckpoint.strip(
      df.localCheckpoint(true))

  /** Rows per checkpoint partition for [[sizedCheckpoint]] — the
    * size-adaptive replacement for checkpointing iteration state at
    * whatever partition count the producing plan happened to have
    * (usually `spark.sql.shuffle.partitions`). Local measurement
    * (sf0.1, 32 cores): the kNN family's checkpoints held ~60 rows per
    * partition, so every one of the ~200 jobs per build/search ran
    * 32-task stages whose per-task shuffle-file cost dominated (88 of
    * 214 task-CPU-seconds in x125 were shuffle WRITE time alone).
    * The value targets partitions of tens of MB for vector rows — the
    * guide's 100 MB - 1 GB post-shuffle partition rule, derived from
    * measured row count rather than a core-count constant.
    */
  val RowsPerPartition: Long = 65536L

  /** Run `body` with adaptive execution OFF in this session, restoring
    * the previous value after. For ITERATIVE-LOOP materializations
    * whose layouts the operator already fixed — explicit sized
    * repartitions, claimed checkpoints, explicit broadcast hints — AQE
    * has nothing left to decide, but it still submits one job per
    * exchange stage and re-plans between them: a ~5-exchange round
    * costs ~5 driver round-trips instead of 1, pure scheduling
    * overhead multiplied by the loop's round count (measured at sf0.1:
    * x122 78 → 30 jobs, x125 146 → 49). That argument is scale-free —
    * it is about WHO sizes the exchanges, not about the data. NOT for
    * gate/analysis plans: brute-force joins want AQE's runtime
    * coalescing and broadcast flips (measured: x120g 2.5 s → 6.9 s
    * without it). Only sound where downstream math is partition-
    * layout-proof — the same families licensed to use claimed
    * checkpoints — because planner-inserted exchanges keep the static
    * partition count instead of AQE's coalesced one.
    */
  def withStaticPlanning[T](spark: org.apache.spark.sql.SparkSession)
                           (body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Size-derived partition count: estRows at [[RowsPerPartition]],
    * floored at 1, capped at the cluster's parallelism. Used both for
    * sized checkpoints and for the EXPLICIT repartitions iterative
    * operators place before their dedup+window merges — an explicit
    * count keeps AQE from spending a re-planning cycle coalescing a
    * shuffle whose right size was known from the operator's own row
    * bound.
    *
    * The core-count cap on consolidation is itself bounded: past
    * `8 x RowsPerPartition` rows per partition the cap stops applying —
    * a hard cap at parallelism would put estRows/cores rows in each
    * partition, which at 10^9-row state blows the 2 GB block limit and
    * the guide's 100 MB - 1 GB partition rule. Local fixtures sit far
    * below the bound (est <= 8·RPP·cores ≈ 16.7M rows at 32 cores), so
    * the relaxation changes no bench-scale layout.
    */
  def partitionsFor(spark: org.apache.spark.sql.SparkSession,
                    estRows: Long): Int = {
    val est = math.max(estRows, 0L)
    val ideal = (est + RowsPerPartition - 1) / RowsPerPartition
    val floor = (est + 8 * RowsPerPartition - 1) / (8 * RowsPerPartition)
    math.max(1L, math.max(
      math.min(ideal, spark.sparkContext.defaultParallelism.toLong),
      floor)).toInt
  }

  /** Checkpoint `df` hash-partitioned by `keys` at a partition count
    * derived from `estRows` (consolidate-only: never more partitions
    * than the plan would otherwise produce, so no new fan-out shuffle
    * appears at scale), and CLAIM that partitioning on the resulting
    * LogicalRDD (see GraftCleanCheckpoint.stripClaiming — AQE drops
    * it otherwise). Downstream effect, measured in plans: every
    * key-equi join against the checkpoint stops re-exchanging the
    * checkpointed side, and at fixture scale the iteration state
    * collapses to single-task stages instead of
    * `spark.sql.shuffle.partitions`-task ones.
    *
    * ONLY for frames whose downstream math is partition-layout-proof
    * (integer sums, per-row expressions, windows with total
    * tie-broken orders — the kNN graph family's documented
    * bit-determinism discipline). Frames feeding order-sensitive
    * double aggregations (k-means member sums, GD partials) must keep
    * their natural layout: a different accumulation order moves the
    * last float bits, and those families are no_oracle precisely
    * because their outputs depend on it.
    */
  def sizedCheckpoint(df: DataFrame, keys: Seq[String],
                      estRows: Long): DataFrame = {
    val n = partitionsFor(df.sparkSession, estRows)
    validateClaim(
      org.apache.spark.sql.classic.GraftCleanCheckpoint.stripClaiming(
        df.repartition(n, keys.map(org.apache.spark.sql.functions.col): _*)
          .localCheckpoint(true),
        keys),
      keys)
  }

  /** Opt-in claim validation — `spark.graft.validateClaims=true`:
    * after claiming hash(keys) on a checkpoint, scan it and assert every row hashes to its partition
    * (`pmod(hash(keys), n) == spark_partition_id()`; SQL `hash` IS
    * Murmur3 seed 42, exactly HashPartitioning's
    * partitionIdExpression). A violated claim otherwise MIS-JOINS
    * SILENTLY — wrong rows, no exception; the guard turns a future
    * over-claim (a layout-changing op slipping between the repartition
    * and the checkpoint) into a loud failure wherever it is enabled
    * (the spec suites enable it session-wide). Off by default: the
    * full-scan job would roughly double every claimed checkpoint's
    * bench cost.
    */
  private def validateClaim(ck: DataFrame, keys: Seq[String]): DataFrame = {
    val enabled = ck.sparkSession.conf
      .getOption("spark.graft.validateClaims")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    if (enabled) {
      import org.apache.spark.sql.functions._
      val n = ck.rdd.getNumPartitions
      val bad = ck.filter(
        pmod(hash(keys.map(col): _*), lit(n)) =!= spark_partition_id())
        .count()
      if (bad > 0) throw new IllegalStateException(
        s"claimed checkpoint violates hash(${keys.mkString(", ")}) x $n: " +
          s"$bad rows are not in the partition the claim asserts")
    }
    ck
  }

  /** Checkpoint a frame whose plan ALREADY established a hash(keys)
    * layout (an explicit `repartition(n, keys)` upstream, with only
    * layout-preserving operators — project/filter/window/partial-agg —
    * in between) and claim that layout on the LogicalRDD. Avoids the
    * double exchange [[sizedCheckpoint]] would pay re-partitioning an
    * already-partitioned plan. The claim contract is the caller's:
    * claiming a layout the data does not have mis-joins silently.
    */
  def claimedCheckpoint(df: DataFrame, keys: Seq[String]): DataFrame =
    validateClaim(
      org.apache.spark.sql.classic.GraftCleanCheckpoint.stripClaiming(
        df.localCheckpoint(true), keys),
      keys)

  /** [[claimedCheckpoint]] that additionally OBSERVES one long-valued
    * aggregate during the checkpoint's own materialization
    * (`Dataset.observe` → a CollectMetrics pass-through node), so
    * iterative operators that need a scalar of every round's state
    * (objective trajectories, per-round tallies) stop paying a
    * separate job per round for it. CollectMetrics passes rows through
    * unchanged — the claim contract and the block layout are exactly
    * [[claimedCheckpoint]]'s. The metric must be an order-independent
    * aggregate (integer sums/counts): the observation accumulates in
    * partition-completion order.
    */
  def claimedCheckpointObserved(df: DataFrame, keys: Seq[String],
                                metrics: org.apache.spark.sql.Column*)
      : (DataFrame, Seq[Long]) = {
    require(metrics.nonEmpty, "at least one observed metric")
    val obs = org.apache.spark.sql.Observation(
      s"graft_ckpt_obs_${obsSeq.incrementAndGet()}")
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    val ck = claimedCheckpoint(
      df.observe(obs, named.head, named.tail: _*), keys)
    // the checkpoint above is EAGER, so the observed action has already
    // run; get only waits for the (async) listener delivery
    val got = obs.get
    (ck, metrics.indices.map(i => got(s"m$i") match {
      case l: java.lang.Long => l.longValue()
      case other => throw new IllegalStateException(
        s"observed metric m$i is not a long: $other")
    }))
  }

  /** Plain eager localCheckpoint with observed aggregates (no layout
    * claim) — [[claimedCheckpointObserved]] for loops whose state keeps
    * its natural layout. Returns the observed values positionally,
    * untyped (structs come back as Rows). Metrics must be
    * order-independent aggregates (integer sums/counts, exact min/max).
    */
  def observedCheckpoint(df: DataFrame,
                         metrics: org.apache.spark.sql.Column*)
      : (DataFrame, Seq[Any]) = {
    require(metrics.nonEmpty, "at least one observed metric")
    val obs = org.apache.spark.sql.Observation(
      s"graft_ckpt_obs_${obsSeq.incrementAndGet()}")
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    val ck = df.observe(obs, named.head, named.tail: _*)
      .localCheckpoint(true)
    val got = obs.get
    (ck, metrics.indices.map(i => got(s"m$i")))
  }

  private val obsSeq = new java.util.concurrent.atomic.AtomicLong()

  /** [[sizedCheckpoint]] over an ALREADY-materialized checkpoint whose
    * row count the caller just measured, releasing the source blocks on
    * every path (the resize reads cached blocks, so the extra pass is
    * one cheap narrow job — paid once, against the dozens of
    * downstream jobs the consolidated layout speeds up).
    */
  def resizeCheckpoint(ck: DataFrame, keys: Seq[String],
                       estRows: Long): DataFrame =
    try sizedCheckpoint(ck, keys, estRows) finally release(ck)
}
