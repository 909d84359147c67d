package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sketch / approximate-aggregation operators over the events table —
  * the cardinality and quantile estimators a 100 TB analytics engine
  * reaches for when exact distinct/percentile shuffles are too big.
  * Both estimators are Spark built-ins (HLL++, KLL-style quantile
  * summaries) that aggregate in a single pass with constant-size
  * partial state — a map-side-combinable sketch merge instead of the
  * exact form's full shuffle of distinct keys / sorted values.
  *
  * Estimates themselves are engine-specific (not DuckDB-expressible),
  * so the declared estimator queries get the rows-only check, and each
  * carries an oracle-green ERROR GATE in the x03r/x04r style: a query
  * that emits only the groups whose estimate violates the documented
  * error bound — provably empty at these parameters, declared with an
  * empty-set oracle. Both sketches are deterministic for fixed input
  * (hash-based, no RNG), so the gates cannot flake.
  */
object SketchQueries {
  type Q = (SparkSession, String) => DataFrame

  /** rsd for approx_count_distinct: 1% target standard error; the gate
    * asserts 5x that bound.
    */
  private val Rsd = 0.01

  /** Relative-rank accuracy for approx_percentile (rank error <=
    * n/Accuracy); the gate asserts rank containment within
    * 1/Accuracy + 1/n.
    */
  private val Accuracy = 10000

  private def events(s: SparkSession, d: String): DataFrame = Tables(s, d, "events")

  /** (event_type, approx_users) — HLL++ distinct-user estimate. */
  private def approxDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), Rsd).as("approx_users"))

  /** (event_type, approx_median) — single-pass quantile-sketch median. */
  private def approxMedian(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(col("event_type"))
      .agg(approx_percentile(col("value"), lit(0.5), lit(Accuracy)).as("approx_median"))

  val queries: Map[String, Q] = baseQueries ++ heavyHitters ++ cmsQueries

  private lazy val baseQueries: Map[String, Q] = Map(
    "x17_approx_distinct" -> ((s, d) =>
      approxDistinct(s, d).orderBy(col("event_type"))),

    // gate: |approx - exact| / exact must stay within 5*rsd. HLL++ at
    // rsd=0.01 has relative standard error ~1%; 5 sigma on a
    // deterministic sketch => empty, declared with an empty-set oracle.
    "x17g_approx_distinct_gate" -> ((s, d) => {
      val exact = events(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      approxDistinct(s, d).join(exact, "event_type")
        .filter(abs(col("approx_users") - col("exact_users")) >
          lit(5 * Rsd) * col("exact_users"))
        .select(col("event_type"), col("approx_users"), col("exact_users"))
        .orderBy(col("event_type"))
    }),

    "x18_approx_median" -> ((s, d) =>
      approxMedian(s, d).orderBy(col("event_type"))),

    // gate: rank CONTAINMENT. approx_percentile returns an element whose
    // rank r obeys |r - 0.5n| <= n/Accuracy, so the element's true
    // insertion interval — [fraction strictly below it, fraction at or
    // below it] — must straddle 0.5 within eps = 1/Accuracy + 1/n (the
    // 1/n term is rank discreteness; the two-sided lt/le pair is what
    // makes ties at the median provably harmless, where a single
    // "fraction <=" test is NOT empty-by-construction for small or tied
    // groups). The join is per-group (5 groups), never a cross.
    "x18g_approx_median_gate" -> ((s, d) => {
      // non-null values only: approx_percentile ignores nulls, so a
      // null-bearing column would deflate the fractions (null < median
      // is null -> counted 0) and fire the gate on a CORRECT sketch
      val fr = events(s, d).filter(col("value").isNotNull)
        .join(approxMedian(s, d), "event_type")
        .groupBy(col("event_type"))
        .agg(avg(when(col("value") < col("approx_median"), 1.0).otherwise(0.0))
            .as("frac_lt"),
          avg(when(col("value") <= col("approx_median"), 1.0).otherwise(0.0))
            .as("frac_le"),
          count(lit(1)).as("n"))
      val eps = lit(1.0 / Accuracy) + lit(1.0) / col("n")
      fr.filter(col("frac_lt") > lit(0.5) + eps || col("frac_le") < lit(0.5) - eps)
        .select(col("event_type"), round(col("frac_lt"), 6).as("frac_lt"),
          round(col("frac_le"), 6).as("frac_le"))
        .orderBy(col("event_type"))
    }),

    // exact interpolated median — the correctness baseline the sketches
    // approximate; hash-checked against DuckDB's quantile_cont.
    "x19_exact_median" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("median_value"))
        .orderBy(col("event_type")))
  )

  /** Heavy-hitter user ids via Misra-Gries-style freqItems: one pass,
    * O(1/support) counters per partition plus a counter merge — never a
    * full groupBy of the (at scale, billions-of-keys) id domain. The
    * sketch may over-report (false positives) but NEVER misses an item
    * occurring in more than `support` of the rows — which is what the
    * recall gate proves against the exact counts.
    */
  private val Support = 0.005

  // freqItems is EAGER (it runs the Misra-Gries pass and wraps the
  // collected result in a local frame), so x26 and x26g would each pay
  // the full scan — memoize per (session, dir) like the other operator
  // memos
  private val hhShared =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def hhCandidates(s: SparkSession, d: String): DataFrame = {
    val k = (s, d)
    Option(hhShared.get(k)).getOrElse {
      MemoEviction.register(s, "sketch") { () =>
        hhShared.keySet.removeIf(_._1 eq s)
      }
      val v = events(s, d).stat.freqItems(Array("user_id"), Support)
        .select(explode(col("user_id_freqItems")).as("user_id"))
        .localCheckpoint(true)
      Option(hhShared.putIfAbsent(k, v)).getOrElse(v)
    }
  }

  /** Count-min cell coordinate for row r: a 2-hex-char md5 prefix —
    * 256 columns whose derivation both engines compute identically
    * (the x33 md5-bucketing convention), so the SKETCH ITSELF carries a
    * full SQL oracle, not just its estimates.
    */
  private def cmsCell(r: Int, key: org.apache.spark.sql.Column) =
    substring(md5(concat(lit(s"$r:"), key.cast("string"))), 1, 2)

  private val CmsDepth = 4

  private def cmsCellsOf(key: org.apache.spark.sql.Column) =
    explode(array((0 until CmsDepth).map(r =>
      struct(lit(r).as("r"), cmsCell(r, key).as("c"))): _*)).as("p")

  /** The CMS relation (r, c, cnt) of a key column: 4×256 cells. Merges
    * with another sketch by unioning and re-summing per cell.
    */
  def cmsSketch(df: DataFrame, keyCol: String): DataFrame =
    df.select(cmsCellsOf(col(keyCol)))
      .groupBy(col("p.r").as("r"), col("p.c").as("c"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for a probe relation against a sketch: min over
    * the key's depth cells; >= the true count always.
    */
  def cmsEstimates(sketch: DataFrame, probes: DataFrame,
                   keyCol: String): DataFrame =
    probes.select(col(keyCol), cmsCellsOf(col(keyCol)))
      .select(col(keyCol), col("p.r").as("r"), col("p.c").as("c"))
      .join(broadcast(sketch), Seq("r", "c"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** Count-min sketch point estimates vs exact counts for a bounded
    * probe set. The sketch is a (row, cell) -> count relation: one
    * explode of depth rows per event, then a map-side-combinable
    * aggregate — 4×256 cells total, mergeable across partitions,
    * batches, or days by addition (the reason a platform stores CMS
    * rather than exact per-key counts at 10^9-key cardinality). The
    * estimate is the min over the key's depth cells; est >= exact
    * ALWAYS (hash collisions only inflate), visible in the emitted
    * (est, exact) pairs and enforced by the shared oracle.
    */
  private lazy val cmsQueries: Map[String, Q] = Map(
    "x88_cms_point_estimates" -> ((s, d) => {
      val ev = events(s, d)
      val probes = ev.select(col("user_id"))
        .filter(col("user_id") % 7 === 0).distinct()
      val est = cmsEstimates(cmsSketch(ev, "user_id"), probes, "user_id")
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("user_id"))
        .select(col("user_id"), col("est"), col("exact"))
        .orderBy(col("user_id"))
    })
  )

  private lazy val heavyHitters: Map[String, Q] = Map(
    // approximate output -> rows-only; the gate below is the oracle
    "x26_heavy_hitters" -> ((s, d) =>
      hhCandidates(s, d).orderBy(col("user_id"))),

    // gate: every user with count STRICTLY above support*n must be in
    // the sketch output (the Misra-Gries recall guarantee) => the
    // anti-join is empty by construction, declared with an empty oracle.
    "x26g_heavy_hitters_recall" -> ((s, d) => {
      // total row count as a broadcast 1-row frame, not a driver action
      val total = events(s, d).agg(count(lit(1)).as("n"))
      val exact = events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") > lit(Support) * col("n"))
      exact.join(hhCandidates(s, d), Seq("user_id"), "left_anti")
        .select(col("user_id"), col("cnt"))
        .orderBy(col("user_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "x17g_approx_distinct_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS event_type,
        |  CAST(NULL AS BIGINT) AS approx_users,
        |  CAST(NULL AS BIGINT) AS exact_users WHERE false""".stripMargin,

    "x18g_approx_median_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS event_type,
        |  CAST(NULL AS DOUBLE) AS frac_lt,
        |  CAST(NULL AS DOUBLE) AS frac_le WHERE false""".stripMargin,

    "x26g_heavy_hitters_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS user_id,
        |  CAST(NULL AS BIGINT) AS cnt WHERE false""".stripMargin,

    "x19_exact_median" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS median_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "x88_cms_point_estimates" ->
      """WITH rows AS (
        |  SELECT unnest([0, 1, 2, 3]) AS r
        |), cells AS (
        |  SELECT r, substr(md5(r || ':' || CAST(user_id AS VARCHAR)), 1, 2) AS c,
        |    count(*) AS cnt
        |  FROM events, rows GROUP BY 1, 2
        |), probes AS (
        |  SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0
        |), pc AS (
        |  SELECT p.user_id, rows.r,
        |    substr(md5(rows.r || ':' || CAST(p.user_id AS VARCHAR)), 1, 2) AS c
        |  FROM probes p, rows
        |), est AS (
        |  SELECT pc.user_id, min(coalesce(cells.cnt, 0)) AS est
        |  FROM pc LEFT JOIN cells ON cells.r = pc.r AND cells.c = pc.c
        |  GROUP BY 1
        |), exact AS (
        |  SELECT user_id, count(*) AS exact FROM events GROUP BY 1
        |)
        |SELECT user_id, CAST(est AS BIGINT) AS est, CAST(exact AS BIGINT) AS exact
        |FROM est JOIN exact USING (user_id)
        |ORDER BY user_id""".stripMargin
  )
}
