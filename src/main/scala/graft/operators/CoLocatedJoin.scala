package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shuffle-free co-located equi-joins via Spark's native bucketed
  * storage layout.
  *
  * At 100 TB the dominant cost of a repeated fact-to-fact equi-join
  * (e.g. records joined to allocations on every incremental load) is
  * re-shuffling both sides on the key each run. Writing both tables
  * `bucketBy(n, key)` pins the hash-partitioning INTO the storage
  * layout: Catalyst recognizes the matching `HashPartitioning(key, n)`
  * output partitioning on both scans and plans the sort-merge join with
  * ZERO shuffle exchanges — the join cost becomes a per-bucket local
  * merge, amortizing one write-time shuffle across every subsequent
  * join. (`sortBy` additionally lets single-file buckets skip the local
  * sort.)
  *
  * This complements [[graft.sinks.TableStore]]: TableStore's explicit
  * `bNNNN` directories serve surgical bucket rewrites (its one
  * `merge`); this layout serves repeated large-scale
  * joins through the session catalog.
  */
object CoLocatedJoin {

  /** Persist `df` bucketed (and per-file sorted) by `key` into the
    * session catalog as `name`.
    */
  def writeBucketed(df: DataFrame, name: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(name)

  /** Inner equi-join of two co-bucketed catalog tables. When both were
    * written by [[writeBucketed]] with the same key and bucket count,
    * the physical plan contains no shuffle on either side.
    */
  def join(spark: SparkSession, left: String, right: String,
           key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
