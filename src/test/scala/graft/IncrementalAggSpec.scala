package graft

import graft.operators.IncrementalAgg

/** Partial-aggregate view maintenance: a merged view of per-batch
  * partials must equal one aggregation over all the batches' rows, in
  * any merge order.
  */
class IncrementalAggSpec extends SparkSpecBase {
  import spark.implicits._

  private type Agg = (String, Long, Long, Long, Long)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Agg] =
    df.select("k", "cnt", "sum", "min", "max").as[Agg].collect().toSet

  private val b1 = Seq(("a", 5L), ("a", -2L), ("b", 7L)).toDF("k", "v")
  private val b2 = Seq(("a", 9L), ("c", 1L)).toDF("k", "v")
  private val b3 = Seq(("b", -4L), ("c", 3L), ("c", 3L)).toDF("k", "v")

  test("partials computes count, sum, min and max per key") {
    assert(rows(IncrementalAgg.partials(b1, Seq("k"), "v")) ===
      Set(("a", 2L, 3L, -2L, 5L), ("b", 1L, 7L, 7L, 7L)))
  }

  test("merging two batches' partials equals aggregating their union") {
    val merged = IncrementalAgg.merge(Seq("k"),
      Seq(IncrementalAgg.partials(b1, Seq("k"), "v"), IncrementalAgg.partials(b2, Seq("k"), "v")))
    assert(rows(merged) === rows(IncrementalAgg.partials(b1.union(b2), Seq("k"), "v")))
    assert(rows(merged) ===
      Set(("a", 3L, 12L, -2L, 9L), ("b", 1L, 7L, 7L, 7L), ("c", 1L, 1L, 1L, 1L)))
  }

  test("merge is order-free and associative") {
    def p(df: org.apache.spark.sql.DataFrame) = IncrementalAgg.partials(df, Seq("k"), "v")
    val m = (parts: Seq[org.apache.spark.sql.DataFrame]) => IncrementalAgg.merge(Seq("k"), parts)
    val flat = rows(m(Seq(p(b1), p(b2), p(b3))))
    assert(rows(m(Seq(p(b3), p(b1), p(b2)))) === flat)
    assert(rows(m(Seq(m(Seq(p(b1), p(b2))), p(b3)))) === flat)
    assert(rows(m(Seq(p(b1), m(Seq(p(b2), p(b3)))))) === flat)
    assert(flat === rows(p(b1.union(b2).union(b3))))
  }

  test("merging a single partial relation returns it unchanged") {
    val p1 = IncrementalAgg.partials(b3, Seq("k"), "v")
    assert(rows(IncrementalAgg.merge(Seq("k"), Seq(p1))) === rows(p1))
  }

  test("merge of no partial relations is refused") {
    intercept[IllegalArgumentException](IncrementalAgg.merge(Seq("k"), Seq.empty))
  }

  test("composite keys stay separate through partials and merge") {
    val x = Seq(("a", 1, 10L), ("a", 2, 20L)).toDF("k1", "k2", "v")
    val y = Seq(("a", 1, 5L), ("b", 1, 1L)).toDF("k1", "k2", "v")
    val keys = Seq("k1", "k2")
    val merged = IncrementalAgg.merge(keys,
      Seq(IncrementalAgg.partials(x, keys, "v"), IncrementalAgg.partials(y, keys, "v")))
    val got = merged.select("k1", "k2", "cnt", "sum")
      .as[(String, Int, Long, Long)].collect().toSet
    assert(got === Set(("a", 1, 2L, 15L), ("a", 2, 1L, 20L), ("b", 1, 1L, 1L)))
  }
}
