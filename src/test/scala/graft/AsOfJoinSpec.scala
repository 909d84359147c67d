package graft

import graft.operators.AsOfJoin

/** AsOfJoin.backward: boundary inclusion, latest-wins, left semantics
  * for unmatched probes, and key isolation; and the RangeJoin bucket
  * arithmetic edges of the other temporal join.
  */
class AsOfJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("picks the latest build row at or before each probe ts") {
    val probe = Seq((1L, 100L, "p1"), (1L, 250L, "p2"), (1L, 50L, "p0"))
      .toDF("k", "t", "pv")
    val build = Seq((1L, 100L, "b100"), (1L, 200L, "b200"), (1L, 300L, "b300"))
      .toDF("k", "t", "bv")
    val out = AsOfJoin.backward(probe, build, "k", "t")
      .select($"pv", $"bv").as[(String, String)].collect().toSet
    // t=100 matches the EQUAL-ts build row; t=50 predates all -> null
    assert(out === Set(("p0", null), ("p1", "b100"), ("p2", "b200")))
  }

  test("keys never cross") {
    val probe = Seq((1L, 100L, "p1"), (2L, 100L, "p2")).toDF("k", "t", "pv")
    val build = Seq((1L, 10L, "b1")).toDF("k", "t", "bv")
    val out = AsOfJoin.backward(probe, build, "k", "t")
      .select($"pv", $"bv").as[(String, String)].collect().toSet
    assert(out === Set(("p1", "b1"), ("p2", null)))
  }

  test("empty build leaves every probe row with null payload; empty probe yields nothing") {
    val probe = Seq((1L, 100L, "p1")).toDF("k", "t", "pv")
    val build = Seq((1L, 10L, "b1")).toDF("k", "t", "bv")
    val noBuild = AsOfJoin.backward(probe, build.limit(0), "k", "t")
      .select($"pv", $"bv").as[(String, String)].collect().toSet
    assert(noBuild === Set(("p1", null)))
    assert(AsOfJoin.backward(probe.limit(0), build, "k", "t").isEmpty)
  }

  test("multiple payload columns survive on both sides") {
    val probe = Seq((1L, 5L, "a", 1.5)).toDF("k", "t", "pa", "pb")
    val build = Seq((1L, 3L, "x", 9)).toDF("k", "t", "ba", "bb")
    val r = AsOfJoin.backward(probe, build, "k", "t").collect().head
    assert(r.getAs[String]("pa") == "a" && r.getAs[Double]("pb") == 1.5 &&
      r.getAs[String]("ba") == "x" && r.getAs[Int]("bb") == 9)
  }

  test("RangeJoin: boundary inclusion/exclusion and bucket-spanning intervals") {
    import graft.operators.RangeJoin
    val probe = Seq((1L, 0L), (2L, 99L), (3L, 100L), (4L, 250L), (5L, 399L), (6L, 400L))
      .toDF("a", "t")
    val intervals = Seq((10L, 100L, 400L)).toDF("b", "start", "end") // [100, 400)
    val joined = RangeJoin.pointInInterval(probe, "t", intervals, "start", "end",
        bucketWidth = 64) // interval spans buckets 1..6: no pair duplicated
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(joined === Set((3L, 10L), (4L, 10L), (5L, 10L)))
  }
}
