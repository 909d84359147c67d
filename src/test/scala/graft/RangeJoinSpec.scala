package graft

import graft.operators.RangeJoin

/** RangeJoin.pointInInterval against a brute-force cross join, and the
  * inputs its bucket arithmetic must survive: inverted intervals,
  * overlapping intervals, and nanosecond times above 2^53.
  */
class RangeJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("a", "b").as[(Long, Long)].collect().toSeq.sorted

  test("equals the brute-force cross join at every bucket width") {
    val rnd = new scala.util.Random(11)
    val probeRows = (1L to 60L).map(a => (a, rnd.nextInt(500).toLong))
    val ivRows = (1L to 25L).map { b =>
      val s = rnd.nextInt(480).toLong
      (b, s, s + 1 + rnd.nextInt(120))
    }
    val expected = (for {
      (a, t) <- probeRows; (b, s, e) <- ivRows if t >= s && t < e
    } yield (a, b)).sorted
    assert(expected.nonEmpty)
    val probe = probeRows.toDF("a", "t")
    val intervals = ivRows.toDF("b", "start", "end")
    Seq(1L, 7L, 64L, 1000L).foreach { w =>
      assert(pairs(RangeJoin.pointInInterval(probe, "t", intervals, "start", "end", w)) ===
        expected, s"bucketWidth $w")
    }
  }

  test("empty and inverted intervals match nothing and are not exploded") {
    val probe = Seq((1L, 0L), (2L, 5L)).toDF("a", "t")
    // end before start by 10^12: exploded at width 1 this would be
    // 10^12 bucket rows
    val intervals = Seq((1L, 5L, 5L), (2L, 1000000000000L, 0L)).toDF("b", "start", "end")
    assert(RangeJoin.pointInInterval(probe, "t", intervals, "start", "end", 1L).isEmpty)
  }

  test("a non-positive bucket width is refused") {
    val probe = Seq((1L, 0L)).toDF("a", "t")
    val intervals = Seq((1L, 0L, 1L)).toDF("b", "start", "end")
    Seq(0L, -5L).foreach { w =>
      intercept[IllegalArgumentException](
        RangeJoin.pointInInterval(probe, "t", intervals, "start", "end", w))
    }
  }

  test("nanosecond times above 2^53 keep exact boundaries") {
    val base = (1L << 53) + 1 // not representable as a double
    val probe = Seq((1L, base - 1), (2L, base), (3L, base + 1)).toDF("a", "t")
    val intervals = Seq((9L, base, base + 1)).toDF("b", "start", "end")
    assert(pairs(RangeJoin.pointInInterval(probe, "t", intervals, "start", "end", 1000L)) ===
      Seq((2L, 9L)))
  }

  test("overlapping intervals each pair once, and both sides' columns survive") {
    val probe = Seq((1L, 5L, "p")).toDF("a", "t", "pv")
    val intervals = Seq((1L, 0L, 10L, "x"), (2L, 5L, 6L, "y"), (3L, 6L, 9L, "z"))
      .toDF("b", "start", "end", "iv")
    val out = RangeJoin.pointInInterval(probe, "t", intervals, "start", "end", 4L)
    assert(out.columns.toSet === Set("a", "t", "pv", "b", "start", "end", "iv"))
    assert(out.select("pv", "iv").as[(String, String)].collect().toSeq.sorted ===
      Seq(("p", "x"), ("p", "y")))
  }
}
