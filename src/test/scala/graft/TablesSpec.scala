package graft

import java.time.{Instant, LocalDateTime}

/** `Tables.epochNs`: one epoch-nanosecond LONG view of a time column,
  * whichever physical type the testdata writer used.
  */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  // 2024-01-02T03:04:05.123456Z
  private val expectedNs = 1704164645123456000L

  private def epochNsOf(df: org.apache.spark.sql.DataFrame): Seq[java.lang.Long] =
    df.select(Tables.epochNs(df, "ts").as("ns")).as[java.lang.Long].collect().toSeq

  test("epochNs passes epoch-nano longs through, exact above 2^53") {
    val big = (1L << 53) + 1
    val df = Seq(0L, big, expectedNs).toDF("ts")
    assert(epochNsOf(df) === Seq[java.lang.Long](0L, big, expectedNs))
  }

  test("epochNs converts TIMESTAMP micros to nanos") {
    val df = Seq(Instant.parse("2024-01-02T03:04:05.123456Z")).toDF("ts")
    assert(df.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(epochNsOf(df) === Seq[java.lang.Long](expectedNs))
  }

  test("epochNs reads TIMESTAMP_NTZ as UTC wall-clock") {
    val df = Seq(LocalDateTime.parse("2024-01-02T03:04:05.123456")).toDF("ts")
    assert(df.schema("ts").dataType === org.apache.spark.sql.types.TimestampNTZType)
    assert(epochNsOf(df) === Seq[java.lang.Long](expectedNs))
  }

  test("epochNs keeps a null time null") {
    val df = Seq(Option.empty[Instant], Some(Instant.EPOCH)).toDF("ts")
    assert(epochNsOf(df) === Seq[java.lang.Long](null, 0L))
  }

  test("epochNs refuses a non-time column by name") {
    val df = Seq("2024-01-02").toDF("ts")
    val e = intercept[IllegalArgumentException](Tables.epochNs(df, "ts"))
    assert(e.getMessage.contains("column ts"))
  }
}
