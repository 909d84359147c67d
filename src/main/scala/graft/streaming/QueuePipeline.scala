package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import graft.sinks.NioLocalFileSystem

/** The reference's queue-driven incremental pipeline semantics
  * (SURVEY §2.9, OP-59..OP-65) on Structured Streaming.
  *
  * A "queue" is a directory of JSON-lines files (the durable analog of
  * an SQS queue); a "stage" is a streaming query over that directory
  * with Trigger.AvailableNow — the exact semantic match for the
  * reference's drain-then-stop teardown (CloudWatch idle alarm ->
  * disable triggers, initialize_aws.py:487-513): process everything
  * available, then stop.
  *
  * - OP-10/14: enqueue = to_json(struct(*)) appended as text; the source
  *   parses with from_json against the declared schema.
  * - OP-61/62: malformed or failing messages are diverted to a
  *   quarantine directory (DLQ analog, maxReceiveCount=1) instead of
  *   failing the stage; checkpointing gives at-least-once delivery and
  *   idempotent sinks make it exactly-once-effective.
  * - OP-63: incremental ingest = anti-join of the new listing against a
  *   processed-log table (the file-source checkpoint does exactly this
  *   for files; ChangeDetector does it for CDC rows).
  */
object QueuePipeline {

  /** OP-14: queue sink — serialize every row as one JSON message and
    * append to the queue directory.
    */
  def enqueue(df: DataFrame, queueDir: String): Unit =
    appendText(df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value")), queueDir)

  /** Append one-column text rows to `dir` with the store's writer options. */
  private def appendText(lines: DataFrame, dir: String): Unit =
    lines.write.options(NioLocalFileSystem.WriteOptions).mode("append").text(dir)

  /** OP-10: batch-mode queue read (used by tests/oracles). */
  def dequeueAll(spark: SparkSession, queueDir: String, schema: StructType): DataFrame =
    spark.read.text(queueDir)
      .select(from_json(col("value"), schema).as("m"))
      .select(col("m.*"))

  /** One streaming stage: drain queueDir (AvailableNow), parse messages,
    * split parse failures to quarantineDir, hand the good rows to
    * `process` per micro-batch. Blocks until drained. Returns the number
    * of micro-batches executed.
    *
    * checkpointDir persists source offsets: a re-run after enqueueing
    * more messages processes only the new ones (incremental, OP-63).
    */
  def runStage(spark: SparkSession, queueDir: String, schema: StructType,
               checkpointDir: String, quarantineDir: String)
              (process: DataFrame => Unit): Long = {
    var batches = 0L
    // from_json in permissive mode yields an all-null struct (NOT a null
    // struct) for malformed input — an explicit corrupt-record column is
    // the only reliable malformed-detection signal. The name is chosen
    // to be collision-improbable (a payload KEY with this exact name
    // would land in the corrupt column and dead-letter a valid
    // message); a schema that declares it is refused outright.
    val corruptCol = "__graft_corrupt_rec"
    require(!schema.fieldNames.contains(corruptCol),
      s"message schema may not declare reserved column $corruptCol")
    val schemaWithCorrupt = schema.add(corruptCol, "string")
    val q = spark.readStream
      .schema(new StructType().add("value", "string"))
      .text(queueDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batches += 1
        import spark.implicits._
        def parse(df: DataFrame): DataFrame = df
          .select(col("value"),
            from_json(col("value"), schemaWithCorrupt,
              Map("columnNameOfCorruptRecord" -> corruptCol).asJava).as("m"))
        val parsed = parse(batch).cache()
        try {
          // OP-61/62: unparseable messages -> quarantine, not failure.
          val isBad = col("m").isNull || col(s"m.$corruptCol").isNotNull
          val bad = parsed.filter(isBad).select("value")
          if (!bad.isEmpty) appendText(bad, quarantineDir)
          val goodRaw = parsed.filter(!isBad)
          val good = goodRaw.select("m.*").drop(corruptCol)
          if (!good.isEmpty) {
            // NonFatal only: an OOM / shutdown interrupt must FAIL the
            // query so checkpointed redelivery applies — swallowing it
            // would dead-letter a whole batch of valid messages over a
            // transient environmental error
            try process(good)
            catch { case scala.util.control.NonFatal(_) =>
              // OP-62 per-message isolation (reference worker.py:51-113
              // try/excepts each record): when the whole micro-batch
              // fails, reprocess its messages one at a time so a single
              // poison message quarantines instead of killing the stage.
              // Driver-side loop is the FAILURE path only; messages are
              // small control records (a release / a page-range batch),
              // bounded by the micro-batch size.
              goodRaw.select("value").as[String].collect().foreach { v =>
                val one = parse(spark.createDataset(Seq(v)).toDF("value"))
                  .select("m.*").drop(corruptCol)
                try process(one)
                catch { case scala.util.control.NonFatal(_) =>
                  appendText(spark.createDataset(Seq(v)).toDF("value"), quarantineDir)
                }
              }
            }
          }
        } finally { val _ = parsed.unpersist() }
      }
      .start()
    q.awaitTermination()
    batches
  }
}
