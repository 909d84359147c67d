package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.streaming.CorpusStream

/** Refresh equals rebuild on the corpus side: a planted WARC corpus
  * ingested in two drops through [[CorpusStream]] must ledger exactly
  * the drops its plants predict, and ship the same documents as one
  * [[CorpusPipeline.run]] over the union of the drops. Each drop plants
  * an exact copy, a near-dup and a contaminated document of its own (no
  * duplicate spans the two drops, so in-batch dedup sees every pair),
  * and no 8-token paragraph is shared by two documents (so `run`'s
  * paragraph dedup, which the stream does not run, drops nothing).
  */
class CorpusRefreshSpec extends SparkSpecBase {
  import spark.implicits._

  private def recBytes(uri: String, text: String): Array[Byte] = {
    val payload = text.getBytes("ISO-8859-1")
    (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: ${payload.length}\r\n\r\n")
      .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }

  private def writeWarc(dir: String, name: String, docs: Seq[(String, String)]): Unit =
    Files.write(Paths.get(dir, name),
      docs.map { case (u, t) => recBytes(u, t) }.reduce(_ ++ _))

  // the held-out split: each drop carries one document built on one item
  private val eval1 =
    "the capital of the ancient kingdom is found beside the river and the old bridge"
  private val eval2 =
    "a famous painter lived in the small village near the lake where swans gather every spring"
  private val heldOut = Seq(("e1", eval1), ("e2", eval2)).toDF("doc_id", "text")

  /** One drop's plants: three clean documents, an exact copy of the
    * first under another URL, a one-word near-dup of the second, a
    * document carrying an eval item, and one too short for the quality
    * gate.
    */
  private def drop(host: String, clean: Seq[String], nearOf: String,
                   contaminated: String): Seq[(String, String)] =
    Seq(s"http://$host/a" -> clean(0), s"http://$host/b" -> clean(1),
      s"http://$host/c" -> clean(2), s"http://$host/copy" -> clean(0),
      s"http://$host/near" -> nearOf, s"http://$host/eval" -> contaminated,
      s"http://$host/short" -> s"short $host page")

  private val drop1 = drop("one.example", Seq(
      "the quick brown fox jumps over the lazy dog and runs in the park until evening",
      "the weather report says rain is coming and the wind is strong along the coast today",
      "the children play games in the garden while the sun is warm and bright this afternoon"),
    nearOf = "the weather report says rain is coming and the wind is strong along the coast tonight",
    contaminated = eval1)
  private val drop2 = drop("two.example", Seq(
      "the library keeps many old books about the history of the ancient city walls and towers",
      "the mountain trail winds up through the forest and over the ridge line to a quiet meadow",
      "the harbor lights glow softly while the boats rock gently on the tide after sunset"),
    nearOf = "the mountain trail winds up through the forest and over the ridge line to a quiet valley",
    contaminated = "visitors often say that " + eval2)

  // per drop: 7 ingested, 6 past the gates (the short page fails the
  // token floor), 1 exact and 1 near drop, 4 checked against the eval
  // split, 1 contaminated, 3 accepted
  private val perDrop = (7L, 6L, 1L, 1L, 3L)
  private val perDropContam = (4L, 1L)

  /** Spark jobs per ingested batch, at most: the two drops measured 79
    * and 87 (adaptive execution submits each shuffle stage as a job of
    * its own; the first drop also builds the eval Bloom, the second
    * also reads the stored index).
    */
  private val MaxJobsPerBatch = 87

  test("two drops: ledger equals the plants, curated set equals run over the union") {
    val warcDir = Files.createTempDirectory("crwarc").toString
    val workDir = Files.createTempDirectory("crwork").toString
    def stream() = new CorpusStream(spark, workDir)
    stream().indexEvalSet(heldOut, "doc_id", "text")

    // job-start events per job group; the listener bus delivers events
    // in order, so a marker job seen by the listener means every earlier
    // job has been seen too
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    def jobsIn(group: String): Int = {
      val marker = s"marker-$group"
      sc.setJobGroup(marker, marker)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(marker), "listener bus did not deliver the marker job")
      groups.toArray.count(_ == group)
    }
    // a drain's jobs run under its query's run id as job group
    def ingestDrop(name: String, docs: Seq[(String, String)]): Int = {
      writeWarc(warcDir, name, docs)
      val q = stream().ingest(warcDir)
      q.awaitTermination()
      jobsIn(q.runId.toString)
    }
    sc.addSparkListener(listener)
    val jobs =
      try Seq(ingestDrop("d1.warc", drop1), ingestDrop("d2.warc", drop2))
      finally sc.removeSparkListener(listener)
    info(s"Spark jobs per ingested batch: ${jobs.mkString(", ")}")

    val s = stream()
    val led = s.ledger.orderBy("batch_id")
      .select("ingested", "curated_in", "exact_dropped", "near_dropped", "accepted")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(led === Seq(perDrop, perDrop), "one ledger row per drop, as planted")
    val contam = s.contamLedger.orderBy("batch_id")
      .select("checked", "contam_dropped").as[(Long, Long)].collect().toSeq
    assert(contam === Seq(perDropContam, perDropContam))

    val shipped = s.curated.select("doc_id").as[String].collect().toSet
    val texts = s.curated.select("text").as[String].collect().toSet
    assert(texts === Set(drop1, drop2).flatMap(d => Seq(d(0)._2, d(1)._2, d(2)._2)),
      "each drop ships its three clean documents")
    val rebuilt = CorpusPipeline.run(spark, warcDir, heldOut)
    assert(rebuilt.curated.select("doc_id").as[String].collect().toSet === shipped,
      "the refreshed store must equal one run over the union")

    assert(jobs.size === 2 && jobs.forall(_ > 0), s"jobs per batch: $jobs")
    assert(jobs.forall(_ <= MaxJobsPerBatch),
      s"jobs per batch $jobs exceed the bound $MaxJobsPerBatch")
  }
}
