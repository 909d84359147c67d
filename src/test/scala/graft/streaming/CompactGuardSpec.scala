package graft.streaming

import java.nio.file.Files

/** compact()'s safety rail: the uncommitted-batch detector must not
  * silently degrade to "safe" when there is no stream checkpoint to
  * read.
  */
class CompactGuardSpec extends graft.SparkSpecBase {
  import spark.implicits._

  test("empty workDir compacts as a no-op without acknowledgment") {
    val workDir = Files.createTempDirectory("cgempty").toString
    new CorpusStream(spark, workDir).compact()
  }

  test("batch dirs without a checkpoint require explicit acknowledgment") {
    val workDir = Files.createTempDirectory("cgack").toString
    val s = new CorpusStream(spark, workDir)
    // fabricate processBatch-written state: a curated batch dir
    Seq(("d1", "http://a/1", "2026-01-01", "text one", "h1"))
      .toDF("doc_id", "url", "date", "text", "content_hash")
      .write.parquet(s"$workDir/curated/batch=0")
    // no chk dir: the detector cannot verify commit state — refuse
    val e = intercept[IllegalArgumentException](s.compact())
    assert(e.getMessage.contains("acknowledgeNoCheckpoint"))
    assert(new java.io.File(s"$workDir/curated/batch=0").isDirectory,
      "a refused compact must not have touched state")
    // the caller vouches every batch completed: compaction proceeds
    s.compact(acknowledgeNoCheckpoint = true)
    assert(new java.io.File(s"$workDir/curated/base=0").isDirectory,
      "the batch dir must fold into the base")
    assert(s.curated.count() === 1, "compaction preserved the state")
  }
}
