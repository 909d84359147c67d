package graft

import graft.operators.ChangeDetector

/** CDC classification of scraped candidates against the release table
  * and the stored-blob listing: new, missing_file, changed, unchanged.
  */
class ChangeDetectorSpec extends SparkSpecBase {
  import spark.implicits._

  private def candidates(rows: (String, String, String, String)*) =
    rows.toDF("id", "filename", "file_meta_created_at", "file_meta_modified_at")

  private def db(rows: (String, String, String)*) =
    rows.toDF("id", "file_meta_created_at", "file_meta_modified_at")

  private def stored(names: String*) = names.toDF("filename")

  private def statuses(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.select("id", "change_status").as[(String, String)].collect().toMap

  test("an id with no release row is new, with or without a stored blob") {
    val out = ChangeDetector.classify(
      candidates(("r1", "a.pdf", "c", "m"), ("r2", "b.pdf", "c", "m")),
      db(("other", "c", "m")), stored("b.pdf"))
    assert(statuses(out) === Map("r1" -> "new", "r2" -> "new"))
  }

  test("a known release whose blob is gone is missing_file, even when metadata matches") {
    val out = ChangeDetector.classify(
      candidates(("r1", "a.pdf", "c", "m")), db(("r1", "c", "m")), stored("z.pdf"))
    assert(statuses(out) === Map("r1" -> "missing_file"))
  }

  test("a changed created_at or modified_at is changed") {
    val out = ChangeDetector.classify(
      candidates(("r1", "a.pdf", "c2", "m"), ("r2", "b.pdf", "c", "m2")),
      db(("r1", "c", "m"), ("r2", "c", "m")), stored("a.pdf", "b.pdf"))
    assert(statuses(out) === Map("r1" -> "changed", "r2" -> "changed"))
  }

  test("matching metadata with a stored blob is unchanged") {
    val out = ChangeDetector.classify(
      candidates(("r1", "a.pdf", "c", "m")), db(("r1", "c", "m")), stored("a.pdf"))
    assert(statuses(out) === Map("r1" -> "unchanged"))
  }

  test("metadata compares null-safely: null equals null, null differs from a value") {
    val out = ChangeDetector.classify(
      candidates(("r1", "a.pdf", null, "m"), ("r2", "b.pdf", null, "m")),
      db(("r1", null, "m"), ("r2", "c", "m")), stored("a.pdf", "b.pdf"))
    assert(statuses(out) === Map("r1" -> "unchanged", "r2" -> "changed"))
  }

  test("a filename listed twice in storage does not duplicate its candidate") {
    val out = ChangeDetector.classify(
      candidates(("r1", "a.pdf", "c", "m2")), db(("r1", "c", "m")),
      stored("a.pdf", "a.pdf", "a.pdf"))
    assert(out.count() === 1)
    assert(statuses(out) === Map("r1" -> "changed"))
  }

  test("classify keeps every candidate column and adds only change_status") {
    val cands = candidates(("r1", "a.pdf", "c", "m"))
      .withColumn("url", org.apache.spark.sql.functions.lit("http://x/a.pdf"))
    val out = ChangeDetector.classify(cands, db(("r1", "c", "m")), stored("a.pdf"))
    assert(out.columns.toSeq === cands.columns.toSeq :+ "change_status")
    assert(out.select("url").as[String].collect().toSeq === Seq("http://x/a.pdf"))
  }

  test("newOrUpdated drops exactly the unchanged candidates") {
    val out = ChangeDetector.newOrUpdated(
      candidates(("new", "n.pdf", "c", "m"), ("gone", "g.pdf", "c", "m"),
        ("chg", "c.pdf", "c", "m2"), ("same", "s.pdf", "c", "m")),
      db(("gone", "c", "m"), ("chg", "c", "m"), ("same", "c", "m")),
      stored("c.pdf", "s.pdf"))
    assert(statuses(out) ===
      Map("new" -> "new", "gone" -> "missing_file", "chg" -> "changed"))
  }
}
