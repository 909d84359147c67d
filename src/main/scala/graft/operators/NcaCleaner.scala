package graft.operators

import java.util.Locale
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.parseAmount
import graft.sources.PdfTableSource.GridRow

/** The reference's relational core — the raw-grid cleaner — as a pure
  * function of one batch's grid rows (reference: src/infrastructure/
  * adapters/pd_data_cleaner.py:22-183, called once per page-range batch
  * by worker.py:69-94).
  *
  * Input: one batch's extracted rows (doc, ord, cells), where the
  * minimum-ord row is the header and `cells` elements are nullable (empty
  * PDF cells). [[cleanBatch]] needs no shuffle, window or session, so
  * `EtlPipeline.work` runs it in the task that extracted the batch;
  * [[clean]] applies it to a whole grid, one group per doc.
  *
  * Semantics preserved from the reference (warts and all):
  *  - header names normalized lower+underscore, projected to VALID_COLUMNS
  *    (pd_data_cleaner.py:62-67); a header missing any of them raises, as
  *    the reference's df[valid_columns] KeyError does, so the batch
  *    dead-letters instead of silently losing the document
  *  - spacer rows inserted between consecutive rows whose nca_numbers are
  *    both non-blank and differ (:70-97) — load-bearing: a repeated header
  *    row mid-group gets a spacer before it, which splits the group's
  *    merge-run after the header row is removed (:99-118)
  *  - ""->null then forward-fill of the group key (:31-32); rows before the
  *    first key are dropped (pandas groupby drops NaN keys)
  *  - record-ish columns joined by take-while-nonempty (:120-132); agency/
  *    operating_unit/amount collected as ordered lists (:39-41)
  *  - allocations: zip of the lists (:150-151), then segment-and-merge:
  *    maximal runs of rows with a non-blank allocation cell merge into one
  *    row, all-blank rows separate runs (:152-163); merged amounts that no
  *    longer parse are dropped (:169-172)
  *  - released_date parsed with coerce-to-null and formatted ISO-8601'T'
  *    (:135-137); keep-first dedup on nca_number in document order
  *    (:138-140)
  *
  * String rules are Spark's, because an independent DataFrame program of
  * the same semantics is the test oracle: `trim` strips U+0020 only, `\s+`
  * is Java's ASCII class. Dates and amounts are parsed by [[finish]] with
  * Spark's own expressions.
  */
object NcaCleaner {

  val ValidColumns: Seq[String] = Seq(
    "nca_number", "nca_type", "released_date", "department",
    "agency", "operating_unit", "amount", "purpose")
  val RecordColumns: Seq[String] = Seq(
    "nca_number", "nca_type", "released_date", "department", "purpose", "release_id")
  val AllocationColumns: Seq[String] = Seq(
    "nca_number", "agency", "operating_unit", "amount")
  private val JoinedColumns = Seq("nca_type", "released_date", "department", "purpose")
  private val ListColumns = Seq("agency", "operating_unit", "amount")

  final case class Cleaned(records: DataFrame, allocations: DataFrame)

  /** One output row of [[cleanBatch]]: a record (`record`, allocation
    * columns null) or an allocation (record columns null), with the date
    * and amount still unparsed.
    */
  final case class CleanRow(doc: String, record: Boolean, nca_number: String,
                            nca_type: String, released_date: String, department: String,
                            purpose: String, agency: String, operating_unit: String,
                            amount: String)

  /** Spark's `trim`: strips U+0020 only. */
  private def trimSpaces(s: String): String = {
    val from = s.indexWhere(_ != ' ')
    if (from < 0) "" else s.substring(from, s.lastIndexWhere(_ != ' ') + 1)
  }

  /** GraftFunctions.normalizeToken on a plain string. */
  private def normalizeToken(s: String): String =
    trimSpaces(s).toLowerCase(Locale.ROOT).replaceAll("\\s+", " ").replace(' ', '_')

  /** Clean one batch: its records and allocations, in any order. The
    * rows may arrive in any order; `ord` orders them.
    */
  def cleanBatch(grid: Seq[GridRow]): Seq[CleanRow] = {
    val rows = grid.sortBy(_.ord)
      .map(r => r.ord -> Option(r.cells).fold(IndexedSeq.empty[String])(_.toIndexedSeq))
    // the minimum-ord row is the header
    val body = rows.drop(1).filter(_._1 > rows.head._1).map(_._2)
    if (body.isEmpty) return Nil
    val doc = grid.head.doc
    val header = rows.head._2
      .map(c => Option(c).getOrElse("").toLowerCase(Locale.ROOT).replace(' ', '_'))
    val missing = ValidColumns.filterNot(header.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"header missing required column(s) ${missing.mkString(", ")} in doc $doc")
    def of(name: String): Int = ValidColumns.indexOf(name)
    val key = of("nca_number")
    val at = ValidColumns.map(header.indexOf)
    // ragged rows (fewer cells than the header) read null for the rest
    val projected = body.map(cells => at.map(i => cells.lift(i).orNull))

    def blank(s: String): Boolean = s == null || trimSpaces(s).isEmpty
    val spaced = projected.zip(null +: projected.map(_(key))).flatMap { case (r, prev) =>
      if (!blank(prev) && !blank(r(key)) && r(key) != prev) Seq(ValidColumns.map(_ => ""), r)
      else Seq(r)
    }
    def isHeaderRow(r: Seq[String]): Boolean =
      ValidColumns.indices.forall(i => r(i) != null && normalizeToken(r(i)) == ValidColumns(i))
    // forward fill of the key; rows before the first key drop out
    val keyed = spaced.filterNot(isHeaderRow)
      .scanLeft(Option.empty[String] -> Seq.empty[String]) { case ((last, _), r) =>
        (Option(r(key)).filter(_.nonEmpty).orElse(last), r)
      }.collect { case (Some(k), r) => k -> r }
    // groups in order of first appearance, each group's rows in order
    val groups = keyed.map(_._1).distinct.map(k => k -> keyed.collect { case (`k`, r) => r })

    val records = groups.map { case (k, g) =>
      val joined = JoinedColumns.map(c =>
        trimSpaces(g.map(_(of(c))).takeWhile(v => v != null && v.nonEmpty).mkString(" ")))
      CleanRow(doc, record = true, trimSpaces(k), joined(0), joined(1), joined(2), joined(3),
        null, null, null)
    }.distinctBy(_.nca_number)
    val allocations = groups.flatMap { case (k, g) =>
      val lists = g.map(r => ListColumns.map(c => Option(r(of(c))).getOrElse("")))
      val runs = lists.foldRight(List(List.empty[Seq[String]])) { (r, acc) =>
        if (r.forall(_.isEmpty)) Nil :: acc else (r :: acc.head) :: acc.tail
      }
      runs.filter(_.nonEmpty).map { run =>
        val merged = ListColumns.indices.map(i => trimSpaces(run.map(_(i)).mkString(" ")))
        CleanRow(doc, record = false, trimSpaces(k), null, null, null, null,
          merged(0), merged(1), merged(2))
      }
    }
    records ++ allocations
  }

  /** The parse step over [[cleanBatch]]'s rows, one narrow projection:
    * released_date with coerce-to-null formatted ISO-8601'T', amounts
    * parsed and allocations whose amount does not parse dropped, and
    * `release_id` from `releaseId`.
    */
  def finish(rows: DataFrame, releaseId: Column): DataFrame = {
    val d = col("released_date")
    val date = date_format(coalesce(
      try_to_timestamp(d),
      try_to_timestamp(d, lit("M/d/yyyy")),
      try_to_timestamp(d, lit("MMM d, yyyy")),
      try_to_timestamp(d, lit("MMMM d, yyyy"))), "yyyy-MM-dd'T'HH:mm:ss")
    rows.select(col("doc"), col("record"), col("nca_number"), col("nca_type"),
        date.as("released_date"), col("department"), col("purpose"),
        releaseId.as("release_id"), col("agency"), col("operating_unit"),
        parseAmount(col("amount")).as("amount"))
      .filter(col("record") || col("amount").isNotNull)
  }

  /** [[finish]]'s rows as records and allocations, keyed by doc. */
  def byKind(finished: DataFrame): Cleaned =
    Cleaned(finished.filter(col("record")).select(("doc" +: RecordColumns).map(col): _*),
      finished.filter(!col("record")).select(("doc" +: AllocationColumns).map(col): _*))

  /** The cleaner over a whole grid (doc string, ord long, cells
    * array<string>): [[cleanBatch]] per doc. Returns records +
    * allocations keyed by doc.
    */
  def clean(grid: DataFrame, releaseId: Column): Cleaned = {
    val spark = grid.sparkSession
    import spark.implicits._
    val rows = grid.select(col("doc"), lit(0).as("page"), col("ord").cast("long").as("ord"),
        col("cells"))
      .as[GridRow].groupByKey(_.doc).flatMapGroups((_, g) => cleanBatch(g.toSeq))
    byKind(finish(rows.toDF(), releaseId))
  }
}
