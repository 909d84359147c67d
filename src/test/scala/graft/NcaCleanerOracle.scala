package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators.NcaCleaner
import graft.operators.NcaCleaner.{AllocationColumns, RecordColumns, ValidColumns}

/** The NCA cleaner as a declarative DataFrame program: the oracle that
  * [[NcaCleaner.cleanBatch]] is checked against (NcaCleanerPropertySpec).
  * Same semantics (pd_data_cleaner.py:22-183), computed independently:
  * every step is a window or groupBy partitioned by `doc`, where the
  * per-batch function loops over one batch's rows.
  */
object NcaCleanerOracle {

  private val JoinedColumns = Seq("nca_type", "released_date", "department", "purpose")
  private val ListColumns = Seq("agency", "operating_unit", "amount")

  /** `grid` columns: (doc string, ord long, cells array<string>).
    * Returns records + allocations keyed by doc.
    */
  def clean(grid: DataFrame, releaseId: Column): NcaCleaner.Cleaned = {
    val wDoc = Window.partitionBy(col("doc")).orderBy(col("ord"))

    // --- header extraction + projection to VALID_COLUMNS (OP-16/17) -----
    // Per-doc header = the min-ord row; normalize names and look up each
    // valid column's position dynamically (adaptive schema-on-read).
    val withHdr = grid
      .withColumn("hdr", transform(
        first(col("cells")).over(wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        c => regexp_replace(lower(coalesce(c, lit(""))), " ", "_")))
      .withColumn("hdr_ord", min(col("ord")).over(Window.partitionBy(col("doc"))))
      .filter(col("ord") > col("hdr_ord"))

    // try_element_at, not element_at: real PDFs emit ragged rows (fewer
    // cells than the header), and ANSI element_at would throw
    // INVALID_ARRAY_INDEX_IN_ELEMENT_AT on them; a missing cell is null.
    val projected0 = ValidColumns.foldLeft(withHdr) { (df, c) =>
      val pos = array_position(col("hdr"), lit(c))
      df.withColumn(c,
        when(pos > 0, try_element_at(col("cells"), pos.cast("int"))))
    }
    // A header MISSING any valid column raises (matching the reference's
    // pandas KeyError from df[valid_columns], pd_data_cleaner.py:67 —
    // the batch dead-letters); silently nulling the column would drop
    // the whole document with no signal. The check rides on nca_number —
    // the group key EVERY output consumes — so column pruning cannot
    // optimize it away the way a per-column raise would be for columns
    // a given consumer never reads.
    val missingCols = concat_ws(", ", ValidColumns.map(c =>
      when(array_position(col("hdr"), lit(c)) === 0, lit(c))): _*)
    val projected = projected0
      .withColumn("nca_number",
        when(missingCols === "", col("nca_number"))
          .otherwise(raise_error(concat(
            lit("header missing required column(s) "), missingCols,
            lit(" in doc "), col("doc")))))
      .select((Seq("doc", "ord") ++ ValidColumns).map(col): _*)

    // --- spacer insertion (OP-36, first call) ---------------------------
    // Instead of imperatively rebuilding the frame, flag rows that need a
    // preceding all-"" spacer (prev and cur nca both non-blank + differ)
    // and union synthesized spacer rows at ord*2 (data rows at ord*2+1),
    // preserving relative order without a driver-side loop.
    val prevNca = lag(col("nca_number"), 1).over(wDoc)
    def blankish(c: Column): Column = c.isNull || trim(c) === ""
    val flagged = projected.withColumn("need_spacer",
      !blankish(prevNca) && !blankish(col("nca_number")) &&
        col("nca_number") =!= prevNca)

    val dataRows = flagged
      .withColumn("ord", col("ord") * 2 + 1)
    val spacerRows = flagged.filter(col("need_spacer"))
      .select(Seq(col("doc"), (col("ord") * 2).as("ord")) ++
        ValidColumns.map(c => lit("").as(c)) :+ lit(false).as("need_spacer"): _*)
    val spaced = dataRows.unionByName(spacerRows).drop("need_spacer")

    // --- repeated-header-row removal (OP-18) ----------------------------
    val isHeaderRow = ValidColumns
      .map(c => normalizeToken(col(c)) === lit(c))
      .reduce(_ && _)
    val deHeadered = spaced.filter(!coalesce(isHeaderRow, lit(false)))

    // --- ""->null + forward-fill of the group key (OP-22/30) ------------
    val wFill = Window.partitionBy(col("doc")).orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = deHeadered
      .withColumn("nca_number",
        last(when(col("nca_number") =!= "", col("nca_number")), ignoreNulls = true)
          .over(wFill))
      .filter(col("nca_number").isNotNull) // pandas groupby drops NaN keys

    // --- group-by nca_number with per-column agg (OP-31/32/33) ----------
    val aggs =
      JoinedColumns.map(c =>
        takeWhileJoin(collect_list(struct(col("ord").as("ord"), col(c).as("v")))).as(c)) ++
      ListColumns.map(c =>
        array_sort(collect_list(struct(col("ord").as("ord"),
          coalesce(col(c), lit("")).as("v")))).as(s"${c}_list")) :+
      // each group's first-row position: the keep-first dedup below must
      // order by DOCUMENT order (pandas keep='first'), not by the
      // partition key itself (constant within the partition, i.e. an
      // arbitrary winner whenever two raw keys collapse after trim)
      min(col("ord")).as("__ord")
    val grouped = filled
      .groupBy(col("doc"), col("nca_number"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("release_id", releaseId)

    // --- records (OP-23/34/54) ------------------------------------------
    val parsedDate = {
      val c = col("released_date")
      val ts = coalesce(
        try_to_timestamp(c),
        try_to_timestamp(c, lit("M/d/yyyy")),
        try_to_timestamp(c, lit("MMM d, yyyy")),
        try_to_timestamp(c, lit("MMMM d, yyyy")))
      date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    }
    val wDedup = Window.partitionBy(col("doc"), col("nca_number"))
      .orderBy(col("__ord"))
    val records = grouped
      .withColumn("nca_number", trim(col("nca_number")))
      .withColumn("released_date", parsedDate)
      .withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1)
      .select((Seq("doc") ++ RecordColumns).map(col): _*)

    // --- allocations: zip-explode + segment-and-merge (OP-37/38/55) -----
    // Per group, the ordered lists are zipped positionally and re-split
    // into rows; an all-blank row separates merge-runs (the reference's
    // fold rewritten as running-sum sessionization, per-group — spacer
    // rows between groups are unnecessary here because grouping already
    // isolates them).
    val zipped = grouped
      .select(col("doc"), col("nca_number"),
        posexplode(arrays_zip(
          transform(col("agency_list"), r => r("v")).as("agency"),
          transform(col("operating_unit_list"), r => r("v")).as("operating_unit"),
          transform(col("amount_list"), r => r("v")).as("amount"))))
      .select(col("doc"), col("nca_number"), col("pos"),
        col("col.agency").as("agency"),
        col("col.operating_unit").as("operating_unit"),
        col("col.amount").as("amount"))
    val isSep = ListColumns.map(c => col(c) === "").reduce(_ && _)
    val wSeg = Window.partitionBy(col("doc"), col("nca_number")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segmented = zipped
      .withColumn("is_sep", isSep)
      .withColumn("run", sum(col("is_sep").cast("int")).over(wSeg))
      .filter(!col("is_sep"))

    def mergeCol(c: String): Column =
      trim(array_join(transform(
        array_sort(collect_list(struct(col("pos").as("ord"), col(c).as("v")))),
        r => r("v")), " ")).as(c)
    val allocations = segmented
      .groupBy(col("doc"), col("nca_number"), col("run"))
      .agg(mergeCol("agency"), mergeCol("operating_unit"), mergeCol("amount"))
      .withColumn("nca_number", trim(col("nca_number")))
      .withColumn("amount", parseAmount(col("amount")))
      .filter(col("amount").isNotNull)
      .select((Seq("doc") ++ AllocationColumns).map(col): _*)

    NcaCleaner.Cleaned(records, allocations)
  }
}
