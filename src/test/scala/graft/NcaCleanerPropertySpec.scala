package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalacheck.{Gen, rng}
import graft.operators.NcaCleaner

/** Property-based cleaner invariants (SURVEY §5.2.3) over randomized raw
  * grids, scalacheck-generated with fixed seeds (deterministic runs, no
  * flaky CI): headers arrive permuted with extra columns and printed in
  * any case, key cells have gaps/nulls and padding (spaces, tabs,
  * U+00A0), repeated header rows are padded the same way, rows can be
  * shorter than the header, dates come in every accepted format and as
  * `TBD`, amounts mix parseable and garbage — the shapes a real
  * extraction emits.
  *
  * Invariants:
  *  - the per-batch cleaner equals the DataFrame program
  *    ([[NcaCleanerOracle]]) on every grid, and both reject a header
  *    missing a valid column
  *  - every record/allocation key is non-null, non-empty; records are
  *    key-unique per doc
  *  - every allocation's key exists among the records (FK integrity by
  *    construction), every amount parsed to a real double
  *  - the program is deterministic: same grid twice -> identical output
  *  - INPUT ROW ORDER IS IMMATERIAL: the cleaner orders each doc's rows
  *    by explicit `ord`, so a shuffled DataFrame cleans identically
  *    (the reference's implicit-order pandas program only works because
  *    pandas never reorders — OP-39's contract made explicit)
  */
class NcaCleanerPropertySpec extends SparkSpecBase {
  import spark.implicits._

  private val extraCols = Seq("approved_date", "remarks")

  private case class Grid(header: Seq[String], rows: Seq[Seq[String]])

  private val cellGen: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("alpha", "Beta Unit", "x", "DepEd", "2024-02-01", " "),
    2 -> Gen.const(""),
    1 -> Gen.const(null),
    1 -> Gen.oneOf("1,200.00", "77.5", "abc", "3 000"))

  private val dateGen: Gen[String] = Gen.oneOf(
    "2024-02-01", "TBD", "3/1/2024", "12/25/2023", "Jan 5, 2024", "March 9, 2024", "", null)

  // Spark's trim strips U+0020 only, and `\s+` does not match U+00A0
  private val spaces: Gen[String] = Gen.oneOf("", " ", "  ")
  private val pad: Gen[String] = Gen.frequency(3 -> spaces, 1 -> Gen.oneOf("\t", "\u00a0"))
  private def padded(s: String, pad: Gen[String]): Gen[String] =
    for (a <- pad; b <- pad) yield a + s + b

  /** A column name as a page prints it: either case, words split by `sep`. */
  private def printed(c: String, sep: Gen[String]): Gen[String] = for {
    s <- sep
    upper <- Gen.oneOf(true, false)
  } yield { val w = c.split("_").mkString(s); if (upper) w.toUpperCase else w }

  private def rowGen(columns: Seq[String], nKeys: Int): Gen[Seq[String]] = {
    val data = Gen.sequence[Seq[String], String](columns.map {
      case "nca_number" => Gen.frequency(
        // mostly exact repeats, so a key's rows regroup across other keys
        3 -> Gen.choose(1, nKeys).map(k => s"NCA-$k"),
        1 -> Gen.choose(1, nKeys).flatMap(k => padded(s"NCA-$k", pad)),
        2 -> Gen.const(""),
        1 -> Gen.const(null))
      case "released_date" => dateGen
      case _ => cellGen
    })
    // a repeated header row is removed only if every valid cell
    // normalizes back to its name: the spaces-only padding always does
    def repeatedHeader(pad: Gen[String]) = Gen.sequence[Seq[String], String](columns.map(c =>
      printed(c, Gen.oneOf(" ", "  ", "\t", "_")).flatMap(padded(_, pad))))
    for {
      row <- Gen.frequency(12 -> data, 2 -> repeatedHeader(spaces), 1 -> repeatedHeader(pad))
      // ragged: a row shorter than the header
      width <- Gen.frequency(
        5 -> Gen.const(columns.length), 1 -> Gen.choose(1, columns.length - 1))
    } yield row.take(width)
  }

  private def gridGen(dropped: Option[String]): Gen[Grid] = for {
    // a seeded permutation, so every run sees the same grids
    sortKeys <- Gen.listOfN(NcaCleaner.ValidColumns.size + extraCols.size, Gen.long)
    columns = (NcaCleaner.ValidColumns ++ extraCols).zip(sortKeys).sortBy(_._2).map(_._1)
      .filterNot(dropped.contains)
    header <- Gen.sequence[Seq[String], String](columns.map(printed(_, Gen.oneOf(" ", "_"))))
    nKeys <- Gen.choose(1, 4)
    nRows <- Gen.choose(3, 18)
    rows <- Gen.listOfN(nRows, rowGen(columns, nKeys))
  } yield Grid(header, rows)

  private def gen[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, rng.Seed(seed))

  private def grids: Seq[Grid] = (1L to 6L).map(gen(gridGen(None), _))

  private def toDf(g: Grid, shuffleSeed: Option[Long] = None): DataFrame =
    toDf(Seq("d1" -> g), shuffleSeed)

  private def toDf(docs: Seq[(String, Grid)], shuffleSeed: Option[Long]): DataFrame = {
    val all = docs.flatMap { case (d, g) =>
      (g.header +: g.rows).zipWithIndex.map { case (cells, i) => (d, i.toLong, cells) }
    }
    val ordered = shuffleSeed.fold(all)(s => new scala.util.Random(s).shuffle(all))
    ordered.toDF("doc", "ord", "cells")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(Option(_).fold("∅")(_.toString)).mkString("|")).toSeq.sorted

  private def collectBoth(g: Grid, shuffleSeed: Option[Long] = None) = {
    val cleaned = NcaCleaner.clean(toDf(g, shuffleSeed), lit("rel-1"))
    (rows(cleaned.records), rows(cleaned.allocations))
  }

  test("the per-batch cleaner equals the DataFrame oracle on random grids") {
    // one doc per grid, all in one frame: both cleaners work per doc
    val docs = (1L to 60L).map(s => s"d$s" -> gen(gridGen(None), s))
    val grid = toDf(docs, shuffleSeed = Some(7L))
    val releaseId = concat(lit("rel-"), col("doc"))
    val got = NcaCleaner.clean(grid, releaseId)
    val want = NcaCleanerOracle.clean(grid, releaseId)
    assert(got.records.columns === want.records.columns)
    assert(got.allocations.columns === want.allocations.columns)
    val (recs, allocs) = (rows(got.records), rows(got.allocations))
    assert(recs === rows(want.records))
    assert(allocs === rows(want.allocations))
    // the generator reaches the paths it exists for
    assert(recs.exists(_.contains("T00:00:00")) && allocs.nonEmpty)
    assert(docs.exists(_._2.rows.exists(r => r.exists(c => c != null && c.contains("\u00a0")))))
  }

  test("both cleaners reject a header missing a valid column") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    Seq("amount", "nca_number", "released_date").zipWithIndex.foreach { case (c, i) =>
      val grid = toDf(gen(gridGen(Some(c)), 100L + i))
      Seq[DataFrame => NcaCleaner.Cleaned](
        NcaCleaner.clean(_, lit("x")), NcaCleanerOracle.clean(_, lit("x"))).foreach { clean =>
        val e = intercept[Exception](clean(grid).records.collect())
        assert(msgs(e).exists(_.contains(s"header missing required column(s) $c in doc d1")),
          msgs(e).mkString("\n"))
      }
    }
  }

  test("keys non-blank and unique; allocation FK + numeric amounts hold on random grids") {
    grids.foreach { g =>
      val cleaned = NcaCleaner.clean(toDf(g), lit("rel-1"))
      val recKeys = cleaned.records.select("nca_number").as[String].collect().toSeq
      assert(recKeys.forall(k => k != null && k.trim.nonEmpty), s"blank record key in $g")
      assert(recKeys.distinct.length === recKeys.length, s"dup record key in $g")
      val allocs = cleaned.allocations
        .select("nca_number", "amount").as[(String, Double)].collect().toSeq
      assert(allocs.forall { case (k, _) => k != null && k.trim.nonEmpty })
      assert(allocs.forall { case (k, _) => recKeys.contains(k) },
        s"allocation key without record in $g")
      assert(allocs.forall { case (_, a) => !a.isNaN })
    }
  }

  test("cleaner is deterministic and invariant to input row order") {
    grids.foreach { g =>
      val base = collectBoth(g)
      assert(collectBoth(g) === base, s"nondeterministic on $g")
      assert(collectBoth(g, shuffleSeed = Some(99L)) === base,
        s"row-order sensitive on $g")
    }
  }
}
