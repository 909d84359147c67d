package graft.perfbench

import java.util.zip.Deflater

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of NCA release documents: genuine multi-page Flate
  * PDFs laid out like the DBM artifact (header phrases on a 100 pt column
  * grid, repeated on every page), plus the exact records and allocations
  * the reference cleaner semantics derive from them.
  *
  * Every page carries the row shapes the cleaner must handle: repeated
  * headers, continuation allocation rows, purpose and department wraps,
  * agency-name wraps, amounts wrapped across two rows (the merged amount
  * no longer parses, so that allocation is dropped), missing cells,
  * unparseable dates and a repeated NCA number later on the page
  * (records keep the first occurrence, allocations keep both).
  *
  * A release is a function of (seed, release index, version): version 0
  * is the original, later versions amend amounts, drop a few NCAs and
  * append new ones, and carry a newer /ModDate.
  */
object NcaGen {

  /** Truth rows, in the cleaner's output shapes. Amounts in cents. */
  final case class Record(nca: String, ncaType: String, releasedDate: String,
                          department: String, purpose: String, releaseId: String)
  final case class Allocation(nca: String, agency: String, operatingUnit: String,
                              cents: Long)

  final case class Release(index: Int, version: Int, id: String, filename: String,
                           url: String, year: Int, pdf: Array[Byte], pages: Int,
                           records: Seq[Record], allocations: Seq[Allocation])

  val Columns = 8
  val PageWidth = 850
  val RowsPerPage = 34
  /** The page-range batch size the pipeline runs with. Groups never span
    * a page, so they never span a batch either.
    */
  val BatchPages = 10

  private val Departments = Seq("DepEd", "DOH", "DPWH", "DND", "DA", "DSWD",
    "DOTr", "DILG", "DENR", "DOF", "DICT", "DOST")
  private val DeptFrags = Seq("Central", "Regional", "Field")
  private val Types = Seq("Regular", "Special", "Reissued")
  private val Purposes = Seq("School ops", "Road repair", "Medical supply",
    "Flood control", "Payroll", "Rural health", "Seed program", "Bridge works",
    "Disaster aid", "IT services", "Research", "Training")
  private val PurposeTails = Seq("and upkeep", "phase two", "for Q3", "per GAA",
    "continuing", "balance")
  private val Header = Seq(Seq("NCA", "NUMBER"), Seq("NCA", "TYPE"),
    Seq("RELEASED", "DATE"), Seq("DEPARTMENT"), Seq("AGENCY"),
    Seq("OPERATING", "UNIT"), Seq("AMOUNT"), Seq("PURPOSE"))

  // ---------------------------------------------------------- grid model

  /** One grid row: 8 cells, null = empty. */
  type Row = Array[String]

  private def row(nca: String = null, typ: String = null, date: String = null,
                  dept: String = null, agency: String = null, ou: String = null,
                  amount: String = null, purpose: String = null): Row =
    Array(nca, typ, date, dept, agency, ou, amount, purpose)

  def money(cents: Long): String = {
    val whole = f"${cents / 100}%,d"
    f"$whole.${cents % 100}%02d"
  }

  /** A group occurrence: its rows, all on one page. */
  private final case class Group(nca: String, rows: Seq[Row])

  /** Build the rows of one NCA group with its planted shapes. */
  private def group(r: Random, nca: String, amendSalt: Int): Group = {
    val rows = mutable.ArrayBuffer.empty[Row]
    val typ = if (r.nextInt(20) == 0) null else Types(r.nextInt(Types.length))
    val (y, m, d) = (2023 + r.nextInt(3), 1 + r.nextInt(12), 1 + r.nextInt(28))
    val date = r.nextInt(20) match {
      case 0 => null
      case 1 => "TBD"
      case k if k < 8 => s"$m/$d/$y"
      case _ => f"$y-$m%02d-$d%02d"
    }
    val dept = Departments(r.nextInt(Departments.length))
    def alloc(): (String, String, Long) = {
      val cents = 10000L + (r.nextLong() & Long.MaxValue) % 999999999L + amendSalt
      (s"Agency ${1 + r.nextInt(60)}", s"OU ${100 + r.nextInt(400)}", cents)
    }
    // an allocation row plus its optional wrap rows
    def allocRows(first: Row): Unit = {
      val (ag, ou, cents) = alloc()
      first(4) = ag; first(5) = ou
      r.nextInt(12) match {
        case 0 => // amount wrapped across two rows: merges, fails to parse
          val s = money(cents); val cut = s.indexOf(',') + 1
          if (cut > 0) {
            first(6) = s.substring(0, cut); rows += first
            rows += row(agency = "cont", amount = s.substring(cut))
          } else { first(6) = s; rows += first }
        case 1 => // agency name wrapped onto the next row: still parses
          first(6) = money(cents); rows += first
          rows += row(agency = "Annex")
        case _ => first(6) = money(cents); rows += first
      }
    }
    allocRows(row(nca = nca, typ = typ, date = date, dept = dept,
      purpose = Purposes(r.nextInt(Purposes.length))))
    val extra = r.nextInt(4) match { case 0 | 1 => 0; case 2 => 1; case _ => 2 }
    val wrap = r.nextInt(5) < 2
    if (wrap || extra > 0) // purpose (and sometimes department) wrap: also a run separator
      rows += row(dept = if (r.nextInt(3) == 0) DeptFrags(r.nextInt(DeptFrags.length)) else null,
        purpose = PurposeTails(r.nextInt(PurposeTails.length)))
    (0 until extra).foreach { k =>
      if (k > 0) rows += row(purpose = "see annex")
      allocRows(row())
    }
    Group(nca, rows.toSeq)
  }

  /** Exactly `nPages` pages of groups for one release version, so every
    * release costs the same whatever the seed. NCA numbers are stable
    * across versions: a version drops ~1/25 of them and amends ~1/8 of
    * the amounts, and the NCAs after them move up (new ones fill the
    * last page).
    */
  private def pagesOf(seed: Long, index: Int, version: Int, nPages: Int): Seq[Seq[Group]] = {
    val base = new Random(seed * 1000003L + index)
    val groups = Iterator.from(0).flatMap { n =>
      val gr = new Random(base.nextLong())
      val verR = new Random(seed * 31L + index * 7919L + n * 104729L + version)
      val dropped = version > 0 && verR.nextInt(25) == 0
      val amend = if (version > 0 && verR.nextInt(8) == 0) version else 0
      val g = group(gr, f"NCA-R$index%03d-$n%04d", amend)
      if (dropped) None else Some(g)
    }
    // pack into pages; occasionally repeat an earlier NCA of the same page
    val pages = mutable.ArrayBuffer.empty[Seq[Group]]
    var cur = mutable.ArrayBuffer.empty[Group]
    var used = 0
    val pr = new Random(seed * 17L + index * 31L + version)
    while (pages.length < nPages) {
      val g = groups.next()
      if (used + g.rows.length > RowsPerPage - 3) {
        if (cur.length >= 3 && pr.nextInt(3) == 0) {
          val again = cur(pr.nextInt(cur.length - 2))
          val (ag, ou) = (s"Agency ${1 + pr.nextInt(60)}", s"OU ${100 + pr.nextInt(400)}")
          val cents = 10000L + pr.nextInt(90000000)
          cur += Group(again.nca, Seq(row(nca = again.nca, typ = "Special",
            date = "1/2/2025", dept = "DBM", agency = ag, ou = ou,
            amount = money(cents), purpose = "Repeat")))
        }
        pages += cur.toSeq; cur = mutable.ArrayBuffer.empty; used = 0
      }
      cur += g; used += g.rows.length
    }
    pages.toSeq
  }

  // -------------------------------------------- cleaner semantics (truth)

  private def blank(s: String): Boolean = s == null || s.isEmpty

  private def takeWhileJoin(vals: Seq[String]): String =
    vals.takeWhile(v => !blank(v)).mkString(" ").trim

  private val Iso = """(\d{4})-(\d{2})-(\d{2})""".r
  private val Us = """(\d{1,2})/(\d{1,2})/(\d{4})""".r
  private def isoDate(raw: String): String = raw match {
    case Iso(y, m, d) => s"$y-$m-${d}T00:00:00"
    case Us(m, d, y) => f"$y-${m.toInt}%02d-${d.toInt}%02dT00:00:00"
    case _ => null
  }

  private val Amount = """-?\d+(\.\d+)?""".r
  private def parseCents(raw: String): Option[Long] = {
    val s = raw.replace(",", "").trim
    if (Amount.matches(s)) Some(math.round(BigDecimal(s).toDouble * 100)) else None
  }

  /** The reference cleaner's semantics over one batch's rows (the
    * batch's first row is its header, later pages start with repeated
    * headers), written imperatively: spacer rows go before every row
    * whose NCA number and its predecessor's are both non-blank and
    * differ; repeated headers are removed; the NCA number is forward
    * filled; each NCA's rows (in document order) give the record by
    * take-while joins and the allocations by runs of rows with a
    * non-blank allocation cell, cells joined with " ", a run whose
    * merged amount does not parse being dropped.
    */
  private def cleanBatch(id: String, rows: Seq[Row], headerAt: Set[Int]): (Seq[Record], Seq[Allocation]) = {
    val spaced = mutable.ArrayBuffer.empty[Row]
    var prev: String = null
    rows.indices.foreach { i =>
      val nca = rows(i)(0)
      if (!blank(prev) && !blank(nca) && nca != prev) spaced += Array.fill(Columns)("")
      if (!headerAt(i)) spaced += rows(i)
      prev = nca
    }
    val byNca = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Row]]
    var key: String = null
    spaced.foreach { r =>
      if (!blank(r(0))) key = r(0)
      if (key != null) byNca.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += r
    }
    val recs = byNca.map { case (nca, rs) =>
      def col(i: Int) = takeWhileJoin(rs.map(_(i)).toSeq)
      Record(nca, col(1), isoDate(col(2)), col(3), col(7), id)
    }.toSeq
    val allocs = byNca.toSeq.flatMap { case (nca, rs) =>
      val runs = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Row])
      rs.foreach { r =>
        if (blank(r(4)) && blank(r(5)) && blank(r(6))) runs += mutable.ArrayBuffer.empty
        else runs.last += r
      }
      runs.filter(_.nonEmpty).flatMap { run =>
        def merged(i: Int) = run.map(r => Option(r(i)).getOrElse("")).mkString(" ").trim
        parseCents(merged(6)).map(c => Allocation(nca, merged(4), merged(5), c))
      }
    }
    (recs, allocs)
  }

  private val HeaderRow: Row = Header.map(_.mkString(" ")).toArray

  private def truth(id: String, pages: Seq[Seq[Row]]): (Seq[Record], Seq[Allocation]) = {
    val parts = pages.grouped(BatchPages).toSeq.map { batch =>
      val rows = batch.flatMap(HeaderRow +: _)
      val headerAt = batch.scanLeft(0)(_ + _.length + 1).init.toSet
      // the batch's first row is consumed as its header
      cleanBatch(id, rows.tail, headerAt.map(_ - 1))
    }
    (parts.flatMap(_._1), parts.flatMap(_._2))
  }

  // ------------------------------------------------------------ PDF bytes

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Content stream of one page: the header, then one text line per grid
    * row, each non-empty cell at its column's left edge.
    */
  private def pageContent(rows: Seq[Row]): String = {
    val b = new StringBuilder
    def word(t: String, x: Int, y: Int): Unit =
      b ++= s"BT /F1 10 Tf $x $y Td ($t) Tj ET\n"
    Header.zipWithIndex.foreach { case (ws, i) =>
      ws.zipWithIndex.foreach { case (w, j) => word(w, 20 + i * 100 + j * 45, 760) }
    }
    rows.zipWithIndex.foreach { case (r, k) =>
      r.zipWithIndex.foreach { case (c, i) => if (!blank(c)) word(c, 20 + i * 100, 740 - 20 * k) }
    }
    b.toString
  }

  def pdf(pages: Seq[Seq[Row]], created: String, modified: String): Array[Byte] = {
    val n = pages.length
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w(s"2 0 obj << /Type /Pages /Kids [${(1 to n).map(i => s"${2 + i} 0 R").mkString(" ")}] /Count $n >> endobj\n")
    pages.indices.foreach { i =>
      w(s"${3 + i} 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 $PageWidth 792] " +
        s"/Resources << /Font << /F1 ${3 + 2 * n} 0 R >> >> /Contents ${3 + n + i} 0 R >> endobj\n")
    }
    pages.zipWithIndex.foreach { case (rows, i) =>
      val c = deflate(pageContent(rows).getBytes("ISO-8859-1"))
      w(s"${3 + n + i} 0 obj << /Length ${c.length} /Filter /FlateDecode >> stream\n")
      out.write(c)
      w("\nendstream endobj\n")
    }
    w(s"${3 + 2 * n} 0 obj << /Type /Font /Subtype /TrueType /BaseFont /Helvetica >> endobj\n")
    w(s"${4 + 2 * n} 0 obj << /Producer (perfbench) /CreationDate ($created) /ModDate ($modified) >> endobj\n")
    w(s"trailer << /Root 1 0 R /Info ${4 + 2 * n} 0 R >>\n%%EOF")
    out.toByteArray
  }

  /** One release version of `nPages` pages. */
  def release(seed: Long, index: Int, version: Int, nPages: Int): Release = {
    val pages = pagesOf(seed, index, version, nPages)
    val id = f"rel_$index%03d"
    val filename = f"NCA_R$index%03d.pdf"
    val year = 2020 + index % 6
    val bytes = pdf(pages.map(_.flatMap(_.rows)),
      created = f"D:${year}0115090000Z",
      modified = f"D:2025${1 + version / 28 % 12}%02d${1 + version % 28}%02d120000Z")
    val (recs, allocs) = truth(id, pages.map(_.flatMap(_.rows)))
    Release(index, version, id, filename, s"https://dbm.example/nca/$filename", year,
      bytes, pages.length, recs, allocs)
  }
}
