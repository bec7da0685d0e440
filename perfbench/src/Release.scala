package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import graft.ingest.Fixtures.f

/** Seeded NCD-shaped release: a full-dump zip plus a monthly-update zip,
  * and the expected answers for both states, computed from the generated
  * rows without Spark.
  *
  * Shapes follow `graft.ingest.Fixtures` (README.TXT field rows, fixed-width
  * members padded with `Fixtures.f`, ruler-style global and codebook
  * fragments), scaled up:
  *   - GS_CASE split into one `gs_case_<DISTRICT>.txt` member per district;
  *   - GS_COURT_HIST as one unsplit member referencing dump CASEIDs;
  *   - `global_LIONS.txt` with [[GlobalTables]] stacked tables (GS_DISTRICT
  *     and GS_OFFENSE first);
  *   - [[Codebooks]] `table_gs_*.txt` codebooks, GS_CHARGE first.
  *
  * The update zip revises [[RevisedDistricts]] districts with fresh CASEIDs
  * and adds one new district; it carries no court-history, global or
  * codebook members, so those tables must survive it untouched.
  *
  * Quirks are planted at fixed per-cell rates: `*` redaction, decimal
  * NUMBER, `31-FEB`, bad FLOAT, lowercase month and a stray `\r` inside a
  * field.
  */
object Release {
  val Districts = 94
  val RevisedDistricts = 10
  val GlobalTables = 15
  val Codebooks = 30
  val Charges = 40
  val RevisedIdBase = 50000000L

  val readme: String =
    """GS_CASE - Case master records
      |
      |CASEID          NOT NULL   NUMBER        (1:10)
      |DISTRICT        NOT NULL   VARCHAR2(4)   (11:14)
      |FILE_DATE                  DATE          (15:25)
      |LEAD_CHARGE                VARCHAR2(20)  (26:45)
      |TOTAL_LOSS                 FLOAT         (46:57)
      |DEFENDANTS                 NUMBER        (58:61)
      |
      |GS_COURT_HIST - Court event history
      |
      |CASEID          NOT NULL   NUMBER        (1:10)
      |EVENT_DATE                 DATE          (11:21)
      |EVENT_TYPE                 VARCHAR2(8)   (22:29)
      |""".stripMargin

  /** Typed data columns per normal table, in README order. */
  val caseColumns: Seq[String] =
    Seq("CASEID", "DISTRICT", "FILE_DATE", "LEAD_CHARGE", "TOTAL_LOSS", "DEFENDANTS")
  val histColumns: Seq[String] = Seq("CASEID", "EVENT_DATE", "EVENT_TYPE")

  /** District codes: letters only, as the member-name pattern requires.
    * Index [[Districts]] is the district the update adds.
    */
  val districtCodes: IndexedSeq[String] =
    (0 to Districts).map(i => s"${('A' + i / 26).toChar}${('A' + i % 26).toChar}")

  val chargeCodes: IndexedSeq[String] =
    (0 until Charges).map(i => s"${18 + i % 4}:USC:${1000 + 37 * i}")

  private val months =
    Seq("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")
  private val eventTypes =
    Seq("ARREST", "CHARGE", "PLEA", "TRIAL", "VERDICT", "SENTENCE", "APPEAL", "DISMISS")

  /** Fixed DOS timestamp of every zip entry, so a seed gives byte-identical
    * archives (ZipEntry would otherwise stamp the wall clock).
    */
  private val EntryTime = 1506729600000L

  // -- per-cell quirk draws ------------------------------------------------
  private val RedactRate = 0.02
  private val QuirkRate = 0.005
  private val LowerMonthRate = 0.01

  /** One typed cell as FixedWidth decodes it: the text written, and the
    * value read back (None = null) plus whether it is redacted.
    */
  private final case class Cell[T](text: String, value: Option[T], redacted: Boolean) {
    def nullOnError: Boolean = value.isEmpty && !redacted
  }

  private def redacted[T]: Cell[T] = Cell("*", None, redacted = true)

  private def dateCell(rng: SplittableRandom): Cell[Int] = {
    val year = 2000 + rng.nextInt(18)
    val r = rng.nextDouble()
    if (r < RedactRate) redacted
    else if (r < RedactRate + QuirkRate) Cell(s"31-FEB-$year", None, redacted = false)
    else {
      val day = 1 + rng.nextInt(28)
      val mon = months(rng.nextInt(12))
      val m = if (r < RedactRate + QuirkRate + LowerMonthRate) mon.toLowerCase else mon
      Cell(s"${pad2(day)}-$m-$year", Some(year), redacted = false)
    }
  }

  private def pad2(n: Long): String = if (n < 10) s"0$n" else n.toString

  private def caseId(id: Long): String = {
    val s = id.toString; "0" * (10 - s.length) + s
  }

  /** Year and ISO string of a parsed date cell are both needed: the year
    * for histograms, the full date for point lookups.
    */
  private def dateIso(text: String): String = {
    val Array(d, m, y) = text.split('-')
    s"$y-${pad2(months.indexOf(m.toUpperCase) + 1)}-$d"
  }

  // -- generated rows ------------------------------------------------------
  final case class CaseRow(caseId: Long, district: String, fileDate: Option[String],
                           charge: Option[String], lossCents: Option[Long],
                           defendants: Option[Long])

  /** Counts of one normal table's column, over the rows of one state. */
  final class ColumnCounts(val columns: Seq[String]) {
    val redacted: Array[Long] = new Array(columns.size)
    val nullOnError: Array[Long] = new Array(columns.size)
    def add(o: ColumnCounts): Unit = columns.indices.foreach { i =>
      redacted(i) += o.redacted(i); nullOnError(i) += o.nullOnError(i)
    }
  }

  /** Everything expected of one district's GS_CASE partition. */
  final class DistrictPart(val code: String) {
    val rows = mutable.ArrayBuffer.empty[CaseRow]
    val lines = new StringBuilder
    val counts = new ColumnCounts(caseColumns)
  }

  private def genCase(rng: SplittableRandom, id: Long, dist: String,
                      part: DistrictPart): Unit = {
    val date = dateCell(rng)
    val charge: Cell[String] = {
      val r = rng.nextDouble(); val code = chargeCodes(rng.nextInt(Charges))
      if (r < RedactRate) redacted
      else if (r < RedactRate + QuirkRate) {
        // a stray CR inside the field: FixedWidth scrubs it to a space
        val text = code.substring(0, 2) + "\r" + code.substring(3)
        Cell(text, Some(text.replace('\r', ' ')), redacted = false)
      } else Cell(code, Some(code), redacted = false)
    }
    val loss: Cell[Long] = {
      val r = rng.nextDouble(); val cents = rng.nextLong(10000000L)
      if (r < RedactRate) redacted
      else if (r < RedactRate + QuirkRate) Cell(s"${cents / 100}.3.4", None, redacted = false)
      else Cell(s"${cents / 100}.${pad2(cents % 100)}", Some(cents), redacted = false)
    }
    val defendants: Cell[Long] = {
      val r = rng.nextDouble(); val n = 1L + rng.nextInt(9)
      if (r < RedactRate) redacted
      else if (r < RedactRate + QuirkRate) Cell(s"$n.5", None, redacted = false)
      else Cell(n.toString, Some(n), redacted = false)
    }
    part.lines.append(caseId(id)).append(f(dist, 4)).append(f(date.text, 11))
      .append(f(charge.text, 20)).append(f(loss.text, 12)).append(f(defendants.text, 4))
      .append('\n')
    val cells = Seq[Cell[_]](Cell("", Some(id), false), Cell("", Some(dist), false),
      date, charge, loss, defendants)
    cells.zipWithIndex.foreach { case (c, i) =>
      if (c.redacted) part.counts.redacted(i) += 1
      if (c.nullOnError) part.counts.nullOnError(i) += 1
    }
    part.rows += CaseRow(id, dist, date.value.map(_ => dateIso(date.text)),
      charge.value, loss.value, defendants.value)
  }

  private def genPart(rng: SplittableRandom, code: String, firstId: Long,
                      n: Int): DistrictPart = {
    val part = new DistrictPart(code)
    (0 until n).foreach(i => genCase(rng, firstId + i, code, part))
    part
  }

  /** A ruler-style fragment: header, dash ruler, rows (`Fixtures` shape). */
  private def rulerTable(header: Seq[String], widths: Seq[Int],
                         rows: Seq[Seq[String]]): String =
    (Seq(header, widths.map("-" * _)) ++ rows).map { cells =>
      cells.zip(widths).map { case (c, w) => f(c, w) }.mkString(" ").trim
    }.mkString("\n")

  private def describe(rng: SplittableRandom, stem: String): String =
    if (rng.nextDouble() < RedactRate) "*" else s"$stem ${rng.nextInt(100000)}"

  /** Build both zips and the expected answers for a seed. `caseRows` sizes
    * the dump's GS_CASE; GS_COURT_HIST gets half as many rows. Fewer than
    * [[GlobalTables]] global tables or [[Codebooks]] codebooks drop the
    * fillers after the named ones.
    */
  def generate(seed: Long, caseRows: Int, districts: Int = Districts,
               globalTables: Int = GlobalTables, codebooks: Int = Codebooks): Release = {
    val rng = new SplittableRandom(seed)
    // uneven district sizes, like real dumps: weights 1..20
    val weights = (0 until districts).map(_ => 1 + rng.nextInt(20))
    val total = weights.sum
    val sizes = weights.map(w => math.max(1, caseRows.toLong * w / total).toInt)
    var nextId = 1L
    val dumpParts = districtCodes.take(districts).zip(sizes).map { case (code, n) =>
      val p = genPart(rng, code, nextId, n); nextId += n; p
    }
    val dumpIds = nextId - 1

    val histCounts = new ColumnCounts(histColumns)
    val histCaseIds = new Array[Long](caseRows / 2)
    val hist = new StringBuilder
    histCaseIds.indices.foreach { i =>
      val id = 1L + rng.nextLong(dumpIds)
      histCaseIds(i) = id
      val date = dateCell(rng)
      val tpe: Cell[String] =
        if (rng.nextDouble() < RedactRate) redacted
        else { val t = eventTypes(rng.nextInt(eventTypes.size)); Cell(t, Some(t), false) }
      hist.append(caseId(id)).append(f(date.text, 11)).append(f(tpe.text, 8))
        .append('\n')
      Seq[Cell[_]](Cell("", Some(id), false), date, tpe).zipWithIndex.foreach { case (c, j) =>
        if (c.redacted) histCounts.redacted(j) += 1
        if (c.nullOnError) histCounts.nullOnError(j) += 1
      }
    }

    // global_LIONS.txt: GS_DISTRICT, GS_OFFENSE, then filler stacked tables
    val globals = mutable.LinkedHashMap.empty[String, String]
    globals("GS_DISTRICT") = rulerTable(Seq("Code", "Name"), Seq(4, 30),
      districtCodes.map(c => Seq(c, describe(rng, s"District $c"))))
    (1 until globalTables).foreach { t =>
      val name = if (t == 1) "GS_OFFENSE" else f"GS_GLOBAL_$t%02d"
      val n = 5 + rng.nextInt(60)
      globals(name) = rulerTable(Seq("Code", "Title", "ActiveFlag"), Seq(6, 28, 10),
        (0 until n).map(i => Seq(f"$i%04d", describe(rng, s"$name title"),
          if (rng.nextBoolean()) "Y" else "N")))
    }
    val globalText = globals.map { case (name, body) => s"$name\n\n$body\n" }.mkString("\n")
    val stringRows = mutable.LinkedHashMap.empty[String, Long]
    globals.foreach { case (name, body) => stringRows(name) = body.count(_ == '\n') - 1L }

    // table_gs_* codebooks: GS_CHARGE (the codebook join target) + fillers
    val codebookFiles = (0 until codebooks).map { t =>
      val (name, rows) =
        if (t == 0) ("GS_CHARGE", chargeCodes.map(c => Seq(c, describe(rng, "Charge"), "Y")))
        else {
          val name = f"GS_CODE_$t%02d"
          (name, (0 until 20 + rng.nextInt(280)).map(i =>
            Seq(f"C$i%05d", describe(rng, s"$name entry"), if (rng.nextBoolean()) "Y" else "N")))
        }
      stringRows(name) = rows.size.toLong
      val body = rulerTable(Seq("ChargeCode", "Description", "ActiveFlag"), Seq(20, 30, 10), rows)
      s"table_${name.toLowerCase}.txt" ->
        s"Codebook for $name as of 30-SEP-2017\n\n$body\n\nEnd of file.\n"
    }

    // the monthly update: RevisedDistricts districts rewritten with fresh
    // CASEIDs, plus the one district the dump lacks
    val revised = {
      val order = (0 until districts).toArray
      (order.length - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
      }
      order.take(RevisedDistricts).sorted.map(districtCodes).toSeq
    }
    var revId = RevisedIdBase
    val updateParts = (revised :+ districtCodes(districts)).map { code =>
      val n = math.max(1, caseRows / districts + rng.nextInt(math.max(1, caseRows / districts)))
      val p = genPart(rng, code, revId, n); revId += n; p
    }

    val dumpEntries =
      Seq("README.TXT" -> readme.getBytes(StandardCharsets.ISO_8859_1)) ++
        dumpParts.map(p => s"gs_case_${p.code}.txt" -> p.lines.toString.getBytes(StandardCharsets.ISO_8859_1)) ++
        Seq("gs_court_hist.txt" -> hist.toString.getBytes(StandardCharsets.ISO_8859_1),
          "global_LIONS.txt" -> globalText.getBytes(StandardCharsets.UTF_8)) ++
        codebookFiles.map { case (n, t) => n -> t.getBytes(StandardCharsets.ISO_8859_1) }
    val updateEntries =
      Seq("README.TXT" -> readme.getBytes(StandardCharsets.ISO_8859_1)) ++
        updateParts.map(p => s"gs_case_${p.code}.txt" -> p.lines.toString.getBytes(StandardCharsets.ISO_8859_1))

    val dumpState = State(dumpParts, histCaseIds, histCounts, stringRows.toMap)
    val finalParts = {
      val byCode = mutable.LinkedHashMap.empty[String, DistrictPart]
      dumpParts.foreach(p => byCode(p.code) = p)
      updateParts.foreach(p => byCode(p.code) = p)
      byCode.values.toSeq
    }
    val finalState = State(finalParts, histCaseIds, histCounts, stringRows.toMap)
    Release(seed, zipBytes(dumpEntries), zipBytes(updateEntries),
      dumpEntries.iterator.map(_._2.length.toLong).sum,
      dumpState, finalState, revised, districtCodes(districts))
  }

  private def zipBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val out = new ZipOutputStream(buf)
    entries.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      e.setTime(EntryTime)
      out.putNextEntry(e); out.write(bytes); out.closeEntry()
    }
    out.close()
    buf.toByteArray
  }
}

/** Expected contents of the catalog after loading the dump (or the dump and
  * then the update).
  */
final case class State(parts: Seq[Release.DistrictPart], histCaseIds: Array[Long],
                       histCounts: Release.ColumnCounts,
                       stringTableRows: Map[String, Long]) {
  import Release.CaseRow

  def rows: Iterator[CaseRow] = parts.iterator.flatMap(_.rows)
  def caseRows: Long = parts.iterator.map(_.rows.size.toLong).sum
  def histRows: Long = histCaseIds.length.toLong

  /** Source rows landed by a load of this state: cases, history, codebooks. */
  def sourceRows: Long = caseRows + histRows + stringTableRows.values.sum

  lazy val caseCounts: Release.ColumnCounts = {
    val c = new Release.ColumnCounts(Release.caseColumns)
    parts.foreach(p => c.add(p.counts)); c
  }

  /** district -> (rows, sum CASEID, sum loss cents, dated rows, sum defendants) */
  lazy val perDistrict: Map[String, (Long, Long, Long, Long, Long)] = parts.map { p =>
    p.code -> ((p.rows.size.toLong, p.rows.iterator.map(_.caseId).sum,
      p.rows.iterator.flatMap(_.lossCents).sum, p.rows.count(_.fileDate.isDefined).toLong,
      p.rows.iterator.flatMap(_.defendants).sum))
  }.toMap

  lazy val yearHistogram: Map[Option[Int], Long] =
    rows.toSeq.groupMapReduce(_.fileDate.map(_.take(4).toInt))(_ => 1L)(_ + _)

  lazy val chargeCounts: Map[String, Long] = {
    val codes = Release.chargeCodes.toSet
    rows.flatMap(_.charge).filter(codes).toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
  }

  lazy val byCaseId: Map[Long, CaseRow] = rows.map(r => r.caseId -> r).toMap

  /** district -> GS_CASE x GS_COURT_HIST join rows */
  lazy val joinRows: Map[String, Long] = {
    val m = mutable.Map.empty[String, Long].withDefaultValue(0L)
    histCaseIds.foreach(id => byCaseId.get(id).foreach(r => m(r.district) += 1))
    parts.map(p => p.code -> m(p.code)).toMap
  }
}

final case class Release(seed: Long, dumpZip: Array[Byte], updateZip: Array[Byte],
                         dumpMemberBytes: Long, dump: State, last: State,
                         revised: Seq[String], added: String) {

  /** Write both zips and the expected-answers manifest under `dir`. */
  def write(dir: Path): (Path, Path) = {
    Files.createDirectories(dir)
    val d = Files.write(dir.resolve("ncd_dump.zip"), dumpZip)
    val u = Files.write(dir.resolve("ncd_update.zip"), updateZip)
    Files.writeString(dir.resolve("manifest.json"), manifestJson)
    (d, u)
  }

  def manifestJson: String = {
    def state(s: State): Json.Obj = Json.Obj(
      "case_rows_by_district" -> Json.Obj(s.perDistrict.toSeq.sortBy(_._1).map { case (d, v) =>
        d -> (v._1: Json.Value) }: _*),
      "per_district" -> Json.Obj(s.perDistrict.toSeq.sortBy(_._1).map { case (d, v) =>
        d -> Json.Obj("rows" -> v._1, "caseid_sum" -> v._2, "loss_cents" -> v._3,
          "dated" -> v._4, "defendants" -> v._5) }: _*),
      "hist_rows" -> s.histRows,
      "join_rows_by_district" -> Json.Obj(s.joinRows.toSeq.sortBy(_._1).map { case (d, n) =>
        d -> (n: Json.Value) }: _*),
      "redacted_cells" -> Json.Obj(
        (columnCounts("GS_CASE", s.caseCounts, _.redacted) ++
          columnCounts("GS_COURT_HIST", s.histCounts, _.redacted)): _*),
      "null_on_error_cells" -> Json.Obj(
        (columnCounts("GS_CASE", s.caseCounts, _.nullOnError) ++
          columnCounts("GS_COURT_HIST", s.histCounts, _.nullOnError)): _*),
      "year_histogram" -> Json.Obj(s.yearHistogram.toSeq.sortBy(_._1.getOrElse(0)).map {
        case (y, n) => y.fold("null")(_.toString) -> (n: Json.Value) }: _*),
      "charge_counts" -> Json.Obj(s.chargeCounts.toSeq.sorted.map { case (c, n) =>
        c -> (n: Json.Value) }: _*),
      "codebook_rows" -> Json.Obj(s.stringTableRows.toSeq.sorted.map { case (t, n) =>
        t -> (n: Json.Value) }: _*))
    Json.Obj("seed" -> seed, "revised_districts" -> Json.Arr(revised.map(Json.Str): _*),
      "added_district" -> added, "dump" -> state(dump), "after_update" -> state(last)).render
  }

  private def columnCounts(table: String, c: Release.ColumnCounts,
                           pick: Release.ColumnCounts => Array[Long]): Seq[(String, Json.Value)] =
    c.columns.zip(pick(c)).map { case (col, n) => s"$table.$col" -> (n: Json.Value) }
}
