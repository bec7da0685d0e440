package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** One SQL statement a client sends through `QueryClient.executeQuery`, the
  * typed schema its CSV is read back with, and the check of those rows
  * against the manifest (None = correct, Some(reason) = wrong answer).
  */
final case class Statement(kind: String, format: String, sql: String,
                           schema: StructType, check: Array[Row] => Option[String])

/** The statement kinds of the query mix and of the ingest checks, each with
  * its expected answer taken from a [[State]]. `format` is "json" for the
  * gzip JSON-lines table or "parquet" for its `_parquet` mirror.
  */
object Statements {
  val Formats: Seq[String] = Seq("json", "parquet")
  /** Statements per round of the query mix: six kinds times two formats. */
  val RoundSize = 12

  private def t(table: String, format: String) =
    if (format == "parquet") s"ncd.${table}_parquet" else s"ncd.$table"

  private def schema(cols: (String, DataType)*) =
    StructType(cols.map { case (n, d) => StructField(n, d) })

  private def expect(ok: Boolean, why: => String): Option[String] =
    if (ok) None else Some(why)

  private def asMap[K](rows: Array[Row], key: Row => K): Map[K, Long] =
    rows.map(r => key(r) -> r.getLong(r.length - 1)).toMap

  private def opt[T](r: Row, i: Int): Option[T] =
    if (r.isNullAt(i)) None else Some(r.getAs[T](i))

  def lookup(s: State, caseId: Long, format: String): Statement = {
    val want = s.byCaseId(caseId)
    Statement("lookup", format,
      s"""SELECT CASEID, DISTRICT, CAST(FILE_DATE AS STRING) AS FILE_DATE, LEAD_CHARGE,
         |TOTAL_LOSS, DEFENDANTS FROM ${t("GS_CASE", format)} WHERE CASEID = $caseId""".stripMargin,
      schema("CASEID" -> LongType, "DISTRICT" -> StringType, "FILE_DATE" -> StringType,
        "LEAD_CHARGE" -> StringType, "TOTAL_LOSS" -> DoubleType, "DEFENDANTS" -> LongType),
      rows => expect(rows.length == 1 && {
        val r = rows(0)
        r.getLong(0) == caseId && r.getString(1) == want.district &&
          opt[String](r, 2) == want.fileDate && opt[String](r, 3) == want.charge &&
          opt[Double](r, 4).map(v => math.round(v * 100)) == want.lossCents &&
          opt[Long](r, 5) == want.defendants
      }, s"lookup $caseId: got ${rows.toSeq}, want $want"))
  }

  def districtFilter(s: State, district: String, format: String): Statement = {
    val (n, ids, _, _, _) = s.perDistrict(district)
    Statement("district_filter", format,
      s"SELECT CASEID, LEAD_CHARGE FROM ${t("GS_CASE", format)} WHERE filename_district = '$district'",
      schema("CASEID" -> LongType, "LEAD_CHARGE" -> StringType),
      rows => expect(rows.length == n && rows.map(_.getLong(0)).sum == ids,
        s"district $district: ${rows.length} rows, want $n"))
  }

  def districtAggregate(s: State, format: String): Statement = Statement(
    "district_aggregate", format,
    s"""SELECT filename_district, count(*) AS n, sum(CASEID) AS ids,
       |CAST(coalesce(round(sum(TOTAL_LOSS) * 100), 0) AS BIGINT) AS loss_cents,
       |count(FILE_DATE) AS dated, coalesce(sum(DEFENDANTS), 0) AS defendants
       |FROM ${t("GS_CASE", format)} GROUP BY filename_district""".stripMargin,
    schema("filename_district" -> StringType, "n" -> LongType, "ids" -> LongType,
      "loss_cents" -> LongType, "dated" -> LongType, "defendants" -> LongType),
    rows => {
      val got = rows.map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      expect(got == s.perDistrict, {
        val bad = (got.keySet ++ s.perDistrict.keySet).filter(k => got.get(k) != s.perDistrict.get(k))
        s"per-district aggregates differ in ${bad.toSeq.sorted.take(5)}"
      })
    })

  def caseHistJoin(s: State, district: String, format: String): Statement = Statement(
    "case_hist_join", format,
    s"""SELECT count(*) AS n FROM ${t("GS_CASE", format)} c
       |JOIN ${t("GS_COURT_HIST", format)} h ON c.CASEID = h.CASEID
       |WHERE c.filename_district = '$district'""".stripMargin,
    schema("n" -> LongType),
    rows => expect(rows.length == 1 && rows(0).getLong(0) == s.joinRows(district),
      s"join $district: got ${rows.toSeq}, want ${s.joinRows(district)}"))

  def codebookJoin(s: State, format: String): Statement = Statement(
    "codebook_join", format,
    s"""SELECT k.CHARGE_CODE AS code, count(*) AS n FROM ${t("GS_CASE", format)} c
       |JOIN ncd.GS_CHARGE k ON c.LEAD_CHARGE = k.CHARGE_CODE
       |GROUP BY k.CHARGE_CODE""".stripMargin,
    schema("code" -> StringType, "n" -> LongType),
    rows => expect(asMap(rows, _.getString(0)) == s.chargeCounts, "charge counts differ"))

  def yearHistogram(s: State, format: String): Statement = Statement(
    "year_histogram", format,
    s"SELECT year(FILE_DATE) AS y, count(*) AS n FROM ${t("GS_CASE", format)} GROUP BY year(FILE_DATE)",
    schema("y" -> IntegerType, "n" -> LongType),
    rows => expect(asMap(rows, r => opt[Int](r, 0)) == s.yearHistogram, "year histogram differs"))

  /** Rows, redacted cells and null-on-error cells per column of one normal
    * table: the data-quality counts the reference never reports.
    */
  def dataQuality(s: State, table: String, format: String): Statement = {
    val (cols, counts, rowsWant) =
      if (table == "GS_CASE") (Release.caseColumns, s.caseCounts, s.caseRows)
      else (Release.histColumns, s.histCounts, s.histRows)
    val exprs = cols.flatMap(c => Seq(s"count_if(redacted_$c) AS r_$c",
      s"count_if($c IS NULL AND NOT redacted_$c) AS e_$c"))
    Statement("data_quality", format,
      s"SELECT count(*) AS n, ${exprs.mkString(", ")} FROM ${t(table, format)}",
      schema(("n" -> LongType) +: cols.flatMap(c => Seq(s"r_$c" -> LongType, s"e_$c" -> LongType)): _*),
      rows => {
        val want = rowsWant +: cols.indices.flatMap(i => Seq(counts.redacted(i), counts.nullOnError(i)))
        expect(rows.length == 1 && rows(0).toSeq == want,
          s"$table data quality: got ${rows.headOption}, want $want")
      })
  }

  /** Row count of every global and codebook table (JSON only: string
    * tables have no parquet mirror).
    */
  def codebookRows(s: State): Statement = Statement(
    "codebook_rows", "json",
    s.stringTableRows.keys.toSeq.sorted
      .map(n => s"SELECT '$n' AS tbl, count(*) AS n FROM ncd.$n").mkString(" UNION ALL "),
    schema("tbl" -> StringType, "n" -> LongType),
    rows => expect(asMap(rows, _.getString(0)) == s.stringTableRows, "codebook row counts differ"))

  /** The whole-table checks of both formats ([[codebookRows]] covers the
    * string tables).
    */
  def formatChecks(s: State): Seq[Statement] =
    Formats.flatMap(f => Seq(districtAggregate(s, f), yearHistogram(s, f),
      codebookJoin(s, f), dataQuality(s, "GS_CASE", f), dataQuality(s, "GS_COURT_HIST", f)))

  /** What the ingest workload checks after its last load: the whole-table
    * checks and each district's rows on both formats (a revised district
    * must hold only its revised rows, the others keep theirs), and each
    * district's case x court-history join on the parquet mirrors. Three
    * statements per district keep the median of their latencies inside one
    * kind's cluster rather than on the edge between two.
    */
  def ingestChecks(s: State): Seq[Statement] = {
    val districts = s.perDistrict.keys.toSeq.sorted
    formatChecks(s) ++ districts.flatMap(d => Formats.map(f => districtFilter(s, d, f))) ++
      districts.map(d => caseHistJoin(s, d, "parquet"))
  }

  /** The query mix: six kinds, each over both formats, with seeded
    * parameters. Statements come in rounds holding each of the
    * [[RoundSize]] (kind, format) pairs once, in a seeded order, so runs of
    * whole rounds send the same blend. One iterator per client; it never ends.
    */
  def mix(s: State, seed: Long): Iterator[Statement] = {
    val rng = new java.util.SplittableRandom(seed)
    val ids = s.byCaseId.keys.toArray.sorted
    val districts = s.perDistrict.keys.toArray.sorted
    def district = districts(rng.nextInt(districts.length))
    def statement(kind: Int, format: String): Statement = kind match {
      case 0 => lookup(s, ids(rng.nextInt(ids.length)), format)
      case 1 => districtFilter(s, district, format)
      case 2 => districtAggregate(s, format)
      case 3 => caseHistJoin(s, district, format)
      case 4 => codebookJoin(s, format)
      case _ => yearHistogram(s, format)
    }
    Iterator.continually {
      val round = (0 until RoundSize / Formats.size).flatMap(k => Formats.map(f => (k, f))).toArray
      (round.length - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1); val t = round(i); round(i) = round(j); round(j) = t
      }
      round.iterator.map { case (k, f) => statement(k, f) }
    }.flatten
  }

  /** One statement of each mix kind and format, to warm caches before timing. */
  def warmup(s: State): Seq[Statement] = {
    val d = s.perDistrict.keys.min
    Formats.flatMap(f => Seq(lookup(s, s.byCaseId.keys.min, f), districtFilter(s, d, f),
      districtAggregate(s, f), caseHistJoin(s, d, f), codebookJoin(s, f), yearHistogram(s, f)))
  }
}
