package perfbench

import org.apache.spark.sql.Row

/** The benchmark's own tests, at tiny scale and without Spark:
  * `python3 perfbench/run.py --selftest` (exit 0 = all pass).
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val a = Release.generate(7, 3000)
    val b = Release.generate(7, 3000)
    val c = Release.generate(8, 3000)

    check("one seed gives byte-identical zips and manifests") {
      a.dumpZip.sameElements(b.dumpZip) && a.updateZip.sameElements(b.updateZip) &&
        a.manifestJson == b.manifestJson
    }
    check("another seed gives other zips") {
      !a.dumpZip.sameElements(c.dumpZip) && a.manifestJson != c.manifestJson
    }
    check("every quirk is planted") {
      val s = a.dump
      s.caseCounts.redacted.sum > 0 && s.caseCounts.nullOnError.sum > 0 &&
        s.histCounts.redacted.sum > 0 &&
        s.rows.exists(_.charge.exists(_.contains(' '))) &&
        s.yearHistogram.contains(None)
    }
    check("the update replaces revised districts and adds one") {
      val revised = a.revised.toSet
      a.revised.size == Release.RevisedDistricts &&
        a.last.perDistrict.size == Release.Districts + 1 &&
        a.last.parts.filter(p => revised(p.code)).forall(_.rows.forall(_.caseId >= Release.RevisedIdBase)) &&
        a.last.parts.filterNot(p => revised(p.code) || p.code == a.added)
          .forall(p => a.dump.perDistrict(p.code) == a.last.perDistrict(p.code))
    }

    // the checks accept the manifest's own answer and reject a planted
    // wrong one, which the operation counter then records as failed
    val s = a.last
    val agg = Statements.districtAggregate(s, "json")
    val right = s.perDistrict.toSeq.map { case (d, (n, ids, loss, dated, defs)) =>
      Row(d, n, ids, loss, dated, defs) }.toArray
    val (d0, v0) = s.perDistrict.head
    val planted = right.map(r => if (r.getString(0) == d0) Row(d0, v0._1 + 1, v0._2, v0._3, v0._4, v0._5) else r)
    check("a right answer passes its check") { agg.check(right).isEmpty }
    check("a planted wrong answer is caught and counted as failed") {
      val ops = new Ops
      ops.record("right", agg.check(right))
      ops.record("planted", agg.check(planted))
      val years = Statements.yearHistogram(s, "parquet")
      val wrongYears = s.yearHistogram.toSeq.map { case (y, n) => Row(y.map(Int.box).orNull, n + 1) }.toArray
      ops.record("planted years", years.check(wrongYears))
      ops.attempted == 3 && ops.failures.size == 2
    }
    check("the ingest checks cover every district's rows on both formats and its join") {
      val checks = Statements.ingestChecks(s)
      s.perDistrict.keys.forall(d => Statements.Formats.forall(f => checks.exists(st =>
        st.kind == "district_filter" && st.format == f && st.sql.endsWith(s"'$d'"))) &&
        checks.exists(st => st.kind == "case_hist_join" && st.sql.endsWith(s"'$d'")))
    }
    check("a lookup check rejects another case's row") {
      val id = s.byCaseId.keys.min
      val other = s.byCaseId(s.byCaseId.keys.max)
      Statements.lookup(s, id, "json").check(Array(Row(id, other.district,
        other.fileDate.orNull, other.charge.orNull, null, null))).isDefined
    }

    // span tree:  root [0,100) with children a [10,40) and b [30,60)
    // (overlapping), a has child c [15,25); d [70,80) is a sibling root
    val spans = Seq(Span(0, "root", -1, "t", 0, 100), Span(1, "a", 0, "t", 10, 40),
      Span(2, "b", 0, "t", 30, 60), Span(3, "c", 1, "t", 15, 25), Span(4, "d", -1, "t", 70, 80))
    check("self time is a span minus the union of its children") {
      Tracer.selfTimes(spans) == Map(0 -> 50L, 1 -> 20L, 2 -> 30L, 3 -> 10L, 4 -> 10L)
    }
    check("totals by name sum durations and self times") {
      val t = Tracer.totalsByName(spans :+ Span(5, "a", -1, "t", 200, 210))
      t("a") == ((40 / 1e9, 30 / 1e9)) && t("root")._2 == 50 / 1e9
    }
    check("a tracer nests spans by call order") {
      val tr = new Tracer("t")
      tr.span("outer") { tr.span("inner")(()); tr.span("inner")(()) }
      val ss = tr.spans
      ss.map(_.name) == Seq("outer", "inner", "inner") && ss.tail.forall(_.parent == ss.head.id)
    }
    check("percentiles interpolate") {
      Main.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5 && Main.percentile((1 to 11).map(_.toDouble), 0.9) == 10.0
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
