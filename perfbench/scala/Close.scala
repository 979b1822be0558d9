package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.fin.{BiExport, Dashboard, Pipeline, Settings, StarExport}
import perfbench.CloseInputs.{Exact, Expected}

/** The month-close workload: close month 2, export it flat and as a
  * star, build its dashboard, then re-close month 1 from restated inputs,
  * which replaces a partition that already exists. Month 1 is first
  * closed during set-up, and exported, as the warm-up. Every output is
  * checked against [[CloseInputs]]' independent computation.
  */
final class Close(ctx: Ctx, root: Path, seed: Long) {
  import ctx.{spark, tally}

  val m1 = "2025-01"
  val m2 = "2025-02"
  private val reference = root.resolve("reference")
  private val curated = root.resolve("curated")
  private def raw(m: String) = root.resolve(s"raw_$m")
  private val rawRestated = root.resolve(s"raw_${m1}_restated")

  var exp1: Expected = _
  var exp2: Expected = _
  var exp1r: Expected = _

  var runMonthS = 0.0
  var exportsS = 0.0
  var dashboardS = 0.0
  var rowsClosed = 0L
  def callS: Double = runMonthS + exportsS + dashboardS

  def prepare(): Unit = {
    CloseInputs.writeChartOfAccounts(reference)
    exp1 = CloseInputs.generate(raw(m1), m1, seed)
    exp2 = CloseInputs.generate(raw(m2), m2, seed)
    exp1r = CloseInputs.generate(rawRestated, m1, seed, restated = true)
  }

  private def runMonth(m: String, rawDir: Path): Pipeline.RunResult =
    Pipeline.runMonth(spark, Settings.default, m, rawDir.toString, curated.toString, reference.toString)

  /** The untimed warm-up: the first, cold close of month 1, then its
    * exports and dashboard. Without them the JVM is still cold at month
    * 2: its close then takes nearly twice as long as the restatement's.
    */
  def warmUp(): Unit = {
    tally.op("closes", s"warm-up runMonth $m1")(runMonth(m1, raw(m1))).foreach(checkClose(_, exp1))
    exports(m1, exp1, warm = true)
  }

  /** Both exports and the dashboard of month `m`, each timed unless `warm`. */
  private def exports(m: String, e: Expected, warm: Boolean): Unit = {
    def call[A](layer: String, category: String, what: String)(body: => A): Option[(A, Double)] =
      if (warm) tally.op(category, s"warm-up $what")(body).map(_ -> 0.0)
      else ctx.timed(layer, category, what)(body)

    call("fin.BiExport.export", "exports", s"BiExport $m") {
      BiExport.`export`(spark, curated.toString, root.resolve("bi").toString, Some(m))
    }.foreach { case (r, s) => exportsS += s; checkBi(Path.of(r.outDir), e) }

    call("fin.StarExport.export", "exports", s"StarExport $m") {
      StarExport.`export`(spark, curated.toString, root.resolve("bi_star").toString, Some(m))
    }.foreach { case (r, s) => exportsS += s; checkStar(Path.of(r.outDir), e) }

    call("fin.Dashboard.build", "dashboards", s"Dashboard $m") {
      Dashboard.build(spark, curated.toString, root.resolve(s"dashboard_$m.html").toString, Some(m))
    }.foreach { case (r, s) => dashboardS += s; checkDashboard(Path.of(r.seriesDir), e) }
  }

  /** The measured calls. Runs once: a second time, month 2's close would
    * no longer be the first write of its partition.
    */
  def round(): Unit = {
    val closed = ctx.timed("fin.Pipeline.runMonth", "closes", s"runMonth $m2") {
      runMonth(m2, raw(m2))
    }
    closed.foreach { case (r, s) => runMonthS += s; rowsClosed += exp2.rawRows; checkClose(r, exp2) }

    exports(m2, exp2, warm = false)

    val before = partitionDigest(m2)
    ctx.timed("fin.Pipeline.runMonth", "closes", s"runMonth $m1 restated") {
      runMonth(m1, rawRestated)
    }.foreach { case (r, s) =>
      runMonthS += s; rowsClosed += exp1r.rawRows
      checkClose(r, exp1r)
      checkRestatement(r, before)
    }
  }

  /** After restating month 1: month 2's partition is byte-for-byte what it
    * was, and the rebuilt KPI table holds both months' expected values.
    */
  private def checkRestatement(r: Pipeline.RunResult, before: Map[String, String]): Unit =
    tally.checking(s"restatement of $m1") {
      tally.check(partitionDigest(m2) == before, s"restating $m1 changed the $m2 partition")
      val kpi = spark.read.parquet(r.kpi).collect().map { row =>
        (row.getAs[String]("entity"), row.getAs[String]("month")) ->
          Seq("Revenue", "COGS", "Expense", "Asset", "gross_profit", "operating_profit")
            .map(c => c -> row.getAs[Double](c)).toMap
      }.toMap
      Seq(exp1r, exp2).foreach { e =>
        checkKpi(kpi.collect { case ((ent, m), v) if m == e.month => ent -> v }, e, "kpi_monthly.parquet")
      }
    }

  def curatedMb: Double = Files.walk(curated).iterator().asScala
    .filter(Files.isRegularFile(_)).map(Files.size(_)).sum / 1e6

  // ---- checks ----

  private def checkClose(r: Pipeline.RunResult, e: Expected): Unit = tally.checking(s"close ${e.month}") {
    val m = e.month
    tally.check(r.status == "PASS", s"$m: status ${r.status}, expected PASS")
    val rows = Csv.parquetRows(spark, curated.resolve(s"fact_transactions.parquet/month=$m"))
    tally.check(rows == e.factRows, s"$m: fact partition has $rows rows, expected ${e.factRows}")

    val ex = Csv.rows(Path.of(r.dqExceptions))
    val checkCol = ex.header.indexOf("check")
    def count(check: String) = ex.rows.count(_(checkCol) == check)
    tally.check(ex.rows.size == e.faults.total,
      s"$m: ${ex.rows.size} DQ exceptions, expected ${e.faults.total} injected")
    tally.check(count("greater_than(0)") == e.faults.nonPositive, s"$m: non-positive amount exceptions")
    tally.check(count("duplicate_key(entity,invoice_id)") == e.faults.dupKeys, s"$m: duplicate key exceptions")
    tally.check(count("payroll_identity") == e.faults.payrollBreaks, s"$m: payroll identity exceptions")

    val sum = Csv.rows(Path.of(r.dqSummary))
    val warn = Map("sales" -> (e.faults.nonPositive + e.faults.dupKeys), "payroll" -> e.faults.payrollBreaks)
    tally.check(sum.rows.size == 5, s"$m: dq_summary has ${sum.rows.size} datasets")
    sum.rows.foreach { row =>
      val get = sum.header.zip(row).toMap
      tally.check(get("error_count").toLong == 0 && get("warn_count").toLong == warn.getOrElse(get("dataset"), 0),
        s"$m: dq_summary row ${row.mkString(",")}")
    }
  }

  /** KPI values within the stated tolerance: the slack that half-cent
    * ties leave between double and exact arithmetic (see
    * [[CloseInputs.Exact]]), plus 1e-9 relative for summation order.
    */
  private def checkKpi(got: Map[String, Map[String, Double]], e: Expected, where: String): Unit = {
    tally.check(got.keySet == e.kpi.keySet, s"${e.month}: $where entities ${got.keySet.size}, expected ${e.kpi.size}")
    for ((ent, want) <- e.kpi; g <- got.get(ent); (c, Exact(v, slack)) <- want) {
      val tol = slack + 1e-9 * (1 + v.abs.toDouble)
      val d = math.abs(g(c) - v.toDouble)
      tally.check(d <= tol, s"${e.month}: $where $ent $c = ${g(c)}, expected $v (tolerance $tol)")
    }
  }

  private def checkBi(dir: Path, e: Expected): Unit = tally.checking(s"BI export ${e.month}") {
    val kpi = Csv.rows(dir.resolve("kpi_monthly.csv"))
    val idx = kpi.header.zipWithIndex.toMap
    checkKpi(kpi.rows.map { r =>
      r(idx("entity")) -> e.kpi.head._2.keys.map(c => c -> r(idx(c)).toDouble).toMap
    }.toMap, e, "BI kpi_monthly.csv")
    val fact = Csv.rows(dir.resolve("fact_transactions.csv")).rows.size
    tally.check(fact == e.factRows, s"${e.month}: BI fact_transactions.csv has $fact rows")
  }

  private def checkStar(dir: Path, e: Expected): Unit = tally.checking(s"star export ${e.month}") {
    def n(f: String) = Csv.rows(dir.resolve(f)).rows.size
    tally.check(n("fact_gl.csv") == e.factRows, s"${e.month}: star fact_gl has ${n("fact_gl.csv")} rows")
    tally.check(n("fact_kpi_monthly.csv") == e.kpi.size, s"${e.month}: star fact_kpi_monthly rows")
    tally.check(n("dim_entity.csv") == e.kpi.size, s"${e.month}: star dim_entity rows")
  }

  private def checkDashboard(seriesDir: Path, e: Expected): Unit = tally.checking(s"dashboard ${e.month}") {
    val top = Csv.rows(seriesDir.resolve("top_expense.csv"))
    val got = top.rows.map(r => r(0) -> r(1).toDouble).toMap
    tally.check(got.keySet == e.expenseByLabel.keySet,
      s"${e.month}: dashboard top-expense labels ${got.keySet}, expected ${e.expenseByLabel.keySet}")
    for ((label, Exact(v, slack)) <- e.expenseByLabel; g <- got.get(label)) {
      val tol = slack + 1e-9 * (1 + v.toDouble)
      tally.check(math.abs(g - v.toDouble) <= tol, s"${e.month}: dashboard $label = $g, expected $v")
    }
  }

  /** File names and contents of one month's fact partition. */
  private def partitionDigest(m: String): Map[String, String] = {
    val dir = curated.resolve(s"fact_transactions.parquet/month=$m")
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      val md = java.security.MessageDigest.getInstance("MD5")
      f.getFileName.toString -> md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    }.toMap
  }
}
