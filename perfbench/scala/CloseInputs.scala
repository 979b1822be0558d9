package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.math.BigDecimal.RoundingMode
import scala.util.Random

/** Seeded raw inputs for one month's close, plus the answers an
  * independent computation expects from it.
  *
  * The columns and value ranges follow the program's own sample data
  * (entities, currency mix, daily FX coverage, payroll identity, account
  * codes from the chart of accounts), but every entity writes a fixed
  * number of rows per source, so the seed changes values and not the
  * amount of work. The expected KPIs are computed here in `BigDecimal`
  * from the written cells, never by the program.
  */
object CloseInputs {

  /** The reference size: two entities and, per entity and month, these
    * rows per source.
    */
  val Entities: Seq[String] = Seq("TLM", "UPE")
  val SalesRows = 30
  val ExpenseRows = 40
  val PayrollRows = 10
  val InventoryRows = 30

  /** Injected WARN-severity data-quality faults. */
  final case class Faults(nonPositive: Int, dupKeys: Int, payrollBreaks: Int) {
    def total: Int = nonPositive + dupKeys + payrollBreaks
  }

  /** An exact value and how far the program's double arithmetic may
    * stray from it: rounding a half-cent tie may land one cent either
    * way, and a cent of slack grows with every later multiplication and
    * may flip the next rounding too.
    */
  final case class Exact(value: BigDecimal, slack: Double) {
    def +(o: Exact): Exact = Exact(value + o.value, slack + o.slack)
    def abs: Exact = Exact(value.abs, slack)
  }
  val Zero: Exact = Exact(BigDecimal(0), 0.0)

  final case class Expected(
      month: String,
      rows: Map[String, Int],          // rows written per source file
      faults: Faults,
      kpi: Map[String, Map[String, Exact]], // entity -> KPI column -> value
      expenseByLabel: Map[String, Exact]) {  // "code - name" -> sum |amount_base|
    def factRows: Int = Seq("sales", "expenses", "payroll", "inventory_movements").map(rows).sum
    def rawRows: Int = rows.values.sum
  }

  /** The chart of accounts the inputs are posted against: code, name, type. */
  val Accounts: Seq[(String, String, String)] = Seq(
    ("40000001", "Sales - Export", "Revenue"),
    ("40000002", "Sales - Local", "Revenue"),
    ("50000001", "COGS - Inventory", "COGS"),
    ("61000001", "Salaries & Wages", "Expense"),
    ("61000002", "Payroll Taxes", "Expense"),
    ("62000001", "Rent", "Expense"),
    ("63000001", "Travel & Subsistence", "Expense"),
    ("64000001", "Bank Charges", "Expense"),
    ("10000001", "Cash at Bank", "Asset"),
    ("11000001", "Accounts Receivable", "Asset"),
    ("20000001", "Accounts Payable", "Liability"),
    ("21000001", "VAT Payable", "Liability"))
  private val accountType = Accounts.map(a => a._1 -> a._3).toMap
  private val accountName = Accounts.map(a => a._1 -> a._2).toMap

  def writeChartOfAccounts(dir: Path): Unit =
    write(dir.resolve("chart_of_accounts.csv"), "account_code,account_name,account_type",
      Accounts.map { case (c, n, t) => s"$c,$n,$t" })

  private def write(p: Path, header: String, rows: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    val sb = new StringBuilder(header).append('\n')
    rows.foreach(r => sb.append(r).append('\n'))
    Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** `x` rounded half-even to cents, the program's `bround(_, 2)`. */
  private def half(x: Exact): Exact = {
    val cents = x.value * 100
    val tie = (cents - cents.setScale(0, RoundingMode.DOWN)).abs == BigDecimal("0.5")
    Exact(x.value.setScale(2, RoundingMode.HALF_EVEN),
      x.slack + (if (tie || x.slack > 0) 0.01 else 0.0))
  }
  private def times(x: Exact, rate: BigDecimal): Exact = Exact(x.value * rate, x.slack * rate.toDouble)

  /** Writes the five raw CSVs of `month` into `rawDir` and returns what a
    * correct close of them must produce. `restated` inputs carry other
    * values and no injected faults.
    */
  def generate(rawDir: Path, month: String, seed: Long, restated: Boolean = false): Expected = {
    val rng = new Random(seed * 1000003L + month.hashCode + (if (restated) 7919 else 0))
    val start = LocalDate.parse(s"$month-01")
    val days = (0 until start.lengthOfMonth).map(start.plusDays(_))
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.length))
    def dec(lo: Double, hi: Double, scale: Int): BigDecimal =
      BigDecimal(lo + rng.nextDouble() * (hi - lo)).setScale(scale, RoundingMode.HALF_EVEN)
    def ccy(): String = { val r = rng.nextDouble(); if (r < 0.5) "USD" else if (r < 0.9) "TZS" else "EUR" }

    val fx: Map[(LocalDate, String), BigDecimal] = days.flatMap { d =>
      Seq((d, "USD") -> BigDecimal("1.0"), (d, "EUR") -> dec(1.05, 1.15, 6),
        (d, "TZS") -> dec(0.00038, 0.00045, 8))
    }.toMap

    // (entity, account, date, currency, signed amount) per fact row
    val posted = Seq.newBuilder[(String, String, LocalDate, String, Exact)]

    val faults =
      if (restated) Faults(0, 0, 0)
      else Faults(1 + rng.nextInt(3), 1 + rng.nextInt(2), 1 + rng.nextInt(2))

    final case class Sale(d: LocalDate, e: String, var id: String, acct: String, c: String, var amt: BigDecimal)
    val sales = Entities.flatMap { e =>
      (0 until SalesRows).map { i =>
        Sale(pick(days), e, f"INV-$e-$i%04d", if (rng.nextDouble() < 0.7) "40000001" else "40000002",
          ccy(), dec(200, 5000, 2))
      }
    }.toIndexedSeq
    // faults go to distinct rows of the first entity
    val victims = rng.shuffle((0 until SalesRows).toList)
    victims.take(faults.nonPositive).zipWithIndex.foreach { case (i, k) =>
      sales(i).amt = if (k % 2 == 0) BigDecimal("0.00") else -dec(10, 100, 2)
    }
    victims.slice(faults.nonPositive, faults.nonPositive + 2 * faults.dupKeys).grouped(2).foreach {
      case List(a, b) => sales(b).id = sales(a).id
      case _ =>
    }
    write(rawDir.resolve("sales.csv"), "date,entity,invoice_id,account_code,currency,amount,description",
      sales.map(s => s"${s.d},${s.e},${s.id},${s.acct},${s.c},${s.amt},Synthetic sale"))
    sales.foreach(s => posted += ((s.e, s.acct, s.d, s.c, Exact(s.amt, 0.0))))

    val expenses = Entities.flatMap { e =>
      (0 until ExpenseRows).map { i =>
        (pick(days), e, f"BILL-$e-$i%04d", pick(Seq("62000001", "63000001", "64000001")), ccy(), dec(50, 2500, 2))
      }
    }
    write(rawDir.resolve("expenses.csv"), "date,entity,bill_id,account_code,currency,amount,description",
      expenses.map { case (d, e, id, a, c, amt) => s"$d,$e,$id,$a,$c,$amt,Synthetic expense" })
    expenses.foreach { case (d, e, _, a, c, amt) => posted += ((e, a, d, c, Exact(-amt, 0.0))) }

    val payDay = start.withDayOfMonth(start.lengthOfMonth)
    val breaks = rng.shuffle((0 until PayrollRows).toList).take(faults.payrollBreaks).toSet
    val payroll = Entities.flatMap { e =>
      (0 until PayrollRows).map { i =>
        val c = if (rng.nextDouble() < 0.4) "USD" else "TZS"
        val gross = dec(300, 1500, 2)
        val ded = dec(0, 150, 2)
        val net = gross - ded + (if (e == Entities.head && breaks(i)) dec(1, 10, 2) else BigDecimal(0))
        (e, f"EMP-$e-$i%03d", c, gross, ded, net)
      }
    }
    write(rawDir.resolve("payroll.csv"), "month,entity,employee_id,currency,gross,deductions,net",
      payroll.map { case (e, id, c, g, d, n) => s"$month,$e,$id,$c,$g,$d,$n" })
    payroll.foreach { case (e, _, c, _, _, net) => posted += ((e, "61000001", payDay, c, Exact(-net, 0.0))) }

    val skus = Seq("HONEY-DRUM", "WAX-BLOCK", "GIN-750ML")
    val inventory = Entities.flatMap { e =>
      (0 until InventoryRows).map { _ =>
        val r = rng.nextDouble()
        val move = if (r < 0.45) "receipt" else if (r < 0.9) "issue" else "adjustment"
        (pick(days), e, pick(skus), move, dec(1, 50, 2), dec(2, 80, 2), ccy())
      }
    }
    write(rawDir.resolve("inventory_movements.csv"), "date,entity,sku,movement_type,qty,unit_cost,currency",
      inventory.map { case (d, e, s, m, q, u, c) => s"$d,$e,$s,$m,$q,$u,$c" })
    inventory.foreach { case (d, e, _, m, q, u, c) =>
      val v = half(Exact(q * u, 0.0))
      if (m == "issue") posted += ((e, "50000001", d, c, Exact(-v.value, v.slack)))
      else posted += ((e, "10000001", d, c, v))
    }

    val fxRows = days.flatMap(d => Seq("USD", "EUR", "TZS").map(c => s"$d,$c,USD,${fx((d, c))}"))
    write(rawDir.resolve("fx_rates.csv"), "date,from_currency,to_currency,rate", fxRows)

    // amount_base = amount * that day's rate, half-even to 2 dp; base
    // currency rows keep rate 1
    val based = posted.result().map { case (e, acct, d, c, amt) =>
      val b = if (c == "USD") amt else half(times(amt, fx((d, c))))
      (e, acct, b)
    }
    val kpi = based.groupBy(_._1).map { case (e, rows) =>
      val byType = rows.groupBy(r => accountType(r._2)).map { case (t, rs) => t -> rs.map(_._3).foldLeft(Zero)(_ + _) }
      def t(name: String) = byType.getOrElse(name, Zero)
      val gross = half(t("Revenue") + t("COGS"))
      val op = half(gross + t("Expense"))
      e -> Map("Revenue" -> t("Revenue"), "COGS" -> t("COGS"), "Expense" -> t("Expense"),
        "Asset" -> t("Asset"), "gross_profit" -> gross, "operating_profit" -> op)
    }
    val expenseByLabel = based.filter(r => accountType(r._2) == "Expense")
      .groupBy(r => s"${r._2} - ${accountName(r._2)}")
      .map { case (label, rs) => label -> rs.map(_._3.abs).foldLeft(Zero)(_ + _) }

    Expected(month,
      Map("sales" -> sales.size, "expenses" -> expenses.size, "payroll" -> payroll.size,
        "inventory_movements" -> inventory.size, "fx_rates" -> fxRows.size),
      faults, kpi, expenseByLabel)
  }
}
