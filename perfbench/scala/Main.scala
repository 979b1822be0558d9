package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** What a workload shares: the session, the optional ledger,
  * the tally of operations and checks, and the wall time of each timed
  * public call.
  */
final class Ctx(val spark: SparkSession, val ledger: Option[Ledger]) {
  val tally = new Tally
  val callS: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  /** Times one public call, inside a ledger span when tracing. `None`
    * when the call threw; the failure is counted and the run goes on.
    */
  def timed[A](layer: String, category: String, what: String)(body: => A): Option[(A, Double)] =
    tally.op(category, what) {
      val t0 = System.nanoTime()
      val r = ledger match {
        case Some(l) => l.span(layer)(body)
        case None => body
      }
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $what%s: $secs%.3f s")
      callS += secs
      (r, secs)
    }
}

/** The largest heap in use right after a garbage collection, over every
  * collection the JVM reports from the moment it is installed.
  */
final class HeapWatch extends NotificationListener {
  @volatile var peakMb = 0.0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }
  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1e6
      synchronized { peakMb = math.max(peakMb, used) }
    }
}

/** One benchmark run inside one JVM: set-up (inputs, session, warm-up),
  * then one measured round of the workload, then a JSON result file for
  * `run.py`.
  *
  *   perfbench.Main --workload close_ref|catalogue --seed N --trace 0|1
  *     --work DIR --result FILE [--tables DIR]
  */
object Main {

  /** `s` as a JSON string literal. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One workload: set-up ends with its warm-up call; `round` is one
    * measured round; `rowsPerS` its input rows per second; `outputMb`
    * what it leaves on disk.
    */
  final case class Workload(round: () => Unit, rowsPerS: () => Double, outputMb: () => Double,
                            gates: () => Map[String, Catalogue.GateStats])

  /** The mean of the middle half of `sorted`: a typical call's wait that,
    * unlike the median of a few unlike calls, does not jump from one call
    * to the next when two of them trade places.
    */
  def interquartileMean(sorted: Seq[Double]): Double = {
    val k = sorted.size / 4
    val mid = sorted.slice(k, sorted.size - k)
    if (mid.isEmpty) 0.0 else mid.sum / mid.size
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = args("seed").toLong
    val work = Path.of(args("work"))
    val cpus = Runtime.getRuntime.availableProcessors
    val heap = new HeapWatch

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    try {
      val ledger = if (args("trace") == "1") Some(Ledger.register(spark)) else None
      val ctx = new Ctx(spark, ledger)

      val w = args("workload") match {
        case "close_ref" =>
          val close = new Close(ctx, work.resolve("close"), seed)
          close.prepare()
          close.warmUp()
          Workload(() => close.round(), () => close.rowsClosed / close.callS, () => close.curatedMb, () => Map.empty)
        case "catalogue" =>
          val cat = new Catalogue(ctx, Path.of(args("tables")), work.resolve("queries"), seed)
          cat.warmUp()
          Workload(() => { cat.queries(); cat.gates() },
            () => cat.gateRowsPerS, () => cat.outputMb, () => cat.gateStats.toMap)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      ctx.callS.clear()

      w.round()

      val calls = ctx.callS.sorted.toSeq
      val endToEnd = Seq(
        "calls_s" -> (calls.sum, "s"),
        "call_iqm_s" -> (interquartileMean(calls), "s"),
        "rows_per_s" -> (w.rowsPerS(), "rows/s"),
        "output_mb" -> (w.outputMb(), "MB"),
        "peak_heap_mb" -> (heap.peakMb, "MB"))
      val perLayer = ledger.map(l => Layers.metrics(l, w.gates())).getOrElse(Nil)

      def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
      def metrics(ms: Seq[(String, (Double, String))]) = ms.map { case (k, (v, u)) =>
        s"${quote(k)}: {${quote("value")}: ${num(v)}, ${quote("unit")}: ${quote(u)}}"
      }.mkString("{", ", ", "}")
      val json =
        s"""{"setup_jvm_s": ${num(setupS)},
           |"attempted": ${ctx.tally.attemptedTotal}, "failed": ${ctx.tally.failedTotal},
           |"summary": ${quote(ctx.tally.summary)},
           |"wrong": ${ctx.tally.wrong.map(quote).mkString("[", ", ", "]")},
           |"failures": ${ctx.tally.failures.map(quote).mkString("[", ", ", "]")},
           |"queries_done": ${ctx.tally.done("queries").filter(Catalogue.Sample.contains).map(quote).mkString("[", ", ", "]")},
           |"end_to_end": ${metrics(endToEnd)},
           |"per_layer": ${metrics(perLayer)}}""".stripMargin
      Files.write(Path.of(args("result")), json.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
