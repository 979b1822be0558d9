package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer Spark ledger: a SparkListener plus a QueryExecutionListener,
  * registered from the benchmark, that charge every job, stage, task and
  * planned action to the span (one public call) that was open when the
  * listener bus delivered it.
  *
  * Listener events are asynchronous, so `span` drains the bus on entry
  * and on exit: every event posted inside the span is then processed
  * while that span is the open one, and no event of a neighbouring span
  * leaks in. The time spent draining is charged to `ledger.drain_s`.
  */
final class Ledger(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  /** Totals for one layer; all fields summed over the layer's spans. */
  final class Acc {
    var wallS = 0.0; var planS = 0.0; var outsideJobsS = 0.0
    var jobs = 0; var stages = 0; var tasks = 0L
    var cpuS = 0.0; var gcS = 0.0
    var shuffleB = 0L; var inputB = 0L; var outputB = 0L
    var scans = 0; var exchanges = 0
    val siteJobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    val siteJobS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }

  private val layers = mutable.LinkedHashMap.empty[String, Acc]
  @volatile private var open: Option[String] = None
  private var drainS = 0.0

  // bus-thread state (only touched from listener callbacks)
  private val stageLayer = mutable.Map.empty[Int, String]
  private val jobInfo = mutable.Map.empty[Int, (String, Long, String)] // layer, start ms, site
  private val execSite = mutable.Map.empty[Long, String]
  private val spanJobs = mutable.ArrayBuffer.empty[(Long, Long)]

  def acc(layer: String): Acc = synchronized(layers.getOrElseUpdate(layer, new Acc))
  def drainSeconds: Double = drainS

  private def drain(): Unit = {
    val t = System.nanoTime()
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    drainS += (System.nanoTime() - t) / 1e9
  }

  /** Runs `body` as one span of `layer`; returns its value. */
  def span[A](layer: String)(body: => A): A = {
    drain()
    synchronized { spanJobs.clear(); open = Some(layer) }
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val t1Ms = System.currentTimeMillis()
      drain()
      synchronized {
        open = None
        val a = layers.getOrElseUpdate(layer, new Acc)
        a.wallS += wall
        a.outsideJobsS += math.max(0.0, wall - coveredSeconds(t0Ms, t1Ms))
      }
    }
  }

  /** Seconds of [t0, t1] covered by at least one job of the open span. */
  private def coveredSeconds(t0: Long, t1: Long): Double = {
    val iv = spanJobs.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1000.0
  }

  // ---- SparkListener ----

  /** The short call site's source file, e.g. "Pipeline" for
    * "collect at Pipeline.scala:86".
    */
  private def siteOf(callSite: String): String =
    Option(callSite).flatMap(s => "at ([A-Za-z0-9_$]+)\\.(scala|java):".r
      .findFirstMatchIn(s).map(_.group(1))).getOrElse("")

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      // a nested execution inherits its root's call site
      val own = siteOf(e.description)
      execSite(e.executionId) =
        if (e.rootExecutionId.exists(_ != e.executionId))
          execSite.getOrElse(e.rootExecutionId.get, own)
        else own
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open.foreach { layer =>
      val props = Option(e.properties)
      // attribute through the SQL execution id: under AQE a stage job's
      // own call site reads CompletableFuture.java, not the action's. A
      // job outside any SQL execution (an RDD action) names its call
      // site in its result stage.
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong)).filter(_.nonEmpty)
        .getOrElse(siteOf(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).orNull))
      jobInfo(e.jobId) = (layer, e.time, site)
      e.stageIds.foreach(stageLayer(_) = layer)
      layers.getOrElseUpdate(layer, new Acc).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (layer, start, site) =>
      if (open.contains(layer)) spanJobs += ((start, e.time))
      val a = layers.getOrElseUpdate(layer, new Acc)
      a.siteJobs(site) += 1
      a.siteJobS(site) += (e.time - start) / 1000.0
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageLayer.get(e.stageInfo.stageId).foreach(l => layers.getOrElseUpdate(l, new Acc).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageLayer.get(e.stageId).foreach { l =>
      val a = layers.getOrElseUpdate(l, new Acc)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.cpuS += m.executorCpuTime / 1e9
        a.gcS += m.jvmGCTime / 1000.0
        a.shuffleB += m.shuffleWriteMetrics.bytesWritten
        a.inputB += m.inputMetrics.bytesRead
        a.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  // ---- QueryExecutionListener ----

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    open.foreach { layer =>
      val a = layers.getOrElseUpdate(layer, new Acc)
      val phases = qe.tracker.phases
      a.planS += Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum / 1000.0
      walk(qe.executedPlan, a)
    }
  }

  /** Counts scans and exchanges in an action's final (post-AQE) plan. */
  private def walk(p: SparkPlan, a: Acc): Unit = p match {
    case ad: AdaptiveSparkPlanExec => walk(ad.executedPlan, a)
    case qs: QueryStageExec => walk(qs.plan, a)
    case c: CommandResultExec => walk(c.commandPhysicalPlan, a)
    case _: ReusedExchangeExec =>
    case other =>
      other match {
        case _: DataSourceScanExec | _: DataSourceV2ScanExecBase => a.scans += 1
        case _: Exchange => a.exchanges += 1
        case _ =>
      }
      other.children.foreach(walk(_, a))
      other.subqueries.foreach(walk(_, a))
  }
}

object Ledger {
  def register(spark: SparkSession): Ledger = {
    val l = new Ledger(spark)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}
