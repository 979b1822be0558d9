package perfbench

/** The per-layer metric set, in a fixed order, from a ledger. Each layer
  * is one public call; see the benchmark README for which end-to-end
  * metric each is meant to explain.
  */
object Layers {

  val Fin: Seq[String] = Seq("fin.Pipeline.runMonth", "fin.BiExport.export",
    "fin.StarExport.export", "fin.Dashboard.build")
  val Queries: Seq[String] = Seq("operators.CoreQueries", "operators.LlmQueries",
    "operators.EventQueries", "operators.CurationQueries", "operators.AnalyticsQueries")
  val Gates: Seq[String] = Seq("dedup_stream", "near_dup_gate", "semantic_gate", "mixture_gate")
    .map(g => s"streaming.$g")
  val Sites: Seq[String] = Seq("Quality", "Pipeline", "Transform", "Io")

  private val Mb = 1e6

  def metrics(l: Ledger, gates: Map[String, Catalogue.GateStats]): Seq[(String, (Double, String))] = {
    def common(layer: String, a: l.Acc) = Seq(
      s"$layer.wall_s" -> (a.wallS, "s"),
      s"$layer.plan_s" -> (a.planS, "s"),
      s"$layer.jobs" -> (a.jobs.toDouble, "count"),
      s"$layer.stages" -> (a.stages.toDouble, "count"),
      s"$layer.tasks" -> (a.tasks.toDouble, "count"),
      s"$layer.cpu_s" -> (a.cpuS, "s"),
      s"$layer.shuffle_mb" -> (a.shuffleB / Mb, "MB"),
      s"$layer.scans" -> (a.scans.toDouble, "count"),
      s"$layer.exchanges" -> (a.exchanges.toDouble, "count"))

    val fin = Fin.flatMap { layer =>
      val a = l.acc(layer)
      common(layer, a) ++ Seq(
        s"$layer.outside_jobs_s" -> (a.outsideJobsS, "s"),
        s"$layer.input_mb" -> (a.inputB / Mb, "MB"),
        s"$layer.output_mb" -> (a.outputB / Mb, "MB")) ++
        (if (layer == "fin.Pipeline.runMonth") Seq(s"$layer.gc_s" -> (a.gcS, "s")) else Nil)
    }
    val rm = l.acc("fin.Pipeline.runMonth")
    val sites = Sites.flatMap { s =>
      Seq(s"fin.Pipeline.runMonth.site.$s.jobs" -> (rm.siteJobs(s).toDouble, "count"),
        s"fin.Pipeline.runMonth.site.$s.job_s" -> (rm.siteJobS(s), "s"))
    }
    val queries = Queries.flatMap(q => common(q, l.acc(q)))
    val gateMetrics = Gates.flatMap { g =>
      val st = gates.getOrElse(g, Catalogue.GateStats(0, 0.0, 0L, 0.0))
      Seq(s"$g.wall_s" -> (l.acc(g).wallS, "s"),
        s"$g.batches" -> (st.batches.toDouble, "count"),
        s"$g.batch_p50_s" -> (st.batchP50S, "s"),
        s"$g.state_rows" -> (st.stateRows.toDouble, "count"),
        s"$g.rows_per_s" -> (st.rowsPerS, "rows/s"))
    }
    fin ++ sites ++ queries ++ gateMetrics :+ ("ledger.drain_s" -> (l.drainSeconds, "s"))
  }
}
