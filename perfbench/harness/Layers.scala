package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run: each traced pass is reduced to one
  * value per metric, and the run reports the median over traced passes.
  * Metrics a workload's layers do not produce read 0.
  */
final case class Layers(t: Tracer,
    passes: Seq[(Int, Boolean, Long, Long, Double, Double)],
    fsDeltas: Map[Int, Map[String, Long]], planCounts: Map[Int, Map[String, Long]],
    setups: Seq[Map[String, Double]], warehouseBytes: Long) {

  private val spans = t.allSpans
  private val byId = spans.map(s => s.id -> s).toMap

  /** `s` and the spans that caused it, innermost first. */
  private def ancestors(s: Span): List[Span] =
    s :: byId.get(s.parent).map(ancestors).getOrElse(Nil)

  private def passOf(s: Span): Option[Int] =
    ancestors(s).find(_.pass >= 0).map(_.pass).orElse(
      passes.find(p => s.start >= p._3 && s.start <= p._4).map(_._1))

  private val inPass: Map[Int, Seq[Span]] =
    spans.flatMap(s => passOf(s).map(_ -> s)).groupMap(_._1)(_._2)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def dur(s: Span): Double = (s.end - s.start) / 1e6
  private def iv(s: Span): (Long, Long) = (s.start, s.end)

  private def under(root: Span, ss: Seq[Span]): Seq[Span] =
    ss.filter(s => s.id != root.id && ancestors(s).exists(_.id == root.id))

  private def counters(jobs: Seq[Span]): Seq[JobCounters] =
    jobs.flatMap(j => t.jobCounters.get(j.id))

  private def sparkMetrics(prefix: String, jobs: Seq[Span], wallS: Double,
      cpus: Int): Seq[(String, Double)] = {
    val c = counters(jobs)
    val runS = c.map(_.runMs).sum / 1e3
    Seq(
      s"$prefix.jobs" -> jobs.size.toDouble,
      s"$prefix.stages" -> c.map(_.stages).sum.toDouble,
      s"$prefix.tasks" -> c.map(_.tasks).sum.toDouble,
      s"$prefix.failed_tasks" -> c.map(_.failedTasks).sum.toDouble,
      s"$prefix.sched_delay_s" -> c.map(_.schedDelayMs).sum / 1e3,
      s"$prefix.task_run_s" -> runS,
      s"$prefix.task_cpu_s" -> c.map(_.cpuNs).sum / 1e9,
      s"$prefix.task_gc_s" -> c.map(_.gcMs).sum / 1e3,
      s"$prefix.input_bytes" -> c.map(_.inputBytes).sum.toDouble,
      s"$prefix.input_rows" -> c.map(_.inputRows).sum.toDouble,
      s"$prefix.shuffle_write_bytes" -> c.map(_.shuffleWrite).sum.toDouble,
      s"$prefix.shuffle_read_bytes" -> c.map(_.shuffleRead).sum.toDouble,
      s"$prefix.shuffle_fetch_wait_s" -> c.map(_.fetchWaitMs).sum / 1e3,
      s"$prefix.spill_mem_bytes" -> c.map(_.spillMem).sum.toDouble,
      s"$prefix.spill_disk_bytes" -> c.map(_.spillDisk).sum.toDouble,
      s"$prefix.peak_exec_mem_bytes" -> (0L +: c.map(_.peakExecMem)).max.toDouble,
      s"$prefix.core_util" -> (if (wallS > 0) runS / (cpus * wallS) else 0.0))
  }

  private val cpus = Runtime.getRuntime.availableProcessors()

  /** Critical path of a DAG run: per wave, the longest model write. Model
    * writes are told apart by their output path: the relation itself or
    * its hidden `.name.parquet.tmp` sibling.
    */
  private def criticalPath(run: Span): Double = {
    val ws = t.writes.filter(w => w._2 >= run.start && w._3 <= run.end)
    val perModel = Dag.models(Dag.BuildAsOf).map(_.name).map { n =>
      val mine = ws.filter(w => w._4.endsWith(s"/.$n.parquet.tmp") ||
        w._4.endsWith(s"/$n.parquet"))
      n -> (if (mine.isEmpty) 0.0 else (mine.map(_._3).max - mine.map(_._2).min) / 1e6)
    }.toMap
    val models = Dag.models(Dag.BuildAsOf)
    val waves = mutable.ArrayBuffer[Seq[String]]()
    var done = Set.empty[String]
    var left = models
    while (left.nonEmpty) {
      val (ready, blocked) = left.partition(_.refs.forall(done.contains))
      waves += ready.map(_.name); done ++= ready.map(_.name); left = blocked
    }
    waves.map(w => (0.0 +: w.map(perModel)).max).sum
  }

  private def passMetrics(pass: Int, wallS: Double): Map[String, Double] = {
    val ss = inPass.getOrElse(pass, Nil)
    val m = mutable.LinkedHashMap[String, Double]()
    val jobs = ss.filter(_.layer == "spark.job")
    val root = ss.find(_.layer == "run")
    m ++= SelfTime.byLayer(ss).map { case (l, us) => s"self.$l" + "_s" -> us / 1e6 }
    m ++= sparkMetrics("spark", jobs, wallS, cpus)
    m("spark.no_job_s") = root.map(r => SelfTime.idle(iv(r), jobs.map(iv)) / 1e6).getOrElse(0.0)
    m("trace.unattributed_jobs") = jobs.count(j => !ancestors(j).exists(_.layer == "call"))
    def total(layer: String, within: Seq[Span] = ss): Double =
      within.filter(_.layer == layer).map(dur).sum
    Seq("queries.build", "queries.plan", "queries.exec").foreach(l => m(s"${l}_s") = total(l))
    ss.filter(_.layer == "stage").foreach { st =>
      val kids = under(st, ss)
      m(s"${st.name}_s") = dur(st)
      m(s"${st.name}.plan_s") = total("queries.plan", kids)
      m(s"${st.name}.exec_s") = total("queries.exec", kids)
      val stJobs = kids.filter(_.layer == "spark.job")
      m(s"${st.name}.task_cpu_s") = counters(stJobs).map(_.cpuNs).sum / 1e9
      m(s"${st.name}.core_util") =
        counters(stJobs).map(_.runMs).sum / 1e3 / (cpus * dur(st)).max(1e-9)
    }
    val runs = ss.filter(_.layer == "modelrunner")
    if (runs.nonEmpty) {
      m("modelrunner.run_s") = runs.map(dur).sum
      m("modelrunner.models") = runs.size * Dag.models(Dag.BuildAsOf).size
      val runJobs = runs.map(r => r -> under(r, jobs))
      val busyUs = runJobs.map { case (r, js) =>
        js.map(j => (j.end min r.end) - (j.start max r.start)).filter(_ > 0).sum }.sum
      m("modelrunner.jobs_in_flight") = busyUs / 1e6 / m("modelrunner.run_s")
      m("modelrunner.no_job_s") =
        runs.map(r => SelfTime.idle(iv(r), jobs.map(iv)) / 1e6).sum
      m("modelrunner.attributed_jobs") = runJobs.map(_._2.size).sum
      m("modelrunner.critical_path_s") = runs.map(criticalPath).sum
      val ws = t.writes.filter(w => runs.exists(r => w._2 >= r.start && w._3 <= r.end))
      m("catalog.write_execs") = ws.size
      m("catalog.write_exec_s") = ws.map(w => (w._3 - w._2) / 1e6).sum
    }
    m("datatests.s") = total("datatests")
    m("catalog.compact_s") = ss.filter(_.name == "Catalog.compact").map(dur).sum
    m("catalog.catalog_table_s") = ss.filter(_.name == "Catalog.catalogTable").map(dur).sum
    planCounts.getOrElse(pass, Map.empty).foreach { case (k, v) => m(k) = v.toDouble }
    val fs = fsDeltas.getOrElse(pass, Map.empty)
    // the local filesystem keeps byte counts only; per-operation counts
    // (list, stat, rename, ...) exist on HDFS and the object stores
    Seq("bytesRead" -> "fs.bytes_read", "bytesWritten" -> "fs.bytes_written").foreach { case (k, name) =>
      m(name) = fs.getOrElse(k, 0L).toDouble
    }
    m.toMap
  }

  val metrics: Map[String, Double] = {
    val traced = passes.filter(_._2)
    val per = traced.map(p => passMetrics(p._1, p._5))
    val keys = per.flatMap(_.keys).distinct
    val out = mutable.LinkedHashMap[String, Double]()
    keys.foreach(k => out(k) = median(per.map(_.getOrElse(k, 0.0))))
    val tracedWall = median(traced.map(_._5))
    val plainWall = median(passes.filter(p => !p._2 && p._1 > 0).map(_._5))
    out("trace.traced_pass_s") = tracedWall
    out("trace.untraced_pass_s") = plainWall
    out("trace.overhead_s") = tracedWall - plainWall
    out("session.start_s") = median(setups.map(_("session")))
    out("catalog.register_s") = median(setups.map(_("register")))
    out("warmup_s") = median(setups.map(_("warmup")))
    if (warehouseBytes > 0) {
      out("catalog.live_bytes") = warehouseBytes.toDouble
      val last = passes.last._1
      out("write_amp") =
        fsDeltas.getOrElse(last, Map.empty).getOrElse("bytesWritten", 0L) / warehouseBytes.toDouble
    }
    out.toMap
  }

  /** Spans as JSON lines: name, layer, pass, start, end, parent. */
  def spansJson: String = spans.sortBy(_.start).map { s =>
    Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
      "pass" -> passOf(s).getOrElse(-1).toString,
      "start_us" -> s.start.toString, "end_us" -> s.end.toString))
  }.mkString("[\n", ",\n", "\n]\n")
}
