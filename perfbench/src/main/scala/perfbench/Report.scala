package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import perfbench.Trace.{Span, unionLength}

/** Turns the traced half's spans and listener records into per-layer
  * metrics, each a per-iteration figure. Jobs submitted inside a
  * `check` span (output checks) and their stages are left out of every
  * figure. Driver time is the part of a program span during which none
  * of the remaining jobs ran.
  */
final class Report(spans: Seq[Span], l: JobListener, iterations: Int) {
  private val n = math.max(1, iterations).toDouble
  private val byId = spans.map(s => s.id -> s).toMap

  private def inCheck(id: Long): Boolean =
    byId.get(id).exists(s => s.layer == "check" || inCheck(s.parent))

  private val jobs = l.jobs.values.filter(j => j.end > 0 && !inCheck(j.span)).toSeq
  private val jobIds = jobs.map(_.id).toSet
  private val ownStages = l.stageJob.collect { case (s, j) if jobIds(j) => s }.toSet
  private def interval(j: JobRecord) = (j.start, j.end)
  private def secs(ns: Long) = ns / 1e9

  /** Wall time of [start, end) during which no counted job ran. */
  private def driverNs(start: Long, end: Long): Long =
    (end - start) - unionLength(jobs.filter(j => j.end > start && j.start < end)
      .map(j => (math.max(j.start, start), math.min(j.end, end))))

  /** Spans around the benchmark's calls into the program; the glue,
    * checks, state resets and heap samples between them are not. */
  private val programLayers = Set("apps", "sources", "functions")
  private def inProgram(id: Long): Boolean =
    byId.get(id).exists(s => programLayers(s.layer) || inProgram(s.parent))

  private def moduleStats(m: String): Map[String, Double] = {
    val js = jobs.filter(l.module(_).contains(m))
    val ids = js.map(_.id).toSet
    val st = l.stageStats.collect { case (s, v) if l.stageJob.get(s).exists(ids) => v }
    Map("jobs" -> js.size.toDouble, "tasks" -> st.map(_.tasks).sum.toDouble,
      "job_s" -> secs(unionLength(js.map(interval))),
      "cpu_s" -> st.map(_.cpuNs).sum / 1e9, "gc_s" -> st.map(_.gcMs).sum / 1e3,
      "shuffle_mb" -> st.map(_.shuffleBytes).sum / 1e6,
      "spill_mb" -> st.map(_.spillBytes).sum / 1e6, "io_mb" -> st.map(_.ioBytes).sum / 1e6)
      .map { case (k, v) => s"$m.$k" -> v / n }
  }

  private def spanStats(name: String): Map[String, Double] = {
    val own = spans.filter(s => s.name == name && s.layer == "apps")
    val wall = own.map(s => s.end - s.start).sum
    // the app's own driver-side time: its wall minus the jobs it ran
    val self = own.map(s => driverNs(s.start, s.end)).sum
    Map(s"apps.$name.wall_s" -> secs(wall) / n, s"apps.$name.self_s" -> secs(self) / n)
  }

  def metrics(workloadMetrics: Map[String, Double]): Map[String, Double] = {
    val outermost = spans.filter(s => programLayers(s.layer) && !inProgram(s.parent))
    val driver = outermost.map(s => driverNs(s.start, s.end)).sum
    val allJob = unionLength(jobs.map(interval))
    val unattributed = unionLength(jobs.filter(l.module(_).isEmpty).map(interval))
    Report.modules.flatMap(moduleStats).toMap ++
      Report.appSpans.flatMap(spanStats) ++
      workloadMetrics ++
      Map("spark.driver_s" -> secs(driver) / n,
        "spark.sched_delay_s" ->
          l.stageStats.collect { case (s, v) if ownStages(s) => v.schedDelayMs }.sum / 1e3 / n,
        "spark.stages" -> l.stagesRun.count(ownStages) / n,
        "spark.unattributed_job_s" -> secs(unattributed) / n,
        "trace.unattributed_share" -> (if (allJob == 0) 0.0 else unattributed.toDouble / allJob))
  }

  /** Spans and per-job listener records, written when the run ends. */
  def writeTrace(p: Path): Unit = {
    val s = spans.sortBy(_.start).map(x =>
      s"""{"id": ${x.id}, "name": ${Json.str(x.name)}, "layer": ${Json.str(x.layer)}, """ +
        s""""parent": ${x.parent}, "run": ${x.run}, "start_ns": ${x.start}, "end_ns": ${x.end}}""")
    val j = l.jobs.values.toSeq.map { x =>
      val st = l.stageStats.collect { case (sid, v) if l.stageJob.get(sid).contains(x.id) => v }
      s"""{"job": ${x.id}, "span": ${x.span}, "module": ${l.module(x).map(Json.str).getOrElse("null")}, """ +
        s""""site": ${Json.str(x.site)}, """ +
        s""""start_ns": ${x.start}, "end_ns": ${x.end}, "stages": ${x.stages.size}, """ +
        s""""tasks": ${st.map(_.tasks).sum}, "cpu_ns": ${st.map(_.cpuNs).sum}, """ +
        s""""gc_ms": ${st.map(_.gcMs).sum}, "shuffle_bytes": ${st.map(_.shuffleBytes).sum}, """ +
        s""""spill_bytes": ${st.map(_.spillBytes).sum}, "io_bytes": ${st.map(_.ioBytes).sum}}"""
    }
    Files.write(p, (s"""{"spans": [\n${s.mkString(",\n")}\n],\n"jobs": [\n${j.mkString(",\n")}\n]}\n""")
      .getBytes(UTF_8))
  }
}

object Report {
  val modules: Seq[String] = Seq("apps", "sources", "formats", "rules", "operators", "release",
    "stats", "functions", "plans", "core", "entry")
  val stats: Seq[String] = Seq("jobs", "tasks", "job_s", "cpu_s", "gc_s", "shuffle_mb",
    "spill_mb", "io_mb")
  val appSpans: Seq[String] = Seq("ValidateCli.run", "ProcessMain.main", "ReleaseJob.run",
    "ReleaseJob.writeFullRelease", "ReleaseJob.writeDashboardWiki")
  /** Phase figures (PhaseTimer) of the curation queries that record them. */
  val phases: Seq[String] = Seq("dedup_simhash_incremental.build", "dedup_simhash_incremental.merge",
    "text_bm25_asof.build", "text_bm25_asof.merge")

  val names: Seq[String] =
    modules.flatMap(m => stats.map(s => s"$m.$s")) ++
      appSpans.flatMap(s => Seq(s"apps.$s.wall_s", s"apps.$s.self_s")) ++
      Seq("apps.md5_skip_ratio", "formats.jobs_per_file", "operators.rows_written_per_changed_row") ++
      CurationTail.queries.map(q => s"functions.${q}_s") ++ phases.map(p => s"functions.${p}_s") ++
      Seq("core.leftover_blocks", "spark.driver_s", "spark.sched_delay_s", "spark.stages",
        "spark.unattributed_job_s", "trace.cycle_s", "trace.unattributed_share")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ratio") || name.endsWith("_share") || name.endsWith("_per_file") ||
      name.endsWith("_per_changed_row")) "ratio"
    else "count"
}
