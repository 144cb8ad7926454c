package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.core.GraftSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --bench <perfbench dir>`.
  *
  * Shape: a single closed-loop client in one JVM; each iteration starts
  * when the previous one (and its output checks) has finished. Inputs
  * are generated single-threaded from the seed before anything is
  * timed. Set-up is the session build plus any state the workload needs
  * (genie_nightly's base state). Iterations then run until `--seconds`
  * have passed, at least one; the first is JVM-cold, as every run of the
  * pipeline's apps is in production (each is its own JVM). Stage and
  * cycle times are medians over the iterations.
  *
  * With `--trace 1` the iterations run traced and give the per-layer
  * numbers; `trace.cycle_s` against an untraced run's `cycle_s` is the
  * tracing overhead.
  *
  * The last stdout line is the result JSON; lines before it name every
  * metric with its unit.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, benchDir: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("bench")).toAbsolutePath)
  }

  private val t0 = System.nanoTime()
  /** Progress on stderr with seconds since start: where a run's wall time goes. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Io.deleteTree(a.work)
    Files.createDirectories(a.work)
    val nproc = Runtime.getRuntime.availableProcessors()
    val size = UploadSize.default

    val upload = if (a.workload.startsWith("genie_"))
      Some(GenieUpload.generate(a.work.resolve("inputs"), a.seed, size)) else None
    val delta = if (a.workload == "genie_nightly")
      Some(GenieUpload.deriveNightly(upload.get, a.seed, size)) else None

    log("inputs generated")
    val (spark, sessionS) = Io.time {
      val s = GraftSession.builder(s"local[$nproc]", nproc)
        .config("spark.local.dir", a.work.resolve("spark-local").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    log("session built")
    val wl: Workload = a.workload match {
      case "genie_cycle" => new GenieCycle(spark, a.work, upload.get)
      case "genie_nightly" => new GenieNightly(spark, a.work, upload.get, delta.get)
      case "curation_tail" =>
        new CurationTail(spark, a.work, a.seed, a.benchDir.resolve("curation_pinned.tsv"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ops = new Ops
    val (_, setupS) = Io.time(wl.setup(ops))
    log("set-up done")

    def loop(seconds: Double): Seq[Iteration] = {
      val done = Seq.newBuilder[Iteration]
      var n = 0
      val t0 = System.nanoTime()
      while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val failedBefore = ops.failed
        Trace.run += 1
        val it = try Some(Trace.span("iteration", "bench")(wl.iterate(ops)))
        catch { case e: Exception => ops.check("iteration", ok = false, e.toString); None }
        if (ops.failed == failedBefore) it.foreach(done += _)
        log(s"iteration $n done")
        n += 1
      }
      done.result()
    }

    if (a.trace) Trace.enable(spark.sparkContext)
    val looped = loop(a.seconds)
    val failedBefore = ops.failed
    // traced: its jobs (nightly's full rebuild) stay out of every layer figure
    Trace.span("checks", "check")(wl.finalCheck(ops))
    log("final check done")
    // a failed end-of-run check voids every time the run took
    val its = if (ops.failed == failedBefore) looped else Nil

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val cycle = median(its.map(_.seconds))
        val written = its.map(_.bytesWritten).sum.toDouble
        val processed = its.map(_.bytesProcessed).sum.toDouble
        val stage = its.flatMap(_.stages).groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }
        Seq(("setup_s", sessionS + setupS, "s"), ("cycle_s", cycle, "s"),
          ("rows_per_s", wl.inputRows / cycle, "rows/s"),
          ("heap_peak_mb", HeapPeak.peakMb, "MB")) ++
          // printed for every workload that has them; not gated (see NOTES.md)
          Seq("validate", "process", "release").flatMap(s => stage.get(s).map(v => (s"${s}_s", v, "s"))) ++
          (if (processed > 0) Seq(("write_amp", written / processed, "ratio")) else Nil) ++
          Seq(("ops_failed_frac", ops.failed.toDouble / math.max(1, ops.attempted), "ratio"),
            ("iterations", its.size.toDouble, "count"))
      } else {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        val r = new Report(Trace.spans.asScala.toSeq, Trace.listener, its.size)
        val layer = r.metrics(wl.layerMetrics(its.size)) +
          ("trace.cycle_s" -> median(its.map(_.seconds)))
        r.writeTrace(a.work.resolve(s"trace-${a.workload}.json"))
        Report.names.map(n => (n, layer.getOrElse(n, 0.0), Report.unit(n)))
      }
    val gated = if (a.trace) Report.names.toSet else endToEnd
    metrics.foreach { case (n, v, u) => println(f"metric $n%-48s ${Json.num(v)}%s $u%s") }
    spark.stop()
    log("session stopped")
    val shown = metrics.filter(m => gated.contains(m._1))
    println(Json.result(ops.failed == 0, ops.attempted, ops.failed, shown))
  }

  /** The end-to-end metrics BENCHMARK.json gates: the ones every
    * workload has and that are never 0. */
  val endToEnd: Set[String] = Set("setup_s", "cycle_s", "rows_per_s", "heap_peak_mb")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Peak old-generation heap after a full collection. Workloads sample it
  * between stages (between queries on curation_tail), outside the timed
  * regions, so the figure is the largest live set any stage left behind
  * and does not depend on the order the stages ran in. */
object HeapPeak {
  private val old = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  var peakMb = 0.0
  def sample(): Unit = {
    // the second collection frees what Spark's ContextCleaner released
    // after the first one cleared its weak references
    System.gc()
    Thread.sleep(100)
    System.gc()
    old.foreach { p =>
      val u = Option(p.getCollectionUsage).map(_.getUsed).filter(_ > 0).getOrElse(p.getUsage.getUsed)
      peakMb = math.max(peakMb, u / 1048576.0)
    }
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

}
