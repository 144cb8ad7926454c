package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.apps.{ProcessMain, ReleaseJob, ValidateCli}
import graft.sources.{Assay, Bed, Oncotree, Tsv}
import perfbench.GenieUpload.{Delta, Upload}
import perfbench.Trace.span

/** The GENIE flow as one center-by-center pipeline run, driven through
  * the apps' public entry points. The glue between stages (how tables
  * reach the release) works around gaps in the apps that are listed in
  * perfbench/NOTES.md; it adds no logic the program lacks beyond type
  * casts and unions.
  */
abstract class GenieFlow(spark: SparkSession, work: Path, up: Upload) extends Workload {
  protected val stateRoot: Path = work.resolve("state")
  protected def state(center: String): Path = stateRoot.resolve(center)

  private var statusLines = 0L
  private var skippedLines = 0L
  private var validatedFiles = 0L
  private var rewrittenRows = 0L
  protected var changedRowsTotal = 0L

  /** ValidateCli.run over each (center, dir); returns error rules found
    * per (center, file) and whether each run reported an error. */
  protected def validate(dirs: Seq[(String, Path)]): Seq[(String, Boolean, Map[String, Set[String]])] =
    dirs.map { case (center, dir) =>
      val (anyError, lines) = Io.captured(span("ValidateCli.run", "apps") {
        ValidateCli.run(spark, center, dir.toString)
      })
      validatedFiles += Files.list(dir).count()
      val errors = lines.flatMap(ValidationLine.parse).filter(_._2 == "error")
        .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._3).toSet }
      (center, anyError, errors)
    }

  protected def checkVerdicts(ops: Ops, got: Seq[(String, Boolean, Map[String, Set[String]])],
                              expected: Map[(String, String), Set[String]]): Unit =
    got.foreach { case (center, anyError, errors) =>
      val want = expected.collect { case ((c, f), r) if c == center => f -> r }
      ops.check(s"verdicts $center", errors == want && anyError == want.nonEmpty,
        s"got $errors (anyError=$anyError), expected $want")
    }

  /** ProcessMain.main per center into its own state dir; returns the
    * STATUS and SKIPPED file names per center. */
  protected def process(dirs: Seq[(String, Path)]): Map[String, (Map[String, String], Set[String])] =
    dirs.map { case (center, dir) =>
      val (_, lines) = Io.captured(span("ProcessMain.main", "apps") {
        ProcessMain.main(Array(center, dir.toString, state(center).toString))
      })
      val statuses = lines.collect { case ProcessLine.Status(f, s) => f -> s }.toMap
      val skipped = lines.collect { case ProcessLine.Skipped(f) => f }.toSet
      statusLines += statuses.size
      skippedLines += skipped.size
      center -> (statuses, skipped)
    }.toMap

  /** Upload bytes ProcessMain read: files with a status, minus md5 skips. */
  protected def processedBytes(dirs: Seq[(String, Path)],
                               res: Map[String, (Map[String, String], Set[String])]): Long =
    dirs.map { case (center, dir) =>
      val (statuses, skipped) = res(center)
      (statuses.keySet -- skipped).toSeq.map(f => Files.size(dir.resolve(f))).sum
    }.sum

  protected def expectedStatuses(c: GenieUpload.Center): Map[String, String] = {
    val clin = if (c.invalid("clinical")) "INVALID" else "VALIDATED"
    Map(c.fileNames("clinical") -> clin, c.fileNames("patient") -> clin,
      c.fileNames("maf") -> (if (c.invalid("maf")) "INVALID" else "VALIDATED"))
  }

  /** Rows of the state tables rewritten since `sinceMs` (trace runs). */
  protected def countRewrittenRows(sinceMs: Long): Unit =
    if (Trace.enabled) span("checks", "check")(up.centers.foreach { c =>
      Seq("clinical", "maf").map(t => state(c.name).resolve("tables").resolve(t))
        .filter(p => Io.bytesWrittenSince(p, sinceMs) > 0)
        .foreach(p => rewrittenRows += spark.read.parquet(p.toString).count())
    })

  override def layerMetrics(iterations: Int): Map[String, Double] = {
    val validateSpans = Trace.spans.asScala.filter(_.name == "ValidateCli.run").map(_.id).toSet
    val validateJobs = Trace.listener.jobs.values.count(j => validateSpans(j.span))
    Map(
      "apps.md5_skip_ratio" -> (if (statusLines == 0) 0.0 else skippedLines.toDouble / statusLines),
      // the rule batteries promise one aggregation per validated file
      "formats.jobs_per_file" -> (if (validatedFiles == 0) 0.0 else validateJobs.toDouble / validatedFiles),
      "operators.rows_written_per_changed_row" ->
        (if (changedRowsTotal == 0) 0.0 else rewrittenRows.toDouble / changedRowsTotal))
  }

  protected def centerDirs(root: Path): Seq[(String, Path)] =
    up.centers.map(c => c.name -> root.resolve(c.name))

  /** Every state table of every center as a sorted row dump. */
  protected def dumpState(root: Path): Map[(String, String), Seq[String]] =
    (for {
      c <- up.centers
      t <- Seq("clinical", "maf")
      p = root.resolve(c.name).resolve("tables").resolve(t)
      if Files.exists(p)
    } yield {
      val df = spark.read.parquet(p.toString)
      val cols = df.columns.sorted
      (c.name, t) -> df.select(cols.map(col).toIndexedSeq: _*).collect().map(_.mkString("\t")).toSeq.sorted
    }).toMap
}

/** genie_cycle: validate every center, process into empty state, then
  * the consortium release (F1-F10), the full consortium folder and the
  * dashboard wiki. */
final class GenieCycle(spark: SparkSession, work: Path, up: Upload)
    extends GenieFlow(spark, work, up) {
  import GenieCycle.ReleaseRun
  private val releaseRoot = work.resolve("release")
  private val dirs = up.centers.map(c => c.name -> c.dir)
  def inputRows: Long = up.truth.uploadedRows

  def iterate(ops: Ops): Iteration = {
    Io.deleteTree(stateRoot); Io.deleteTree(releaseRoot)
    val (verdicts, validateS) = Io.time(validate(dirs))
    HeapPeak.sample()
    val t0 = System.currentTimeMillis()
    val (processed, processS) = Io.time(process(dirs))
    HeapPeak.sample()
    val written = Io.bytesWrittenSince(stateRoot, t0)
    val (out, releaseS) = Io.time(release())
    HeapPeak.sample()
    // after the release: its parquet reads would warm the release's reader
    countRewrittenRows(t0)
    changedRowsTotal += up.centers.map(c =>
      (if (c.invalid("clinical")) 0 else c.samples.size) +
        (if (c.invalid("maf")) 0 else c.variants.size)).sum

    span("checks", "check") {
      checkVerdicts(ops, verdicts, up.truth.errorRules)
      up.centers.foreach { c =>
        val (statuses, skipped) = processed(c.name)
        ops.check(s"process statuses ${c.name}", statuses == expectedStatuses(c) && skipped.isEmpty,
          s"got $statuses skipped=$skipped, expected ${expectedStatuses(c)}")
      }
      checkRelease(ops, out)
    }
    Iteration(Seq("validate" -> validateS, "process" -> processS, "release" -> releaseS),
      written, processedBytes(dirs, processed))
  }

  private def stateTable(name: String): Option[DataFrame] = {
    val parts = up.centers.map(c => state(c.name).resolve("tables").resolve(name))
      .filter(Files.exists(_)).map(p => spark.read.parquet(p.toString))
    parts.reduceOption(_ unionByName _)
  }

  /** Files of one kind that validated, read with `read`. */
  private def validFiles(kind: String)(read: Path => DataFrame): DataFrame =
    up.centers.filterNot(_.invalid(kind)).map(c => read(c.dir.resolve(c.fileNames(kind))))
      .reduce(_ unionByName _)

  private def release(): ReleaseRun = {
    val clinical = stateTable("clinical").get
    // ProcessJob stores the MAF as read (all strings); the release
    // filters compare positions and allele fractions numerically
    val maf = stateTable("maf").get
      .withColumn("START_POSITION", col("START_POSITION").cast(LongType))
      .withColumn("END_POSITION", col("END_POSITION").cast(LongType))
      .withColumn("T_DEPTH", col("T_DEPTH").cast(DoubleType))
      .withColumn("T_ALT_COUNT", col("T_ALT_COUNT").cast(DoubleType))
      .withColumn("GNOMAD_AF", col("GNOMAD_AF").cast(DoubleType))
      .join(clinical.select(col("SAMPLE_ID").as("TUMOR_SAMPLE_BARCODE"), col("SEQ_ASSAY_ID")),
        Seq("TUMOR_SAMPLE_BARCODE"))
    val beds = span("Bed.read", "sources") {
      up.centers.flatMap(c => c.panelAssays.zip(Seq("bed", "bed2")).collect {
        case (assay, kind) if !c.invalid(kind) =>
          Bed.read(spark, c.dir.resolve(c.fileNames(kind)).toString)
            .withColumn("SEQ_ASSAY_ID", lit(assay))
      }).reduce(_ unionByName _)
    }
    val assay = span("Assay.parse", "sources") {
      validFiles("assay")(p => Assay.parse(spark, new String(Files.readAllBytes(p), UTF_8)))
    }
    val oncotree = span("Oncotree.parse", "sources") {
      Oncotree.toDataFrame(spark, Oncotree.parse(new String(Files.readAllBytes(up.oncotreePath), UTF_8)))
    }
    val whitelist = Tsv.read(spark, up.whitelistPath.toString, StructType(Seq(
      StructField("CHROMOSOME", StringType), StructField("START_POSITION", LongType),
      StructField("END_POSITION", LongType))))
    val out = span("ReleaseJob.run", "apps") {
      ReleaseJob.run(ReleaseJob.ReleaseInputs(clinical, maf, beds,
        assay.select("SEQ_ASSAY_ID", "GENE_PADDING"), oncotree, whitelist))
    }
    val cnaLong = span("CnaFormat.melt", "sources") {
      validFiles("cna")(p => graft.formats.CnaFormat.melt(Tsv.readAllString(spark, p.toString)))
    }
    val seg = validFiles("seg")(p => Tsv.readAllString(spark, p.toString))
    val sv = validFiles("sv")(p => Tsv.readAllString(spark, p.toString))
    val sampleCols = Seq("SAMPLE_ID", "PATIENT_ID", "ONCOTREE_CODE", "CANCER_TYPE",
      "AGE_AT_SEQ_REPORT", "SEQ_ASSAY_ID")
    val patientCols = Seq("PATIENT_ID", "SEX", "PRIMARY_RACE", "ETHNICITY", "BIRTH_YEAR")
    val full = ReleaseJob.FullReleaseInputs(
      clinicalSample = out.clinical.select(sampleCols.map(col): _*),
      clinicalPatient = out.clinical.select(patientCols.map(col): _*).dropDuplicates("PATIENT_ID"),
      maf = out.maf, cnaLong = cnaLong, seg = seg, sv = sv,
      bed = beds.drop("INCLUDE_IN_PANEL", "CLINICAL_REPORT"), assayInfo = Assay.exportView(assay))
    val consortium = span("ReleaseJob.writeFullRelease", "apps") {
      ReleaseJob.writeFullRelease(full, releaseRoot.resolve("consortium").toString,
        "genie_bench", "15.1-consortium")
    }
    val md = span("ReleaseJob.writeDashboardWiki", "apps") {
      ReleaseJob.writeDashboardWiki(out, releaseRoot.toString, "15.1-consortium")
    }
    ReleaseRun(consortium, out.droppedSamples, md)
  }

  private def slug(s: String) = s.toLowerCase.replaceAll("[^a-z0-9]+", "_")

  private def checkRelease(ops: Ops, r: ReleaseRun): Unit = {
    val t = up.truth
    val expected = Set("assay_information.txt", "data_CNA.txt", "data_clinical.txt",
      "data_clinical_patient.txt", "data_clinical_sample.txt", "data_cna_hg19.seg",
      "data_gene_matrix.txt", "data_mutations_extended.txt", "data_sv.txt",
      "genomic_information.txt", "meta_clinical_patient.txt", "meta_clinical_sample.txt",
      "meta_mutations_extended.txt", "meta_study.txt", "data_guide.md",
      "case_lists/cases_all.txt", "case_lists/cases_sequenced.txt", "case_lists/cases_cna.txt",
      "case_lists/cases_sv.txt", "case_lists/cases_cnaseq.txt") ++
      t.panelAssays.map(a => s"data_gene_panel_$a.txt") ++
      t.cancerTypes.map(ct => s"case_lists/cases_${slug(ct)}.txt")
    ops.check("consortium manifest", r.consortium.toSet == expected,
      s"missing=${expected -- r.consortium} extra=${r.consortium.toSet -- expected}")
    val dir = releaseRoot.resolve("consortium").resolve("Release 15").resolve("15.1-consortium")
    val all = Files.readAllLines(dir.resolve("case_lists/cases_all.txt"), UTF_8).asScala
      .find(_.startsWith("case_list_ids:")).map(_.stripPrefix("case_list_ids:").trim.split("\t").toSet)
      .getOrElse(Set.empty)
    ops.check("released samples", all == t.releasedSamples,
      s"got ${all.size}, expected ${t.releasedSamples.size}")
    val variants = Files.lines(dir.resolve("data_mutations_extended.txt")).count() - 1
    ops.check("released variants", variants == t.releasedVariants,
      s"got $variants, expected ${t.releasedVariants}")
    val dropped = r.dropped.collect().map(_.getString(0)).toSet
    ops.check("dropped samples", dropped == t.droppedSamples,
      s"got ${dropped.size}, expected ${t.droppedSamples.size}")
    ops.check("dashboard total", r.dashboard.contains(s"| Total | ${t.releasedSamples.size} |"),
      "dashboard has no matching Total row")
  }
}

object GenieCycle {
  final case class ReleaseRun(consortium: Seq[String], dropped: DataFrame, dashboard: String)
}

/** genie_nightly: the re-upload into the state set-up built; only the
  * changed files are validated, every file goes through ProcessMain
  * (md5 skips the unchanged ones). */
final class GenieNightly(spark: SparkSession, work: Path, up: Upload, delta: Delta)
    extends GenieFlow(spark, work, up) {
  private val baseState = work.resolve("base_state")
  private val dirs = centerDirs(delta.upload)
  def inputRows: Long = delta.uploadedRows

  override def setup(ops: Ops): Unit = {
    Io.deleteTree(baseState)
    up.centers.foreach { c =>
      Io.captured(ProcessMain.main(Array(c.name, c.dir.toString, baseState.resolve(c.name).toString)))
    }
  }

  def iterate(ops: Ops): Iteration = {
    Io.deleteTree(stateRoot)
    Io.copyTree(baseState, stateRoot)
    val changed = delta.changed.toSeq.sortBy(_._1)
    val (verdicts, validateS) = Io.time(validate(changed))
    HeapPeak.sample()
    val t0 = System.currentTimeMillis()
    val (processed, processS) = Io.time(process(dirs))
    HeapPeak.sample()
    val written = Io.bytesWrittenSince(stateRoot, t0)
    countRewrittenRows(t0)
    changedRowsTotal += delta.changedRows

    checkVerdicts(ops, verdicts, Map.empty)
    up.centers.foreach { c =>
      val (statuses, skipped) = processed(c.name)
      val wantSkipped = expectedStatuses(c).collect { case (f, "VALIDATED") => f }.toSet --
        delta.changedFiles.getOrElse(c.name, Set.empty)
      ops.check(s"nightly statuses ${c.name}",
        statuses == expectedStatuses(c) && skipped == wantSkipped,
        s"got $statuses skipped=$skipped, expected ${expectedStatuses(c)} skipped=$wantSkipped")
    }
    Iteration(Seq("validate" -> validateS, "process" -> processS), written,
      processedBytes(dirs, processed))
  }

  /** The incrementally maintained state must equal a full rebuild from
    * the merged upload. Runs after the last iteration, untimed. */
  override def finalCheck(ops: Ops): Unit = {
    val incremental = dumpState(stateRoot)
    val rebuilt = work.resolve("rebuilt_state")
    Io.deleteTree(rebuilt)
    dirs.foreach { case (center, dir) =>
      Io.captured(ProcessMain.main(Array(center, dir.toString, rebuilt.resolve(center).toString)))
    }
    val full = dumpState(rebuilt)
    ops.check("nightly state equals full rebuild",
      incremental.nonEmpty && incremental == full,
      s"tables ${incremental.keySet} vs ${full.keySet}; differing " +
        (incremental.keySet ++ full.keySet).filter(k => incremental.get(k) != full.get(k)))
  }
}

object ValidationLine {
  private val Line = """^(\S+) (error|warning|info) ([A-Za-z0-9_]+): .*""".r
  /** (file, severity, rule) of a ValidateCli finding line. */
  def parse(l: String): Option[(String, String, String)] = l match {
    case Line(f, sev, rule) => Some((f, sev, rule))
    case _ => None
  }
}

object ProcessLine {
  object Status {
    private val R = """^STATUS (\S+): (\S+)$""".r
    def unapply(l: String): Option[(String, String)] = l match {
      case R(f, s) => Some((f, s))
      case _ => None
    }
  }
  object Skipped {
    private val R = """^SKIPPED (\S+) \(unchanged md5\)$""".r
    def unapply(l: String): Option[String] = l match {
      case R(f) => Some(f)
      case _ => None
    }
  }
}
