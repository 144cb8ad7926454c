package graft.apps

import java.io.OutputStream
import java.nio.file.{Files, Paths}
import java.security.{DigestInputStream, MessageDigest}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fan
import graft.formats.{ClinicalFormat, MafFormat}
import graft.operators.Upsert
import graft.rules.ValidationResult
import graft.sources.{Maf, Tsv}

/** Center input → database orchestration (SURVEY §3.2; reference
  * bin/input_to_database.py).
  *
  * Per center run:
  *  1. walk the input dir, md5 each file (driver-side — these are
  *     uploads, not data-lake scale);
  *  2. P29: skip files whose (name, md5) matches the status table from
  *     the previous run (input_to_database.py:98-102);
  *  3. P30: reject duplicate-pattern uploads (≤1 seg, ≤2 clinical,
  *     input_to_database.py:479-515);
  *  4. validate each remaining file with its format battery;
  *  5. process valid files and PK-upsert them into the engine tables
  *     (Upsert.merge ≡ load.update_table);
  *  6. emit the new status table (name, md5, status) for the next run.
  */
object ProcessJob {

  final case class FileStatus(name: String, md5: String, status: String)

  /** Hex md5 of the file, streamed: uploads of 2 GiB and more hash too. */
  def md5Of(path: String): String = {
    val in = new DigestInputStream(Files.newInputStream(Paths.get(path)),
      MessageDigest.getInstance("MD5"))
    try in.transferTo(OutputStream.nullOutputStream()) finally in.close()
    in.getMessageDigest.digest().map("%02x".format(_)).mkString
  }

  /** P30: duplicate-filename detection. */
  def duplicatedFiles(names: Seq[String]): Seq[String] = {
    val clin = names.filter(n => n.startsWith("data_clinical_supp"))
    val seg  = names.filter(n => n.endsWith(".seg"))
    (if (clin.length > 2) clin else Nil) ++ (if (seg.length > 1) seg else Nil)
  }

  /** What one check found: the (name, md5) of each file it covers and,
    * unless every one is md5-skipped, the frames it read with their
    * validation. */
  private final case class Checked(files: Seq[(String, String)],
                                   validated: Option[(Seq[DataFrame], ValidationResult)])

  final case class RunResult(statuses: Seq[FileStatus], skipped: Seq[String],
                             tables: Map[String, DataFrame],
                             errors: Map[String, Seq[String]] = Map.empty)

  /** One center run. `priorStatuses` drives the md5 skip; `existing`
    * holds current table contents for the upsert. `annotator` is the
    * mutation re-annotation seam (process_mutation.py:408-420 /
    * annotation_suite_wrapper.sh: Genome Nexus runs between validation
    * and table load): each VALID maf is annotated before its upsert —
    * at 100 TB the annotator runs per-partition where the data is
    * ([[graft.operators.PipeAnnotator]]), not driver-side.
    *
    * Concurrency contract: the clinical pair's md5 + read + validate
    * and each MAF's md5 + read + validate are independent thunks run
    * through [[graft.core.Fan.overlap]]; they return what they found
    * and update no shared state. Their results then fold on the caller
    * thread in input order — clinical first, then files in sorted-name
    * order — into the statuses, skips, errors and tables, so each MAF
    * still upserts against the running table in that order and the
    * result does not depend on which check finished first.
    */
  def run(spark: SparkSession, center: String, inputDir: String,
          priorStatuses: Seq[FileStatus],
          existing: Map[String, DataFrame],
          annotator: Option[graft.operators.Annotator] = None,
          errorReportDir: Option[String] = None): RunResult = {
    val paths = Files.list(Paths.get(inputDir)).iterator().asScala
      .map(_.toString).toSeq.sorted
    val names = paths.map(p => Paths.get(p).getFileName.toString)
    val prior = priorStatuses.map(s => (s.name, s.md5) -> s.status).toMap
    val dups  = duplicatedFiles(names).toSet

    var statuses = Vector.empty[FileStatus]
    var skipped  = Vector.empty[String]
    var tables   = Map.empty[String, DataFrame]
    var errors   = Map.empty[String, Seq[String]]

    def record(name: String, md5: String, status: String): Unit =
      statuses :+= FileStatus(name, md5, status)

    def recordErrors(name: String, res: ValidationResult): Unit =
      if (!res.isValid) errors += name -> res.errors.map(_.message)

    // one filename → type decision, shared with the validator
    def typeOf(p: String): String =
      ValidateCli.fileType(Paths.get(p).getFileName.toString, center)

    // md5 + read + validate of one unit (the clinical pair or a MAF) as
    // an overlap thunk that touches no shared state; results are
    // recorded below on this thread in input order
    def check(ps: Seq[String])(validate: => (Seq[DataFrame], ValidationResult)): () => Checked =
      () => {
        val files = ps.map(p => Paths.get(p).getFileName.toString -> md5Of(p))
        if (files.forall(prior.get(_).contains("VALIDATED"))) Checked(files, None)
        else Checked(files, Some(validate))
      }

    val samplePath  = paths.find(typeOf(_) == "clinical_sample")
    val patientPath = paths.find(typeOf(_) == "clinical_patient")
    val clinicalCheck = (samplePath, patientPath) match {
      case (Some(sp), Some(pp)) if !dups(Paths.get(sp).getFileName.toString) =>
        Some(check(Seq(sp, pp)) {
          val sample  = Tsv.readAllString(spark, sp)
          val patient = Tsv.readAllString(spark, pp)
          (Seq(sample, patient), ClinicalFormat.validate(sample, patient, center))
        })
      case _ => None
    }
    val mafPaths = paths.filter(typeOf(_) == "maf")
    val mafChecks = mafPaths.map(p => check(Seq(p)) {
      val maf = Maf.read(spark, p)
      (Seq(maf), MafFormat.validate(maf, center))
    })
    val checked = Fan.overlap(clinicalCheck.toSeq ++ mafChecks)
    val clinicalChecked = checked.take(clinicalCheck.size)
    val mafChecked = mafPaths.zip(checked.drop(clinicalCheck.size)).toMap

    // record a check's statuses and errors; `load` the frames of a valid one
    def recordCheck(c: Checked)(load: Seq[DataFrame] => Unit): Unit = c.validated match {
      case None =>
        skipped ++= c.files.map(_._1)
        c.files.foreach { case (n, m) => record(n, m, "VALIDATED") }
      case Some((frames, res)) =>
        val st = if (res.isValid) "VALIDATED" else "INVALID"
        c.files.foreach { case (n, m) => record(n, m, st) }
        recordErrors(c.files.head._1, res)
        if (res.isValid) load(frames)
    }

    clinicalChecked.foreach(recordCheck(_) { case Seq(sample, patient) =>
      val processed = ClinicalFormat.process(sample, patient, Map.empty)
      val merged = existing.get("clinical") match {
        case Some(ex) => Upsert.merge(processed, ex, Seq("SAMPLE_ID"), allowDelete = false)
        case None     => processed
      }
      tables += "clinical" -> merged
    })

    paths.foreach { p =>
      val name = Paths.get(p).getFileName.toString
      val kind = typeOf(p)
      if (kind == "maf") recordCheck(mafChecked(p)) { case Seq(maf) =>
        val pk = Seq("CHROMOSOME", "START_POSITION", "REFERENCE_ALLELE",
          "TUMOR_SAMPLE_BARCODE", "TUMOR_SEQ_ALLELE2")
        // annotation between validation and load, like the reference
        val annotated = annotator.map(_.annotate(maf)).getOrElse(maf)
        // accumulate across a center's MULTIPLE maf files: each file
        // upserts against the running table, not the original state
        val base = tables.get("maf").orElse(existing.get("maf"))
        val merged = base match {
          case Some(ex) => Upsert.merge(annotated, ex, pk, allowDelete = false)
          case None     => annotated
        }
        tables += "maf" -> merged
      } else if (kind == "workflow") {
        // workflow md passthrough (genie_registry/workflow.py:11-23):
        // filename pattern IS the validation; file is stored as-is
        record(name, md5Of(p), "VALIDATED")
      } else if (dups(name)) {
        record(name, md5Of(p), "DUPLICATE")
      }
    }

    // retraction files LAST — deletes apply to the final upserted tables
    // (genie_registry/sampleRetraction.py:19-41, patientRetraction.py:8-9,
    // toRetract.py:37-90: samples of retracted patients cascade)
    import graft.release.Filters
    import org.apache.spark.sql.functions.{col, lit}
    def readRetraction(p: String, idCol: String): DataFrame =
      spark.read.option("header", "false").csv(p).toDF(idCol)
        .withColumn("retractionDate",
          lit(Files.getLastModifiedTime(Paths.get(p)).toMillis))
        .withColumn("center", lit(center))

    paths.find(typeOf(_) == "sampleRetraction").foreach { p =>
      record("sampleRetraction.csv", md5Of(p), "VALIDATED")
      tables += "sampleRetraction" -> readRetraction(p, "genieSampleId")
    }
    paths.find(typeOf(_) == "patientRetraction").foreach { p =>
      record("patientRetraction.csv", md5Of(p), "VALIDATED")
      tables += "patientRetraction" -> readRetraction(p, "geniePatientId")
    }
    val sRet = tables.get("sampleRetraction")
      .map(_.select(col("genieSampleId").as("SAMPLE_ID")))
    val pRet = tables.get("patientRetraction")
      .map(_.select(col("geniePatientId").as("PATIENT_ID")))
    // patient cascade: the retracted patients' sample ids, captured from
    // clinical BEFORE the clinical delete
    val cascade = for { c <- tables.get("clinical"); r <- pRet }
      yield c.join(r, Seq("PATIENT_ID"), "left_semi").select("SAMPLE_ID")
    tables.get("clinical").foreach { c0 =>
      var c = c0
      sRet.foreach(r => c = Filters.retract(c, r, "SAMPLE_ID"))
      pRet.foreach(r => c = Filters.retract(c, r, "PATIENT_ID"))
      tables += "clinical" -> c
    }
    tables.get("maf").foreach { m0 =>
      var m = m0
      (sRet.toSeq ++ cascade.toSeq).foreach { r =>
        m = Filters.retract(m,
          r.withColumnRenamed("SAMPLE_ID", "TUMOR_SAMPLE_BARCODE"), "TUMOR_SAMPLE_BARCODE")
      }
      tables += "maf" -> m
    }

    // failed-annotation error report (process_mutation.py:309-363:
    // concat_annotation_error_reports tags rows with Center,
    // store_annotation_error_reports writes ONE TSV, and
    // check_annotation_error_reports QCs report rows == the maf table's
    // Annotation_Status='FAILED' rows — written from the FINAL maf so
    // that parity holds by construction). Distributed filter + one-file
    // sink; the report is failure-sized, not corpus-sized.
    for {
      dir <- errorReportDir
      maf <- tables.get("maf")
      statusCol <- maf.columns.find(_.equalsIgnoreCase("Annotation_Status"))
    } {
      val failed = maf.filter(col(statusCol) === "FAILED")
        .withColumn("Center", lit(center))
      graft.sources.Tsv.writeSingle(failed,
        s"$dir/failed_annotations_error_report.txt")
    }

    RunResult(statuses, skipped, tables, errors)
  }
}
