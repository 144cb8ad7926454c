package graft.apps

import java.io.OutputStream
import java.nio.file.{Files, Paths}
import java.security.{DigestInputStream, MessageDigest}
import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fan
import graft.formats.{Checked, ClinicalFormat, FileType, MafFormat}
import graft.operators.Upsert

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

  /** P30 limits: the clinical (sample + patient) and seg files one
    * upload may hold.
    */
  val MaxClinicalFiles = 2
  val MaxSegFiles = 1

  /** P30: duplicate-filename detection — more than [[MaxClinicalFiles]]
    * clinical files or more than [[MaxSegFiles]] seg files.
    */
  def duplicatedFiles(names: Seq[String]): Seq[String] = {
    def ofTypes(ts: FileType*) = names.filter(FileType.of(_).exists(ts.contains))
    val clin = ofTypes(FileType.ClinicalSample, FileType.ClinicalPatient)
    val seg  = ofTypes(FileType.Seg)
    (if (clin.length > MaxClinicalFiles) clin else Nil) ++ (if (seg.length > MaxSegFiles) seg else Nil)
  }

  /** What one check found: the (name, md5) of each file it covers and,
    * unless every one is md5-skipped, what the registry check read and
    * found. */
  private final case class Outcome(files: Seq[(String, String)], checked: Option[Checked])

  /** `errors` holds each invalid file's error messages in input order. */
  final case class RunResult(statuses: Seq[FileStatus], skipped: Seq[String],
                             tables: Map[String, DataFrame],
                             errors: VectorMap[String, Seq[String]] = VectorMap.empty)

  /** One center run. `priorStatuses` drives the md5 skip; `existing`
    * holds current table contents for the upsert. `annotator` is the
    * mutation re-annotation seam (process_mutation.py:408-420 /
    * annotation_suite_wrapper.sh: Genome Nexus runs between validation
    * and table load): each VALID maf is annotated before its upsert —
    * at 100 TB the annotator runs per-partition where the data is
    * ([[graft.operators.PipeAnnotator]]), not driver-side.
    *
    * Files are typed, read and validated through the [[FileType]]
    * registry; the MAF and retraction tables are named by their type's
    * key.
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
    def nameOf(p: String) = Paths.get(p).getFileName.toString
    val prior = priorStatuses.map(s => (s.name, s.md5) -> s.status).toMap
    val dups  = duplicatedFiles(paths.map(nameOf)).toSet
    val typeOf = paths.map(p => p -> FileType.of(p, center)).toMap

    var statuses = Vector.empty[FileStatus]
    var skipped  = Vector.empty[String]
    var tables   = Map.empty[String, DataFrame]
    var errors   = VectorMap.empty[String, Seq[String]]

    def record(name: String, md5: String, status: String): Unit =
      statuses :+= FileStatus(name, md5, status)

    // md5 + registry check of one unit (the clinical pair or a MAF) as
    // an overlap thunk that touches no shared state; results are
    // recorded below on this thread in input order
    def check(t: FileType, unit: Seq[String]): () => Outcome = () => {
      val files = unit.map(p => nameOf(p) -> md5Of(p))
      if (files.forall(prior.get(_).contains("VALIDATED"))) Outcome(files, None)
      else Outcome(files, Some(t.check(spark, center, unit)))
    }

    // a sample file without its patient file gets no status
    val clinicalCheck = FileType.clinicalUnit(paths).collect {
      case unit @ Seq(sp, _) if !dups(nameOf(sp)) => check(FileType.ClinicalSample, unit)
    }
    val mafPaths = paths.filter(typeOf(_).contains(FileType.Maf))
    val outcomes = Fan.overlap(clinicalCheck.toSeq ++ mafPaths.map(p => check(FileType.Maf, Seq(p))))
    val clinicalOutcome = outcomes.take(clinicalCheck.size)
    val mafOutcome = mafPaths.zip(outcomes.drop(clinicalCheck.size)).toMap

    // record an outcome's statuses and errors; `load` the frames of a valid one
    def recordOutcome(o: Outcome)(load: Seq[DataFrame] => Unit): Unit = o.checked match {
      case None =>
        skipped ++= o.files.map(_._1)
        o.files.foreach { case (n, m) => record(n, m, "VALIDATED") }
      case Some(Checked(frames, res)) =>
        val st = if (res.isValid) "VALIDATED" else "INVALID"
        o.files.foreach { case (n, m) => record(n, m, st) }
        if (res.isValid) load(frames)
        else errors += o.files.head._1 -> res.errors.map(_.message)
    }

    clinicalOutcome.foreach(recordOutcome(_) { case Seq(sample, patient) =>
      val processed = ClinicalFormat.process(sample, patient, Map.empty)
      val merged = existing.get("clinical") match {
        case Some(ex) => Upsert.merge(processed, ex, Seq("SAMPLE_ID"), allowDelete = false)
        case None     => processed
      }
      tables += "clinical" -> merged
    })

    val mafTable = FileType.Maf.key
    paths.foreach { p =>
      val name = nameOf(p)
      typeOf(p) match {
        case Some(FileType.Maf) => recordOutcome(mafOutcome(p)) { case Seq(maf) =>
          // annotation between validation and load, like the reference
          val annotated = annotator.map(_.annotate(maf)).getOrElse(maf)
          // accumulate across a center's MULTIPLE maf files: each file
          // upserts against the running table, not the original state
          val base = tables.get(mafTable).orElse(existing.get(mafTable))
          val merged = base match {
            case Some(ex) => Upsert.merge(annotated, ex, MafFormat.primaryKey, allowDelete = false)
            case None     => annotated
          }
          tables += mafTable -> merged
        }
        // workflow md passthrough (genie_registry/workflow.py:11-23)
        case Some(FileType.Workflow) => record(name, md5Of(p), "VALIDATED")
        case _ if dups(name) => record(name, md5Of(p), "DUPLICATE")
        case _ => ()
      }
    }

    // retraction files LAST — deletes apply to the final upserted tables
    // (genie_registry/sampleRetraction.py:19-41, patientRetraction.py:8-9,
    // toRetract.py:37-90: samples of retracted patients cascade)
    import graft.release.Filters
    def retraction(t: FileType.Retraction, idAs: String): Option[DataFrame] =
      paths.find(typeOf(_).contains(t)).map { p =>
        record(nameOf(p), md5Of(p), "VALIDATED")
        val ids = t.read(spark, p, center)
        tables += t.key -> ids
        ids.select(col(t.idCol).as(idAs))
      }
    val sRet = retraction(FileType.SampleRetraction, "SAMPLE_ID")
    val pRet = retraction(FileType.PatientRetraction, "PATIENT_ID")
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
    tables.get(mafTable).foreach { m0 =>
      var m = m0
      (sRet.toSeq ++ cascade.toSeq).foreach { r =>
        m = Filters.retract(m,
          r.withColumnRenamed("SAMPLE_ID", "TUMOR_SAMPLE_BARCODE"), "TUMOR_SAMPLE_BARCODE")
      }
      tables += mafTable -> m
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
      maf <- tables.get(mafTable)
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
