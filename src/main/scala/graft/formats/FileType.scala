package graft.formats

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.rules.{Finding, ValidationResult}
import graft.sources

/** What a [[FileType]] check read and found: the frames it read, in
  * the order of its paths (none when it read nothing), and their
  * validation.
  */
final case class Checked(frames: Seq[DataFrame], result: ValidationResult)

/** One GENIE upload file type — the engine's file-type registry (SURVEY
  * §1.1: each format owns a `_fileType` key, a filename pattern, a
  * reader and a validator; registry list genie_registry/__init__.py:28-42).
  * A file's type is the first value of [[FileType.all]] whose pattern
  * matches its name, the reference's registry loop (SURVEY §3.1;
  * `determine_filetype`, validate.py:63-88). `ValidateCli` and
  * `ProcessJob` type, read and validate every upload through it.
  */
sealed abstract class FileType(val key: String) {

  /** Whether the bare filename `name` is of this type in `center`'s
    * upload; an empty center accepts every center's name.
    */
  def matches(name: String, center: String): Boolean

  /** Reads the check unit `paths` — the file, or for the clinical pair
    * the sample file followed by the patient file when the upload has
    * one — and validates it.
    */
  def check(spark: SparkSession, center: String, paths: Seq[String]): Checked
}

object FileType {

  /** Every type, in the order the registry loop tries them. */
  val all: Seq[FileType] = Seq(ClinicalSample, ClinicalPatient, Maf, Vcf, Bed,
    Seg, Assay, Cna, Sv, MutationsInCis, SampleRetraction, PatientRetraction, Workflow)

  /** The type of the file at `path` (or of the bare filename) in
    * `center`'s upload.
    */
  def of(path: String, center: String = ""): Option[FileType] = {
    val name = Paths.get(path).getFileName.toString
    all.find(_.matches(name, center))
  }

  /** The clinical check unit of an upload's `paths`: its first sample
    * file, then its first patient file when it has one.
    */
  def clinicalUnit(paths: Seq[String]): Option[Seq[String]] = {
    def first(t: FileType) = paths.find(of(_).contains(t))
    first(ClinicalSample).map(_ +: first(ClinicalPatient).toSeq)
  }

  /** The check units of an upload's `paths`, in the order their
    * findings print: the clinical unit, then every other file of a
    * known type in `paths` order.
    */
  def units(paths: Seq[String], center: String): Seq[(FileType, Seq[String])] =
    clinicalUnit(paths).map(ClinicalSample -> _).toSeq ++ paths.flatMap { p =>
      of(p, center).filterNot(Set[FileType](ClinicalSample, ClinicalPatient)).map(_ -> Seq(p))
    }

  private def finding(rule: String, severity: String, message: String): ValidationResult =
    ValidationResult(Seq(Finding(rule, severity, 1, None, message)))

  /** A type whose check reads its one file with `read` and validates
    * the frame with `validate` (SURVEY §1.1: a reader and a validator).
    * A reader that rejects a malformed file with an
    * IllegalArgumentException reports it as the error `readError`; with
    * none, the exception propagates.
    */
  sealed abstract class Validated(key: String, read: (SparkSession, String) => DataFrame,
                                  validate: (DataFrame, String) => ValidationResult,
                                  readError: Option[String] = None) extends FileType(key) {
    def check(spark: SparkSession, center: String, paths: Seq[String]): Checked =
      try {
        val df = read(spark, paths.head)
        Checked(Seq(df), validate(df, center))
      } catch {
        case e: IllegalArgumentException if readError.nonEmpty =>
          Checked(Nil, finding(readError.get, "error", e.getMessage))
      }
  }

  /** Checks the clinical unit: sample and patient files validate
    * together (clinical.py), and a sample file without its patient
    * file is an error.
    */
  case object ClinicalSample extends FileType("clinical_sample") {
    def matches(name: String, center: String): Boolean = name.startsWith("data_clinical_supp_sample")
    def check(spark: SparkSession, center: String, paths: Seq[String]): Checked = paths match {
      case Seq(sp, pp) =>
        val sample  = sources.Tsv.readAllString(spark, sp)
        val patient = sources.Tsv.readAllString(spark, pp)
        Checked(Seq(sample, patient), ClinicalFormat.validate(sample, patient, center))
      case _ =>
        Checked(Nil, finding("missing_patient_file", "error",
          "sample file has no matching patient file"))
    }
  }

  /** Validated with its sample file, in [[ClinicalSample]]'s check of
    * the clinical unit; alone it has nothing to validate against.
    */
  case object ClinicalPatient extends FileType("clinical_patient") {
    def matches(name: String, center: String): Boolean = name.startsWith("data_clinical_supp_patient")
    def check(spark: SparkSession, center: String, paths: Seq[String]): Checked =
      Checked(Nil, ValidationResult(Nil))
  }

  case object Maf extends Validated("maf", sources.Maf.read, MafFormat.validate(_, _)) {
    def matches(name: String, center: String): Boolean =
      name.endsWith(".maf") || name.startsWith("data_mutations")
  }

  case object Vcf extends Validated("vcf", sources.Vcf.read, sources.Vcf.validate, Some("not_vcf")) {
    def matches(name: String, center: String): Boolean = name.endsWith(".vcf")
  }

  /** The read is the check: it rejects a header line (bed.py:420-427). */
  case object Bed extends Validated("bed", sources.Bed.read,
      (bed, _) => { bed.count(); ValidationResult(Nil) }, Some("bed_header")) {
    def matches(name: String, center: String): Boolean = name.endsWith(".bed")
  }

  case object Seg extends Validated("seg", sources.Tsv.readAllString(_, _), SegFormat.validate) {
    def matches(name: String, center: String): Boolean = name.endsWith(".seg")
  }

  case object Assay extends Validated("assay",
      (spark, path) => sources.Assay.parse(spark,
        new String(Files.readAllBytes(Paths.get(path)), "UTF-8")),
      AssayFormat.validate) {
    def matches(name: String, center: String): Boolean =
      name.endsWith(".yaml") || name.endsWith(".yml")
  }

  /** Exact `data_CNA_<center>.txt` name (cna.py:120-121). */
  case object Cna extends Validated("cna", sources.Tsv.readAllString(_, _), CnaFormat.validate(_, _)) {
    def matches(name: String, center: String): Boolean =
      name.startsWith("data_CNA") && name.endsWith(".txt") &&
        (center.isEmpty || name == s"data_CNA_$center.txt")
  }

  /** Exact name (structural_variant.py:18-19). */
  case object Sv extends Validated("sv", sources.Tsv.readAllString(_, _), SvFormat.validate) {
    def matches(name: String, center: String): Boolean = name == "data_sv.txt"
  }

  /** Exact name (mutationsInCis.py:31-33); csv with '#' comment lines
    * (mutationsInCis.py:24-29).
    */
  case object MutationsInCis extends Validated("mutationsInCis",
      _.read.option("header", "true").option("comment", "#").csv(_),
      MutationsInCisFormat.validate(_, _)) {
    def matches(name: String, center: String): Boolean = name == "mutationsInCis_filtered_samples.csv"
  }

  /** Exact-name headerless id list (sampleRetraction.py:26-27,
    * patientRetraction.py:8-9: same class, different id column). The
    * filename carries the semantics; the check only counts the ids.
    */
  sealed abstract class Retraction(key: String, val idCol: String) extends FileType(key) {
    def matches(name: String, center: String): Boolean = name == s"$key.csv"

    private def ids(spark: SparkSession, path: String): DataFrame =
      spark.read.option("header", "false").csv(path)

    /** The retraction table: the ids with their upload time and center
      * (sampleRetraction.py:19-41).
      */
    def read(spark: SparkSession, path: String, center: String): DataFrame =
      ids(spark, path).toDF(idCol)
        .withColumn("retractionDate", lit(Files.getLastModifiedTime(Paths.get(path)).toMillis))
        .withColumn("center", lit(center))

    def check(spark: SparkSession, center: String, paths: Seq[String]): Checked = {
      val df = ids(spark, paths.head)
      val n = df.count()
      Checked(Seq(df), finding("retraction_ids", "info", s"$n ids to retract"))
    }
  }
  case object SampleRetraction extends Retraction("sampleRetraction", "genieSampleId")
  case object PatientRetraction extends Retraction("patientRetraction", "geniePatientId")

  /** `{center}*.md` passthrough (workflow.py:16-19): the filename
    * pattern is the validation; the file is stored as-is.
    */
  case object Workflow extends FileType("workflow") {
    def matches(name: String, center: String): Boolean =
      name.endsWith(".md") && (center.isEmpty || name.startsWith(center))
    def check(spark: SparkSession, center: String, paths: Seq[String]): Checked =
      Checked(Nil, finding("workflow", "info", "md passthrough"))
  }
}
