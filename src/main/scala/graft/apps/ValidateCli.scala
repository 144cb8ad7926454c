package graft.apps

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.formats.{ClinicalFormat, MafFormat}
import graft.sources.{Bed, Maf, Tsv, Vcf}

/** `validate <center> <inputDir>` — the engine's analog of the
  * reference's `genie validate` CLI (SURVEY §3.1; validate.py:221-260).
  *
  * File types resolve by filename pattern exactly like the reference's
  * registry loop (validate.py:63-88); each file runs its format's
  * one-pass rule battery; findings print as `<file> <severity> <rule>:
  * <message>` and the exit code is 1 when any error fired.
  */
object ValidateCli {

  def fileType(name: String, center: String = ""): String = name match {
    case n if n.startsWith("data_clinical_supp_sample")  => "clinical_sample"
    case n if n.startsWith("data_clinical_supp_patient") => "clinical_patient"
    case n if n.endsWith(".maf") || n.startsWith("data_mutations") => "maf"
    case n if n.endsWith(".vcf")                          => "vcf"
    case n if n.endsWith(".bed")                          => "bed"
    case n if n.endsWith(".seg")                          => "seg"
    case n if n.endsWith(".yaml") || n.endsWith(".yml")   => "assay"
    // exact registry names (cna.py:120-121, structural_variant.py:18-19,
    // mutationsInCis.py:31-33)
    case n if n.startsWith("data_CNA") && n.endsWith(".txt") &&
              (center.isEmpty || n == s"data_CNA_$center.txt") => "cna"
    case "data_sv.txt"                                    => "sv"
    case "mutationsInCis_filtered_samples.csv"            => "mutationsInCis"
    // exact-name retraction lists (sampleRetraction.py:26-27,
    // patientRetraction.py:8-9: same class, different id column)
    case "sampleRetraction.csv"                           => "sampleRetraction"
    case "patientRetraction.csv"                          => "patientRetraction"
    // workflow md passthrough: {center}*.md (workflow.py:16-19)
    case n if n.endsWith(".md") && (center.isEmpty || n.startsWith(center)) => "workflow"
    case _                                                => "unknown"
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ValidateCli <center> <inputDir>")
    val Array(center, inputDir) = args
    val spark = GraftSession.builder(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val anyError = run(spark, center, inputDir)
    println(if (anyError) "RESULT: INVALID" else "RESULT: VALID")
    spark.stop()
    if (anyError) sys.exit(1)
  }

  /** Validate every recognized file in `inputDir`; returns whether any
    * error-severity finding fired (the CLI's exit-code source). Split
    * from main() so specs can drive the full dispatch without sys.exit.
    *
    * Each check (the clinical sample/patient pair, then one per
    * recognized file) is independent of the others, so they run as
    * overlapped Spark actions ([[graft.core.Fan.overlap]]). A check
    * does not print: it returns its finding lines, and this method
    * prints them afterwards in a fixed order — clinical first, then
    * the files in sorted-name order — so stdout does not depend on
    * which check finishes first.
    */
  def run(spark: SparkSession, center: String, inputDir: String): Boolean = {
    val files = Files.list(Paths.get(inputDir)).iterator().asScala
      .map(_.toString).toSeq.sorted

    val samplePath  = files.find(f => fileType(Paths.get(f).getFileName.toString) == "clinical_sample")
    val patientPath = files.find(f => fileType(Paths.get(f).getFileName.toString) == "clinical_patient")
    val clinical: Option[Check] = (samplePath, patientPath) match {
      case (Some(sp), Some(pp)) => Some(() => report("clinical", ClinicalFormat.validate(
        Tsv.readAllString(spark, sp), Tsv.readAllString(spark, pp), center)))
      case (Some(_), None) => Some(() => (Seq(
        "clinical error missing_patient_file: sample file has no matching patient file"), true))
      case _ => None
    }

    val results = graft.core.Fan.overlap(clinical.toSeq ++ files.flatMap(fileCheck(spark, center, _)))
    results.foreach(_._1.foreach(println))
    results.exists(_._2)
  }

  /** One independent check: its output lines and whether an error fired. */
  private type Check = () => (Seq[String], Boolean)

  private def report(label: String, res: graft.rules.ValidationResult): (Seq[String], Boolean) =
    (res.findings.filter(_.count > 0).map(x => s"$label ${x.severity} ${x.rule}: ${x.message}"),
      !res.isValid)

  /** The check for one file, or None when its type has no validator. */
  private def fileCheck(spark: SparkSession, center: String, f: String): Option[Check] = {
    val name = Paths.get(f).getFileName.toString
    def battery(res: => graft.rules.ValidationResult): Option[Check] = Some(() => report(name, res))
    fileType(name, center) match {
      case "maf" => battery(MafFormat.validate(Maf.read(spark, f), center))
      case "vcf" => Some { () =>
        try report(name, Vcf.validate(Vcf.read(spark, f), center))
        catch {
          case e: IllegalArgumentException => (Seq(s"$name error not_vcf: ${e.getMessage}"), true)
        }
      }
      case "bed" => Some { () =>
        try { Bed.read(spark, f).count(); (Nil, false) }
        catch {
          case e: IllegalArgumentException => (Seq(s"$name error bed_header: ${e.getMessage}"), true)
        }
      }
      case "seg" => battery(graft.formats.SegFormat.validate(Tsv.readAllString(spark, f), center))
      case "assay" => battery {
        val yamlText = new String(Files.readAllBytes(Paths.get(f)), "UTF-8")
        graft.formats.AssayFormat.validate(graft.sources.Assay.parse(spark, yamlText), center)
      }
      case "cna" => battery(graft.formats.CnaFormat.validate(Tsv.readAllString(spark, f), center))
      case "sv" => battery(graft.formats.SvFormat.validate(Tsv.readAllString(spark, f), center))
      case "mutationsInCis" => battery {
        // csv with '#' comment lines (mutationsInCis.py:24-29)
        val df = spark.read.option("header", "true").option("comment", "#").csv(f)
        graft.formats.MutationsInCisFormat.validate(df, center)
      }
      case "sampleRetraction" | "patientRetraction" => Some { () =>
        // headerless single-column id list (S8); filename already
        // carries the semantics, nothing else to validate
        val n = spark.read.option("header", "false").csv(f).count()
        (Seq(s"$name info retraction_ids: $n ids to retract"), false)
      }
      case "workflow" => Some(() => (Seq(s"$name info workflow: md passthrough"), false))
      case _ => None
    }
  }
}
