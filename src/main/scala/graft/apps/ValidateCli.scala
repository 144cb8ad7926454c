package graft.apps

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.formats.FileType

/** `validate <center> <inputDir>` — the engine's analog of the
  * reference's `genie validate` CLI (SURVEY §3.1; validate.py:221-260).
  *
  * File types resolve through the [[FileType]] registry; each file runs
  * its format's one-pass rule battery; findings print as `<file>
  * <severity> <rule>: <message>` and the exit code is 1 when any error
  * fired.
  */
object ValidateCli {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ValidateCli <center> <inputDir>")
    val Array(center, inputDir) = args
    val spark = GraftSession.builder().getOrCreate()
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
    * Each check unit ([[FileType.units]]: the clinical sample/patient
    * pair, then one per recognized file) is independent of the others,
    * so they run as overlapped Spark actions ([[graft.core.Fan.overlap]]).
    * A check does not print: it returns its finding lines, and this
    * method prints them afterwards in unit order — clinical first, then
    * the files in sorted-name order — so stdout does not depend on
    * which check finishes first.
    */
  def run(spark: SparkSession, center: String, inputDir: String): Boolean = {
    val files = Files.list(Paths.get(inputDir)).iterator().asScala
      .map(_.toString).toSeq.sorted
    val results = graft.core.Fan.overlap(FileType.units(files, center).map { case (t, unit) => () =>
      val label = if (t == FileType.ClinicalSample) "clinical" else Paths.get(unit.head).getFileName.toString
      val res = t.check(spark, center, unit).result
      (res.findings.filter(_.count > 0).map(x => s"$label ${x.severity} ${x.rule}: ${x.message}"),
        !res.isValid)
    })
    results.foreach(_._1.foreach(println))
    results.exists(_._2)
  }
}
