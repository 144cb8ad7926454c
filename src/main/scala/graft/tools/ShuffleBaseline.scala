package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.GraftSession

/** Dump every SparkEntry query's shuffle-bytes-written at a given scale
  * factor — the generator for the committed per-query shuffle ceilings
  * (src/test/resources/shuffle_ceilings_sf0.001.tsv) that
  * QuerySweepSpec gates against. Regenerate after INTENTIONAL plan
  * changes:
  *
  *   sbt "runMain graft.tools.ShuffleBaseline /root/testdata/sf0.001 \
  *     src/test/resources/shuffle_ceilings_sf0.001.tsv"
  *
  * A future regression (lost broadcast, broken pushdown, dropped
  * partial aggregation) shows up as a 2x breach of the committed
  * number and fails CI instead of only surfacing in bench diffs.
  */
object ShuffleBaseline {
  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = (args(0), args(1))
    // optional 3rd arg: comma list of query names — measure only those
    // and MERGE into the existing file (adding a query shouldn't cost
    // a full-suite re-measure)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    // fixed at 4 partitions whatever the box: the committed ceilings
    // were measured there, and QuerySweepSpec gates at local[4]
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val measured = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val df = fn(spark, sfDir)
        PlanMetrics.runAndCount(df)
        val bytes = PlanMetrics.shuffleBytesWritten(df)
        spark.catalog.clearCache()
        name -> bytes
      }
    val existing: Seq[(String, Long)] =
      if (only.isDefined && Files.exists(Paths.get(outFile)))
        Files.readAllLines(Paths.get(outFile)).asScala.toSeq
          .filter(_.nonEmpty)
          .map { l => val Array(n, b) = l.split("\t"); n -> b.toLong }
      else Seq.empty
    val merged = (existing.toMap ++ measured.toMap).toSeq.sortBy(_._1)
    val lines = merged.map { case (n, b) => s"$n\t$b" }
    Files.write(Paths.get(outFile),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    println(s"wrote ${lines.size} ceilings to $outFile (${measured.size} measured)")
    spark.stop()
  }
}
