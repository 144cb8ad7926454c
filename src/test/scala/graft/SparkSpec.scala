package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one per JVM; sbt forks once). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  /** A fresh dir in this JVM's scratch, so it is deleted at exit. */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(SparkSpec.scratch, prefix).toString
}

object SparkSpec {
  private lazy val scratch = java.nio.file.Files.createDirectories(
    java.nio.file.Paths.get(graft.core.GraftSession.scratch("specs")))

  lazy val session: SparkSession = {
    // fixed at 4 cores whatever the box: the committed shuffle ceilings
    // (QuerySweepSpec) were measured at 4 partitions
    val s = graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
