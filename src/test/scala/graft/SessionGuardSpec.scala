package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Every SparkSession is configured by `graft.core.GraftSession`, and
  * the suite's shared session is the one the committed shuffle
  * ceilings assume. Reads sources and session conf only: no Spark jobs.
  */
class SessionGuardSpec extends SparkSpec {

  test("GraftSession.scala is the only file that calls the SparkSession builder") {
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    assume(roots.forall(Files.isDirectory(_)), "source tree not present")
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    val callers = roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filter((p: Path) => call.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    assert(callers == Seq("GraftSession.scala"))
  }

  test("the shared test session: 4 shuffle partitions, nanos as long, warehouse outside the cwd") {
    val conf = SparkSpec.session.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val warehouse = Paths.get(
      new org.apache.hadoop.fs.Path(conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    val cwd = Paths.get("").toAbsolutePath
    assert(warehouse.isAbsolute && !warehouse.startsWith(cwd), s"warehouse $warehouse under $cwd")
  }
}
