package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table helpers shared by every entry point. [[builder]] is
  * the only place a SparkSession is configured: the apps, Bench,
  * Verify, the tools and the test suite all start from it.
  *
  * Scale notes: shuffle partitions default to the local core count here,
  * but on a real cluster the caller sets `spark.sql.shuffle.partitions`
  * (or relies on AQE coalescing, which we enable). All engine code is
  * written against whatever partitioning the session provides — no
  * hard-coded parallelism anywhere else in the library.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` if set, else every core the
    * JVM sees. The default master and shuffle partitions both use it.
    */
  private lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  // managed tables (bucketed staging) land in tmp, never the cwd — a
  // library must not scatter spark-warehouse/ dirs into user repos.
  // One dir per JVM: Upsert.stageBucketed clears a table's location
  // before it writes, so a dir shared between JVMs would let one run
  // delete another's staged table. Created once, not per builder call:
  // a builder that meets a live session never uses its warehouse.
  private lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh").toFile
    sys.addShutdownHook(org.apache.spark.network.util.JavaUtils.deleteQuietly(dir))
    dir.toString
  }

  def builder(master: String = s"local[$cores]", cpus: Int = cores): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // runtime filtering: a selective build side injects a bloom filter
      // (or semi-join keys) into the probe side's scan, cutting shuffle
      // volume for the big joins (release filters, LSH pair joins) at
      // 100 TB. Thresholds stay at Spark defaults; the spec asserts the
      // injection fires on a selective join.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // skew: let AQE split oversized partitions for the skewed joins
      // the salting utilities don't already cover
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // harness `events` table carries parquet TIMESTAMP(NANOS) which
      // Spark cannot model; read as long nanoseconds instead
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")

  /** Read one of the harness parquet tables from a scale-factor dir. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
