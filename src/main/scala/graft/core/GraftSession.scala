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

  /** A per-JVM scratch path, `<java.io.tmpdir>/graft_<nonce>_<name>`.
    * The nonce keeps two JVMs on the same inputs (a Bench run beside
    * `sbt test`) from overwriting each other's in-flight scratch, and
    * keeps a fresh JVM from reading a stale artifact. A shutdown hook
    * deletes this JVM's paths; a killed JVM never runs it, so the first
    * call also deletes every `graft_*` entry untouched for over 6 h — it
    * belongs to no live run (suite and bench finish well inside that),
    * and a concurrent live JVM's entries have fresh mtimes.
    */
  def scratch(name: String): String = s"$tmpDir/graft_${nonce}_$name"

  private val tmpDir = sys.props("java.io.tmpdir")

  private lazy val nonce: String = {
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    def entries(keep: java.io.File => Boolean): Seq[java.io.File] =
      Option(new java.io.File(tmpDir).listFiles).toSeq.flatten.filter(keep)
    val staleMs = 6L * 3600 * 1000
    val now = System.currentTimeMillis
    entries(f => f.getName.startsWith("graft_") && now - f.lastModified > staleMs)
      .foreach(org.apache.spark.network.util.JavaUtils.deleteQuietly)
    sys.addShutdownHook(entries(_.getName.startsWith(s"graft_${nonce}_"))
      .foreach(org.apache.spark.network.util.JavaUtils.deleteQuietly))
    nonce
  }

  // managed tables (bucketed staging) land in this JVM's scratch, never
  // the cwd — a library must not scatter spark-warehouse/ dirs into user
  // repos — and never in a dir shared between JVMs: Upsert.stageBucketed
  // clears a table's location before it writes, so a shared dir would
  // let one run delete another's staged table.
  private lazy val warehouse: String = scratch("warehouse")

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
