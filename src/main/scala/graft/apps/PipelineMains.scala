package graft.apps

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GraftSession

/** CLI main for the processing step — parity with the reference's
  * bin/ input_to_database script (§3.2). The logic lives in
  * [[ProcessJob]] (spec-covered); this wrapper adds the file-backed
  * state a standalone run needs.
  */
object ProcessMain {

  /** State layout under `stateDir`: `file_status.parquet` (name, md5,
    * status) drives the P29 md5-skip across runs; `tables/<name>` holds
    * the current table contents the upsert merges into.
    *
    * Concurrency contract: [[ProcessJob.run]] overlaps its independent
    * file checks; here every table's `__tmp_<name>` write runs in one
    * [[graft.core.Fan.overlap]]. The swaps then run on the caller
    * thread in table order and the statuses are written last, so a
    * failed write or swap leaves the previous statuses in place (and,
    * for a failed write, every previous table). Stdout is printed after
    * all of it, in the fixed STATUS, SKIPPED, ERROR order.
    */
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ProcessMain <center> <inputDir> <stateDir>")
    val Array(center, inputDir, stateDir) = args
    // run on the caller's session when there is one (specs and the
    // benchmark drive main() inside a shared-session JVM): building
    // again would rewrite its runtime confs, shuffle partitions
    // included. Stop only a session this main created.
    val preExisting = SparkSession.getDefaultSession
    val spark = preExisting.getOrElse {
      val built = GraftSession.builder().getOrCreate()
      // the caller's session keeps the caller's log level
      built.sparkContext.setLogLevel("WARN")
      built
    }

    // state goes through the Hadoop FileSystem API, so `stateDir` may
    // live on any filesystem Spark can write (a URI with a scheme)
    val fs = new Path(stateDir).getFileSystem(spark.sessionState.newHadoopConf())
    val statusPath = s"$stateDir/file_status.parquet"
    val prior: Seq[ProcessJob.FileStatus] =
      if (fs.exists(new Path(statusPath))) {
        import spark.implicits._
        spark.read.parquet(statusPath).as[ProcessJob.FileStatus].collect().toSeq
      } else Seq.empty
    // `__`-prefixed entries are swap leftovers, never tables
    val tablesDir = new Path(s"$stateDir/tables")
    val existing: Map[String, DataFrame] =
      if (!fs.exists(tablesDir)) Map.empty
      else fs.listStatus(tablesDir).toSeq
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("__"))
        .map(s => s.getPath.getName -> spark.read.parquet(s.getPath.toString))
        .toMap

    val result = ProcessJob.run(spark, center, inputDir, prior, existing)

    // persist merged tables THEN statuses — a crash mid-write re-runs
    // the affected files next time (md5 status not yet recorded). Once
    // every overlapped write succeeded, each live table is replaced by
    // the two-rename swap, which renames it back if the new one cannot
    // be renamed in: deleting it first would lose it for good, since
    // the previous run's statuses md5-skip its unchanged source files.
    def tmp(name: String) = new Path(s"$stateDir/tables/__tmp_$name")
    graft.core.Fan.overlap(result.tables.toSeq.map { case (name, df) =>
      () => df.write.mode("overwrite").parquet(tmp(name).toString)
    })
    result.tables.keys.foreach { name =>
      val dst = new Path(s"$stateDir/tables/$name")
      if (fs.exists(dst))
        graft.sources.Layout.swapDirs(fs, dst, tmp(name),
          new Path(s"$stateDir/tables/__old_$name"), "table")
      else if (!fs.rename(tmp(name), dst))
        throw new IllegalStateException(s"table swap failed for $name")
    }
    import spark.implicits._
    result.statuses.toDF().write.mode("overwrite").parquet(statusPath)

    result.statuses.foreach(s => println(s"STATUS ${s.name}: ${s.status}"))
    result.skipped.foreach(n => println(s"SKIPPED $n (unchanged md5)"))
    result.errors.foreach { case (n, errs) =>
      errs.foreach(e => println(s"ERROR $n: $e"))
    }
    if (preExisting.isEmpty) spark.stop()
  }
}
