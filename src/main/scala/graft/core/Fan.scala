package graft.core

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism for CPU-bound stages over byte-small
  * inputs.
  *
  * Spark sizes scan and post-shuffle partitions by BYTES
  * (`spark.sql.files.maxPartitionBytes`, AQE's advisory partition
  * size). That is the right policy when cost ~ bytes, but the engine's
  * quadratic/heavy-per-row passes (all-pairs vector scoring, per-pair
  * set intersection, per-token digesting, Lloyd iterations) cost far
  * more CPU per byte than a columnar scan: a corpus slice that packs
  * into one 128 MB scan split — or that AQE coalesces into two
  * post-shuffle partitions — can carry minutes of single-task compute
  * while the rest of the cluster idles (the guide's §2.5 "one huge
  * unsplittable input" straggler, in byte-cheap clothing).
  *
  * [[widen]] round-robin-repartitions such an input to the cluster's
  * `defaultParallelism`, but ONLY when the optimizer's size estimate
  * says the scan cannot reach that parallelism on its own
  * (estimated bytes < maxPartitionBytes x defaultParallelism). At real
  * scale the inputs feeding these passes are orders of magnitude past
  * the threshold and widen is the identity — no extra exchange is ever
  * added on a 100 TB path; on the small side the exchange moves the
  * (projected, slim) rows once and buys full-cluster execution of the
  * expensive pass. `defaultParallelism` tracks the cluster (total
  * executor cores), not a tuned constant.
  *
  * Determinism: keyless repartition sorts locally before the
  * round-robin (SPARK-23207), so the row-to-partition assignment is
  * retry-stable; every downstream consumer in the engine is order-free
  * by discipline (bounded top-k with total tie-breaks, DECIMAL sums,
  * sort_array'd collects), so results are bit-identical with and
  * without the exchange.
  */
object Fan {

  /** Measurement kill-switch (session conf, default off): disables the
    * widen/widenBy pins so A/B runs can time the exact same plan with
    * and without them — the WidenScale scaling probe and the
    * shuffle-ceiling generator use it. Results are identical either
    * way (that is the point of widen); only the plan shape moves.
    */
  private def disabled(df: DataFrame): Boolean =
    df.sparkSession.conf.get("graft.fan.widen.off", "false") == "true"

  /** Repartition `df` to defaultParallelism iff its estimated size is
    * too small for the scan/AQE to reach that parallelism by bytes.
    */
  def widen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val threshold =
      BigInt(spark.sessionState.conf.filesMaxPartitionBytes) * p
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < threshold && !disabled(df)) df.repartition(p) else df
  }

  /** Keyed sibling of [[widen]] for row-multiplying equi-joins (LSH
    * band / pigeonhole-block self-joins): hash-partition on the join
    * key at defaultParallelism with a USER-pinned partition count, so
    * AQE cannot fold the byte-small posting shuffle onto one task and
    * serialize the (pairs-proportional) join output. The downstream
    * join on the same key reuses this exchange — no second shuffle.
    * Identity once the input is byte-big, where AQE's own sizing (and
    * its skew handling) take over.
    */
  def widenBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val threshold =
      BigInt(spark.sessionState.conf.filesMaxPartitionBytes) * p
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < threshold && !disabled(df)) df.repartition(p, keys: _*) else df
  }

  /** Overlap INDEPENDENT driver-side Spark actions (guide §2.6): Spark's
    * scheduler happily runs several jobs at once inside one application —
    * actions are only sequential because driver code calls them
    * sequentially. For a set of builds/retracts/collects over DISTINCT
    * output paths (no shared mutable state, each action deterministic on
    * its own inputs), submitting them from a small thread pool lets the
    * next job's planning and tasks back-fill the driver and executors
    * freed by the current job's tail. Results are unchanged — only the
    * wall clock moves.
    *
    * Contract: thunks write only their own outputs and do not print;
    * anything order-sensitive (stdout lines, a manifest) is returned and
    * emitted by the caller. Results come back in INPUT order whatever
    * order the thunks finish in. A single thunk runs inline on the
    * caller thread. Pool threads are created per call from the caller
    * thread, so they inherit its inheritable thread-locals: the Spark
    * local properties set on the caller and `Console.out`.
    *
    * Observability + failure semantics (guide §1.5 — job groups and
    * descriptions are thread-local): every thunk runs under a shared
    * job group with an `overlap i/n` description, so the UI attributes
    * overlapped jobs; the FIRST failure cancels the group (siblings'
    * in-flight jobs stop scheduling instead of racing the caller's
    * failure handling), every future is drained before returning, and
    * the first failure is rethrown with later ones attached as
    * suppressed.
    */
  def overlap[T](thunks: Seq[() => T], parallelism: Int = 4): Seq[T] =
    if (thunks.size <= 1) thunks.map(_.apply())
    else {
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val group = s"graft-overlap-${java.util.UUID.randomUUID().toString.take(8)}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, thunks.size))
      try {
        val futs = thunks.zipWithIndex.map { case (t, i) =>
          pool.submit(new java.util.concurrent.Callable[T] {
            def call(): T = {
              sc.foreach(_.setJobGroup(group,
                s"overlap ${i + 1}/${thunks.size}", interruptOnCancel = false))
              try t() finally sc.foreach(_.clearJobGroup())
            }
          })
        }
        var firstFailure: Option[Throwable] = None
        val results = futs.map { f =>
          try Some(f.get())
          catch {
            case e: Throwable =>
              val cause = e match {
                case ee: java.util.concurrent.ExecutionException =>
                  Option(ee.getCause).getOrElse(ee)
                case other => other
              }
              firstFailure match {
                case None =>
                  firstFailure = Some(cause)
                  // stop siblings' in-flight jobs; queued thunks then
                  // fail fast and land in suppressed below
                  sc.foreach(_.cancelJobGroup(group))
                case Some(ff) if ff ne cause => ff.addSuppressed(cause)
                case _ => ()
              }
              None
          }
        }
        firstFailure.foreach(throw _)
        results.flatten
      } finally pool.shutdown()
    }
}
