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

  /** defaultParallelism, when the optimizer's size estimate says `df`
    * is too small for the scan/AQE to reach it by bytes; None otherwise.
    */
  private def starvedParallelism(df: DataFrame): Option[Int] = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val threshold =
      BigInt(spark.sessionState.conf.filesMaxPartitionBytes) * p
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < threshold) Some(p) else None
  }

  /** Repartition `df` to defaultParallelism iff its estimated size is
    * too small for the scan/AQE to reach that parallelism by bytes.
    */
  def widen(df: DataFrame): DataFrame =
    starvedParallelism(df).fold(df)(df.repartition(_))

  /** Keyed sibling of [[widen]] for row-multiplying equi-joins (LSH
    * band / pigeonhole-block self-joins): hash-partition on the join
    * key at defaultParallelism with a USER-pinned partition count, so
    * AQE cannot fold the byte-small posting shuffle onto one task and
    * serialize the (pairs-proportional) join output. The downstream
    * join on the same key reuses this exchange — no second shuffle.
    * Identity once the input is byte-big, where AQE's own sizing (and
    * its skew handling) take over.
    */
  def widenBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    starvedParallelism(df).fold(df)(df.repartition(_, keys: _*))

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
    * overlapped jobs; the FIRST failure, when it happens, cancels the
    * group and its future jobs (siblings' in-flight jobs stop
    * scheduling and their later jobs fail fast instead of racing the
    * caller's failure handling) and every future is drained before
    * returning. The failure that cancelled the group is rethrown when
    * the cancel stopped a sibling's job (its `SPARK_JOB_CANCELLED`
    * error names that failure); otherwise the first failure in input
    * order is. Every other failure is attached as suppressed.
    *
    * Nesting: a thunk may itself call `overlap` (a per-file check whose
    * validator overlaps its own actions, each a rule battery that
    * overlaps its rule and key aggregations), so every level multiplies
    * the pool threads that run at once by up to `parallelism`. An inner call joins the overlap group
    * its thread inherited instead of opening a new one, so a failure at
    * either level cancels the jobs of both: an inner failure stops an
    * outer sibling's running job, and the outer call's cancel stops the
    * jobs the inner call submitted. The cancelling failure is shared by
    * the nested calls and found by identity, so the outer call rethrows
    * an inner failure, not the cancellation it caused in an outer
    * sibling. A job group that did not come from an overlap is never
    * joined or cancelled. Since an inner failure cancels the whole
    * group, a thunk must not catch and recover from the failure of an
    * `overlap` it calls.
    */
  private val GroupPrefix = "graft-overlap-"

  /** The failure that cancelled each live overlap group. */
  private val cancellers = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()

  /** Whether `e`, or an exception it wraps, is a Spark job's cancellation. */
  @annotation.tailrec
  private def isCancellation(e: Throwable): Boolean = e match {
    case null => false
    case se: org.apache.spark.SparkException if se.getCondition == "SPARK_JOB_CANCELLED" => true
    case _ => isCancellation(e.getCause)
  }

  def overlap[T](thunks: Seq[() => T], parallelism: Int = 4): Seq[T] =
    if (thunks.size <= 1) thunks.map(_.apply())
    else {
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext)
      // an enclosing overlap's group, inherited through the local properties
      val outer = sc.flatMap(c => Option(c.getLocalProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
      val group = outer.getOrElse(s"$GroupPrefix${java.util.UUID.randomUUID().toString.take(8)}")
      // stop siblings' in-flight jobs as soon as a thunk fails; their
      // later jobs then fail fast and land in suppressed below
      def cancel(cause: Throwable): Unit =
        if (cancellers.putIfAbsent(group, cause) == null)
          sc.foreach(_.cancelJobGroupAndFutureJobs(group,
            s"because an overlapped thunk failed: $cause"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, thunks.size))
      try {
        val futs = thunks.zipWithIndex.map { case (t, i) =>
          pool.submit(new java.util.concurrent.Callable[T] {
            def call(): T = {
              sc.foreach(_.setJobGroup(group,
                s"overlap ${i + 1}/${thunks.size}", interruptOnCancel = false))
              try t()
              catch { case e: Throwable => cancel(e); throw e }
              finally sc.foreach(_.clearJobGroup())
            }
          })
        }
        val outcomes = futs.map { f =>
          try Right(f.get())
          catch {
            case e: Throwable =>
              val cause = e match {
                case ee: java.util.concurrent.ExecutionException =>
                  Option(ee.getCause).getOrElse(ee)
                case other => other
              }
              cancel(cause)
              Left(cause)
          }
        }
        val failures = outcomes.collect { case Left(e) => e }.distinct
        if (failures.nonEmpty) {
          // with no cancellation among them, the first real failure is
          // the first in input order
          val canceller = cancellers.get(group)
          val first = failures.find(_ eq canceller).filter(_ => failures.exists(isCancellation))
            .orElse(failures.find(!isCancellation(_))).getOrElse(failures.head)
          failures.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        }
        outcomes.collect { case Right(r) => r }
      } finally {
        pool.shutdown()
        if (outer.isEmpty) cancellers.remove(group)
      }
    }
}
