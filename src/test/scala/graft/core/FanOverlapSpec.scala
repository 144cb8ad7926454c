package graft.core

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext

import graft.SparkSpec

/** Pins the contract of [[Fan.overlap]]: results in input order, a lone
  * thunk inline, first-failure semantics with every future drained (the
  * failure that cancelled the group before the cancellations it
  * caused), and the caller's `Console.out` and Spark local properties
  * visible inside the pool threads (callers capture output and tag jobs
  * through them).
  * Nested calls share one job group, so a failure at either level
  * cancels the running jobs of the other.
  */
class FanOverlapSpec extends SparkSpec {

  test("results come back in input order, not completion order") {
    // later thunks finish first
    val thunks = (0 until 6).map(i => () => { Thread.sleep((6 - i) * 40L); i })
    assert(Fan.overlap(thunks) == (0 until 6))
    assert(Fan.overlap(Seq.empty[() => Int]).isEmpty)
  }

  test("a single thunk runs inline on the caller thread") {
    val caller = Thread.currentThread()
    assert(Fan.overlap(Seq(() => Thread.currentThread())) == Seq(caller))
    // two or more go to the pool
    assert(Fan.overlap(Seq.fill(2)(() => Thread.currentThread())).forall(_ ne caller))
  }

  test("first failure is rethrown with later ones suppressed, after every future drained") {
    val slowDone = new AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val thrown = intercept[IllegalStateException] {
      Fan.overlap(Seq(
        () => { Thread.sleep(100); throw first },
        () => throw second,
        () => { Thread.sleep(300); slowDone.set(true) }))
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq == Seq(second))
    assert(slowDone.get, "overlap returned before a sibling thunk finished")
  }

  test("caller's Console.out and Spark local properties are visible inside thunks") {
    val sc = spark.sparkContext
    val key = "graft.test.overlap.tag"
    val buf = new java.io.ByteArrayOutputStream()
    sc.setLocalProperty(key, "caller")
    try {
      val seen = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Fan.overlap((0 until 3).map { i => () =>
          Console.out.println(s"thunk $i")
          // the property reaches both the thread and the tasks of its jobs
          val inTasks = sc.parallelize(Seq(1), 1)
            .map(_ => TaskContext.get().getLocalProperty(key)).collect().toSeq
          (sc.getLocalProperty(key), inTasks)
        })
      }
      assert(seen == Seq.fill(3)(("caller", Seq("caller"))))
      assert(buf.toString("UTF-8").linesIterator.toSeq.sorted == Seq("thunk 0", "thunk 1", "thunk 2"))
    } finally sc.setLocalProperty(key, null)
  }

  /** A job of 2 tasks that runs until cancelled (or `maxMs` passes). */
  private def runUntilCancelled(maxMs: Long): Unit =
    spark.sparkContext.parallelize(1 to 2, 2).foreach { _ =>
      val ctx = TaskContext.get()
      val end = System.currentTimeMillis() + maxMs
      while (!ctx.isInterrupted() && System.currentTimeMillis() < end) Thread.sleep(10)
    }

  /** Waits until a job of the calling thunk's overlap group is running.
    * (The status tracker lags the scheduler, so any-active-job could
    * still see an earlier test's finished job.)
    */
  private def awaitRunningJob(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    def running = tracker.getJobIdsForGroup(group).exists(
      tracker.getJobInfo(_).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
    val end = System.currentTimeMillis() + 30000
    while (!running) {
      if (System.currentTimeMillis() > end) fail("no job started")
      Thread.sleep(10)
    }
  }

  test("a failure cancels an earlier sibling's running job without waiting for it") {
    val boom = new IllegalStateException("later boom")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Fan.overlap(Seq(
        () => runUntilCancelled(60000),
        () => { awaitRunningJob(); throw boom }))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, s"the earlier sibling's job ran on for $secs s")
    // the real failure comes first; the sibling's cancellation, which
    // names it, is suppressed
    assert(thrown eq boom)
    assertCancelledBy(thrown, "later boom")
  }

  /** `thrown`'s one suppressed error is a job cancellation naming `cause`. */
  private def assertCancelledBy(thrown: Throwable, cause: String): Unit = {
    val suppressed = thrown.getSuppressed.toSeq
    assert(suppressed.map(_.getClass) == Seq(classOf[org.apache.spark.SparkException]), suppressed)
    assert(suppressed.head.getMessage.contains("cancelled because an overlapped thunk failed: " +
      s"java.lang.IllegalStateException: $cause"), suppressed.head.getMessage)
  }

  test("nested overlaps return results in input order at both levels, in one job group") {
    val sc = spark.sparkContext
    val got = Fan.overlap((0 until 3).map { i => () =>
      Fan.overlap((0 until 3).map { j => () =>
        Thread.sleep((3 - j) * 30L)
        (i, j, sc.getLocalProperty("spark.jobGroup.id"))
      })
    })
    assert(got.map(_.map(t => (t._1, t._2))) ==
      (0 until 3).map(i => (0 until 3).map(j => (i, j))))
    val groups = got.flatten.map(_._3).distinct
    assert(groups.size == 1 && groups.head.startsWith("graft-overlap-"), groups)
    // the pool threads clear their group; the caller never had one
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("an inner failure cancels a sibling outer thunk's running job") {
    val boom = new IllegalStateException("inner boom")
    val t0 = System.nanoTime()
    // the outer drains in input order, so it waits on thunk 0 first:
    // only the inner overlap's cancel can stop that job early
    val thrown = intercept[IllegalStateException] {
      Fan.overlap(Seq(
        () => runUntilCancelled(60000),
        () => Fan.overlap(Seq(
          () => 1,
          () => { awaitRunningJob(); throw boom }))))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, s"the sibling's job ran on for $secs s")
    // the inner failure cancelled the group: it comes first at the outer
    // level too, ahead of the earlier sibling's cancellation
    assert(thrown eq boom)
    assertCancelledBy(thrown, "inner boom")
  }

  test("an outer failure cancels the jobs an inner overlap submitted") {
    val boom = new IllegalStateException("outer boom")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Fan.overlap(Seq(
        () => { awaitRunningJob(); throw boom },
        () => Fan.overlap(Seq(() => 1, () => runUntilCancelled(60000)))))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom)
    assert(secs < 30, s"the inner overlap's job ran on for $secs s")
    assert(thrown.getSuppressed.toSeq.map(_.getClass) ==
      Seq(classOf[org.apache.spark.SparkException]))
  }

  test("a job group that did not come from an overlap is neither joined nor cancelled") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller", interruptOnCancel = false)
    try {
      val groups = Fan.overlap(Seq.fill(2)(() => sc.getLocalProperty("spark.jobGroup.id")))
      assert(groups.forall(_.startsWith("graft-overlap-")), groups)
      intercept[IllegalStateException](Fan.overlap(Seq(() => 1, () => throw new IllegalStateException)))
      // the caller's own group still runs jobs
      assert(sc.parallelize(1 to 3).count() == 3)
    } finally sc.clearJobGroup()
  }
}
