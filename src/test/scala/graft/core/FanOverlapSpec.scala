package graft.core

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext

import graft.SparkSpec

/** Pins the contract of [[Fan.overlap]]: results in input order, a lone
  * thunk inline, first-failure semantics with every future drained, and
  * the caller's `Console.out` and Spark local properties visible inside
  * the pool threads (callers capture output and tag jobs through them).
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
}
