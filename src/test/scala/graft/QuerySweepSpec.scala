package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbus.BusFlush
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.tools.PlanMetrics

/** The whole-surface gates over EVERY SparkEntry query at sf0.001, from
  * ONE pass that builds and executes each query once. Per query:
  *
  *  1. build the DataFrame — the side jobs the query function runs
  *     while it evaluates (index builds, vocab/centroid collects,
  *     merge-contract verifies) reach a [[QueryExecutionListener]];
  *  2. lint the initial plan (before execution AQE's `executedPlan` is
  *     the initial plan);
  *  3. execute the returned plan with [[PlanMetrics.runAndCount]] (the
  *     method the shuffle ceilings were measured with) and keep its
  *     executed plan next to the side jobs';
  *  4. read its shuffle bytes.
  *
  * Three tests read the one sweep, each reporting its own gate:
  *
  *  - initial plans: no empty-partitionSpec WindowExec (the "No
  *    Partition Defined" single-task funnel; exact per-query counts,
  *    none allowed since budgetSelect's bin prefix sum moved to a
  *    driver scan-left + broadcast in round 10) and no
  *    CartesianProductExec (the non-broadcast O(n·m) cross join;
  *    BroadcastNestedLoopJoin with a small side is fine);
  *  - executed plans, side jobs included: no CartesianProductExec, and
  *    global windows pinned to exact per-query counts split by
  *    provenance — DISTRIBUTED (the subtree reads real source data)
  *    and LOCAL-RELATION (every leaf is driver-local) — so an allowed
  *    window vanishing, or a second one appearing, both fail;
  *  - shuffle bytes written ≤ 2× the committed ceiling + 4 KiB
  *    (src/test/resources/shuffle_ceilings_sf0.001.tsv, generated by
  *    graft.tools.ShuffleBaseline after INTENTIONAL plan changes): a
  *    lost broadcast, broken pushdown or dropped partial aggregation
  *    multiplies shuffle volume long before toy-scale wall clock shows.
  *    A violation prints the query's executed (AQE final) plan, so a
  *    run-to-run join strategy flip shows in the failure itself.
  */
class QuerySweepSpec extends SparkSpec {
  import QuerySweepSpec._

  private val sfDir = "/root/testdata/sf0.001"

  /** query -> expected empty-partitionSpec WindowExec count: in the
    * initial plan, in executed plans over source data, and in executed
    * plans over driver-local rows. Every other query must plan zero.
    */
  private val globalWindowExpected = Map.empty[String, Int]
  private val distributedExpected = Map.empty[String, Int]
  private val localExpected = Map.empty[String, Int]

  private case class Sweep(initial: ArrayBuffer[String], executed: ArrayBuffer[String],
                           shuffle: ArrayBuffer[String], plans: Int)

  private lazy val sweep: Sweep = {
    val ceilings = {
      val url = getClass.getResource("/shuffle_ceilings_sf0.001.tsv")
      assert(url != null, "shuffle_ceilings_sf0.001.tsv missing from test resources")
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(url.toURI)).asScala
        .filter(_.nonEmpty)
        .map { l => val Array(n, b) = l.split("\t"); n -> b.toLong }
        .toMap
    }
    val (initial, executed, shuffle) = (ArrayBuffer[String](), ArrayBuffer[String](), ArrayBuffer[String]())
    val captured = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    @volatile var current = "<init>"
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add((current, qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        captured.add((current, qe))
    }
    // ISOLATED session: newSession() shares the SparkContext but owns
    // its listenerManager, so only the plans this spec drives reach the
    // capture queue, not those of suites sharing the JVM
    val s = spark.newSession()
    s.listenerManager.register(listener)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        current = name
        val ceiling = ceilings.get(name)
        if (ceiling.isEmpty)
          shuffle += s"$name: no committed ceiling — regenerate " +
            "shuffle_ceilings_sf0.001.tsv (graft.tools.ShuffleBaseline)"
        try {
          val df = try {
            val df = fn(s, sfDir)
            val nodes = allNodes(df.queryExecution.executedPlan)
            val globalWindows = nodes.count {
              case w: WindowExec => w.partitionSpec.isEmpty
              case _ => false
            }
            val expected = globalWindowExpected.getOrElse(name, 0)
            if (globalWindows != expected)
              initial += s"$name: $globalWindows empty-partitionSpec WindowExec node(s), expected $expected"
            if (nodes.exists(_.isInstanceOf[CartesianProductExec]))
              initial += s"$name: CartesianProductExec (non-broadcast cross join)"
            df
          } catch {
            case e: Throwable =>
              initial += s"$name: plan construction failed: ${e.getMessage}"
              throw e
          }
          PlanMetrics.runAndCount(df)
          // toRdd does not notify the listener
          captured.add((name, df.queryExecution))
          val bytes = PlanMetrics.shuffleBytesWritten(df)
          // 2x the committed number + one page of absolute slack so
          // byte-level compression jitter on tiny shuffles can't flake
          ceiling.foreach { c =>
            val budget = 2L * c + 4096L
            if (bytes > budget)
              shuffle += f"$name: shuffled $bytes%,d bytes > budget $budget%,d " +
                f"(committed ceiling $c%,d) — plan regression or regenerate ceilings" +
                s"\nexecuted (AQE final) plan:\n${PlanMetrics.finalPlan(df).treeString}"
          }
        } catch {
          case e: Throwable =>
            executed += s"$name: execution failed: ${e.getMessage}"
            if (ceiling.isDefined) shuffle += s"$name: execution failed: ${e.getMessage}"
        } finally {
          // listener callbacks ride the ASYNC bus: drain it before
          // advancing `current`, or this query's last events get
          // attributed to the next query
          BusFlush.flush(s.sparkContext)
          s.catalog.clearCache()
        }
      }
      current = "<done>"
    } finally s.listenerManager.unregister(listener)

    val distObserved = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val localObserved = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    captured.asScala.foreach { case (name, qe) =>
      allNodes(qe.executedPlan).foreach {
        case _: CartesianProductExec =>
          executed += s"$name: CartesianProductExec in an executed plan"
        case w: WindowExec if w.partitionSpec.isEmpty =>
          if (leaves(w.child).forall(isDriverLocal)) localObserved(name) += 1
          else distObserved(name) += 1
        case _ => ()
      }
    }
    Seq(("distributed", distObserved, distributedExpected),
        ("local-relation", localObserved, localExpected)).foreach { case (kind, observed, want) =>
      (observed.keySet ++ want.keySet).toSeq.sorted.foreach { n =>
        if (observed(n) != want.getOrElse(n, 0))
          executed += s"$n: ${observed(n)} $kind global-window node(s), expected ${want.getOrElse(n, 0)}"
      }
    }
    Sweep(initial, executed, shuffle, captured.size)
  }

  test("no query plans a single-partition window or a cartesian product") {
    assert(sweep.initial.isEmpty, "plan lint violations:\n" + sweep.initial.mkString("\n"))
  }

  test("every plan executed during a full query pass obeys the lint") {
    assert(sweep.plans > SparkEntry.queries.size,
      "listener must have captured side jobs beyond the returned plans " +
        s"(got ${sweep.plans} plans for ${SparkEntry.queries.size} queries)")
    assert(sweep.executed.isEmpty, "executed-plan lint violations:\n" + sweep.executed.mkString("\n"))
  }

  test("every query stays within 2x its committed shuffle ceiling") {
    assert(sweep.shuffle.isEmpty, "shuffle budget violations:\n" + sweep.shuffle.mkString("\n"))
  }
}

object QuerySweepSpec {
  /** Every node of a physical plan: AQE plans (initial before
    * execution, final after), query stages and subqueries included. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val expanded = p match {
      case a: AdaptiveSparkPlanExec => Seq(a) ++ allNodes(a.executedPlan)
      case s: QueryStageExec => Seq(s) ++ allNodes(s.plan)
      case other => Seq(other)
    }
    expanded ++ p.children.flatMap(allNodes) ++ p.subqueries.flatMap(allNodes)
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] =
    allNodes(p).filter(n => n.children.isEmpty &&
      !n.isInstanceOf[AdaptiveSparkPlanExec] && !n.isInstanceOf[QueryStageExec])

  private def isDriverLocal(leaf: SparkPlan): Boolean = leaf match {
    case _: LocalTableScanExec | _: RDDScanExec => true
    case other => other.nodeName.contains("LocalTableScan") ||
      other.nodeName.contains("EmptyRelation")
  }
}
