package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Full-execution plan lint. [[PlanLintSpec]] inspects only the
  * RETURNED DataFrame's plan — but several queries run SIDE jobs while
  * the query function itself evaluates (index builds, vocab/centroid
  * collects, merge-contract verifies), and a scale anti-pattern hiding
  * in one of those would escape the returned-plan lint entirely.
  *
  * This spec registers a [[QueryExecutionListener]], executes EVERY
  * SparkEntry query end-to-end (the exact surface a full `graft.Verify`
  * pass runs), and asserts over every plan the session actually
  * executed:
  *
  *  - zero CartesianProductExec anywhere, side jobs included;
  *  - empty-partitionSpec WindowExec nodes are pinned to EXACT
  *    per-query counts, split by provenance:
  *     - DISTRIBUTED global windows (the subtree reads real source
  *       data) — NONE allowed: budgetSelect's bin prefix sum moved to
  *       a driver scan-left + broadcast in round 10, closing the last
  *       documented exemption;
  *     - LOCAL-RELATION global windows (every leaf of the window's
  *       subtree is driver-local: LocalTableScan / ExistingRDD) —
  *       driver-small by construction, but still pinned per query so a
  *       new one can't appear silently.
  *
  * The counts are exact, not a boolean whitelist: an allowed window
  * vanishing, or a second one appearing, both fail.
  */
class ExecutedPlanLintSpec extends SparkSpec {
  import ExecutedPlanLintSpec.allNodes

  private val sfDir = "/root/testdata/sf0.001"

  private def leaves(p: SparkPlan): Seq[SparkPlan] =
    allNodes(p).filter(n => n.children.isEmpty &&
      !n.isInstanceOf[AdaptiveSparkPlanExec] && !n.isInstanceOf[QueryStageExec])

  private def isDriverLocal(leaf: SparkPlan): Boolean = leaf match {
    case _: LocalTableScanExec | _: RDDScanExec => true
    case other => other.nodeName.contains("LocalTableScan") ||
      other.nodeName.contains("EmptyRelation")
  }

  /** query -> expected DISTRIBUTED empty-partitionSpec WindowExec count
    * across every plan executed while that query built + ran.
    */
  private val distributedExpected: Map[String, Int] = Map.empty

  /** query -> expected LOCAL-RELATION empty-partitionSpec WindowExec
    * count: windows whose whole subtree reads driver-local rows
    * (centroid/vocab/merge-step tables), each documented at its source.
    */
  private val localExpected: Map[String, Int] = Map.empty

  test("every plan executed during a full query pass obeys the lint") {
    val captured = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    @volatile var current = "<init>"
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add((current, qe))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        captured.add((current, qe))
    }
    // ISOLATED session: sbt runs suites in parallel inside the one
    // forked JVM, and a listener on the SHARED session would capture
    // every concurrent suite's executions and attribute them to
    // whatever query is current here. newSession() shares the
    // SparkContext but owns its listenerManager, so only the plans
    // this spec drives reach the capture queue.
    val s = spark.newSession()
    s.listenerManager.register(listener)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val distObserved = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val localObserved = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        current = name
        try {
          val df = fn(s, sfDir)
          // noop sink: executes the real plan through the listener-
          // covered Dataset path without materializing output
          df.write.format("noop").mode("overwrite").save()
        } catch {
          case e: Throwable => failures += s"$name: execution failed: ${e.getMessage}"
        } finally {
          // listener callbacks ride the ASYNC bus: drain it before
          // advancing `current`, or this query's last events get
          // attributed to the next query (a real failure seen in the
          // full suite — budget_select's window landed on dsir_select)
          org.apache.spark.graftbus.BusFlush.flush(s.sparkContext)
          s.catalog.clearCache()
        }
      }
      current = "<done>"
      captured.asScala.foreach { case (name, qe) =>
        val nodes = allNodes(qe.executedPlan)
        nodes.foreach {
          case _: CartesianProductExec =>
            failures += s"$name: CartesianProductExec in an executed plan"
          case w: WindowExec if w.partitionSpec.isEmpty =>
            if (leaves(w.child).forall(isDriverLocal))
              localObserved(name) += 1
            else distObserved(name) += 1
          case _ => ()
        }
      }
      (distObserved.keySet ++ distributedExpected.keySet).toSeq.sorted.foreach { n =>
        val (got, want) = (distObserved(n), distributedExpected.getOrElse(n, 0))
        if (got != want)
          failures += s"$n: $got distributed global-window node(s), expected $want"
      }
      (localObserved.keySet ++ localExpected.keySet).toSeq.sorted.foreach { n =>
        val (got, want) = (localObserved(n), localExpected.getOrElse(n, 0))
        if (got != want)
          failures += s"$n: $got local-relation global-window node(s), expected $want"
      }
      assert(captured.size > SparkEntry.queries.size,
        "listener must have captured side jobs beyond the returned plans " +
          s"(got ${captured.size} plans for ${SparkEntry.queries.size} queries)")
    } finally s.listenerManager.unregister(listener)
    assert(failures.isEmpty, "executed-plan lint violations:\n" + failures.mkString("\n"))
  }
}

object ExecutedPlanLintSpec {
  /** Every node of an executed plan: AQE final plans, query stages and
    * subqueries included. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val expanded = p match {
      case a: AdaptiveSparkPlanExec => Seq(a) ++ allNodes(a.executedPlan)
      case s: QueryStageExec => Seq(s) ++ allNodes(s.plan)
      case other => Seq(other)
    }
    expanded ++ p.children.flatMap(allNodes) ++ p.subqueries.flatMap(allNodes)
  }
}
