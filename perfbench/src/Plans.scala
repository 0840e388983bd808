package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Reads the executed plans of the actions a block runs. */
object Plans {

  /** Runs `body` and returns its result with the executions it ran. */
  def capture[A](spark: SparkSession)(body: => A): (A, Seq[QueryExecution]) = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.synchronized(seen += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val a = body
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      (a, seen.synchronized(seen.toList))
    } finally spark.listenerManager.unregister(l)
  }

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def exchanges(qe: QueryExecution): Int = nodes(qe.executedPlan).count(_.isInstanceOf[Exchange])

  /** Column names a write hands to its sink, from its optimized plan:
    * the query under a file or v2 write; None for other executions. */
  def sinkColumns(qe: QueryExecution): Option[Seq[String]] =
    qe.optimizedPlan.collectFirst {
      case w: DataWritingCommand => w.query.output.map(_.name)
      case w: V2WriteCommand => w.query.output.map(_.name)
    }

  /** Scan rows read by an execution's file or v2 scans. */
  def scannedRows(qe: QueryExecution): Long =
    nodes(qe.executedPlan).flatMap(n =>
      if (n.nodeName.contains("Scan")) n.metrics.get("numOutputRows").map(_.value) else None).sum
}
