package graft.streaming

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The physical node names of every SQL execution started (or
  * re-planned by AQE) while attached, one set per event. */
final class SqlPlans extends FencedListener {
  private val plans =
    new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]

  private def names(p: SparkPlanInfo): Set[String] =
    p.children.flatMap(names).toSet + p.nodeName

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      plans.add(names(s.sparkPlanInfo))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      plans.add(names(u.sparkPlanInfo))
    case _ =>
  }

  def nodeNames: Seq[Set[String]] = {
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }
}
