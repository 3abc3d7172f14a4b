package graft.streaming

import org.apache.spark.scheduler.{SparkListenerEvent,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import java.util.concurrent.ConcurrentHashMap

/** Rows read from files, per labelled location: a file scan whose
  * Location names one of `locations`' paths counts its output rows
  * under that label. Counted from each scan's "number of output rows"
  * metric; the metric's accumulator id comes with the plan of every
  * SQL execution (cached plans included), so reading a cache or a
  * checkpoint counts nothing and re-reading a file counts again. */
final class ScanRows(locations: Map[String, String])
    extends FencedListener {
  private val labelOf = new ConcurrentHashMap[Long, String]
  private val rows = new ConcurrentHashMap[String, java.lang.Long]

  private def register(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan "))
      for {
        loc <- p.metadata.get("Location")
        (label, _) <- locations.find { case (_, path) => loc.contains(path) }
        m <- p.metrics.find(_.name == "number of output rows")
      } labelOf.put(m.accumulatorId, label)
    p.children.foreach(register)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => register(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      register(u.sparkPlanInfo)
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    e.taskInfo.accumulables.foreach { a =>
      Option(labelOf.get(a.id)).foreach(label =>
        rows.merge(label, a.update.get.asInstanceOf[Long],
          (x: java.lang.Long, y: java.lang.Long) => x + y))
    }

  def apply(label: String): Long = rows.getOrDefault(label, 0L)

  override def toString: String = locations.keys.toSeq.sorted
    .map(l => s"$l=${apply(l)}").mkString("rows read: ", ", ", "")
}
