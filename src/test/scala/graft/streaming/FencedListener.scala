package graft.streaming

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** A SparkListener that can wait until it has seen every event posted
  * before a [[drain]] call. */
abstract class FencedListener extends SparkListener {
  private val fenceGroup =
    s"listener-fence-${System.identityHashCode(this)}"
  @volatile private var fenceJob = -1
  @volatile private var fenced = false

  /** Whether a job belongs to the fence, not to the work observed. */
  protected def isFence(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(p =>
      p.getProperty("spark.jobGroup.id") == fenceGroup)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (isFence(e)) fenceJob = e.jobId

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == fenceJob) fenced = true

  /** Wait until every event posted before this call has been seen:
    * the bus delivers in order, so a fence job's end comes last. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(fenceGroup, fenceGroup)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!fenced && System.nanoTime() < deadline) Thread.sleep(5)
    assert(fenced, "the fence job's end never arrived")
  }
}
