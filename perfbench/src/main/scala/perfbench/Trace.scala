package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Spans of one operation share `op`;
  * `parent` is the enclosing span on the same thread (0 = root). */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one job group (one benchmark operation). */
final class GroupStats {
  val jobs, stages, tasks = new LongAdder
  val jobMs, runMs, cpuMs, gcMs = new DoubleAdder
  val inputBytes, outputBytes, shuffleWriteBytes, shuffleReadBytes,
      spillBytes = new LongAdder
  /** job (start, end) wall intervals in ms since epoch */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]
}

/** The traced run's recorder. It only wraps calls the benchmark makes
  * into the engine's public functions and listens on Spark's public
  * listener buses; nothing inside the engine is changed.
  *
  *   - spans: kept in memory, written when the run ends;
  *   - SparkListener: job, stage and task metrics per job group — the
  *     benchmark sets the group on the thread that calls the engine;
  *   - QueryExecutionListener: planning-phase time per action, put in
  *     the job group of the action's jobs (through the SQL execution
  *     id they carry);
  *   - StreamingQueryListener: per-trigger durations and input rows.
  */
final class Recorder(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](op: String, name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parents.headOption.getOrElse(0L), op, name, t0,
        System.nanoTime()))
      stack.set(parents)
    }
  }

  /** Run `body` with its Spark jobs attributed to `group`. */
  def inGroup[A](group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  val groups = new ConcurrentHashMap[String, GroupStats]
  private val jobGroup = new ConcurrentHashMap[Int, String]
  /** SQL execution id → job group of the jobs it ran */
  private val execGroup = new ConcurrentHashMap[Long, String]
  private val jobStart = new ConcurrentHashMap[Int, Long]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private def stats(g: String): GroupStats =
    groups.computeIfAbsent(g, _ => new GroupStats)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("(none)")
      jobGroup.put(e.jobId, g)
      Option(e.properties).foreach { p =>
        Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
          .flatMap(k => Option(p.getProperty(k)))
          .foreach(id => execGroup.put(id.toLong, g))
      }
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageGroup.put(s, g))
      stats(g).jobs.increment()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = jobGroup.getOrDefault(e.jobId, "(none)")
      val t0 = jobStart.getOrDefault(e.jobId, e.time)
      val s = stats(g)
      s.jobMs.add((e.time - t0).toDouble)
      s.jobIntervals.add((t0, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val s = stats(stageGroup.getOrDefault(info.stageId, "(none)"))
      s.stages.increment()
      s.tasks.add(info.numTasks.toLong)
      val m = info.taskMetrics
      if (m != null) {
        s.runMs.add(m.executorRunTime.toDouble)
        s.cpuMs.add(m.executorCpuTime / 1e6)
        s.gcMs.add(m.jvmGCTime.toDouble)
        s.inputBytes.add(m.inputMetrics.bytesRead)
        s.outputBytes.add(m.outputMetrics.bytesWritten)
        s.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        s.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
        s.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** planning phase (analysis + optimization + planning) per action,
    * by the action's SQL execution id */
  private val planByExec = new ConcurrentHashMap[Long, Double]
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      planByExec.put(qe.id, qe.tracker.phases.values
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** one entry per streaming trigger: durationMs map + input rows */
  val progress = new ConcurrentLinkedQueue[(Map[String, Long], Long)]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((e.progress.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap, e.progress.numInputRows))
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** (planning ms, actions) of the actions whose jobs ran in the
    * groups matching `keep` */
  def planMs(keep: String => Boolean): (Double, Long) = {
    val ms = planByExec.asScala.toSeq.collect {
      case (id, ms) if Option(execGroup.get(id)).exists(keep) => ms }
    (ms.sum, ms.size.toLong)
  }

  /** Listener buses deliver asynchronously: give them time to drain
    * before the numbers are read. */
  def settle(): Unit = Thread.sleep(1500)

  /** Self time of the spans of the operations matching `keep`: each
    * span's duration minus the part of it its child spans cover
    * (children on one thread run one after another). By span name. */
  def selfMs(keep: String => Boolean): Map[String, Seq[Double]] = {
    val all = spans.asScala.toSeq.filter(s => keep(s.op))
    val childMs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.ms).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)) }
  }

  /** Union length (ms) of job intervals inside the groups matching
    * `keep` — the wall time during which Spark jobs of those groups
    * ran. */
  def jobWallMs(keep: String => Boolean): Double = {
    val iv = groups.asScala.collect { case (g, s) if keep(g) =>
      s.jobIntervals.asScala }.flatten.toSeq.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((c0, c1)) if a <= c1 => cur = Some((c0, math.max(c1, b)))
        case Some((c0, c1)) => total += c1 - c0; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (c0, c1) => total += c1 - c0 }
    total.toDouble
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
