package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What one workload run hands back: end-to-end metrics, per-layer
  * metrics (traced run only), operation counts, and details written to
  * the result file next to them. */
final class Outcome {
  val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val layers = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  val detail: ObjectNode = Main.mapper.createObjectNode()
}

/** Entry point of the benchmark JVM (launched by run.py):
  * `perfbench.Main --workload W --work DIR --tables DIR --seconds S
  *  --trace 0|1 --out FILE`. `serve`'s inputs come from the work
  * directory (written by gen.py from the seed), `catalog`'s tables from
  * `--tables`; the outcome is written as JSON to FILE. */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = loadAvg()
    val spark = session(cores, work)
    val rec = if (trace) Some(new Recorder(spark)) else None
    val env = Env(spark, cores, work, opt("tables"), seconds, rec)
    val out = opt("workload") match {
      case "catalog" => CatalogWorkload.run(env)
      case "serve" => ServeWorkload.run(env)
      case w => sys.error(s"unknown workload $w")
    }
    out.metrics("heap_retained_mb") = (retainedHeapMb(), "MB")
    rec.foreach(_.close())
    val root = mapper.createObjectNode()
    def put(name: String, m: collection.Map[String, (Double, String)]) = {
      val o = root.putObject(name)
      m.foreach { case (k, (v, u)) =>
        o.putObject(k).put("value", v).put("unit", u) }
    }
    put("metrics", out.metrics)
    put("layers", out.layers)
    root.put("attempted", out.attempted).put("failed", out.failed)
    root.set[ObjectNode]("detail", out.detail)
    root.putObject("env")
      .put("nproc", cores)
      .put("heap_max_mb",
        Runtime.getRuntime.maxMemory / (1024.0 * 1024))
      .put("load_start", loadStart)
      .put("load_end", loadAvg())
      .put("spark", spark.version)
    Files.writeString(Paths.get(opt("out")),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    spark.stop()
  }

  /** The pinned session: `local[nproc]`, shuffle partitions = nproc, AQE
    * on. The engine's `Tables.perfConf` goes first and the pinned
    * settings after, so they win over any overlapping key. Scratch
    * space stays inside the run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
    graft.Tables.perfConf.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap still in use after a full collection, once the workload is
    * done but the session (and whatever it caches) is still open. */
  def retainedHeapMb(): Double = {
    // the second collection reclaims what Spark's cleaner released
    // after the first one (broadcasts, shuffle and cached blocks)
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(500) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024)
  }

  def loadAvg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split("\\s+").take(3).mkString(" ")
}

final case class Env(spark: SparkSession, cores: Int, work: String,
                     tables: String, seconds: Double,
                     rec: Option[Recorder]) {
  def traced: Boolean = rec.isDefined
  /** time `body` as span `name` of operation `op` when tracing */
  def span[A](op: String, name: String)(body: => A): A =
    rec.fold(body)(_.span(op, name)(body))
  def inGroup[A](group: String)(body: => A): A =
    rec.fold(body)(_.inGroup(group)(body))
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Geometric mean over op types of each type's median latency,
    * weighted by the type's share of the samples: a typical op's
    * latency that does not jump between op types as the median of a
    * mixed sample does. Samples are (op type, ms). */
  def medianGmean(samples: Seq[(String, Double)]): Double = {
    require(samples.nonEmpty, "no samples")
    val logs = samples.groupBy(_._1).values.map { s =>
      s.size * math.log(median(s.map(_._2))) }
    math.exp(logs.sum / samples.size)
  }

  /** The highest of the listed percentiles that leaves at least ten
    * samples beyond it; below 20 samples no percentile does, and the
    * maximum is reported (p100). Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 60.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10).getOrElse(100.0)
    (p, pct(xs, p))
  }

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum
}
