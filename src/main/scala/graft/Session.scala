package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession factory — every main (Bench, Verify,
  * Serve and the dev tools) builds its session here, so the config
  * precedence rule (ADVICE r13) lives in exactly one function.
  *
  * Precedence, lowest first:
  *   1. [[Tables.perfConf]] — performance configs;
  *   2. [[Tables.conf]] — configs the engine requires;
  *   3. the caller's `extra` configs (e.g. a warehouse dir);
  *   4. the pinned session contract: `local[cores]` master, shuffle
  *      partitions = cores, AQE on, UI off.
  *
  * A key already supplied at launch (spark-submit `--master` /
  * `--conf`, or a `-Dspark.*` JVM property) is left to the launcher:
  * the factory only fills in what the launch did not set, so a
  * cluster submit keeps its own master and partition count. */
object Session {

  /** Cores for the local master: `SPARK_GRAFT_CPUS` when set, else
    * `default`. Bench and Verify pass their contract defaults (32
    * and 4); dev tools take the machine's core count. */
  def cores(default: Int = Runtime.getRuntime.availableProcessors): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty) match {
      case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
      case None => default
    }

  /** The configs the factory sets — pure, so the precedence rule is
    * testable without a session. `launched` names the keys the launch
    * environment already supplied; those are never overridden. */
  def resolve(cores: Int, extra: Map[String, String] = Map.empty,
              perf: Map[String, String] = Tables.perfConf,
              launched: Set[String] = Set.empty): Map[String, String] = {
    val pinned = Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false")
    (perf ++ Tables.conf ++ extra ++ pinned) -- launched
  }

  /** Build (or join) the session with [[resolve]]'s configs on top
    * of whatever the launch supplied. */
  def build(cores: Int = Session.cores(),
            extra: Map[String, String] = Map.empty): SparkSession = {
    val launched = new SparkConf(loadDefaults = true).getAll.map(_._1).toSet
    val builder = SparkSession.builder()
    resolve(cores, extra, launched = launched).foreach {
      case (k, v) => builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
