package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Registry for heavy cached intermediates (signature/shingle tables
  * inside the LSH pipelines, the streaming merge's per-batch state).
  *
  * The builders mark intermediates with a LAZY `persist()` and return
  * the un-materialized result plan — so a query executes exactly once
  * under Verify (parquet write) and Bench (noop write), and the
  * harness releases the caches between queries via [[releaseAll]].
  * Without the release, each LSH call would pin block-manager memory
  * for the session's lifetime; without the laziness, the builder
  * itself would run an action (the round-1 anti-pattern: the result
  * was computed twice — once in the builder's count, once by the
  * caller's write).
  *
  * A persisted frame keeps its lineage. When a cache is released, or
  * when a write to a path its plan reads makes Spark clear and lazily
  * rebuild it (`CacheManager.recacheByPath`), the next reader re-runs
  * that lineage. If the lineage reads a path the pipeline has since
  * overwritten, the re-run reads the NEW files: a different answer,
  * not just repeated work. A pipeline that writes where it read (the
  * streaming merge) therefore holds what it read as a checkpoint
  * ([[checkpointTracked]]), which has no lineage to re-run.
  *
  * SCOPE CONTRACT: the registry is application-global, so
  * [[releaseAll]] assumes ONE pipeline runs at a time — the Verify /
  * Bench / foreachBatch call patterns, all sequential. Running two
  * CacheTracker-using pipelines concurrently in one application would
  * let one's release unpersist the other's live caches (recomputed
  * from lineage, with the hazard above) or drop its checkpoints
  * (whose blocks cannot be recomputed at all). Concurrent pipelines
  * need per-query tracker instances; the harness has no such topology
  * today.
  */
object CacheTracker {
  private val releases =
    scala.collection.mutable.ListBuffer.empty[() => Unit]

  /** Lazily persist `df` and register it for later release. */
  def persistTracked(df: DataFrame): DataFrame = synchronized {
    releases += (() => df.unpersist(blocking = false))
    df.persist()
  }

  /** Materialize `df` now as a local checkpoint (its rows held in the
    * block manager, its plan cut to them) and register the blocks for
    * later release. */
  def checkpointTracked(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    synchronized {
      releases ++= cp.queryExecution.analyzed.collect[() => Unit] {
        case r: LogicalRDD => () => r.rdd.unpersist(blocking = false) }
    }
    cp
  }

  /** Release everything registered since the last release. */
  def releaseAll(): Unit = synchronized {
    releases.foreach(_())
    releases.clear()
  }
}
