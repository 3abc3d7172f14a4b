package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only: per-query decomposition of the bench's wall seconds —
  * `QueryProfile [<sfDir>] [<nameRegex>]` runs each catalog query with
  * the bench's noop-write methodology (full-catalog warmup first) and
  * prints wall vs summed-task-run vs shuffle bytes vs GC per query.
  * A query whose wall ≫ taskrun/cores is plan/driver-overhead-bound
  * (scheduling, planning, broadcast collects, many tiny jobs); one
  * whose wall tracks taskrun/cores is compute-bound — the split that
  * decides which optimization lever (guide §1.2: algorithm vs
  * per-task work vs config) applies.
  *
  * Each selected row is timed [[Passes]] times after the warmup and
  * reports its fastest pass (wall and that pass's task metrics); a
  * pass that fails marks the row ERR. A single pass moved sub-second
  * rows ±20–40% between launches of the same code on a 4-core box,
  * too much for a per-row decision under ~0.15 s; the minimum of
  * three passes is far less sensitive to a slow pass. */
object QueryProfile {
  /** Timed passes per selected row. */
  val Passes = 3

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nameRe = args.lift(1).map(_.r)
    val spark = graft.Session.build()
    val metrics = StageMetrics.attach(spark)
    val selected = graft.SparkEntry.queries.filter { case (n, _) =>
      nameRe.forall(_.findFirstIn(n).isDefined)
    }.toSeq.sortBy(_._1)
    def materialize(fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Unit =
      fn(spark, d).write.mode("overwrite").format("noop").save()
    // same untimed warmup as Bench
    try {
      graft.Tables.names.foreach(t => graft.Tables.load(spark, d, t).count())
      selected.foreach { case (_, fn) =>
        try materialize(fn) catch { case _: Throwable => () }
        finally graft.CacheTracker.releaseAll()
      }
    } catch { case _: Throwable => () }
    finally graft.CacheTracker.releaseAll()
    println(f"${"query"}%-26s ${"wall_s"}%8s ${"task_s"}%8s " +
      f"${"cpu_s"}%8s ${"gc_s"}%6s ${"shufW_MB"}%9s ${"stages"}%6s ${"tasks"}%6s")
    var total = 0.0
    val rows = selected.map { case (name, fn) =>
      val passes = Seq.fill(Passes) {
        val m0 = metrics.snapshot()
        val t0 = System.nanoTime()
        val err = try { materialize(fn); None }
          catch { case e: Throwable => Some(e.toString.take(80)) }
          finally graft.CacheTracker.releaseAll()
        ((System.nanoTime() - t0) / 1e9, metrics.snapshot() - m0, err)
      }
      val (wall, m, _) = passes.minBy(_._1)
      total += wall
      (name, wall, m.execRunMs / 1e3, m.execCpuNs / 1e9, m.gcMs / 1e3,
        m.shuffleWriteBytes / 1e6, m.stages, m.tasks,
        passes.flatMap(_._3).headOption)
    }
    rows.sortBy(-_._2).foreach { case (n, w, t, c, g, sw, st, tk, err) =>
      println(f"$n%-26s $w%8.2f $t%8.1f $c%8.1f $g%6.1f $sw%9.1f " +
        f"$st%6d $tk%6d" + err.map(" ERR " + _).getOrElse(""))
    }
    println(f"TOTAL wall ${total}%.1f s over ${rows.size} queries " +
      s"(min of $Passes passes each)")
    spark.stop()
  }
}
