package perfbench

import graft.{CacheTracker, SparkEntry}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `catalog`: the 36 rows the BASELINE was recorded on, over the
  * engine's fixed TPC-H-like test tables, run by one client in
  * sequence. Each
  * query is materialized by a noop write and followed by
  * `CacheTracker.releaseAll()`, as the engine's own bench does.
  *
  * The first, untimed pass writes every result to parquet for the
  * DuckDB oracle compare (run.py) and doubles as the JIT/codegen
  * warm-up; it runs the queries from `nproc` threads to keep the run
  * short. Timed passes, one client in sequence, then repeat until the
  * run length is spent. */
object CatalogWorkload {
  /** The rows `graft.Bench` sums as `baseline36_total`, listed here so
    * the workload stays fixed whatever the engine's bench does. */
  val baseline36: Seq[String] = Seq(
    "d01_dedup_exact", "d02_token_stats", "d03_lang_id", "d04_quality",
    "d05_jaccard_anchor", "d06_bpeish_count", "d07_rolling_fp",
    "m01_minhash_pairs", "m02_simhash_pairs", "mm01_media_meta",
    "mm02_media_features", "q01_where_algebra", "q02_point_lookup",
    "q03_feed_page", "q04_trending", "q05_trending_tags", "q06_search",
    "q07_semi_join", "q08_anti_join", "q09_left_join",
    "q10_children_count", "q11_leaderboard", "q12_first_event",
    "q13_latest_wins", "q14_distinct", "q15_except", "q16_union",
    "q17_score_agg", "q18_scalar_funcs", "q19_group_topk",
    "q20_related_sample", "q21_inverted_search", "q22_approx_distinct",
    "v01_ann_cosine", "v02_ann_ivf", "v03_cosine_pairs")

  def run(env: Env): Outcome = {
    import env.spark
    val out = new Outcome
    val dir = env.tables
    val queries = SparkEntry.queries
    val missing = baseline36.filterNot(queries.contains)
    require(missing.isEmpty, s"catalog rows missing: ${missing.mkString(",")}")

    // set-up: open and count every table, three times; median reported
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.Tables.names.foreach(t => graft.Tables.load(spark, dir, t).count())
      (System.nanoTime() - t0) / 1e9
    }
    out.metrics("setup_s") = (Stats.median(setups), "s")
    val su = out.detail.putArray("setups_s")
    setups.foreach(su.add)

    val oracles = Main.mapper.createObjectNode()
    baseline36.foreach(n =>
      SparkEntry.oracleSql.get(n).foreach(sql => oracles.put(n, sql)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${env.work}/oracle_sql.json"),
      oracles.toString)

    val errors = out.detail.putObject("errors")
    def once(pass: String, name: String, release: Boolean = true)(
        act: org.apache.spark.sql.DataFrame => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        val op = s"$pass/$name"
        env.inGroup(op)(env.span(op, "query") {
          val df = env.span(op, "build")(queries(name)(spark, dir))
          env.span(op, "execute")(act(df))
        })
        Some((System.nanoTime() - t0) / 1e6)
      } catch {
        case e: Throwable =>
          errors.synchronized(
            errors.put(name, String.valueOf(e.getMessage).take(300)))
          None
      } finally if (release) CacheTracker.releaseAll()
    }
    val noop: org.apache.spark.sql.DataFrame => Unit =
      _.write.mode("overwrite").format("noop").save()

    // concurrent queries would unpersist each other's caches: release
    // once the whole pass is done
    val d0 = System.nanoTime()
    val todo = new java.util.concurrent.ConcurrentLinkedQueue[String](
      baseline36.asJava)
    val dumpers = (0 until env.cores).map(_ => new Thread(() => {
      var n = todo.poll()
      while (n != null) {
        once("dump", n, release = false)(_.coalesce(1).write
          .mode("overwrite").parquet(s"${env.work}/results/$n"))
        n = todo.poll()
      }
    }))
    dumpers.foreach(_.start())
    dumpers.foreach(_.join())
    CacheTracker.releaseAll()
    out.detail.put("dump_pass_s", (System.nanoTime() - d0) / 1e9)

    val walls = baseline36.map(_ -> ArrayBuffer[Double]()).toMap
    val gc0 = Stats.gcMs()
    val t0 = System.nanoTime()
    var passes = 0
    var failed = 0L
    // whole passes: at least one, and another only while it would end
    // within the run length at the pace of the passes so far
    def elapsedS = (System.nanoTime() - t0) / 1e9
    while (passes == 0 || elapsedS * (passes + 1) / passes <= env.seconds) {
      baseline36.foreach { n =>
        once("timed", n)(noop) match {
          case Some(ms) => walls(n) += ms
          case None => failed += 1
        }
      }
      passes += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val all = walls.values.flatten.toSeq
    out.attempted = passes.toLong * baseline36.size
    out.failed = failed
    val (tp, tv) = Stats.tail(all)
    out.metrics("op_median_gmean_ms") = (Stats.medianGmean(
      walls.toSeq.flatMap { case (n, ws) => ws.map(n -> _) }), "ms")
    out.metrics("op_p50_ms") = (Stats.median(all), "ms")
    out.metrics("op_tail_ms") = (tv, "ms")
    out.metrics("throughput_per_s") = (all.size / wallS, "1/s")
    val perQuery = walls.collect { case (n, w) if w.nonEmpty =>
      n -> Stats.median(w.toSeq) }
    out.detail.put("catalog_s", perQuery.values.sum / 1000)
      .put("passes", passes).put("samples", all.size)
      .put("tail_percentile", tp)
    val q = out.detail.putObject("query_ms")
    perQuery.toSeq.sortBy(_._1).foreach { case (n, v) => q.put(n, v) }

    env.rec.foreach { rec =>
      rec.settle()
      val timed = (g: String) => g.startsWith("timed/")
      Layers.common(out, rec, timed,
        walls.toSeq.flatMap { case (n, ws) => ws.map(s"timed/$n" -> _) },
        Stats.gcMs() - gc0)
      // module-named layer breakdown, per timed pass
      val gs = Layers.sumGroups(rec, timed)
      val d = out.detail.putObject("layers")
      val (planMs, actions) = rec.planMs(timed)
      d.put("catalog.plan_ms", planMs / math.max(1L, actions))
        .put("catalog.spark_jobs", gs.jobs / passes)
        .put("catalog.spark_tasks", gs.tasks / passes)
        .put("catalog.exec_run_s", gs.runMs / 1000 / passes)
        .put("catalog.exec_cpu_s", gs.cpuMs / 1000 / passes)
        .put("catalog.gc_s", gs.gcMs / 1000 / passes)
        .put("catalog.shuffle_write_mb", gs.shuffleWrite / 1e6 / passes)
        .put("catalog.shuffle_read_mb", gs.shuffleRead / 1e6 / passes)
        .put("catalog.spill_mb", gs.spill / 1e6 / passes)
        .put("catalog.driver_s",
          (all.sum - gs.runMs / env.cores) / 1000 / passes)
      perQuery.foreach { case (n, v) => d.put(s"catalog.q.${n}_s", v / 1000) }
    }
    out
  }
}
