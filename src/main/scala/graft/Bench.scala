package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** "[l1,l5]" from /proc/loadavg (JVM fallback: 1-min only). */
  private def readLoad(): String =
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")
      s"[${parts(0)},${parts(1)}]"
    } catch { case _: Throwable =>
      val l1 = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      "[%.2f,null]".formatLocal(java.util.Locale.ROOT, l1)
    }

  def main(args: Array[String]): Unit = {
    // ambient-load snapshot BEFORE any work: the end-of-run averages
    // include the bench's own 32-thread load, so only the launch
    // snapshot evidences whether the box was idle
    val loadAtStart = readLoad()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default 32 = the driver's setting (VERDICT r7 #2): a lower
    // default made every self-recorded number non-comparable to the
    // official artifact — set SPARK_GRAFT_CPUS explicitly to deviate
    val cpus = Session.cores(default = 32)
    val spark = Session.build(cpus)
    // JVM/codegen/scan warmup (untimed): without it the first queries
    // absorb one-time JIT + parquet-footer costs and the per-query
    // numbers measure the JVM, not the plans.
    // Methodology: materialize EVERY output column via a noop-format
    // write — under a bare count() Catalyst prunes unused columns, so
    // projection-heavy queries would be under-measured (plan metadata,
    // not work).
    def materialize(fn: (SparkSession, String) => org.apache.spark.sql
        .DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    // Warm the FULL catalog once untimed: the first execution of each
    // plan pays one-time JIT + whole-stage-codegen compilation that
    // would otherwise be booked against whichever query runs first
    // (map order put q10 there). Timed numbers below are steady-state
    // plan cost — the number that scales.
    try {
      graft.Tables.names.foreach { t =>
        graft.Tables.load(spark, sfDir, t).count()
      }
      SparkEntry.queries.foreach { case (_, fn) =>
        try materialize(fn) catch { case _: Throwable => () }
        finally CacheTracker.releaseAll()
      }
    } catch { case _: Throwable => () }
    finally CacheTracker.releaseAll()
    // A failing query is RECORDED (err field) and fails the run —
    // never silently booked as ~0 s
    val results = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { materialize(fn); None }
        catch { case e: Throwable =>
          Some(e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)
              .replaceAll("""["\\\n\r]""", " ").take(120))
        }
        finally CacheTracker.releaseAll()
      name -> ((System.nanoTime() - t0) / 1e9, err)
    }
    // Printed line stays PARSEABLE at 140+ queries: millisecond
    // precision, errors-only-when-present, and a 36-query-only map
    // keep the single metric line ~1.2 KB; the full-precision
    // per-query profile goes to the committed self-record file.
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Apples-to-apples contract number: BASELINE was recorded over the
    // 36-query round-1 catalog (BENCH_r01: 48.196 s); the catalog has
    // since more than tripled, so the all-queries total is not
    // comparable to it. `baseline36_total` sums exactly the recorded
    // baseline's query set — the 2x bound applies to this figure.
    val baseline36 = Set(
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
    // every baseline name must still resolve — a silent miss would
    // shrink the sum and make the 2x bound pass vacuously
    require(baseline36.subsetOf(results.keySet),
      s"baseline36 queries missing from catalog: " +
        (baseline36 -- results.keySet).mkString(", "))
    val baseTotal = results.collect {
      case (k, (v, _)) if baseline36(k) => v
    }.sum
    // zero-error runs print "errors":{} — null entries added ~3 KB of
    // dead weight to the one line that must survive tail capture
    // errors map CAPPED at 3 entries (n_errors carries the full
    // count): unbounded, a many-failure run would push the single
    // metric line past the driver's 2000-char tail capture — the
    // exact truncation failure the compact line exists to prevent
    val errs = results.collect { case (k, (_, Some(e))) =>
      s"\"" + k + "\":\"" + e + "\""
    }.take(3).mkString("{", ",", "}")
    val total = results.values.map(_._1).sum
    // Self-record (VERDICT r4 #1): the official BENCH artifact only
    // keeps what the driver's tail capture catches, so ALSO write the
    // profile — full precision, one query per line for readable
    // diffs — to a repo file committed each round. Relative to the
    // working directory (the checkout root under `sbt run`), so a run
    // from another checkout writes that checkout's file.
    val selfPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SELF",
      "BENCH_SELF.json")
    try {
      val body = results.map { case (k, (v, e)) =>
        s"""    "$k": {"sec": $v, "err": ${
          e.map("\"" + _ + "\"").getOrElse("null")}}"""
      }.mkString(",\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(selfPath),
        (s"""{\n  "metric": "total",\n  "value": $total,\n  "unit": "sec",\n  "n_queries": ${results.size},\n  "baseline36_total": $baseTotal,\n  "sf": "$sfDir",\n  "queries": {\n$body\n  }\n}\n""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"bench self-record write failed: $e") }
    // Exactly ONE metric line (ADVICE r6): the compact form — summary
    // totals, error map, and just the 36 contract queries (~1.2 KB),
    // sized for the driver's 2000-char tail capture; a 140-query map
    // is ~3.6 KB and can never fit (that was why `parsed` came back
    // null for four rounds). The full per-query profile lives in the
    // committed BENCH_SELF.json. A second "metric":"total" line with
    // a different shape would also trap first-match parsers.
    val qs36 = results.collect { case (k, (v, _)) if baseline36(k) =>
      s"\"" + k + "\":" + r3(v)
    }.mkString("{", ",", "}")
    // ambient-load evidence INSIDE the metric line (VERDICT r7 #1):
    // 1/5-minute load averages at LAUNCH (ambient — was the box
    // idle?) and at END (sanity: bench's own load + anything that
    // arrived mid-run), so every artifact carries its own record and
    // artifact vs self-record comparisons stop needing forensics
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"baseline36_total":${r3(baseTotal)},"n_errors":${results.values.count(_._2.isDefined)},"errors":$errs,"load_1m_5m_start":$loadAtStart,"load_1m_5m_end":${readLoad()},"cpus":"$cpus","queries":$qs36,"queries_full":"BENCH_SELF.json","sf":"$sfDir"}""")
    spark.stop()
    if (results.values.exists(_._2.isDefined)) sys.exit(1)
  }
}
