package graft.tools

import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: order(s)-of-magnitude-up evidence run (VERDICT r2 #9).
  *
  * Builds a replicated corpus (`args(0)`× sf0.1; default 10× ≈ sf1:
  * ~50k documents / ~1M events, 100× ≈ sf10) with TOKEN-SALTED text —
  * every token gets a replica prefix, so cross-replica pairs share
  * zero shingles and the near-dup structure scales exactly reps×
  * instead of exploding quadratically — then runs the headline
  * dedup / search / feed / rank pipelines plus the BUCKETED streaming
  * merge, recording wall-clock and real shuffle bytes per stage
  * ([[StageMetrics]]). Output is pasted into
  * BENCH_NOTES.md.
  */
object ScaleEvidence {

  private var metrics: StageMetrics = _

  /** Optional `args(1)` regex restricting which stages run (closure
    * runs for a handful of new rows shouldn't pay for the full
    * sweep's 300 s exact-form boundaries). In a FILTERED run the
    * setup stages (corpus parquet, the posts store, the bucketed
    * edge table, the postings table) run only when the filter
    * matches them too — include the ones your stages need (e.g.
    * "documents parquet|d01 " for a corpus-reading probe at a new
    * reps), or reuse the on-disk artifacts of a previous run at the
    * SAME reps (the corpus is row-count-guarded; the rest is on the
    * caller). This keeps a 1000x corpus probe from paying the
    * 1.2B-row edge write it never reads.
    */
  private var only: Option[scala.util.matching.Regex] = None

  /** BOUNDARY tier (VERDICT r12 #4): stages that price deliberate
    * design boundaries, not regression sentinels — the documented
    * quadratic oracle gate (v15), the codec-bound multimodal decodes
    * (mm09/mm10), and the q29 broadcast loop kept as the bucketed
    * win's comparator. Together they are ~60 % of the full sweep's
    * 1h17m wall (r12: 313 + 199 + 136 + 201 s at reps=100), so the
    * default sweep SKIPS them — the regression tier then runs in
    * ~30 min and gets re-run more readily. Run them on demand:
    * `runMain graft.tools.ScaleEvidence 100 . boundary` (3rd arg),
    * or select them explicitly with the stage filter (an explicit
    * regex always wins — you asked for the stage, you get it). */
  private val BoundaryPrefixes = Seq(
    "v15 margin mining",
    "mm09 audio chunk plan",
    "mm10 video frame decode",
    "q29 pagerank broadcast loop")
  private var includeBoundary = false
  private def isBoundary(label: String): Boolean =
    BoundaryPrefixes.exists(label.startsWith)

  /** THE selection predicate — timed() and every off-clock setup
    * gate test the filter against the SAME full stage label, so a
    * regex that selects a stage always also runs the seeding that
    * stage depends on (gates pass the exact label value the timed
    * call uses; fragments drifted — a suffix-matching filter used to
    * run a stage whose setup had been skipped). An EXPLICIT filter
    * decides alone (boundary stages included — selecting one by
    * regex IS the on-demand path); without one, the boundary tier
    * runs only under the 3rd-arg opt-in. */
  private def stageSelected(label: String): Boolean = only match {
    case Some(r) => r.findFirstIn(label).isDefined
    case None => includeBoundary || !isBoundary(label)
  }

  private def timed(label: String)(f: => Long): Unit = {
    val selected = stageSelected(label)
    if (!selected) {
      val why = if (only.isEmpty && isBoundary(label))
        "skipped (boundary tier — 3rd arg 'boundary', or filter)"
      else "skipped (filter)"
      println(f"$label%-42s   $why"); return
    }
    val m0 = metrics.snapshot()
    val t0 = System.nanoTime()
    val n = f
    val secs = (System.nanoTime() - t0) / 1e9
    val m = metrics.snapshot() - m0
    val wMb = m.shuffleWriteBytes / 1e6
    val rMb = m.shuffleReadBytes / 1e6
    // wall vs summed executor task time vs GC-inside-tasks: a stage
    // whose wall >> run/cores is driver- or GC-bound, not plan-bound
    val runS = m.execRunMs / 1e3
    val gcS = m.gcMs / 1e3
    // MECHANICAL memory-pressure tag (the same-run-A/B rule): a wall
    // reading taken while GC eats a material share of task time is
    // environment, not plan — tag it so a 254 s catch-up merge with
    // 480 s of GC can never be read as a regression in a later diff
    // of this table (BENCH_NOTES r11 box-day variance note)
    val tag = if (gcS > 5.0 && gcS > 0.15 * runS)
      "  !MEM-PRESSURE(gc)" else ""
    println(f"$label%-42s ${secs}%7.2f s  $n%,12d rows  " +
      f"shuffle w=$wMb%8.1f MB r=$rMb%8.1f MB  " +
      f"taskrun=$runS%8.1f s gc=$gcS%7.1f s$tag")
  }

  def main(args: Array[String]): Unit = {
    val work = "/tmp/graft-scale"
    val spark = graft.Session.build(extra = Map(
      "spark.sql.warehouse.dir" -> s"$work/wh",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false"))
    implicit val s: SparkSession = spark
    metrics = StageMetrics.attach(spark)
    val d = "/root/testdata/sf0.1"
    val reps = args.headOption.map(_.toInt).getOrElse(10)
    only = args.lift(1).map(_.r)
    only.foreach(r => println(s"stage filter: ${r.regex}"))
    includeBoundary = args.lift(2).exists(
      a => a == "boundary" || a == "all")
    if (only.isEmpty && !includeBoundary)
      println("boundary tier (v15/mm09/mm10/q29-broadcast) " +
        "skipped by default — 3rd arg 'boundary' runs it")

    // ── corpus: 10× documents, token-salted per replica ─────────────
    val docs0 = graft.Tables.documents(spark, d)
    val docs0Count = docs0.count()
    val docs = (0 until reps).map { i =>
      docs0.select(
        (col("doc_id") + i * 10000000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1").as("text"))
    }.reduce(_ unionByName _)
    println(s"== corpus build (${reps}x sf0.1, token-salted) ==")
    timed("write documents parquet") {
      docs.write.mode("overwrite").parquet(s"$work/documents")
      spark.read.parquet(s"$work/documents").count()
    }
    // LAZY + stale-artifact guard: a filtered run that selects no
    // corpus stage must not even LIST $work/documents (a store-only
    // 1000x run would otherwise pay — or crash on — a corpus it never
    // reads); the first actual use pays one count() that fails loud
    // when the on-disk parquet is from a run at a DIFFERENT reps
    // (every stage label would misstate its scale otherwise).
    lazy val corpus: org.apache.spark.sql.DataFrame = {
      val c = spark.read.parquet(s"$work/documents")
      val onDisk = c.count()
      require(onDisk == docs0Count * reps,
        s"on-disk corpus at $work/documents has $onDisk rows but " +
          s"reps=$reps expects ${docs0Count * reps} — rerun with the " +
          "\"documents parquet\" stage included in the filter")
      c
    }

    println("== dedup / similarity ==")
    timed("d01 exact dedup") {
      Dedup.exact(corpus, "text", "doc_id").count()
    }
    timed("m01 minhash LSH pairs (verify incl.)") {
      val n = Dedup.minhashLshPairs(corpus, "text", "doc_id",
        shingleN = 3, k = 32, bands = 8, threshold = 0.2,
        seed = 42L).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed("d57 golden record (pairs -> components -> survivorship)") {
      // the salted corpus carries only (doc_id, text): derive the
      // attribute columns the survivorship merge resolves
      val recs = corpus
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("lang", concat(lit("l"), col("doc_id") % 3))
      val n = Dedup.goldenRecords(
        Dedup.neardupClusters(
          Dedup.minhashLshPairs(corpus, "text", "doc_id",
            shingleN = 3, k = 32, bands = 8, threshold = 0.2,
            seed = 42L)),
        recs, "doc_id", "n_chars", "lang").count()
      graft.CacheTracker.releaseAll(); n
    }
    timed("m02 simhash pairs (portable hash)") {
      val n = Dedup.simhashPairs(corpus, "text", "doc_id",
        maxHamming = 3,
        tokenHash = graft.functions.Text.portableTokenHash).count()
      graft.CacheTracker.releaseAll(); n
    }

    println("== search ==")
    val idxTable = "scale_postings"
    timed("inverted index build + bucketed write") {
      val idx = graft.text.InvertedIndex.build(corpus, "text", "doc_id")
      graft.text.InvertedIndex.writeBucketed(idx, idxTable,
        s"$work/postings")
      spark.table(idxTable).count()
    }
    // query terms drawn from the corpus itself: top-2 most frequent
    // within ONE replica (cross-replica terms never co-occur — the
    // salting that keeps near-dup structure linear). Lazy + an
    // explicit off-clock force when a consumer stage is selected, so
    // a filtered run that skips all search stages never resolves the
    // postings table (which a skipped index build never registered).
    val idxSearchLabel = "indexed search (2 terms, top-20)"
    val bruteSearchLabel = "brute-force search (2 terms, top-20)"
    val q31Label = "q31 hybrid RRF (bm25 + dense over the corpus)"
    lazy val terms = spark.table(idxTable)
      .filter(col("term").startsWith("r0_"))
      .groupBy("term")
      .agg(sum("tf").as("n")).orderBy(col("n").desc).limit(2)
      .collect().map(_.getString(0)).toSeq
    // Labels bound ONCE and shared by the off-clock gate and the
    // timed() calls (the q32Label pattern) — a drifting literal would
    // silently move the postings-table collect inside the timed
    // window (ADVICE r6).
    if (Seq(idxSearchLabel, bruteSearchLabel, q31Label)
        .exists(stageSelected))
      println(s"   query terms: ${terms.mkString(", ")}")
    timed(idxSearchLabel) {
      graft.text.InvertedIndex.search(spark.table(idxTable),
        terms, k = 20).count()
    }
    timed(bruteSearchLabel) {
      graft.query.Feeds.search(corpus, col("text"),
        terms, requireAll = true)
        .orderBy(col("score").desc, col("doc_id").asc).limit(20)
        .count()
    }

    println(s"== feed / rank shapes (${reps}x events & customers) ==")
    val ev = {
      val e1 = graft.Tables.events(spark, d)
      (0 until reps).map(i => e1
        .withColumn("event_id", col("event_id") + i * 100000000L)
        .withColumn("user_id", col("user_id") + i * 100000000L))
        .reduce(_ unionByName _)
    }
    timed("feed page (filter + top-100)") {
      ev.filter(col("event_type") === "view")
        .orderBy(col("ts").desc, col("event_id").desc).limit(100)
        .count()
    }
    timed("q54 hopping window (2d/1d, native TimeWindow expand)") {
      ev.withColumn("__cents",
        round(col("value") * 100, 0).cast("long"))
        .groupBy(window(col("ts"), "2 days", "1 day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum("__cents").as("sum_cents"))
        .count()
    }
    timed("distributed leaderboard rank (q11 shape)") {
      val cust = (0 until reps).map(i =>
        graft.Tables.customer(spark, d)
          .withColumn("c_custkey", col("c_custkey") + i * 100000000L))
        .reduce(_ unionByName _)
      val n = graft.query.Rank.globalRowNumber(
        cust.filter(col("c_acctbal") > 0),
        Seq(col("c_acctbal").desc, col("c_custkey").asc)).count()
      graft.CacheTracker.releaseAll(); n
    }

    println(s"== training-data ops (${reps}x) ==")
    timed("d14 decontaminate (plan-literal probe)") {
      val hold = corpus.filter(col("doc_id") < 5)
        .withColumn("__toks", graft.functions.Text.tokens(col("text")))
        .select(explode(graft.functions.Text.wordShingles(
          col("__toks"), 3)).as("sh")).distinct()
        .collect().map(_.getString(0)).toSeq
      // count via aggregate, NOT filter+count: a pushed-down filter
      // on the computed overlap evaluates the probe TWICE per row
      // (the d23 evalOnce lesson applied to the harness itself)
      corpus.filter(col("doc_id") >= 5)
        .withColumn("__toks", graft.functions.Text.tokens(col("text")))
        .withColumn("__sh", graft.functions.Text.wordShingles(
          col("__toks"), 3))
        .select(col("doc_id"), graft.functions.SigExprs
          .anchorOverlap(col("__sh"), hold)
          .getField("n_inter").as("n"))
        .agg(count(when(col("n") > 0, 1)).as("c"))
        .head().getLong(0)
    }
    timed("d22 decontaminate (bloom prefilter + exact verify)") {
      val hold = corpus.filter(col("doc_id") < 5)
        .withColumn("__toks", graft.functions.Text.tokens(col("text")))
        .select(explode(graft.functions.Text.wordShingles(
          col("__toks"), 3)).as("sh")).distinct()
        .collect().map(_.getString(0)).toSeq
      Dedup.decontaminateBloom(corpus.filter(col("doc_id") >= 5),
        "text", "doc_id", hold)
        .agg(count(when(col("contaminated"), 1)).as("c"))
        .head().getLong(0)
    }
    timed("d15 repetition signals (scan-only)") {
      // noop write, not count(): count would prune the computed
      // columns and time only the scan
      corpus.withColumn("__toks",
        graft.functions.Text.tokens(col("text")))
        .withColumn("__g2", graft.functions.Text.wordShingles(
          col("__toks"), 2))
        .select(col("doc_id"),
          (size(col("__g2")) - size(array_distinct(col("__g2"))))
            .as("dup2"),
          graft.functions.Text.topTokenCount(col("__toks")).as("tt"))
        .write.mode("overwrite").format("noop").save()
      reps * 5000L
    }
    timed("d16 tf-idf top term (df from cached tf)") {
      val tf = graft.CacheTracker.persistTracked(
        corpus.withColumn("__toks",
          graft.functions.Text.tokens(col("text")))
          .select(col("doc_id"), explode(col("__toks")).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("tf")))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = tf.join(broadcast(dfreq), Seq("w"))
        .groupBy("doc_id")
        .agg(min(struct((-col("tf")).as("ntf"), col("df"), col("w")))
          .as("m")).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"d17 sessionize (${reps/10.0}M events, one user shuffle)") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      ev.withColumn("__prev", lag(col("ts"), 1).over(w))
        .withColumn("__brk", (col("__prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("__prev"))
            > 1800000000L).cast("int"))
        .withColumn("sid", sum("__brk").over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n")).count()
    }

    timed("d55 char entropy (native expr, zero shuffle)") {
      // noop write so the computed columns are materialized
      graft.query.Predicates.evalOnce(corpus, Seq(col("doc_id")),
        "__e" -> graft.functions.CharEntropyMicro
          .charEntropyMicro(col("text")))
        .select(col("doc_id"),
          element_at(col("__e"), 1).as("n_uniq_chars"),
          (-element_at(col("__e"), 2) / lit(1e6)).as("char_entropy"))
        .write.mode("overwrite").format("noop").save()
      reps * 5000L
    }
    timed("d56 KN bigram NLL (3 token-keyed folds + score joins)") {
      val n = graft.text.UnigramLm.knBigramSurprisal(
        corpus, "text", "doc_id").count()
      graft.CacheTracker.releaseAll(); n
    }

    timed("d20 duplicated-ngram stats") {
      // filter on the computed column: a bare count() would let the
      // optimizer eliminate the cardinality-preserving left join and
      // measure nothing but the doc_id scan
      val n = Dedup.dupNgramStats(corpus, "text", "doc_id")
        .filter(col("n_dup") > 0).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"v05 quantized ANN rerank (${reps}x vectors)") {
      val emb0 = graft.Tables.embeddings(spark, d)
      val emb = (0 until reps).map(i => emb0
        .withColumn("vec_id", col("vec_id") + i * 100000000L))
        .reduce(_ unionByName _)
      graft.functions.Vectors.quantizedTopK(emb, "embedding",
        col("vec_id") === 0, k = 20, candidates = 80).count()
    }
    timed(s"q24 skew-salted join + agg (${reps}x facts & dim)") {
      val cust = (0 until reps).map(i =>
        graft.Tables.customer(spark, d)
          .withColumn("c_custkey", col("c_custkey") + i * 100000000L))
        .reduce(_ unionByName _)
      graft.state.Layout.saltedEquiJoin(ev, cust,
        col("user_id"), col("c_custkey"), col("event_id"), salts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n")).count()
    }

    println(s"== semantic curation (${reps}x) ==")
    // embeddings replicate with SALTED labels: reps× the cluster count,
    // constant cluster size — the SemDeDup scale model (nlist grows
    // with the corpus; per-task all-pairs stays |cluster|²-bounded).
    val emb10 = {
      val e0 = graft.Tables.embeddings(spark, d)
      (0 until reps).map(i => e0
        .withColumn("vec_id", col("vec_id") + i * 100000000L)
        .withColumn("label", col("label") + i * 100))
        .reduce(_ unionByName _)
    }
    timed(s"v07 semdedup keep-set (${reps*2}k vecs, ${reps*10} clusters)") {
      graft.functions.Vectors.semdedupKeep(emb10, "embedding",
        "vec_id", "label", threshold = 0.3).count()
    }
    timed("v08 centroid outliers (bottom-5 per cluster)") {
      graft.functions.Vectors.centroidOutliers(emb10, "embedding",
        "vec_id", "label", k = 5).count()
    }
    // sources salted per replica: 200 corpora → the pair stage grows
    // quadratically in CORPUS COUNT (the axis that matters; sketch
    // table is still only corpora·k rows)
    def docsSalted = corpus.withColumn("source",
      concat(lit("s"), pmod(col("doc_id"), lit(200L))))
    timed("m03 corpus overlap (200 corpora, 19900 pairs)") {
      val n = Dedup.corpusOverlap(docsSalted, "text", "source",
        k = 32).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"d28 unigram surprisal (${reps*5}k docs)") {
      val n = graft.text.UnigramLm.surprisal(corpus, "text", "doc_id")
        .count()
      graft.CacheTracker.releaseAll(); n
    }

    // ── bucketed streaming merge at 500k stored posts ───────────────
    println("== streaming merge (bucketed seed lookup) ==")
    val nPosts = 50000L * reps
    def blocksFor(idStart: Long, count: Long, heightOff: Long,
                  body: Column, stride: Long = 1L): DataFrame =
      spark.range(count)
        .select((col("id") * stride + idStart).as("id")).select(
        lpad(lower(hex(col("id") + 1 + heightOff)), 8, "0")
          .as("block_id"),
        concat(lit("2024-0"), (col("id") % 6 + 1).cast("string"),
          lit("-01T12:00:00")).as("timestamp"),
        array(struct(
          concat(lit("tx"), col("id")).as("transaction_id"),
          array(struct(lit("comment").as("name"),
            to_json(struct(
              lit("").as("parent_author"),
              lit("").as("parent_permlink"),
              concat(lit("user"), pmod(col("id"), lit(50000L)))
                .as("author"),
              concat(lit("post"), col("id")).as("permlink"),
              lit("t").as("title"),
              body.as("body"),
              lit("""{"app":"3speak/1.0"}""").as("json_metadata")))
            .as("payload"))).as("operations"))).as("transactions"))
    val postsDir = s"$work/posts"
    // ONE recursive-delete helper for every stage that recreates an
    // artifact dir (a second spelling drifts on future fixes)
    def rmDir(d: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    // the label means "catch-up FROM EMPTY": mergeBlocksBatch merges
    // into whatever exists, so a leftover store from a different-reps
    // run would absorb the batch and every downstream stage would
    // measure the stale scale under this run's label (this fired in
    // round 10: a 5M-labeled sweep merged into a 50M store — and the
    // 5M-sized merge plan against 50M-scale buckets OOMed). Selected
    // runs recreate; filtered runs reuse deliberately.
    if (stageSelected(s"catch-up merge: $nPosts inserts"))
      rmDir(postsDir)
    timed(s"catch-up merge: $nPosts inserts") {
      graft.streaming.StreamIngest.mergeBlocksBatch(spark,
        blocksFor(0, nPosts, 0, lit("original body text")), postsDir)
      spark.read.parquet(postsDir).count()
    }
    // realistic 2-second micro-batch: ~20 comment ops. Bucket pruning
    // scales as |batch keys| / n buckets — a batch with more distinct
    // keys than buckets degenerates to a full scan (that is the
    // honest bound; at 100 TB you size n ≫ trigger keys, e.g. 4096).
    timed(s"micro-batch merge: 20 edits vs $nPosts stored") {
      graft.streaming.StreamIngest.mergeBlocksBatch(spark,
        blocksFor(600, 20, nPosts, lit("edited body text"), stride = 6),
        postsDir)
      spark.read.parquet(postsDir)
        .filter(col("body") === "edited body text").count()
    }
    // safety-net release: the merge stages persist internally, and
    // those caches must not leak into later measured stages
    graft.CacheTracker.releaseAll()

    // ── round-3 operators at the same scale ─────────────────────────
    println(s"== round-3 ops (${reps}x) ==")
    timed(s"q33 snapshot diff (${reps/10.0}M vs ${reps/10.0}M rows)") {
      // two latest-wins snapshots of the replicated events + slim-fp
      // full-outer join — the whole payload never shuffles
      val cut = ev.agg(
        (max(col("ts")) - expr("INTERVAL 30 DAYS")).as("__cut"))
      val o = graft.state.Merge.latestWins(
        ev.crossJoin(broadcast(cut)).filter(col("ts") <= col("__cut")),
        Seq("user_id"), col("ts"), Seq(col("event_id")))
      val n = graft.state.Merge.latestWins(ev, Seq("user_id"),
        col("ts"), Seq(col("event_id")))
      graft.state.Diff.snapshotDiff(o, n, Seq("user_id"),
        Seq(col("event_id"),
          round(col("value") * 100, 0).cast("long"))).count()
    }
    // q32 setup OUTSIDE the timed block — the claim under test is
    // that the REFRESH is O(batch); building the stored view and
    // finding the month boundary are one-time history work
    val q32Label =
      s"q32 incremental refresh (1 month batch vs ${reps/10.0}M history)"
    if (stageSelected(q32Label)) {
      val q32WithM = ev
        .withColumn("__m", date_format(col("ts"), "yyyy-MM"))
        .withColumn("__c", round(col("value") * 100, 0).cast("long"))
      val q32Months = q32WithM.select("__m").distinct()
        .collect().map(_.getString(0)).sorted
      val q32View = graft.state.Incremental.partial(
        q32WithM.filter(col("__m") =!= q32Months.last),
        Seq("event_type"), col("__c")).persist()
      q32View.count() // materialized before the clock starts
      timed(q32Label) {
        graft.state.Incremental.merge(q32View,
          q32WithM.filter(col("__m") === q32Months.last),
          Seq("event_type"), col("__c")).count()
      }
      q32View.unpersist(blocking = false)
    } else println(f"$q32Label%-42s   skipped (filter)")
    timed(q31Label) {
      val lex = graft.query.Rank.globalRowNumber(
        graft.text.Bm25.score(corpus, col("text"), terms, 30),
        Seq(col("score").desc, col("doc_id").asc))
        .select(col("doc_id").as("id"), col("rank"))
      val emb0 = graft.Tables.embeddings(spark, d)
      val emb = (0 until reps).map(i => emb0
        .withColumn("vec_id", col("vec_id") + i * 100000000L))
        .reduce(_ unionByName _)
      val anchor = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("a_emb"))
      val dense = graft.query.Rank.globalRowNumber(
        emb.crossJoin(broadcast(anchor))
          .select(col("vec_id"),
            round(graft.functions.Vectors.cosine(col("embedding"),
              col("a_emb")), 4).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc).limit(30),
        Seq(col("sim").desc, col("vec_id").asc))
        .select(col("vec_id").as("id"), col("rank"))
      val n = graft.text.Retrieval.rrfFuse(Seq(lex, dense), "id", 20)
        .count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"d36 data-quality scan (${reps/10.0}M rows, one aggregate)") {
      import graft.quality.Expectations.{report, Check}
      report(ev, Seq(
        Check("null_value", col("value").isNull, nullIsBad = false),
        Check("neg_value", col("value") < 0, nullIsBad = false)),
        uniqueKeys = Seq("event_id")).count()
    }
    // grid bounds: one combined min/max scan, outside the timed write
    lazy val (tmin, tmax) = {
      val tBounds = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      (tBounds.getLong(0), tBounds.getLong(1))
    }
    val zLabel = s"z-order write (${reps/10.0}M rows, 256-cell grid)"
    if (stageSelected(zLabel)) { val _ = (tmin, tmax) } // off-clock
    timed(zLabel) {
      // quantize (user_id, ts) onto a 2^10 grid, p=4 → 256 cells
      val g = ev.select(col("event_id"),
        pmod(col("user_id"), lit(1024L)).as("x"),
        least(lit(1023L), ((unix_micros(col("ts")) - tmin) * 1024L /
          math.max(1L, tmax - tmin + 1)).cast("long")).as("y"))
      graft.state.Layout.writeZOrdered(g, s"$work/zorder",
        col("x"), col("y"), bits = 10, p = 4)
      spark.read.parquet(s"$work/zorder").count()
    }
    timed("z-order pruned read (one x-stripe of 16)") {
      val cells = graft.state.Layout.zCellsFor(0, 63, 0, 1023,
        bits = 10, p = 4)
      spark.read.parquet(s"$work/zorder")
        .filter(col("z_cell").isin(cells: _*) && col("x") <= 63)
        .count()
    }
    // an APPEND-mode sink fragments (each trigger adds files; the
    // dynamic-overwrite merge does not — it rewrites whole
    // partitions). Fragmentation setup (50 appended micro-batches)
    // happens off the clock; the timed work is the bin-pack itself.
    val frag = s"$work/appendlog"
    val compactLabel = "compact a 50-trigger append-fragmented table"
    if (stageSelected(compactLabel))
      (0 until 50).foreach { i =>
        ev.filter(pmod(col("event_id"), lit(50L)) === i)
          .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
          .parquet(frag)
      }
    timed(compactLabel) {
      val (b, a) = graft.state.Layout.compact(spark, frag,
        targetBytes = 128L * 1024 * 1024)
      println(f"   files: $b -> $a")
      spark.read.parquet(frag).count()
    }

    println(s"== round-3-final rows (${reps}x) ==")
    // noop-write materialization (the Bench methodology): a bare
    // count() would let Catalyst PRUNE the computed columns — a
    // scan-only op timed via count measures the scan, not the op
    timed(s"d38 gopher rules (${reps*5}k docs, scan-only)") {
      val g = corpus
        .withColumn("__toks", graft.functions.Text.tokens(col("text")))
        .select(col("doc_id"),
          graft.functions.Text.gopherStats(col("__toks")).as("g"))
        .select("doc_id", "g.*")
      g.write.mode("overwrite").format("noop").save()
      reps * 5000L
    }
    timed(s"q35 rolling frame windows (${reps/10.0}M events, one user shuffle)") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      ev.withColumn("__cents", round(col("value") * 100, 0).cast("long"))
        .withColumn("win_sum",
          sum("__cents").over(w.rowsBetween(-3, Window.currentRow)))
        .withColumn("run_sum", sum("__cents").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .write.mode("overwrite").format("noop").save()
      reps * 100000L
    }
    timed(s"q36 pivot (${reps/10.0}M events -> wide per-user counts)") {
      ev.groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1))).na.fill(0L).count()
    }
    // token salting makes replica block keys disjoint, so block SIZE
    // is scale-invariant and candidate pairs grow exactly reps× — the
    // selective-key property d39's comment demands, now measured
    timed(s"d39 blocked fuzzy linkage (${reps*5}k docs, 2-token blocks)") {
      Dedup.blockedEditDistancePairs(corpus, "text", "doc_id",
        blockToks = 2, prefixLen = 60, maxDist = 30).count()
    }

    println(s"== sampling / recall / grouping-sets rows (${reps}x) ==")
    // d40: the TakeOrderedAndProject heap path — only k·partitions
    // rows ever leave the executors regardless of corpus size
    timed(s"d40 A-ES weighted top-50 (${reps*5}k docs)") {
      graft.functions.Sampling.weightedTopK(
        corpus.select(col("doc_id"),
          graft.functions.Text.tokenCount(col("text")).as("n_tokens")),
        col("n_tokens"), col("doc_id"), k = 50, seedTag = "es").count()
    }
    // v12: assignment once (tracked persist), then three
    // centroid-pruned top-k probes against the broadcast truth set
    timed(s"v12 IVF recall sweep (${reps*2}k vecs, nprobe 1..3)") {
      val e0 = graft.Tables.embeddings(spark, d)
      val embR = (0 until reps).map(i => e0
        .withColumn("vec_id", col("vec_id") + i * 100000000L))
        .reduce(_ unionByName _)
      val centroids = e0.filter(col("vec_id") < 8)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toSeq)).toSeq
      val query = centroids.find(_._1 == 1).get._2
      val exact = graft.functions.Vectors
        .topKCosine(embR, "embedding", query, 20).select("vec_id")
      val assigned = graft.CacheTracker.persistTracked(
        graft.functions.Vectors.ivfAssign(embR, "embedding", centroids))
      val n = (1 to 3).map { np =>
        graft.functions.Vectors.ivfTopK(assigned, "embedding",
            centroids, query, k = 20, nprobe = np)
          .join(broadcast(exact), Seq("vec_id"), "left_semi").count()
      }.sum
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"q40 grouping sets (${reps/10.0}M events, 3 slices)") {
      ev.select(col("event_type"),
          date_format(col("ts"), "yyyy-MM").as("month"),
          round(col("value") * 100, 0).cast("long").as("__cents"))
        .groupingSets(
          Seq(Seq(col("event_type")), Seq(col("month")), Seq.empty),
          col("event_type"), col("month"))
        .agg(count(lit(1)).as("n"), sum(col("__cents")).as("c"))
        .count()
    }
    timed(s"q41 decay top-20 (${reps/10.0}M events, exact ints)") {
      ev.select(col("user_id"),
          round(col("value") * 100, 0).cast("long").as("__cents"),
          least(lit(26L), greatest(lit(0L),
            expr("datediff(DATE'2024-07-01', to_date(ts)) DIV 7")
              .cast("long"))).as("__aw"))
        .groupBy("user_id")
        .agg(sum((col("__cents") *
            pow(lit(2.0d), lit(26L) - col("__aw"))).cast("long"))
          .as("score_micro"))
        .orderBy(col("score_micro").desc, col("user_id").asc)
        .limit(20).count()
    }
    timed(s"q42 funnel (${reps/10.0}M events, 3 chained stages)") {
      val e3 = ev.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val v = e3.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("t1"))
      val c = e3.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("us") > col("t1"))
        .groupBy("user_id").agg(min("us").as("t2"))
      val p = e3.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("us") > col("t2"))
        .groupBy("user_id").agg(min("us").as("t3"))
      Seq(v, c, p).map(df =>
        df.agg(count(lit(1)).as("n")).select(col("n")))
        .reduce(_.unionAll(_)).count()
    }
    // token salting keeps cross-replica shingles disjoint, so the
    // prefix-join truth (and the prefix blocks) grow exactly reps×
    timed(s"d41 prefix-filter exact join (${reps*5}k docs, t=4/5)") {
      val n = Dedup.prefixFilterJoinPairs(corpus, "text", "doc_id",
        shingleN = 3, tNum = 4, tDen = 5).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"d42 containment join (${reps*5}k docs, t=9/10)") {
      val n = Dedup.containmentJoinPairs(corpus, "text", "doc_id",
        shingleN = 3, tNum = 9, tDen = 10).count()
      graft.CacheTracker.releaseAll(); n
    }
    // mm06 at 10x: generate + decode + hash 50k PNGs, band, verify.
    // NOTE: replica doc_ids repeat the dims/pixel formula mod 32/16,
    // so cross-replica images DO near-dup — the pair count grows
    // ~quadratically BY CONSTRUCTION of this synthetic set (real
    // image corpora don't alias like this); the banded join + slim
    // (key, id) shuffle is the structural claim being measured.
    if (reps > 10) {
      // the synthetic pixel formulas alias doc_id mod 256, so the
      // TRUE pair count grows quadratically with replication — at
      // 100x that is ~500M real near-identical pairs, a property of
      // the fixture, not the operator. 10x is the meaningful bound.
      println("   mm06 skipped at reps>10 (fixture aliasing makes " +
        "the true pair set quadratic — see BENCH_NOTES)")
    } else
    timed(s"mm06 image aHash near-dup (${reps*5}k PNGs)") {
      val media = graft.multimodal.Multimodal.syntheticPngMedia(
        corpus.select("doc_id"))(spark)
      val hashed = graft.CacheTracker.persistTracked(
        graft.multimodal.Multimodal.imageAHash(media)(spark)
          .select(col("media_id"), col("ahash_bits")))
      val banded = hashed.select(col("media_id"),
        posexplode(array((0 until 4).map(b =>
          substring(col("ahash_bits"), b * 16 + 1, 16)): _*))
          .as(Seq("band", "key")))
      val n = banded
        .select(col("band"), col("key"), col("media_id").as("id_a"))
        .join(banded.select(col("band"), col("key"),
          col("media_id").as("id_b")), Seq("band", "key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct().count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"q43 cohort retention (${reps/10.0}M events)") {
      val e3 = ev.select(col("user_id"),
        expr("datediff(to_date(ts), DATE'2024-01-01') DIV 7")
          .cast("long").as("wk"))
      val cohort = e3.groupBy("user_id").agg(min("wk").as("cw"))
      e3.join(cohort, "user_id")
        .groupBy(col("cw"), (col("wk") - col("cw")).as("off"))
        .agg(count_distinct(col("user_id")).as("n")).count()
    }
    timed(s"d43 novelty score (${reps*5}k docs)") {
      // persist the ARRAY table (pre-explode) — see the d43 catalog
      // comment: the Generate otherwise re-inlines the tokenizer
      val sets = graft.CacheTracker.persistTracked(corpus
        .withColumn("__toks", graft.functions.Text.tokens(col("text")))
        .select(col("doc_id"), array_distinct(graft.functions.Text
          .wordShingles(col("__toks"), 3)).as("sh")))
      val ex = sets.select(col("doc_id"), explode(col("sh")).as("tk"))
      val first = ex.groupBy("tk").agg(min("doc_id").as("fid"))
      val n = ex.join(first, "tk").groupBy("doc_id")
        .agg(count(lit(1)).as("ns"),
          count(when(col("fid") === col("doc_id"), 1)).as("nv"))
        .count()
      graft.CacheTracker.releaseAll(); n
    }

    println(s"== round-4 rows (${reps}x) ==")
    // delta = every 7th doc; the salting keeps truth pairs reps×
    timed(s"d44 incremental probe (delta=1/7 of ${reps*5}k docs)") {
      val n = Dedup.minhashLshProbe(
        corpus.filter(col("doc_id") % 7 =!= 0),
        corpus.filter(col("doc_id") % 7 === 0),
        "text", "doc_id", shingleN = 3, k = 32, bands = 8,
        threshold = 0.2, seed = 42L).count()
      graft.CacheTracker.releaseAll(); n
    }
    // the SETS-level probe against a PERSISTED shingle side table —
    // the exact incremental contract (StreamNearDedup's storage
    // shape): the corpus is prepped ONCE (one-time side-table write,
    // timed separately like the index builds), and the per-batch
    // probe pays only the delta prep + banding join — never the
    // corpus re-shingle that dominates d44's raw-text form.
    val shingleSideDir = s"$work/shingle_side"
    val sideLabel = s"d44b shingle side table write (one-time, " +
      s"${reps*5}k docs)"
    val probeSetsLabel = s"d44b probe-sets: 2k delta vs persisted " +
      s"${reps*5}k-doc side table"
    def shingleSets(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").as("id"),
        graft.functions.Text.tokens(col("text")).as("toks"))
      .select(col("id"),
        graft.functions.Text.wordShingles(col("toks"), 3).as("sh"))
    // freshness flag: every downstream d44b/d44c stage must see a
    // side table written at THIS run's reps — a leftover dir from a
    // different-scale run has data files but mislabels the decade
    var shingleSideFresh = false
    def writeShingleSide(): Unit = {
      shingleSets(corpus).write.mode("overwrite")
        .parquet(shingleSideDir)
      shingleSideFresh = true
    }
    timed(sideLabel) {
      writeShingleSide()
      spark.read.parquet(shingleSideDir).count()
    }
    if (!shingleSideFresh && stageSelected(probeSetsLabel))
      writeShingleSide()
    timed(probeSetsLabel) {
      // a micro-batch-sized delta (the operator's documented
      // contract), deterministic: every 7th doc below id 14000 =
      // 2000 replica-0 docs (token salting keeps their shingles
      // replica-local, so truth pairs stay delta-vs-its-own-replica)
      val n = Dedup.minhashLshProbeSets(
        spark.read.parquet(shingleSideDir)
          .filter(col("id") % 7 =!= 0),
        shingleSets(corpus.filter(
          col("doc_id") % 7 === 0 && col("doc_id") < 14000)),
        k = 32, bands = 8, threshold = 0.2, seed = 42L).count()
      graft.CacheTracker.releaseAll(); n
    }
    // the O(delta) form: the BANDED projection is persisted too, so
    // a probe never re-bands the corpus (d44b measured that cost:
    // ~8.8 GB shuffle per probe at 5M docs). Expected here: delta
    // banding + candidate fetch only — shuffle collapses to MBs.
    val bandSideDir = s"$work/band_side"
    val bandSideLabel = s"d44c banded side table write (one-time, " +
      s"${reps*5}k docs)"
    val probeBandsLabel = s"d44c probe-bands: 2k delta vs persisted " +
      s"${reps*5}k-doc band+set side tables"
    // d44c derives from the d44b sets table — regenerate it off-clock
    // when this run hasn't written it yet (an on-disk leftover from a
    // different-reps run would silently probe a stale-scale corpus
    // under this run's label; freshness, not existence, is the guard)
    if (!shingleSideFresh &&
        (stageSelected(bandSideLabel) || stageSelected(probeBandsLabel)))
      writeShingleSide()
    var bandSideFresh = false
    def writeBandSide(): Unit = {
      Dedup.minhashBandRows(
        spark.read.parquet(shingleSideDir), k = 32, bands = 8,
        seed = 42L)
        .write.mode("overwrite").parquet(bandSideDir)
      bandSideFresh = true
    }
    timed(bandSideLabel) {
      writeBandSide()
      spark.read.parquet(bandSideDir).count()
    }
    if (!bandSideFresh && stageSelected(probeBandsLabel))
      writeBandSide()
    timed(probeBandsLabel) {
      val n = Dedup.minhashLshProbeBands(
        spark.read.parquet(bandSideDir)
          .filter(col("id") % 7 =!= 0),
        spark.read.parquet(shingleSideDir)
          .filter(col("id") % 7 =!= 0),
        shingleSets(corpus.filter(
          col("doc_id") % 7 === 0 && col("doc_id") < 14000)),
        k = 32, bands = 8, threshold = 0.2, seed = 42L).count()
      graft.CacheTracker.releaseAll(); n
    }
    // the BUCKETED band layout (writeBandSideTable): a true
    // micro-batch delta (20 docs → ≤160 band keys) against the same
    // corpus, flat vs bucket-pruned — the pruned scan reads
    // ≤160 of 1024 buckets (directory-level), the flat one the whole
    // table. 2k-delta probes saturate any practical modulus (16k
    // keys), which is why THIS stage uses the batch size the probe's
    // contract names.
    val bandBucketedDir = s"$work/band_side_bucketed"
    val setsBucketedDir = s"$work/sets_side_bucketed"
    // ALL d44d labels up front — guards reference the vals, never a
    // re-spelled literal (the stageSelected drift rule)
    val d44dWriteLabel = s"d44d bucketed band table write (one-time, " +
      s"${reps*5}k docs, n=1024)"
    val d44dFlatLabel = s"d44d probe 20-doc batch vs FLAT band table"
    val d44dPrunedLabel =
      s"d44d probe 20-doc batch BUCKET-PRUNED (n=1024)"
    val d44dSetsWriteLabel = s"d44d bucketed sets table write " +
      s"(one-time, ${reps*5}k docs, n=1024)"
    val d44dFullLabel =
      s"d44d probe 20-doc batch FULLY-PRUNED (bands+sets n=1024)"
    def microDelta = shingleSets(corpus.filter(
      col("doc_id") % 7 === 0 && col("doc_id") < 140))
    // same freshness contract as d44b/d44c: every d44d stage derives
    // from the sets side table — regenerate off-clock if this run
    // hasn't written it
    if (!shingleSideFresh &&
        Seq(d44dWriteLabel, d44dFlatLabel, d44dPrunedLabel,
          d44dSetsWriteLabel, d44dFullLabel).exists(stageSelected))
      writeShingleSide()
    // ... and the FLAT comparison probe reads the d44c band table
    if (!bandSideFresh && stageSelected(d44dFlatLabel))
      writeBandSide()
    // the BUCKETED artifacts are freshness-guarded too — a marker
    // match alone would reuse a different-reps run's table under
    // this run's scale label (the d44c lesson)
    var bandBucketedFresh = false
    def writeBandBucketed(): Unit = {
      Dedup.writeBandSideTable(
        Dedup.minhashBandRows(
          spark.read.parquet(shingleSideDir), k = 32, bands = 8,
          seed = 42L), bandBucketedDir, n = 1024)
      bandBucketedFresh = true
    }
    timed(d44dWriteLabel) {
      writeBandBucketed()
      spark.read.parquet(bandBucketedDir).count()
    }
    if (!bandBucketedFresh &&
        (stageSelected(d44dPrunedLabel) ||
          stageSelected(d44dFullLabel)))
      writeBandBucketed()
    timed(d44dFlatLabel) {
      val n = Dedup.minhashLshProbeBands(
        spark.read.parquet(bandSideDir),
        spark.read.parquet(shingleSideDir),
        microDelta,
        k = 32, bands = 8, threshold = 0.2, seed = 42L).count()
      graft.CacheTracker.releaseAll(); n
    }
    // MODULUS RESOLVED FROM THE MARKERS (minhashLshProbeBandsAt),
    // never hardcoded: a rebuild at a different n can then never
    // leave this probe silently mis-pruning (the sets side is the
    // unmarked flat table here → no sets prune, scan-not-lossy)
    timed(d44dPrunedLabel) {
      val n = Dedup.minhashLshProbeBandsAt(spark,
        bandBucketedDir, shingleSideDir, microDelta,
        k = 32, bands = 8, threshold = 0.2, seed = 42L).count()
      graft.CacheTracker.releaseAll(); n
    }
    // BOTH side tables bucketed: the candidate fetch prunes on
    // id_bucket too — the last O(corpus) read term in the probe
    var setsBucketedFresh = false
    def writeSetsBucketed(): Unit = {
      Dedup.writeSetsSideTable(
        spark.read.parquet(shingleSideDir), setsBucketedDir, n = 1024)
      setsBucketedFresh = true
    }
    timed(d44dSetsWriteLabel) {
      writeSetsBucketed()
      spark.read.parquet(setsBucketedDir).count()
    }
    if (!setsBucketedFresh && stageSelected(d44dFullLabel))
      writeSetsBucketed()
    timed(d44dFullLabel) {
      val n = Dedup.minhashLshProbeBandsAt(spark,
        bandBucketedDir, setsBucketedDir, microDelta,
        k = 32, bands = 8, threshold = 0.2, seed = 42L).count()
      graft.CacheTracker.releaseAll(); n
    }
    // the STREAMING operator end-to-end (probe + pairs write + both
    // maintenance writes), flat vs bucketed mode — d44d measures the
    // probe core; this measures what a foreachBatch trigger actually
    // pays. Seeding BULK-WRITES the streaming layouts directly
    // (batch_id=0 leaves + markers + watermark — byte-compatible
    // with what probeAndAppend maintains): running the operator over
    // the whole corpus as batch 0 broadcast the full id set and
    // self-joined the full band table, so seeding cost and driver
    // memory grew with reps and could fail before the timed stages
    // ran (ADVICE r9). One-time, off the clock.
    // dynamic-mode writes (the streaming operator's own mode) so
    // already-written layout markers survive — ONE recipe for every
    // seeding block (d44e, aged): a divergence here would silently
    // seed a different layout shape than probeAndAppend maintains
    def dynOverwrite(df: org.apache.spark.sql.DataFrame, dir: String,
                     parts: String*): Unit =
      df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(parts: _*).parquet(dir)
    val d44eFlatLabel =
      s"d44e streaming probe+append 20-doc batch, FLAT layout"
    val d44eBucketedLabel =
      s"d44e streaming probe+append 20-doc batch, BUCKETED (n=1024)"
    if (Seq(d44eFlatLabel, d44eBucketedLabel).exists(stageSelected)) {
      val sDir = s"$work/d44e"
      def rm(d: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
      def seedSets = shingleSets(corpus.filter(col("doc_id") % 7 =!= 0))
      def freshBatch = corpus
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 140)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          col("text"))
      def markerAndWatermark(dir: String, key: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        fs.mkdirs(p)
        graft.state.Layout.writeLayoutMarker(fs, p, key, 1024)
        if (key == "sets_buckets")
          graft.state.Generations.writeLastBatchWatermark(fs, p, 0L)
      }
      // each mode's seeding pass runs only when ITS timed stage is
      // selected (seeding the other mode's tables would be minutes
      // of work feeding a skipped stage)
      if (stageSelected(d44eFlatLabel)) {
        rm(s"$sDir/flat")
        dynOverwrite(seedSets.withColumn("batch_id", lit(0L)),
          s"$sDir/flat/side", "batch_id")
      }
      if (stageSelected(d44eBucketedLabel)) {
        rm(s"$sDir/bkt")
        markerAndWatermark(s"$sDir/bkt/side", "sets_buckets")
        markerAndWatermark(s"$sDir/bkt/band", "band_buckets")
        val ss = seedSets
        dynOverwrite(ss
            .withColumn("id_bucket", Dedup.idBucket(col("id"), 1024))
            .withColumn("batch_id", lit(0L)),
          s"$sDir/bkt/side", "id_bucket", "batch_id")
        dynOverwrite(Dedup.minhashBandRows(ss, k = 32, bands = 8, seed = 42L)
            .withColumn("band_bucket",
              Dedup.bandBucket(col("band"), col("key"), 1024))
            .withColumn("batch_id", lit(0L)),
          s"$sDir/bkt/band", "band_bucket", "batch_id")
      }
      timed(d44eFlatLabel) {
        graft.streaming.StreamNearDedup.probeAndAppend(spark,
          freshBatch, 1L, s"$sDir/flat/side", s"$sDir/flat/pairs",
          threshold = 0.2)
      }
      timed(d44eBucketedLabel) {
        graft.streaming.StreamNearDedup.probeAndAppend(spark,
          freshBatch, 1L, s"$sDir/bkt/side", s"$sDir/bkt/pairs",
          threshold = 0.2, bandDir = Some(s"$sDir/bkt/band"),
          buckets = 1024)
      }
    } else {
      println(f"$d44eFlatLabel%-42s   skipped (filter)")
      println(f"$d44eBucketedLabel%-42s   skipped (filter)")
    }
    // ── d44f: the flat→bucketed MIGRATION as one engine call
    //    (VERDICT r12 #1's timing line): a flat store holding the
    //    whole corpus across 8 batch leaves — the shape a flat
    //    stream's life leaves behind when it outgrows the 1M-doc
    //    floor — rebuilt in place by migrateToBucketed (staged sets
    //    tree + band build + marker/watermark/manifest handshake +
    //    swap), then ONE bucketed trigger proving the migrated store
    //    serves at the bucketed mode's per-trigger cost. ────────────
    val d44fLabel =
      s"d44f migrate flat->bucketed (${reps*5}k docs, one call)"
    val d44fTrigLabel =
      s"d44f post-migration 20-doc trigger (bucketed, n=1024)"
    if (Seq(d44fLabel, d44fTrigLabel).exists(stageSelected)) {
      require(Seq(d44fLabel, d44fTrigLabel).forall(stageSelected),
        "the d44f stages are one pipeline — select both ('d44f') " +
          "or none")
      val mDir = s"$work/d44f"
      locally {
        val p = new org.apache.hadoop.fs.Path(mDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
      // off-clock seeding: the flat layout exactly as probeAndAppend
      // leaves it (batch_id leaves at the root, no marker, no
      // watermark — flat mode writes neither)
      dynOverwrite(shingleSets(corpus)
          .withColumn("batch_id", pmod(col("id"), lit(8L))),
        s"$mDir/side", "batch_id")
      timed(d44fLabel) {
        val r = graft.streaming.StreamNearDedup.migrateToBucketed(
          spark, s"$mDir/side", s"$mDir/band", buckets = 1024)
        require(r.migrated && r.preservedBatch.contains(7L),
          s"unexpected migration report: $r")
        r.docs
      }
      timed(d44fTrigLabel) {
        val delta = corpus
          .filter(col("doc_id") % 7 === 0 && col("doc_id") < 140)
          .select((col("doc_id") + 2000000000L).as("doc_id"),
            col("text"))
        val n = graft.streaming.StreamNearDedup.probeAndAppend(spark,
          delta, 8L, s"$mDir/side", s"$mDir/pairs", threshold = 0.2,
          bandDir = Some(s"$mDir/band"), buckets = 1024)
        graft.CacheTracker.releaseAll()
        require(n >= 20, s"post-migration trigger found only $n pairs")
        n
      }
    } else {
      println(f"$d44fLabel%-42s   skipped (filter)")
      println(f"$d44fTrigLabel%-42s   skipped (filter)")
    }
    // ── the aging story, measured (VERDICT r9 #1's "done" line):
    //    the bucketed streaming mode appends batch_id leaves every
    //    trigger; after ~1k batches the per-trigger LISTING of those
    //    leaves is the dominant fixed cost. One pipeline: seed a
    //    corpus + age the side tables with 1000 direct-written
    //    batches (off-clock, operator-shaped leaves) → timed trigger
    //    on the aged store → timed FOLD to the base generation
    //    (Generations.foldBatches, horizon = current batch) → timed
    //    trigger again. Leaf-dir counts printed around the fold are
    //    the listing-cost evidence. ─────────────────────────────────
    println("== aged streaming side tables: ~1k-batch fold ==")
    // TWO measured decades for the auto-fold threshold (VERDICT r12
    // #3): the same 50k-seed + 1000x5-doc aging script at n=1024
    // (the r10/r11/r12 regime point -- the band table ages to ~40
    // leaves/bucket) and at n=4096 (the SAME ~41k total band leaves
    // spread 4x thinner, ~10/bucket). A 20-doc trigger touches <=160
    // band buckets at EITHER modulus, so if the per-enumerated-leaf
    // cost is the invariant behind AutoFoldLeavesPerBucket's
    // derivation (file-open cost per leaf), the n=4096 pre-fold
    // excess over its own post-fold floor should shrink
    // ~proportionally to lpb -- and the threshold, expressed in
    // leaves/bucket, holds across moduli. Both pipelines print
    // sampled lpb + leaf counts so BENCH_NOTES derives the per-leaf
    // marginal cost per decade from one same-run table.
    def agedPipeline(tag: String, buckets: Int): Unit = {
      val agedPreLabel =
        s"$tag near-dup trigger: 20 docs vs 1k-batch leaves PRE-fold"
      val agedFoldLabel =
        s"$tag near-dup AUTO-FOLD: engine leaves/bucket decision"
      val agedPostLabel =
        s"$tag near-dup trigger: 20 docs AFTER auto-fold (+auto check)"
      val agedAll = Seq(agedPreLabel, agedFoldLabel, agedPostLabel)
      if (!agedAll.exists(stageSelected)) {
        agedAll.foreach(l => println(f"$l%-42s   skipped (filter)"))
        return
      }
      require(agedAll.forall(stageSelected),
        s"the $tag stages are one pipeline — select all three " +
          s"('$tag ') or none")
      val aDir = s"$work/$tag"
      val conf = spark.sparkContext.hadoopConfiguration
      locally {
        val p = new org.apache.hadoop.fs.Path(aDir)
        p.getFileSystem(conf).delete(p, true)
      }
      val aSide = s"$aDir/side"; val aBand = s"$aDir/band"
      val aPairs = s"$aDir/pairs"
      def genText(id: org.apache.spark.sql.Column) =
        concat_ws(" ", transform(sequence(lit(0), lit(20)),
          i => concat(lit("w"),
            pmod(xxhash64(id * 31 + i), lit(500L)))))
      def setsOf(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("toks", graft.functions.Text.tokens(col("text")))
        .withColumn("sh",
          graft.functions.Text.wordShingles(col("toks"), 3))
        .drop("toks", "text")
      // seed corpus: 50k docs as batch 0 (bulk-written layouts,
      // markers + watermark — the d44e seeding shape)
      Seq(aSide -> "sets_buckets", aBand -> "band_buckets")
        .foreach { case (d, key) =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(conf)
          fs.mkdirs(p)
          graft.state.Layout.writeLayoutMarker(fs, p, key, buckets)
        }
      locally {
        val p = new org.apache.hadoop.fs.Path(aSide)
        graft.state.Generations.writeLastBatchWatermark(
          p.getFileSystem(conf), p, 1000L)
      }
      val seedSets = setsOf(spark.range(50000)
        .select(col("id").as("id"), genText(col("id")).as("text")))
      dynOverwrite(seedSets
          .withColumn("id_bucket", Dedup.idBucket(col("id"), buckets))
          .withColumn("batch_id", lit(0L))
          .repartition(col("id_bucket")),
        aSide, "id_bucket", "batch_id")
      dynOverwrite(Dedup.minhashBandRows(seedSets, k = 32, bands = 8,
            seed = 42L)
          .withColumn("band_bucket",
            Dedup.bandBucket(col("band"), col("key"), buckets))
          .withColumn("batch_id", lit(0L))
          .repartition(col("band_bucket")),
        aBand, "band_bucket", "batch_id")
      // age: batches 1..1000 × 5 docs each, operator-shaped leaves
      // (one dynamic write per table; batch_id recomputed from the
      // id arithmetic so the band projection needs no join)
      val agedDocs = spark.range(5000).select(
        (col("id") + 1000000000L).as("id"),
        (col("id") / 5 + 1).cast("long").as("batch_id"),
        genText(col("id") + 1000000000L).as("text"))
      val agedSets = setsOf(agedDocs)
      dynOverwrite(agedSets
          .withColumn("id_bucket", Dedup.idBucket(col("id"), buckets))
          .repartition(col("id_bucket"), col("batch_id")),
        aSide, "id_bucket", "batch_id")
      dynOverwrite(Dedup.minhashBandRows(agedSets.select("id", "sh"),
            k = 32, bands = 8, seed = 42L)
          .withColumn("band_bucket",
            Dedup.bandBucket(col("band"), col("key"), buckets))
          .withColumn("batch_id",
            ((col("id") - 1000000000L) / 5 + 1).cast("long"))
          .repartition(col("band_bucket"), col("batch_id")),
        aBand, "band_bucket", "batch_id")
      def leafCount(d: String): Int = {
        val p = new org.apache.hadoop.fs.Path(d)
        Option(p.getFileSystem(conf).globStatus(
          new org.apache.hadoop.fs.Path(p, "*/batch_id=*")))
          .map(_.length).getOrElse(0)
      }
      println(s"  $tag leaves pre-fold: sets=${leafCount(aSide)} " +
        s"band=${leafCount(aBand)} (n=$buckets)")
      // the trigger: 10 exact dups of seed docs (guaranteed pairs) +
      // 10 fresh docs
      def trigger(batchId: Long): Long = {
        import spark.implicits._
        val delta = (0 until 20).map { i =>
          val srcId = if (i < 10) i.toLong else 4000000000L + i
          (3000000000L + batchId * 100 + i, srcId)
        }.toDF("doc_id", "src")
          .select(col("doc_id"), genText(col("src")).as("text"))
        val n = graft.streaming.StreamNearDedup.probeAndAppend(spark,
          delta, batchId, aSide, aPairs, threshold = 0.5,
          bandDir = Some(aBand), buckets = buckets)
        graft.CacheTracker.releaseAll()
        require(n >= 10, s"$tag trigger found only $n pairs")
        n
      }
      timed(agedPreLabel) { trigger(1001L) }
      // the ENGINE's own cadence (run()'s default, no foldEvery):
      // sample mean leaves-per-bucket, fold when it crosses the
      // threshold — on this 1k-batch store the sample sits ~3x past
      // it, so the decision MUST fire (require pins that; a silent
      // non-fire would fake the post-fold walls below)
      timed(agedFoldLabel) {
        val lpbS = graft.state.Generations.sampleLeavesPerBucket(
          spark, aSide)
        val lpbB = graft.state.Generations.sampleLeavesPerBucket(
          spark, aBand)
        val fired = graft.streaming.StreamNearDedup.maybeAutoFold(
          spark, aSide, Some(aBand), None, horizon = 1001L)
        require(fired.nonEmpty, "auto cadence did not fire on the " +
          s"$tag store (lpb sets=$lpbS band=$lpbB)")
        println(f"  auto decision: sampled leaves/bucket sets=" +
          f"$lpbS%.1f band=$lpbB%.1f, max >= threshold " +
          f"${graft.streaming.StreamNearDedup.Defaults
            .AutoFoldLeavesPerBucket}%.1f -> folded both side tables")
        fired.get.toLong
      }
      println(s"  $tag leaves post-fold: sets=${leafCount(aSide)} " +
        s"band=${leafCount(aBand)} (n=$buckets)")
      // an UN-TUNED run() trigger on the auto-maintained store: the
      // probe plus the per-trigger auto check (which samples and
      // declines on the now-healthy store) — the full default-path
      // per-trigger cost, no cadence ever passed
      timed(agedPostLabel) {
        val n = trigger(1002L)
        require(graft.streaming.StreamNearDedup.maybeAutoFold(
          spark, aSide, Some(aBand), None, horizon = 1002L).isEmpty,
          "auto cadence re-fired on a just-folded store")
        n
      }
    }
    agedPipeline("aged", 1024)
    agedPipeline("aged4096", 4096)
    timed(s"d45 segment dedup + rebuild (${reps*5}k docs)") {
      // replicas make every replica-0 doc's segments duplicated
      // across... no: token salting keeps segments replica-local, so
      // only true intra-replica dups count — reps× the sf0.1 truth
      val n = Dedup.segmentDedup(corpus, "text", "doc_id",
        segTokens = 16, minDocs = 2)
        .filter(col("n_removed") > 0).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"q46 phrase search (positional index, ${reps*5}k docs)") {
      graft.text.InvertedIndex.phraseSearch(
        graft.text.InvertedIndex.buildPositional(corpus,
          "text", "doc_id"),
        Seq("r0_big", "r0_order", "r0_scan")).count()
    }
    timed(s"q47 3-hop BFS (${reps/10.0}M events graph)") {
      val n = graft.graph.Traversal.khop(
        ev.filter(col("event_type") === "click")
          .select(col("user_id").as("src"),
            get_json_object(col("props"), "$.k").cast("long")
              .as("dst")),
        seed = 1L, maxHops = 3).count()
      graft.CacheTracker.releaseAll(); n
    }
    // queries stay replica-0 (the broadcast side is FIXED — at real
    // scale a large query set routes through IVF instead); the
    // labeled corpus side grows reps× → linear scan+heap cost
    timed(s"v14 kNN label vote (${reps}x labeled, fixed queries)") {
      graft.functions.Vectors.knnLabelVote(
        emb10.filter(col("vec_id") % 5 =!= 0),
        emb10.filter(col("vec_id") < 100000000L &&
          col("vec_id") % 5 === 0),
        "embedding", "vec_id", "label", k = 10).count()
    }
    timed(s"q48 custom as-of join (${reps/10.0}M events)") {
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .agg(max(col("event_id")).as("view_id"))
      graft.plans.AsOf.join(purchases, views,
        Seq("user_id"), Seq("v_user"), "ts", "v_ts", "view_id")
        .count()
    }
    timed(s"d46 bigram-LM surprisal (${reps*5}k docs)") {
      val n = graft.text.UnigramLm.bigramSurprisal(corpus,
        "text", "doc_id").count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"q49 length tiles (distributed rank, ${reps*5}k docs)") {
      val counted = corpus.select(col("doc_id"),
        graft.functions.Text.tokenCount(col("text")).as("n_tokens"))
      val ranked = graft.query.Rank.globalRowNumber(counted,
        Seq(col("n_tokens").asc, col("doc_id").asc))
      val nr = ranked.count()
      val n = ranked
        .withColumn("tile", expr(s"(rank - 1) * 8 DIV $nr + 1"))
        .groupBy("tile").agg(count(lit(1)).as("n")).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"d47 sorted-neighborhood w=5 (${reps*5}k docs)") {
      val n = Dedup.sortedNeighborhoodPairs(corpus, "text", "doc_id",
        keyChars = 16, w = 5, shingleN = 3, threshold = 0.2).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"mm07 MP4 container parse (${reps*5}k videos)") {
      graft.multimodal.Multimodal.videoMeta(
        graft.multimodal.Multimodal.syntheticMp4Media(
          corpus.select("doc_id"))(spark))(spark)
        .filter(col("ok")).count()
    }
    // real MJPEG demux + JPEG frame decode, every-2nd frame: encode
    // and decode costs scale with FRAMES (≈2/video here) and stay on
    // the executor — zero shuffle, like every media stage
    timed(s"mm10 video frame decode (${reps*5}k videos, ~2 fr each)") {
      graft.multimodal.Multimodal.videoFrames(
        graft.multimodal.Multimodal.syntheticMjpegMedia(
          corpus.select("doc_id"))(spark), every = 2)(spark)
        .filter(col("decoded")).count()
    }
    timed(s"d49 KMV distinct sketch (${reps*5}k docs, k=64)") {
      import org.apache.spark.sql.expressions.Window
      // the replicated corpus carries no source column — derive one
      // (same cardinality role: tens of sketch groups)
      val sh = corpus
        .withColumn("source", concat(lit("src"), col("doc_id") % 20))
        .withColumn("__toks", graft.functions.Text.tokens(col("text")))
        .select(col("source"), explode(graft.functions.Text
          .wordShingles(col("__toks"), 3)).as("sg"))
        .distinct()
      val w = Window.partitionBy("source")
        .orderBy(col("h").asc, col("sg").asc)
      sh.withColumn("h",
          conv(substring(md5(col("sg")), 1, 15), 16, 10).cast("long"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 64).count()
    }
    timed(s"d50 split-leakage audit (${reps*5}k docs)") {
      val draw = graft.functions.Text.portableTokenHash(
        concat(lit("split#"), col("doc_id").cast("string")))
      val frac = draw.cast("double") / lit(math.pow(2, 60))
      val splits = corpus.select(col("doc_id"),
        when(frac < 0.8, lit("train")).when(frac < 0.9, lit("val"))
          .otherwise(lit("test")).as("split"))
      val n = Dedup.minhashLshPairs(corpus, "text", "doc_id",
          shingleN = 3, k = 32, bands = 8, threshold = 0.2,
          seed = 42L)
        .join(splits.select(col("doc_id").as("id_a"),
          col("split").as("split_a")), "id_a")
        .join(splits.select(col("doc_id").as("id_b"),
          col("split").as("split_b")), "id_b")
        .filter(col("split_a") =!= col("split_b")).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"q51 forward as-of (${reps/10.0}M events)") {
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .agg(max(col("event_id")).as("view_id"))
      graft.plans.AsOf.join(purchases, views,
        Seq("user_id"), Seq("v_user"), "ts", "v_ts", "view_id",
        direction = "forward").count()
    }
    timed(s"q52 nearest as-of (${reps/10.0}M events)") {
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .agg(max(col("event_id")).as("view_id"))
      graft.plans.AsOf.join(purchases, views,
        Seq("user_id"), Seq("v_user"), "ts", "v_ts", "view_id",
        direction = "nearest").count()
    }
    timed(s"d51 KMV intersect (${reps*5}k docs, 20 srcs, k=1024)") {
      // same derived source key as the d49 stage; pairwise estimates
      // are O(pairs·k) AFTER the one corpus scan
      import org.apache.spark.sql.expressions.Window
      val k = 1024
      val sh = graft.CacheTracker.persistTracked(corpus
        .withColumn("source", concat(lit("src"), col("doc_id") % 20))
        .withColumn("__toks", graft.functions.Text.tokens(col("text")))
        .select(col("source"), explode(graft.functions.Text
          .wordShingles(col("__toks"), 3)).as("sg"))
        .distinct())
      // sk is persisted: it feeds three consumers (srcs, the pair
      // join, the count) — unpersisted, each re-runs the window's
      // repartition-by-source shuffle over the full distinct-shingle
      // table (measured 9× shuffle-read amplification at 100×)
      val sk = graft.CacheTracker.persistTracked(sh
        .withColumn("h",
          conv(substring(md5(col("sg")), 1, 15), 16, 10).cast("long"))
        .withColumn("rk", row_number().over(Window
          .partitionBy("source").orderBy(col("h"), col("sg"))))
        .filter(col("rk") <= k).select(col("source"), col("h")))
      val srcs = sk.select("source").distinct()
      val prs = srcs.select(col("source").as("a"))
        .crossJoin(srcs.select(col("source").as("b")))
        .filter(col("a") < col("b"))
      // FULL estimate path as the d51 row runs it (merge both sides,
      // per-pair re-rank to k, theta + intersection count) — only the
      // row's exact-recount verification join is omitted, it exists
      // to check the estimate, not to produce it
      val merged = prs
        .join(sk.select(col("source").as("a"), col("h"),
          lit(1).as("ia")), Seq("a"))
        .unionByName(prs.join(sk.select(col("source").as("b"),
          col("h"), lit(1).as("ia")), Seq("b"))
          .withColumnRenamed("ia", "ib")
          .select(col("a"), col("b"), col("h"),
            lit(0).as("ia"), col("ib")),
          allowMissingColumns = true)
        .na.fill(0, Seq("ia", "ib"))
        .groupBy("a", "b", "h")
        .agg(max("ia").as("ia"), max("ib").as("ib"))
      val ranked = merged.withColumn("rk", row_number().over(
        Window.partitionBy("a", "b").orderBy(col("h"))))
        .filter(col("rk") <= k)
      val n = ranked.groupBy("a", "b")
        .agg(max("h").as("theta"),
          count(when(col("ia") === 1 && col("ib") === 1, 1)).as("c"))
        .count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"d52 NB classifier train+apply (${reps*5}k docs)") {
      val labeled = corpus.withColumn("cls",
        concat(lit("c"), col("doc_id") % 5))
      val n = graft.text.NaiveBayes.trainApply(labeled, "text",
        "doc_id", "cls", col("doc_id") % 7 === 0).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"d53 PMI collocations (${reps*5}k docs)") {
      val n = graft.text.Collocations.pmiTopK(corpus, "text",
        minCount = 5, k = 50).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"v15 margin mining (A~1k queries x B=${reps}k)") {
      // candidate stage is the documented quadratic boundary (swaps
      // to IVF probes at corpus scale), so the query set stays
      // constant-size across reps — the measured axis is corpus
      // growth, mining throughput per query
      val a = emb10.filter(col("label") % 100 < 5 &&
        col("vec_id") % reps === 0)
      val b = emb10.filter(col("label") % 100 >= 5)
      val n = graft.functions.Vectors.marginMining(a, b,
        "embedding", "vec_id", k = 4, allowExact = true).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"v16 IVF-probed margin mining (~1k q x B=${reps}k)") {
      // the v15 scale path: nlist=64 / nprobe=4 → 1/16 of B per
      // query reaches the pair table (vs ALL of B in the exact form)
      val a = emb10.filter(col("label") % 100 < 5 &&
        col("vec_id") % reps === 0)
      val b = emb10.filter(col("label") % 100 >= 5)
      val cents = emb10.filter(col("vec_id") < 64)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toSeq))
        .toSeq
      val n = graft.functions.Vectors.marginMiningIvf(a, b,
        "embedding", "vec_id", k = 4, cents, nprobe = 4).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"d54 semantic decontam (${reps*2}k vecs, zero-shuffle map)") {
      graft.functions.Vectors.semanticDecontamFlags(
        emb10.filter(col("vec_id") % 5000 =!= 0),
        emb10.filter(col("vec_id") % 5000 === 0),
        "embedding", "vec_id", simMicroThreshold = 350000L).count()
    }

    println(s"== round-5 closure rows (${reps}x) ==")
    timed(s"q53 OHLC downsample (${reps/10.0}M events)") {
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("value"), col("ts"), col("event_id"))
        .groupBy("user_id", "day")
        .agg(min_by(col("value"),
            struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          max_by(col("value"),
            struct(col("ts"), col("event_id"))).as("close"),
          count(lit(1)).cast("long").as("n_events"))
        .count()
    }
    timed(s"mm08 frame-sample plan (${reps*5}k clips, metadata-only)") {
      graft.multimodal.Multimodal.frameSamplePlan(
        graft.multimodal.Multimodal.videoMeta(
          graft.multimodal.Multimodal.syntheticMp4Media(
            corpus.select("doc_id"))(spark))(spark),
        fps = 1, maxFrames = 8).count()
    }
    timed(s"mm09 audio chunk plan (${reps*5}k clips, real decode)") {
      graft.multimodal.Multimodal.audioChunkPlan(
        graft.multimodal.Multimodal.decodeAudios(
          graft.multimodal.Multimodal.syntheticWavMedia(
            corpus.select("doc_id"))(spark))(spark),
        winMs = 120, hopMs = 100).count()
    }
    timed(s"d58 shard pack (distributed prefix sum, ${reps*5}k docs)") {
      val draw = graft.functions.Text.portableTokenHash(
        concat(lit("pack#"), col("doc_id").cast("string")))
      val n = graft.query.Rank.globalRunningSum(
        corpus.withColumn("__draw", draw)
          .withColumn("__tok",
            graft.functions.Text.tokenCount(col("text")))
          .select(col("doc_id"), col("__draw"), col("__tok")),
        Seq(col("__draw"), col("doc_id")), col("__tok"), "cum_tokens")
        .withColumn("shard",
          floor((col("cum_tokens") - col("__tok")) / lit(4000L)))
        .count()
      graft.CacheTracker.releaseAll(); n
    }
    // mm06 DE-ALIASED (VERDICT r4 #3): per-replica pixel salt breaks
    // the fixture's id-mod-256 aliasing, so cross-replica images stop
    // being true near-duplicates and the banded candidate count can
    // be judged against the replica-local truth. Runs at EVERY reps
    // (the aliased stage above stays 10×-bounded as documented).
    // the 256-bit (16×16) production operator at the same reps: the
    // 8×8 banding's 16-bit keyspace hits its birthday floor at ~1M
    // images (measured: 819M candidates at 5M) — 64-bit band keys
    // push the floor past any real corpus, so this stage's candidate
    // count tracks the TRUTH pairs, not the keyspace
    timed(s"mm06 near-dup 256-bit hash (${reps*5}k PNGs)") {
      val media = graft.multimodal.Multimodal.syntheticPngMedia(
        corpus.select("doc_id"), saltOf = _ / 10000000L)(spark)
      val n = graft.multimodal.Multimodal.imageNeardupPairs(
        media, maxHamming = 3, gridW = 16, gridH = 16)(spark).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"mm06 image near-dup, de-aliased salt (${reps*5}k PNGs)") {
      val media = graft.multimodal.Multimodal.syntheticPngMedia(
        corpus.select("doc_id"),
        saltOf = _ / 10000000L)(spark) // salt = replica index
      val hashed = graft.CacheTracker.persistTracked(
        graft.multimodal.Multimodal.imageAHash(media)(spark)
          .select(col("media_id"), col("ahash_bits")))
      val banded = hashed.select(col("media_id"),
        posexplode(array((0 until 4).map(b =>
          substring(col("ahash_bits"), b * 16 + 1, 16)): _*))
          .as(Seq("band", "key")))
      val cand = banded
        .select(col("band"), col("key"), col("media_id").as("id_a"))
        .join(banded.select(col("band"), col("key"),
          col("media_id").as("id_b")), Seq("band", "key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val n = cand.count()
      graft.CacheTracker.releaseAll(); n
    }
    // q29 both regimes side by side (VERDICT r4 #6): the broadcast-
    // contrib loop (driver-sized ranks) vs the bucketed SMJ variant
    // (exchange-free big side — the form for ranks past the driver).
    // reps× disjoint supplier↔part subgraphs via key offsets.
    val prEdges = {
      val l0 = graft.Tables.lineitem(spark, d)
        .select(col("l_suppkey").cast("long").as("sk"),
          col("l_partkey").cast("long").as("pk"))
        .distinct()
      (0 until reps).map(i => l0
        .select((col("sk") + i * 10000000L).as("sk"),
          (col("pk") + i * 10000000L).as("pk")))
        .reduce(_ unionByName _)
        .select(explode(array(
          struct(concat(lit("s:"), col("sk")).as("src"),
            concat(lit("p:"), col("pk")).as("dst")),
          struct(concat(lit("p:"), col("pk")).as("src"),
            concat(lit("s:"), col("sk")).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    }
    timed(s"q29 pagerank broadcast loop (${reps}x graph, 5 iters)") {
      val n = graft.graph.LinkGraph.pageRank(prEdges, iters = 5).count()
      graft.CacheTracker.releaseAll(); n
    }
    timed(s"q29 bucketed edge write (${reps}x graph)") {
      graft.graph.LinkGraph.writeEdgesBucketed(prEdges, "scale_edges",
        s"$work/pr_edges")
      spark.table("scale_edges").count()
    }
    timed(s"q29 pagerank bucketed SMJ (${reps}x graph, 5 iters)") {
      val n = graft.graph.LinkGraph.pageRankBucketed(spark,
        "scale_edges", iters = 5).count()
      graft.CacheTracker.releaseAll(); n
    }

    // ── integrated streaming freshness (VERDICT r4 #8): ONE recorded
    //    run chaining the pieces a live deployment chains per micro-
    //    batch — bucket-pruned merge into the stored posts, then the
    //    crash-safe incremental view refresh, then the feed read that
    //    serves the result. The timed number is the END-TO-END
    //    freshness latency: op arrival → queryable in both the store
    //    and the maintained aggregate view. History seeding is one-
    //    time work and stays off the clock. ─────────────────────────
    println("== integrated streaming freshness (merge + view + feed) ==")
    val viewDir = s"$work/author_view"
    val freshLabel = s"e2e freshness: 20-op batch vs $nPosts stored"
    if (stageSelected(freshLabel)) {
      val vPath = new org.apache.hadoop.fs.Path(viewDir)
      val vfs = vPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      vfs.delete(vPath, true)
      vfs.delete(new org.apache.hadoop.fs.Path(s"${viewDir}__tmp"), true)
      graft.state.Incremental.maintainParquetView(viewDir,
        Seq("author"), lit(1L))(
        spark.read.parquet(postsDir).select("author"), 0L)
    }
    timed(freshLabel) {
      val blocks = blocksFor(1200, 20, nPosts * 3,
        lit("fresh body text"), stride = 6)
      // 1. merge the batch into the bucketed posts store
      graft.streaming.StreamIngest.mergeBlocksBatch(spark, blocks,
        postsDir)
      // 2. refresh the per-author partials view (atomic swap)
      graft.state.Incremental.maintainParquetView(viewDir,
        Seq("author"), lit(1L))(
        graft.ingest.PostsIngest.commentEvents(
          graft.ingest.OpExtract.ops(blocks)).select("author"), 1L)
      // 3. serve from BOTH refreshed artifacts: leaderboard from the
      //    view, latest-posts feed page from the merged store
      val topAuthors = spark.read.parquet(viewDir)
        .orderBy(col("n").desc, col("author").asc).limit(20).count()
      val freshFeed = spark.read.parquet(postsDir)
        .filter(col("body") === "fresh body text")
        .orderBy(col("created_at").desc).limit(100).count()
      graft.CacheTracker.releaseAll()
      topAuthors + freshFeed
    }

    // ── GraphQL transport over the merged store: the front door's
    //    claim is O(page) driver cost — parse + arg-compile + the
    //    same TakeOrderedAndProject feed plan + shaping 100 rows of
    //    JSON. Timed end-to-end (HTTP framing excluded; it is
    //    byte-copy). Depends on the catch-up merge stage's store,
    //    like the freshness stage above. ───────────────────────────
    // shared by every api-construction stage below (one definition —
    // a schema tweak must not leave two stages measuring different
    // shapes)
    def empty(st: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    // a REAL profiles table (one row per distinct author), so the
    // author{profile} leg joins against a populated store — an empty
    // frame would measure that probe as free
    def profiles50k = spark.range(50000).select(
      concat(lit("hive/user"), col("id")).as("_id"),
      concat(lit("user"), col("id")).as("username"),
      concat(lit("User "), col("id")).as("displayName"),
      lit("about text").as("about"),
      lit(null).cast("string").as("location"),
      lit(null).cast("string").as("website"),
      lit(null).cast("string").as("did"),
      struct(lit("a.png").as("avatar"),
        lit(null).cast("string").as("cover")).as("images"),
      struct(lit(null).cast("string").as("pinned_post")).as("extra"),
      (col("id") % 100).cast("double").as("score"))
    println("== graphql transport ==")
    timed(s"graphql socialFeed page (limit 100) vs $nPosts stored") {
      val api = new graft.api.GraftApi(spark, graft.api.ApiTables(
        posts = spark.read.parquet(postsDir),
        follows = empty(graft.domain.Schemas.follow),
        profiles = empty(graft.domain.Schemas.profile)))
      val resp = api.execute("{ socialFeed(pagination: {limit: 100})" +
        " { items { author permlink created_at } } }")
      require(!resp.has("errors"), resp.toString)
      resp.path("data").path("socialFeed").path("items").size().toLong
    }
    // nested hydration at scale: children(limit) adds ONE windowed
    // join (page-key semi-join first) — the reference would issue 100
    // finds. The fixture store's posts are all top-level, so child
    // counts are 0; the COST being measured (semi-join + window over
    // the store) is the same either way.
    timed(s"graphql feed page + children hydration vs $nPosts stored") {
      val api = new graft.api.GraftApi(spark, graft.api.ApiTables(
        posts = spark.read.parquet(postsDir),
        follows = empty(graft.domain.Schemas.follow),
        profiles = empty(graft.domain.Schemas.profile)))
      val resp = api.execute("{ socialFeed(pagination: {limit: 100})" +
        " { items { permlink children(limit: 5) { permlink } } } }")
      require(!resp.has("errors"), resp.toString)
      resp.path("data").path("socialFeed").path("items").size().toLong
    }
    // reply FOREST derived on the fly from the flat store (no files
    // touched): post k with k%10 in 1..8 replies to its decade leader
    // (k - k%10); k%10 == 9 replies to post k-8 — every leader has 8
    // children and its first child has a child. Replies must carry
    // the ingest-time comment flag, or the feed's F4 filter
    // (flags ∌ 'comment') keeps them in the page.
    def forestView(src: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val pid = regexp_extract(col("permlink"), "post(\\d+)", 1)
        .cast("long")
      val m = pmod(pid, lit(10L))
      val parentId = when(m === 9, pid - 8).otherwise(pid - m)
      src
        .withColumn("parent_author", when(m =!= 0,
          concat(lit("user"), pmod(parentId, lit(50000L))))
          .otherwise(col("parent_author")))
        .withColumn("parent_permlink", when(m =!= 0,
          concat(lit("post"), parentId))
          .otherwise(col("parent_permlink")))
        .withColumn("flags", when(m =!= 0,
          array_union(coalesce(col("flags"),
            array().cast("array<string>")), array(lit("comment"))))
          .otherwise(col("flags")))
    }
    def replyForest(dir: String = postsDir)
        : org.apache.spark.sql.DataFrame =
      forestView(spark.read.parquet(dir))
    // LEVEL-2 hydration: children { parent_post, author{profile},
    // children } — each nested field is one more batched join whose
    // probe side is the store and whose build side is the PAGE-BOUNDED
    // matched frame (broadcast). The number to watch is the marginal
    // cost of the extra level: a constant number of store probes per
    // level, independent of store size beyond the scan itself. The
    // stored posts are all top-level, so a reply FOREST is derived on
    // the fly (no files touched): post k with k%10 in 1..8 replies to
    // its decade leader post (k - k%10); k%10 == 9 replies to post
    // k-8 — so every leader has 8 children and its first child has a
    // child, giving both hydration levels real rows.
    timed(s"graphql level-2 hydration (3 nested fields) vs $nPosts " +
      "stored") {
      val profiles = profiles50k
      val api = new graft.api.GraftApi(spark, graft.api.ApiTables(
        posts = replyForest(),
        follows = empty(graft.domain.Schemas.follow),
        profiles = profiles))
      val resp = api.execute("{ socialFeed(pagination: {limit: 100})" +
        " { items { permlink children(limit: 8) {" +
        " permlink parent_post { permlink }" +
        " author { profile { name } }" +
        " children(limit: 3) { permlink } } } } }")
      require(!resp.has("errors"), resp.toString)
      val items = resp.path("data").path("socialFeed").path("items")
      // prove the levels actually carried rows
      var kids = 0L; var grandkids = 0L; var profiled = 0L
      items.elements().forEachRemaining { it =>
        val ch = it.path("children")
        kids += ch.size()
        ch.elements().forEachRemaining { k =>
          grandkids += k.path("children").size()
          if (!k.path("author").path("profile").path("name").isNull)
            profiled += 1
        }
      }
      require(kids > 0 && grandkids > 0 && profiled > 0,
        s"forest must populate both levels + profiles " +
          s"(kids=$kids grand=$grandkids profiled=$profiled)")
      items.size().toLong + kids + grandkids
    }
    // ── key-bucket partition pruning on the API's point probes: the
    //    merged store IS the graft layout (created_month/key_bucket,
    //    64 buckets + marker), so socialPost and parent_post can
    //    prune to the key's bucket — 1/64 of the store for a point
    //    lookup — exactly like StreamIngest's merge-side seed lookup.
    //    Measured pruned vs full on the same store. ────────────────
    println("== graphql bucket-pruned point probes ==")
    // the modulus is the STORE's, from its marker — hardcoding the
    // default would prune the wrong bucket on a store merged with a
    // different n (the exact mismatch the marker exists to prevent)
    lazy val storeBuckets: Int = {
      val p = new org.apache.hadoop.fs.Path(postsDir)
      graft.state.Layout.layoutMarker(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration),
        p, "key_buckets").getOrElse(
        sys.error(s"no layout marker at $postsDir"))
    }
    def pointApi(kb: Option[Int]) = {
      new graft.api.GraftApi(spark, graft.api.ApiTables(
        posts = spark.read.parquet(postsDir),
        follows = empty(graft.domain.Schemas.follow),
        profiles = empty(graft.domain.Schemas.profile),
        keyBuckets = kb))
    }
    timed(s"graphql point lookup FULL SCAN vs $nPosts stored") {
      val r = pointApi(None).execute(
        """{ socialPost(author: "user123", permlink: "post123")
          | { permlink title } }""".stripMargin)
      require(r.path("data").path("socialPost").path("permlink")
        .asText() == "post123", r.toString)
      1L
    }
    // the label must not force the marker read: a filtered run that
    // skips this stage may have no store on disk
    val bucketsLabel = scala.util.Try(storeBuckets.toString).getOrElse("?")
    timed(s"graphql point lookup BUCKET-PRUNED (1/$bucketsLabel) " +
      s"vs $nPosts " +
      "stored") {
      val r = pointApi(Some(storeBuckets)).execute(
        """{ socialPost(author: "user123", permlink: "post123")
          | { permlink title } }""".stripMargin)
      require(r.path("data").path("socialPost").path("permlink")
        .asText() == "post123", r.toString)
      1L
    }
    // ── children through the REPLY INDEX (the one probe key_bucket
    //    cannot serve): rank on the slim parent-bucketed index, fetch
    //    only the paged child rows. Index build is a one-time/
    //    incremental artifact — timed separately from the query. ───
    println("== graphql children via reply index ==")
    val replyIdxDir = s"$work/reply_index"
    val idxBuildLabel = s"reply index build (one-time) vs $nPosts stored"
    timed(idxBuildLabel) {
      graft.state.Layout.writeReplyIndex(replyForest(), replyIdxDir,
        storeBuckets)
      spark.read.parquet(replyIdxDir).count()
    }
    // off-clock fallback: a filter selecting only the query stages
    // still needs a FRESH index (a leftover from a different-decade
    // run would silently measure stale data — rebuild, untimed)
    if (!stageSelected(idxBuildLabel) &&
        (stageSelected(s"children page(100) VIA REPLY INDEX vs " +
          s"$nPosts stored") ||
         stageSelected(s"children POINT (1 post) VIA REPLY INDEX " +
           s"vs $nPosts stored")))
      graft.state.Layout.writeReplyIndex(replyForest(), replyIdxDir,
        storeBuckets)
    def childApi(idx: Option[(org.apache.spark.sql.DataFrame, Int)],
                 posts: () => org.apache.spark.sql.DataFrame =
                   () => replyForest(),
                 kb: Int = storeBuckets) = {
      new graft.api.GraftApi(spark, graft.api.ApiTables(
        posts = posts(),
        follows = empty(graft.domain.Schemas.follow),
        profiles = empty(graft.domain.Schemas.profile),
        keyBuckets = Some(kb), replyIndex = idx))
    }
    def childQuery(api: graft.api.GraftApi, nItems: Int): Long = {
      val r = api.execute("{ socialFeed(pagination: {limit: " +
        nItems + "}) { items { permlink children(limit: 8) " +
        "{ permlink } } } }")
      val items = r.path("data").path("socialFeed").path("items")
      var kids = 0L
      items.elements().forEachRemaining(it =>
        kids += it.path("children").size())
      require(items.size() == nItems && kids > 0,
        s"items=${items.size()} kids=$kids ${r.toString.take(200)}")
      kids
    }
    timed(s"children page(100) VIA STORE SCAN vs $nPosts stored") {
      childQuery(childApi(None), 100)
    }
    timed(s"children page(100) VIA REPLY INDEX vs $nPosts stored") {
      childQuery(childApi(Some((
        spark.read.parquet(replyIdxDir), storeBuckets))), 100)
    }
    // the point form (one post's replies) — where pruning bites
    // hardest: 1 index bucket + ≤8 fetch keys
    def childPoint(api: graft.api.GraftApi): Long = {
      val r = api.execute("""{ socialPost(author: "user120", permlink:
          | "post120") { children(limit: 8) { permlink } } }"""
          .stripMargin)
      val kids = r.path("data").path("socialPost").path("children")
      require(kids.size() == 8, r.toString.take(300))
      kids.size().toLong
    }
    timed(s"children POINT (1 post) VIA STORE SCAN vs $nPosts " +
      "stored") {
      childPoint(childApi(None))
    }
    timed(s"children POINT (1 post) VIA REPLY INDEX vs $nPosts " +
      "stored") {
      childPoint(childApi(Some((spark.read.parquet(replyIdxDir), storeBuckets))))
    }

    // ── reply-index modulus sweep: the |keys|/n law measured at
    //    production moduli instead of extrapolated (VERDICT r8 #1).
    //    At n=64 a 100-key page hashes over EVERY index bucket (the
    //    documented saturation ceiling); at n=1024/4096 the same page
    //    touches E[distinct] = n·(1-(1-1/n)^100) ≈ 95.3 / 98.8
    //    buckets = 9.3% / 2.4% of index files. The FETCH side still
    //    prunes on the STORE's modulus (64 here) — governed by the
    //    store layout, not the index — so the expected win is on the
    //    index rank stage; the point probe (1 key → 1/n of the index)
    //    sharpens with n directly. ─────────────────────────────────
    println("== reply-index modulus sweep (|keys|/n law) ==")
    Seq(1024, 4096).foreach { mod =>
      val mDir = s"$work/reply_index_n$mod"
      val buildLabel = s"reply index build n=$mod vs $nPosts stored"
      val pageLabel = s"children page(100) VIA REPLY INDEX n=$mod " +
        s"vs $nPosts stored"
      val pointLabel = s"children POINT (1 post) VIA REPLY INDEX " +
        s"n=$mod vs $nPosts stored"
      timed(buildLabel) {
        graft.state.Layout.writeReplyIndex(replyForest(), mDir, mod)
        spark.read.parquet(mDir).count()
      }
      // off-clock fallback, same contract as the n=64 stages: query
      // stages selected without the build still need a FRESH index
      if (!stageSelected(buildLabel) &&
          (stageSelected(pageLabel) || stageSelected(pointLabel)))
        graft.state.Layout.writeReplyIndex(replyForest(), mDir, mod)
      timed(pageLabel) {
        childQuery(childApi(Some((spark.read.parquet(mDir), mod))), 100)
      }
      timed(pointLabel) {
        childPoint(childApi(Some((spark.read.parquet(mDir), mod))))
      }
    }

    // ── the FULL graft layout at a production modulus: store AND
    //    index at n=4096. The sweep above moves only the index
    //    modulus, which bounds the index-rank stage; the page FETCH
    //    prunes on the STORE's key_bucket and stays saturated while
    //    the store sits at n=64 (800 child keys ≫ 64 buckets). With
    //    both at 4096 the law applies end-to-end: index scan ≈ 2.4%
    //    of index files (100 parent keys), fetch ≈ 17.7% of store
    //    files (800 child keys → 4096·(1-(1-1/4096)^800) ≈ 726
    //    buckets), point probe ≈ 1 index bucket + 8/4096 of the
    //    store. The index at n=4096 is the sweep's (content is
    //    store-layout-independent); only the store rebuilds. ───────
    println("== full graft layout at n=4096 (store + index) ==")
    val posts4096 = s"$work/posts_n4096"
    val store4096Label =
      s"store rebuild n=4096 (one-time) vs $nPosts rows"
    val page4096Label = s"children page(100) store+index n=4096 " +
      s"vs $nPosts stored"
    val point4096Label = s"children POINT (1 post) store+index " +
      s"n=4096 vs $nPosts stored"
    val pointAtLabel = s"children POINT LEAF-ENUMERATED reads " +
      s"store+index n=4096 vs $nPosts stored"
    val pageAtLabel = s"children page(100) LEAF-ENUMERATED reads " +
      s"store+index n=4096 vs $nPosts stored"
    timed(store4096Label) {
      // fresh CREATE at the target modulus (an existing store's
      // marker would pin its own n — delete, don't merge into)
      rmDir(posts4096)
      graft.streaming.StreamIngest.mergeBlocksBatch(spark,
        blocksFor(0, nPosts, 0, lit("original body text")), posts4096,
        keyBuckets = 4096)
      graft.CacheTracker.releaseAll()
      spark.read.parquet(posts4096).count()
    }
    locally {
      val p = new org.apache.hadoop.fs.Path(posts4096)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // off-clock fallback for filtered runs: FRESHNESS means both
      // the modulus marker AND the row count match this run's scale
      // — the marker alone reused a different-reps store under this
      // run's "vs $nPosts" label (the trap fired in round 10: a 5M
      // store served a 50M-labeled measurement until a row-count
      // audit caught it; a footer-only count() is the honest guard)
      def storeFresh: Boolean =
        graft.state.Layout.layoutMarker(fs, p, "key_buckets")
          .contains(4096) &&
          scala.util.Try(spark.read.parquet(posts4096).count())
            .toOption.contains(nPosts)
      if (!stageSelected(store4096Label) &&
          Seq(page4096Label, point4096Label, pointAtLabel, pageAtLabel)
            .exists(stageSelected) && !storeFresh) {
        rmDir(posts4096)
        graft.streaming.StreamIngest.mergeBlocksBatch(spark,
          blocksFor(0, nPosts, 0, lit("original body text")),
          posts4096, keyBuckets = 4096)
        graft.CacheTracker.releaseAll()
      }
    }
    locally {
      val idx4096 = s"$work/reply_index_n4096"
      // same freshness contract: the 10-ary forest makes 9 of 10
      // posts replies, so a fresh index holds exactly 9·nPosts/10
      // rows — marker + row count together gate the reuse
      def idxFresh: Boolean =
        graft.state.Layout.replyIndexBuckets(spark, idx4096)
          .contains(4096) &&
          scala.util.Try(spark.read.parquet(idx4096).count())
            .toOption.contains(nPosts / 10L * 9L)
      // skip the freshness job entirely when THIS run's modulus
      // sweep already rebuilt the index two stages ago (the same
      // !stageSelected(build) short-circuit the store guard has) —
      // the label must spell the sweep's own interpolation at
      // mod=4096 exactly (stageSelected drift rule)
      if (!stageSelected(s"reply index build n=4096 vs $nPosts " +
            "stored") &&
          Seq(page4096Label, point4096Label, pointAtLabel, pageAtLabel)
            .exists(stageSelected) && !idxFresh)
        graft.state.Layout.writeReplyIndex(replyForest(posts4096),
          idx4096, 4096)
      timed(page4096Label) {
        childQuery(childApi(
          Some((spark.read.parquet(idx4096), 4096)),
          () => replyForest(posts4096), kb = 4096), 100)
      }
      timed(point4096Label) {
        childPoint(childApi(
          Some((spark.read.parquet(idx4096), 4096)),
          () => replyForest(posts4096), kb = 4096))
      }
      // ── the listing wall, closed in-engine (VERDICT r9 #2): the
      //    43 s point wall over 1.5 s of task was driver listing of
      //    24.6k partitions inside the two fresh partitioned reads.
      //    childrenForIndexedAt enumerates the probed leaf dirs
      //    instead (the layout is its own manifest) — same probe,
      //    same artifacts, file index built from ≤|keys| leaves.
      //    Off-clock: the page keys (a driver-side literal frame, so
      //    the timed stage is the PROBE, not page construction). ───
      if (stageSelected(pointAtLabel) || stageSelected(pageAtLabel)) {
        import spark.implicits._
        def litPage(keys: Seq[(String, String)]) =
          keys.toDF("author", "permlink")
        def kidsOf(page: org.apache.spark.sql.DataFrame): Long = {
          val viaDirs = graft.query.PostQueries.childrenForIndexedAt(
            spark, page, posts4096, idx4096, limit = 8,
            sourceView = forestView)
          viaDirs.select(size(col("children")).as("n"))
            .agg(sum(col("n"))).as[Long].collect().head
        }
        timed(pointAtLabel) {
          val kids = kidsOf(litPage(Seq("user120" -> "post120")))
          require(kids == 8, s"point kids=$kids")
          kids
        }
        // the page-key precollect is a full store scan + sort — it
        // feeds ONLY the page stage, so a point-only filtered run
        // must not pay it (the d44e per-mode seeding rule)
        if (stageSelected(pageAtLabel)) {
          val pageKeys = forestView(spark.read.parquet(posts4096))
            .filter(!array_contains(coalesce(col("flags"),
              array().cast("array<string>")), "comment"))
            .orderBy(col("created_at").desc, col("author").asc,
              col("permlink").asc)
            .limit(100).select("author", "permlink")
            .collect().map(r => (r.getString(0), r.getString(1))).toSeq
          timed(pageAtLabel) {
            val kids = kidsOf(litPage(pageKeys))
            require(kids == 800, s"page kids=$kids")
            kids
          }
        } else println(f"$pageAtLabel%-42s   skipped (filter)")
      } else {
        println(f"$pointAtLabel%-42s   skipped (filter)")
        println(f"$pageAtLabel%-42s   skipped (filter)")
      }
    }

    // ── merge write amplification, recorded as a number (VERDICT r9
    //    "what's wrong" #1): the streaming merge dynamic-overwrites
    //    every touched (month, key_bucket) leaf — rewrite cost per
    //    trigger = touched leaves × leaf size = |batch keys| ×
    //    table/(months·n). Measured here on a file-level COPY (the
    //    shared stores stay immutable) at both moduli: rewritten
    //    files, rewritten bytes, touched leaves of total. The sizing
    //    rule this pins: leaf ≈ table/(months·n) must stay a few GB
    //    at target scale (100 TB / (12·4096) ≈ 2 GB — each 20-edit
    //    trigger then rewrites ≤ 40 GB of a 100 TB store, 0.04%);
    //    growing a table past leaf ≈ few GB means raising n via an
    //    offline rebuild, or moving to a row-level-delete format
    //    (Delta/Iceberg MERGE) — the stated production escape. ─────
    println("== merge write amplification (rewritten bytes/trigger) ==")
    def writeAmp(srcDir: String, modulus: Int): Unit = {
      val label =
        s"merge write-amp: 20 edits, n=$modulus store vs $nPosts " +
          "stored"
      if (!stageSelected(label)) {
        println(f"$label%-42s   skipped (filter)"); return
      }
      val conf = spark.sparkContext.hadoopConfiguration
      val src = new org.apache.hadoop.fs.Path(srcDir)
      val fs = src.getFileSystem(conf)
      val dst = new org.apache.hadoop.fs.Path(s"$work/wamp_n$modulus")
      fs.delete(dst, true)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
      def snap(): Map[String, (Long, Long)] = {
        val it = fs.listFiles(dst, true)
        val m = scala.collection.mutable.Map.empty[String, (Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet"))
            m(f.getPath.toString) =
              (f.getLen, f.getModificationTime)
        }
        m.toMap
      }
      val before = snap()
      timed(label) {
        graft.streaming.StreamIngest.mergeBlocksBatch(spark,
          blocksFor(600, 20, nPosts * 5, lit("wamp edited body"),
            stride = 6), dst.toString)
        graft.CacheTracker.releaseAll()
        20L
      }
      // verification OFF the clock, wall printed separately: its
      // fresh full read lists every leaf dir — a harness audit cost
      // the r10 rows carried inside the timed stage (BENCH_NOTES r10
      // called the decomposition out; from r11 the stage times the
      // TRIGGER, and this line prices the audit honestly)
      locally {
        val t0 = System.nanoTime()
        val verified = spark.read.parquet(dst.toString)
          .filter(col("body") === "wamp edited body").count()
        require(verified == 20L, s"write-amp verified $verified of 20")
        println(f"  write-amp audit n=$modulus: $verified rows via " +
          f"full-listing scan, ${(System.nanoTime() - t0) / 1e9}%.1f s" +
          " (off-clock)")
      }
      val after = snap()
      val rewritten = after.filterNot { case (p, lm) =>
        before.get(p).contains(lm) }
      val bytes = rewritten.values.map(_._1).sum
      def leafOf(p: String) =
        p.split('/').dropRight(1).takeRight(2).mkString("/")
      val leaves = rewritten.keys.map(leafOf).toSet
      val totalLeaves = before.keys.map(leafOf).toSet.size
      println(f"  write-amp n=$modulus%-5d rewrote " +
        f"${rewritten.size}%,d files ${bytes / 1e6}%.1f MB in " +
        f"${leaves.size}%,d of $totalLeaves%,d (month,bucket) leaves" +
        f" (store ${before.values.map(_._1).sum / 1e6}%.0f MB)")
      fs.delete(dst, true)
    }
    writeAmp(postsDir, 64)
    writeAmp(posts4096, 4096)

    // ── e2e integrated flagship (VERDICT r8 #4): one micro-batch of
    //    replies arrives → streaming merge + INCREMENTAL reply-index
    //    maintenance → the refreshed store serves a GraphQL
    //    children{author{profile}} page over real HTTP. The composed
    //    number is freshness-to-first-byte: batch arrival → response
    //    body containing the fresh replies, hydrated with profiles.
    //    Setup (index bootstrap, target discovery, profile table) is
    //    one-time work and stays off the clock. ────────────────────
    println("== e2e graphql freshness (merge + index + HTTP page) ==")
    val e2eMergeLabel =
      s"e2e 1/3: 20-reply merge + index refresh vs $nPosts stored"
    val e2eServeLabel =
      s"e2e 2/3: store-view refresh + api boot vs $nPosts stored"
    val e2eHttpLabel = s"e2e 3/3: HTTP children+profile page(100) " +
      s"vs $nPosts stored"
    val e2eAll = Seq(e2eMergeLabel, e2eServeLabel, e2eHttpLabel)
    if (e2eAll.exists(stageSelected)) {
      // the three stages form ONE pipeline (the HTTP page asserts the
      // batch the merge stage wrote, served by the server the boot
      // stage started) — a filter selecting a strict subset would
      // either NPE on a never-booted server or fail the freshness
      // assert; refuse loud instead (select 'e2e ' or nothing)
      require(e2eAll.forall(stageSelected),
        "the e2e stages are one pipeline — the filter must select " +
          "all three ('e2e ') or none")
      import spark.implicits._
      val e2eIdx = s"$work/e2e_reply_index"
      // off-clock: the merge below MUTATES its store, and postsDir is
      // shared by every other stage across kept work dirs — give the
      // pipeline its own file-level copy so postsDir stays immutable
      // (a prior version merged into postsDir; later filtered runs
      // then measured nPosts+20 rows under an nPosts label and the
      // sweep's index no longer matched the fresh n=4096 store)
      val e2ePosts = s"$work/e2e_posts"
      locally {
        val conf = spark.sparkContext.hadoopConfiguration
        val src = new org.apache.hadoop.fs.Path(postsDir)
        val dst = new org.apache.hadoop.fs.Path(e2ePosts)
        val fs = src.getFileSystem(conf)
        fs.delete(dst, true)
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
          conf)
      }
      // off-clock: enable the index on the existing store — the
      // production path (refreshReplyIndex bootstraps the history;
      // a reply-less store records a completed empty generation)
      graft.streaming.StreamIngest.refreshReplyIndex(spark,
        spark.read.parquet(e2ePosts).limit(0), e2eIdx,
        keyBuckets = storeBuckets,
        bootstrapFrom = Some(() => spark.read.parquet(e2ePosts)))
      // off-clock: the page the feed will serve (created_at desc,
      // author/permlink asc — the feed's own ordering), so the reply
      // targets are guaranteed page members and the freshness assert
      // is airtight; replies go to every 5th page post
      val pageKeys = spark.read.parquet(e2ePosts)
        .filter(!array_contains(coalesce(col("flags"),
          array().cast("array<string>")), "comment"))
        .orderBy(col("created_at").desc, col("author").asc,
          col("permlink").asc)
        .limit(100).select("author", "permlink")
        .collect().map(r => (r.getString(0), r.getString(1)))
      val targets = pageKeys.zipWithIndex.filter(_._2 % 5 == 0)
        .map(_._1).take(20).toSeq
      require(targets.size == 20, s"page too small: ${pageKeys.length}")
      // reply authors reuse existing profile usernames so the
      // author{profile} hydration leg is exercised on the FRESH rows
      val freshBlocks = targets.zipWithIndex
        .map { case ((pa, pp), i) => (pa, pp, i.toLong) }
        .toDF("pa", "pp", "i").select(
          lpad(lower(hex(col("i") + 1 + nPosts * 7)), 8, "0")
            .as("block_id"),
          lit("2024-06-02T12:00:00").as("timestamp"),
          array(struct(
            concat(lit("txfresh"), col("i")).as("transaction_id"),
            array(struct(lit("comment").as("name"),
              to_json(struct(
                col("pa").as("parent_author"),
                col("pp").as("parent_permlink"),
                concat(lit("user"), col("i") + 100).as("author"),
                concat(lit("fresh_r"), col("i")).as("permlink"),
                lit("t").as("title"),
                lit("fresh reply body").as("body"),
                lit("""{"app":"3speak/1.0"}""").as("json_metadata")))
                .as("payload"))).as("operations"))).as("transactions"))
      val tTotal0 = System.nanoTime()
      timed(e2eMergeLabel) {
        graft.streaming.StreamIngest.mergeBlocksBatch(spark,
          freshBlocks, e2ePosts, replyIndexDir = Some(e2eIdx))
        graft.CacheTracker.releaseAll()
        20L
      }
      var e2eServer: graft.api.HttpApi = null
      timed(e2eServeLabel) {
        // re-resolving the table views after a merge is part of
        // freshness (a parquet DataFrame pins its file listing at
        // read time; production would refresh the same way or run on
        // a table format whose snapshot load is this step's analogue)
        val t = graft.api.ApiTables(
          posts = spark.read.parquet(e2ePosts),
          follows = empty(graft.domain.Schemas.follow),
          profiles = profiles50k,
          keyBuckets = Some(storeBuckets),
          replyIndex = Some((spark.read.parquet(e2eIdx), storeBuckets)))
        e2eServer = new graft.api.HttpApi(
          new graft.api.GraftApi(spark, t)).start()
        1L
      }
      try {
      timed(e2eHttpLabel) {
        // children pages serve created_at ASC, so the FRESH replies
        // (newest) sort last — a limit at the reply count would cut
        // them on any target that already carries older replies
        // (e.g. this stage's own prior runs against a kept store);
        // limit 50 keeps the assert store-history-proof
        val q = "{ socialFeed(pagination: {limit: 100}) { items {" +
          " permlink children(limit: 50) { permlink" +
          " author { profile { name } } } } } }"
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val body = mapper.createObjectNode()
        body.put("query", q)
        val req = java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(
            s"http://127.0.0.1:${e2eServer.boundPort}/api/v2/graphql"))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers
            .ofString(body.toString))
          .build()
        val resp = java.net.http.HttpClient.newHttpClient()
          .send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200, resp.body().take(400))
        val node = mapper.readTree(resp.body())
        require(!node.has("errors"), node.toString.take(400))
        val items = node.path("data").path("socialFeed").path("items")
        require(items.size() == 100, s"items=${items.size()}")
        var fresh = 0L; var profiled = 0L
        items.elements().forEachRemaining { it =>
          it.path("children").elements().forEachRemaining { k =>
            if (k.path("permlink").asText().startsWith("fresh_r")) {
              fresh += 1
              if (!k.path("author").path("profile").path("name")
                  .isNull) profiled += 1
            }
          }
        }
        require(fresh == 20 && profiled == 20,
          s"fresh=$fresh profiled=$profiled")
        fresh
      }
      println(f"e2e freshness-to-first-byte (merge+index, " +
        f"view+boot, HTTP page): " +
        f"${(System.nanoTime() - tTotal0) / 1e9}%.2f s total")
      } finally {
        // without the finally, a failed assert above leaves the
        // server's non-daemon pool threads alive and the runMain JVM
        // hangs forever — the exact failure HttpApi.stop() now closes
        if (e2eServer != null) e2eServer.stop()
      }
    }
    spark.stop()
  }
}
