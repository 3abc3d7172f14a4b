package graft.streaming

import graft.CacheTracker
import graft.dedup.Dedup
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming INCREMENTAL near-dup: every micro-batch is probed
  * against the corpus's persisted side tables with the d44
  * asymmetric MinHash-LSH construction, then appended to them —
  * near-duplicate detection that never re-pairs the corpus with
  * itself, as a continuously-running ingest.
  *
  * Layout (one, bucketed): the shingle-set table at `sideDir`
  * partitions by ([[graft.dedup.Dedup.idBucket]], batch_id), the band
  * table at `bandDir` by ([[graft.dedup.Dedup.bandBucket]], batch_id),
  * both with the modulus `buckets`; the pairs output at `pairsDir`
  * partitions by batch_id. Every write is a DYNAMIC partition
  * overwrite, so a replayed micro-batch (post-crash foreachBatch
  * redelivery) overwrites its own leaves instead of duplicating rows.
  * The probe is [[graft.dedup.Dedup.minhashLshProbeBandsPruned]],
  * whose corpus reads are LEAF-ENUMERATED
  * ([[graft.state.Layout.BucketedTable.readBuckets]]): both the scan
  * and the per-trigger driver listing are bounded by the probe's own
  * bucket values, so a trigger's cost does not grow with the corpus.
  * Measured against re-banding the whole corpus per trigger (d44e,
  * 20-doc trigger): at 500k docs the same wall with 1.7× less task
  * time and zero shuffle (16.35 s / 244 s / 0 MB against 15.68 s /
  * 411 s / 1,779 MB, BENCH_NOTES r11); at 5M docs 4.3× less wall
  * (33.5 s against 143.9 s). On toy corpora (50k docs) the fixed
  * leaf-write and listing costs dominate (16.4 s against 2.5 s).
  *
  * Aging: each trigger appends one `batch_id` leaf per touched
  * bucket; [[maybeAutoFold]], which [[run]] calls inside every
  * trigger, folds replay-expired leaves into the per-bucket base
  * generation. The pairs table is never folded.
  *
  * Wire into a stream with [[run]], or exactly like [[StreamIngest]]:
  * `readStream...foreachBatch((b, id) => probeAndAppend(spark, b, id, …))`.
  */
object StreamNearDedup {

  /** ONE home for the probe's tuning defaults, shared by
    * [[probeAndAppend]] and [[run]] — two independently-spelled
    * default lists would drift silently, and for `buckets` the
    * modulus handshake would turn that drift into a hard restart
    * failure on an existing store. */
  object Defaults {
    val TextCol = "text"
    val IdCol = "doc_id"
    val ShingleN = 3
    val K = 32
    val Bands = 8
    val Threshold = 0.5
    val Seed = 42L
    val Buckets = 1024

    /** Mean batch-leaves per bucket at which the AUTO fold cadence
      * fires. Derived from the measured regime boundary, not guessed
      * (BENCH_NOTES r10 aged store): triggers went TASK-BOUND at
      * ~22.6 leaves/bucket (46,276 leaves / 2,048 buckets — 23.9 s
      * wall, 405 s task per 20-doc trigger, ~6k tiny file opens) vs
      * 7.7 s wall / 55 s task post-fold; a fold pays for itself in
      * ~2 triggers. 8 sits at a third of that wall: every trigger
      * stays in the post-fold regime, and since leaves grow by the
      * trigger's touched-bucket fraction per batch, folds fire
      * rarely enough that their amortized cost is a few percent.
      *
      * VALIDATED ACROSS A SECOND DECADE (BENCH_NOTES r13, same-run
      * n=1024 vs n=4096 aged stores, identical data): the marginal
      * cost per ENUMERATED LEAF is modulus-independent — 34.1 vs
      * 33.3 ms task/leaf — so per-trigger cost is linear in
      * (touched buckets × leaves/bucket) with one slope. A probe's
      * touched buckets are capped by its own size (docs × bands
      * keys) at any practical modulus, so the wall EXPRESSED IN
      * LEAVES/BUCKET holds across moduli and the constant stands;
      * the telemetry-derived cadence sketched in r12 is not needed.
      * Re-derive if leaf-write batching or the fold's own cost move
      * the per-leaf slope. */
    val AutoFoldLeavesPerBucket = 8.0

    /** Bucket dirs sampled per auto-cadence check
      * ([[graft.state.Generations.sampleLeavesPerBucket]]) — 17
      * listing RPCs per trigger, noise next to the probe's own
      * leaf enumeration. */
    val AutoFoldSampleBuckets = 16
  }

  /** The probe's pair output schema, pinned: a drift canary inside
    * [[probeAndAppend]] fails the batch before its first side effect
    * if the probe's output ever changes, so the pairs table never
    * receives a second schema. */
  val PairOutputColumns: Seq[String] =
    Seq("new_id", "old_id", "n_inter", "n_union")

  /** One micro-batch: emit (new_id, old_id, n_inter, n_union,
    * batch_id) pairs to `pairsDir`, then register the batch's
    * shingle sets in `sideDir` and its band rows in `bandDir`. All
    * three writes are per-batch-partition overwrites →
    * replay-idempotent (a batch with ZERO pairs touches no pairs
    * partition at all — the pairs table may not exist until the
    * first duplicate arrives, so readers supply the schema). Returns
    * the batch's pair count (the foreachBatch progress metric).
    *
    * `buckets` is the shared modulus, recorded in each side table's
    * layout marker on first create and VALIDATED every batch — a
    * restart with a different modulus, or against a side table that
    * holds data without its marker, fails loud instead of silently
    * mis-pruning. Replays first clear the batch's own leaves in all
    * three tables, so idempotence holds even when the replayed row
    * set drifted. The pair output equals
    * [[graft.dedup.Dedup.minhashLshProbeSets]] over the accumulated
    * corpus (spec-pinned).
    *
    * This method runs [[graft.state.Generations.recover]] on both
    * side tables first, so a fold that crashed mid-commit is
    * completed before any read. */
  def probeAndAppend(spark: SparkSession, batch: DataFrame,
                     batchId: Long, sideDir: String, pairsDir: String,
                     bandDir: String,
                     textCol: String = Defaults.TextCol,
                     idCol: String = Defaults.IdCol,
                     shingleN: Int = Defaults.ShingleN,
                     k: Int = Defaults.K, bands: Int = Defaults.Bands,
                     threshold: Double = Defaults.Threshold,
                     seed: Long = Defaults.Seed,
                     buckets: Int = Defaults.Buckets): Long = {
    require(batchId >= 0, s"batchId must be >= 0 (got $batchId): " +
      "negative ids are reserved for folded base generations")
    try {
      // complete any fold that crashed mid-commit BEFORE reading: a
      // committed-but-unfinished fold has some buckets' rows in both
      // the new base and the old leaves (cheap when clean — one
      // existence probe per table)
      Seq(sideDir, bandDir).foreach(graft.state.Generations.recover(spark, _))
      val deltaSets = CacheTracker.persistTracked(batch
        .select(col(idCol).as("id"),
          Text.tokens(col(textCol)).as("toks"))
        .select(col("id"),
          Text.wordShingles(col("toks"), shingleN).as("sh")))
      val conf = spark.sparkContext.hadoopConfiguration
      // "has a table" = has DATA, not just a directory: an EMPTY
      // first batch leaves the dir holding only its marker and
      // _SUCCESS (dynamic overwrite writes no partition) — the shared
      // Layout predicate, NOT a local copy (one definition of
      // "crashed create" across the stream and state layers)
      def hasData(dir: String): Boolean = {
        val p = new org.apache.hadoop.fs.Path(dir)
        graft.state.Layout.hasDataFiles(p.getFileSystem(conf), p)
      }
      // the two maintained layouts as their SHARED lifecycle values
      // — the (bucketCol, markerKey) pairing lives in Layout, not
      // here (one spelling across probe and this stream)
      val setsTable = graft.state.Layout.setsSideTable(sideDir)
      val bandTable = graft.state.Layout.bandSideTable(bandDir)
      val hasSide = hasData(sideDir)
      // layout handshake (marker-validated, the reply-index rule):
      // the probe's prune filters hash with `buckets`, so a restart
      // with a different modulus — or against a table that holds
      // data without its marker (not written by this layout) — must
      // fail loud, not silently mis-prune or write a conflicting
      // partition scheme into it. The modulus reads are STRICT (the
      // StreamIngest write-path rule): these guards gate WRITES, so a
      // present-but-corrupt marker must refuse rather than degrade to
      // None — a swallowed read would silently disable the guard.
      Seq(setsTable, bandTable).foreach { t =>
        val stored = t.modulus(spark, strict = true)
        require(stored.isEmpty || stored.contains(buckets),
          s"${t.dir} was created with ${t.markerKey}=" +
            s"${stored.get}, this stream runs buckets=$buckets " +
            "— moduli must match")
        require(stored.nonEmpty || !hasData(t.dir),
          s"${t.dir} holds data but no ${t.markerKey} marker: it " +
            "was not written by this near-dup layout — rebuild it, " +
            "or point the stream at a fresh directory")
      }
      // the pairs table carries no layout marker: ANY marker means
      // `pairsDir` is some other layout's table (a side table, a
      // reply index) — refuse before the replay clear below could
      // delete a partition of it
      locally {
        val pp = new org.apache.hadoop.fs.Path(pairsDir)
        graft.state.Layout.layoutMarkerRaw(pp.getFileSystem(conf), pp)
          .foreach { raw =>
            throw new IllegalArgumentException(
              s"$pairsDir carries a layout marker ($raw): it is not " +
                "a near-dup pairs table — point the stream at a " +
                "fresh pairs directory")
          }
      }
      // the corpus side is the persisted band + sets layout pair,
      // and the probe LEAF-ENUMERATES both reads: a fresh
      // partitioned read would re-list every `bucket=…/batch_id=…`
      // leaf of both side tables per trigger — O(buckets × batches)
      // driver RPCs that grow with the stream's life — where the
      // probe's own bucket values name exactly the leaf dirs it will
      // read ([[graft.state.Layout.BucketedTable.readBuckets]], STRICT:
      // a marked table whose data is not bucket-partitioned refuses
      // instead of probing an empty corpus). A replayed batch must
      // not probe against its OWN first-run signatures (every doc
      // would "near-dup" itself) — the batch's partition is filtered
      // out of the enumerated read. The folded base generation
      // (batch_id = -1) is enumerated like any other leaf.
      val emptyBands = Dedup.minhashBandRows(
        deltaSets.filter(lit(false)), k, bands, seed)
      val pairs = CacheTracker.persistTracked(
        Dedup.minhashLshProbeBandsPruned(
          bk => bandTable.readBuckets(spark, bk)
            .map(_.filter(col("batch_id") =!= batchId)
              .select("id", "band", "key"))
            .getOrElse(emptyBands),
          ib => setsTable.readBuckets(spark, ib)
            .map(_.filter(col("batch_id") =!= batchId)
              .select("id", "sh"))
            .getOrElse(deltaSets.filter(lit(false))),
          deltaSets, k, bands, threshold, seed,
          bandBuckets = buckets, setsBuckets = buckets))
      // drift canary, run BEFORE the first side effect (watermark
      // advance, replay pair-clear): a changed probe output must fail
      // the batch with every table UNTOUCHED rather than write a
      // second schema into the pairs table
      require(pairs.columns.toSet == PairOutputColumns.toSet,
        s"pair output columns drifted: ${pairs.columns.mkString(",")}" +
          s" != $PairOutputColumns — update PairOutputColumns")
      // REPLAY DETECTION via the last-batch watermark: the ghost
      // globs below are O(buckets) directory listings per table —
      // pure tax on the common first-run batch. The watermark is
      // advanced BEFORE any data write (marker-before-data), so
      // `batchId <= stored` is a PROOF that a prior attempt may have
      // written leaves (crash-after-watermark replays glob and find
      // nothing — correct), and `batchId > stored` a proof none did.
      // ABSENT watermark on a table that already holds data (a
      // pre-watermark table, or a hand-deleted file) is NOT proof of
      // a first run — fall back to the clears rather than trust
      // absence (skipping them would re-admit the drifted-replay
      // ghosts the clears exist to scrub).
      val isReplay = {
        val p = new org.apache.hadoop.fs.Path(sideDir)
        val fs = p.getFileSystem(conf)
        val wm = graft.state.Generations.lastBatchWatermark(fs, p)
        if (wm.forall(_ < batchId))
          graft.state.Generations.writeLastBatchWatermark(fs, p,
            batchId)
        wm.exists(_ >= batchId) || (wm.isEmpty && hasSide)
      }
      // drift-proof replay extends to the PAIRS table: a drifted
      // replay emitting zero pairs writes no partition at all, which
      // would leave the first attempt's pair rows as permanent ghosts
      // referencing rows the replay is about to scrub — clear the
      // batch's partition up front
      if (isReplay) {
        val pp = new org.apache.hadoop.fs.Path(pairsDir,
          s"batch_id=$batchId")
        pp.getFileSystem(conf).delete(pp, true)
      }
      // dynamic overwrite as a PER-WRITE option, not session conf:
      // under foreachBatch these frames are bound to the query's
      // CLONED session (conf copied at query start), so a setting on
      // the caller's session never reaches them — static overwrite
      // would silently replace the whole table every batch (the
      // StreamIngest per-write pattern)
      pairs.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(pairsDir)
      // bucket-major layout, batch_id leaf: pruning skips whole
      // bucket dirs; the leaves one file per touched bucket per batch
      // accrue are what [[maybeAutoFold]] ages
      Seq(setsTable, bandTable).foreach { t =>
        // marker BEFORE first data (the rebuildWithMarker
        // crash-window rule applied to an incremental create)
        t.ensureMarker(spark, buckets)
        // full replay idempotence: dynamic overwrite only replaces
        // the leaves the REPLAYED rows hash into, so a replay whose
        // row set drifted (non-replayable source) would leave
        // first-attempt ghosts in untouched buckets — clear ALL of
        // this batch's leaves first. Only on a PROVEN possible replay
        // (watermark above): first-run batches skip the O(buckets)
        // glob.
        if (isReplay) {
          val p = new org.apache.hadoop.fs.Path(t.dir)
          val fs = p.getFileSystem(conf)
          fs.globStatus(new org.apache.hadoop.fs.Path(p,
              s"*/batch_id=$batchId"))
            match {
              case null => ()
              case sts => sts.foreach(st => fs.delete(st.getPath, true))
            }
        }
      }
      // NO pre-write repartition on the leaf columns: measured (r12
      // d44e A/B at 100×) it buys nothing — the trigger's writes are
      // already ~1 file per touched leaf, the fixed cost is the
      // dynamic-overwrite commit machinery per leaf dir, and the
      // added (tiny) shuffle broke the layout's zero-shuffle property
      // for a 16.5-vs-16.4 s wash
      deltaSets
        .withColumn("id_bucket", Dedup.idBucket(col("id"), buckets))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("id_bucket", "batch_id")
        .parquet(sideDir)
      Dedup.minhashBandRows(deltaSets, k, bands, seed)
        .withColumn("band_bucket",
          Dedup.bandBucket(col("band"), col("key"), buckets))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("band_bucket", "batch_id")
        .parquet(bandDir)
      pairs.count()
    } finally {
      CacheTracker.releaseAll()
    }
  }

  /** The aging decision + fold, run inside every [[run]] trigger:
    * fold when the sampled mean batch-leaves per bucket of EITHER
    * side table reaches `threshold`
    * ([[graft.state.Generations.sampleLeavesPerBucket]] — ~17 listing
    * RPCs per table, cheap enough to check every trigger). The
    * decision is the MAX over the sets and band tables because they
    * age at DIFFERENT per-bucket rates: each doc lands in exactly
    * one sets bucket but `bands` band buckets, so the band table
    * accumulates leaves ~bands× faster — a sets-only sample would
    * let the band listing walk most of the way to the task-bound
    * wall before firing (measured: the r10 aged store sat at 5.9
    * sets- but 39 band-leaves/bucket). Both side tables fold in
    * LOCKSTEP off the one decision; the pairs table is never folded
    * (its `batch_id` leaves are per-batch provenance the consumer
    * may need). `horizon` must be ≤ the smallest batch id the source
    * could still re-deliver (foreachBatch: the current batch id).
    * Returns the deciding leaves-per-bucket when the fold fired,
    * None when the store is healthy. */
  def maybeAutoFold(spark: SparkSession, sideDir: String,
                    bandDir: String, horizon: Long,
                    threshold: Double = Defaults.AutoFoldLeavesPerBucket,
                    sample: Int = Defaults.AutoFoldSampleBuckets)
      : Option[Double] = {
    val tables = Seq(sideDir, bandDir)
    val lpb = tables.map(
      graft.state.Generations.sampleLeavesPerBucket(spark, _, sample))
      .max
    if (lpb < threshold) None
    else {
      tables.foreach(graft.state.Generations.foldBatches(spark, _, horizon))
      Some(lpb)
    }
  }

  /** The turnkey streaming query: a JSON doc feed → per-micro-batch
    * [[probeAndAppend]], exactly-once via checkpoint — the
    * [[StreamIngest.run]] shape for the near-dup plane, with AGING
    * as an engine decision: every trigger then runs
    * [[maybeAutoFold]] with `horizon = <current batch>` (exactly the
    * safe horizon, since foreachBatch can only re-deliver the
    * current batch), so the store never reaches the measured
    * task-bound regime an un-folded store walks into (~22.6
    * leaves/bucket: 23.9 s wall / 405 s task per trigger vs 7.7 s /
    * 55 s post-fold — BENCH_NOTES r10; spec-pinned invariant). The
    * fold runs INSIDE foreachBatch, so it can never race a probe —
    * the single-writer contract holds by construction. The pairs
    * table is never folded. */
  def run(spark: SparkSession, inDir: String, sideDir: String,
          pairsDir: String, checkpointDir: String, bandDir: String,
          trigger: org.apache.spark.sql.streaming.Trigger =
            org.apache.spark.sql.streaming.Trigger
              .ProcessingTime("2 seconds"),
          maxFilesPerTrigger: Int = 8,
          textCol: String = Defaults.TextCol,
          idCol: String = Defaults.IdCol,
          shingleN: Int = Defaults.ShingleN,
          k: Int = Defaults.K, bands: Int = Defaults.Bands,
          threshold: Double = Defaults.Threshold,
          seed: Long = Defaults.Seed,
          buckets: Int = Defaults.Buckets)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(s"$idCol long, $textCol string")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        probeAndAppend(spark, batch, batchId, sideDir, pairsDir,
          bandDir, textCol, idCol, shingleN, k, bands, threshold, seed,
          buckets)
        maybeAutoFold(spark, sideDir, bandDir, horizon = batchId)
        ()
      }
      .start()
}
