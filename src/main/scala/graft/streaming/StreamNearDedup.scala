package graft.streaming

import graft.CacheTracker
import graft.dedup.Dedup
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming INCREMENTAL near-dup: every micro-batch is probed
  * against the corpus's persisted shingle-set side table with the
  * d44 asymmetric MinHash-LSH construction, then appended to that
  * side table — near-duplicate detection that never re-pairs the
  * corpus with itself, as a continuously-running ingest.
  *
  * Layout: both outputs are partitioned by `batch_id` and written
  * with DYNAMIC partition overwrite, so a replayed micro-batch
  * (post-crash foreachBatch redelivery) overwrites its own partition
  * instead of duplicating rows — the same replay-idempotence
  * contract StreamIngest's merge proves, without a table-wide
  * rewrite. The side table stores (id, sh): per-doc shingle sets,
  * i.e. the verification payload; band keys are derived per probe
  * (cheap, codegen) — at larger scale the band table is ALSO
  * persisted ([[graft.dedup.Dedup.writeBandSideTable]], partitioned
  * by [[graft.dedup.Dedup.bandBucket]]) and the probe switches to
  * [[graft.dedup.Dedup.minhashLshProbeBandsPruned]], whose corpus
  * reads are LEAF-ENUMERATED ([[graft.state.Layout.readBucketLeaves]])
  * — both the scan and the per-trigger driver listing are bounded by
  * the probe's own bucket values, like the q21 posting layout
  * (measured d44d/d44e).
  *
  * Wire into a stream exactly like [[StreamIngest]]:
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

    /** Corpus size (docs) above which the BUCKETED layout wins. The
      * crossover is measured, not guessed (BENCH_NOTES d44e, both
      * decades): per 20-doc trigger, flat vs bucketed n=1024 wall —
      * at 500k docs 8.1 s vs 28.7 s (flat wins: the bucketed mode's
      * fixed costs — leaf listing + ~180 tiny leaf writes — dominate
      * while the flat mode's O(corpus) re-band term is still small);
      * at 5M docs 143.9 s vs 33.5 s, 3,852 s vs 280 s task, 17.7 GB
      * vs ZERO shuffle (bucketed wins 4.3× wall / 13.8× cluster
      * work, and keeps winning — the flat term grows linearly with
      * the corpus, the bucketed term is flat). The boundary sits
      * between the measured decades; 1M is the geometric midpoint.
      *
      * RE-DERIVATION RULE: this floor is where (bucketed fixed cost
      * per trigger: leaf listing + ~180 tiny leaf writes) crosses
      * (flat O(corpus) re-band term). Any change that shrinks the
      * bucketed fixed costs — leaf-write batching, a cheaper probe
      * listing, auto-fold keeping leaf counts lower — moves the
      * crossover DOWN; re-run the flat-vs-bucketed A/B (one 20-doc
      * [[probeAndAppend]] trigger against a seeded side table, each
      * mode) at two corpus decades and reset the floor to the new
      * geometric midpoint. */
    val BucketedCorpusFloor = 1000000L
  }

  /** The probes' pair output schema, as a constant: lets the
    * provenance-column collision check run BEFORE any side effect
    * (the pairs frame does not exist yet at validation time); a
    * drift canary inside [[probeAndAppend]] pins it to the actual
    * frame. */
  val PairOutputColumns: Seq[String] =
    Seq("new_id", "old_id", "n_inter", "n_union")

  /** Fold `horizon`-expired leaves of ALL maintained tables in
    * lockstep — THE one spelling of the maintained-table set, shared
    * by the auto cadence ([[maybeAutoFold]]) and [[run]]'s explicit
    * `foldEvery` arm so the two cadences cannot silently diverge on
    * which tables age. */
  private def foldAll(spark: SparkSession, sideDir: String,
                      bandDir: Option[String],
                      pairsDir: Option[String], horizon: Long): Unit =
    (Seq(sideDir) ++ bandDir ++ pairsDir).foreach(
      graft.state.Generations.foldBatches(spark, _, horizon))

  /** The flat-vs-bucketed mode choice as an ENGINE sizing rule
    * instead of caller guesswork: None (flat) below
    * [[Defaults.BucketedCorpusFloor]] expected corpus docs,
    * Some(bandDir) at or above — the measured d44e crossover (see
    * the floor's doc for the numbers). The decision is CREATE-time
    * only: both layouts record a marker/shape the other mode refuses
    * ([[probeAndAppend]]'s handshake), so re-evaluating the rule over
    * a growing corpus never silently switches a live store — a flat
    * stream that outgrows the floor migrates with ONE engine call,
    * [[migrateToBucketed]] (stop the stream, call it, restart with
    * `bandDir` set). */
  def recommendedBandDir(expectedCorpusDocs: Long, bandDir: => String)
      : Option[String] =
    if (expectedCorpusDocs >= Defaults.BucketedCorpusFloor)
      Some(bandDir)
    else None

  /** What [[migrateToBucketed]] did: `migrated = false` means the
    * sets table was ALREADY bucketed at the requested modulus (a
    * re-invocation, or entry-time recovery completed a crashed
    * migration's swap) — idempotent no-op. `preservedBatch` is the
    * flat table's max batch id, the one batch the source could still
    * re-deliver: its leaf survives the migration unfolded so the
    * bucketed replay-clear can still scrub it. */
  final case class MigrateReport(migrated: Boolean, docs: Long,
                                 preservedBatch: Option[Long])

  /** Flat→bucketed migration as ONE engine call — the lifecycle step
    * a growing corpus hits when it outgrows
    * [[Defaults.BucketedCorpusFloor]] (the reference handles the
    * analogous layout change with a full-reindex protocol:
    * `update.sh:12-37`'s stop → rebuild → restart). Rebuilds the
    * FLAT sets table at `sideDir` into the bucketed layout in place,
    * builds the band side table at `bandDir`, and installs the whole
    * marker handshake (`sets_buckets`/`band_buckets` markers, replay
    * watermark, group manifest) — afterwards the stream restarts
    * with `bandDir = Some(...)` and the same `sideDir`/`pairsDir`,
    * nothing else to sequence. The pairs table needs no migration
    * (its layout is mode-independent).
    *
    * REPLAY SAFETY across the migration: foreachBatch is sequential,
    * so if `batch_id = N` leaves exist then every batch < N already
    * committed to the checkpoint — only N can ever be re-delivered.
    * The migration therefore folds every batch BELOW the max into
    * the per-bucket base generation (exactly what the auto cadence
    * would do) and PRESERVES the max batch's leaf under its own id,
    * installing the replay watermark at that id: a post-restart
    * redelivery of N — identical or drifted — hits the standard
    * bucketed replay path (proven-replay ghost clears) against the
    * preserved leaf. Spec-pinned: pair history is identical across
    * (flat stream → migrate → bucketed stream, replay straddling)
    * vs an always-bucketed control.
    *
    * CRASH SAFETY: the new sets tree is staged under a dot-prefixed
    * sibling; the band table is (re)built before the swap; the swap
    * is two renames. The live flat table is renamed away only after
    * staging and band are COMPLETE, so at entry `sideDir` absent +
    * staging present proves a crashed swap — recovery completes it;
    * `sideDir` present means any staging/old debris is from an
    * attempt that never reached the swap — discarded, the flat
    * table untouched. Re-run after ANY crash; the call is
    * idempotent. Single-writer maintenance op: run with the stream
    * STOPPED (same contract as fold/compact).
    *
    * Validation is all-up-front (nothing deleted before it passes):
    * `sideDir` must be a flat batch-appended sets table (a foreign
    * or corrupt marker refuses); `bandDir` must be empty, absent, or
    * a matching-modulus band table (a crashed attempt's own debris)
    * — data without the `band_buckets` marker, or a mismatched
    * modulus, refuses rather than deleting a foreign table. */
  def migrateToBucketed(spark: SparkSession, sideDir: String,
                        bandDir: String,
                        buckets: Int = Defaults.Buckets,
                        k: Int = Defaults.K,
                        bands: Int = Defaults.Bands,
                        seed: Long = Defaults.Seed): MigrateReport = {
    val conf = spark.sparkContext.hadoopConfiguration
    val side = new org.apache.hadoop.fs.Path(sideDir)
    val fs = side.getFileSystem(conf)
    val staging = new org.apache.hadoop.fs.Path(
      side.getParent, "." + side.getName + "__migrate")
    val old = new org.apache.hadoop.fs.Path(
      side.getParent, "." + side.getName + "__migrate_old")
    // ── entry-time recovery ──
    if (!fs.exists(side)) {
      if (fs.exists(staging)) {
        // crashed between the swap's two renames: the live table is
        // only ever renamed away AFTER staging + band are complete,
        // so staging IS the new sets table — finish the swap
        if (!fs.rename(staging, side))
          throw new IllegalStateException(
            s"migration recovery: cannot install $staging at $side")
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        // no staging to install (manual damage): restore the flat
        // table rather than leave no table at all
        if (!fs.rename(old, side))
          throw new IllegalStateException(
            s"migration recovery: cannot restore $old to $side")
      } else throw new IllegalArgumentException(
        s"$sideDir does not exist — nothing to migrate")
    } else {
      // live table present: staging never reached the swap — discard;
      // a leftover old dir is the superseded flat table of a swap
      // that completed (crash before its delete) — discard too
      fs.delete(staging, true)
      fs.delete(old, true)
    }
    // ── validation, all before any destructive step ──
    val setsTable = graft.state.Layout.setsSideTable(sideDir)
    graft.state.Layout.layoutMarkerRaw(fs, side) match {
      case Some(raw) =>
        setsTable.modulus(spark) match {
          case Some(n) =>
            require(n == buckets,
              s"$sideDir is already bucketed with sets_buckets=$n; " +
                s"this migration requested buckets=$buckets — " +
                "moduli must match (a modulus change is a rebuild, " +
                "not a migration)")
            // already migrated (idempotent re-run / completed
            // recovery): nothing to do
            return MigrateReport(migrated = false, docs = 0L,
              preservedBatch = None)
          case None => throw new IllegalArgumentException(
            s"$sideDir carries a foreign layout marker ($raw) — not " +
              "a flat near-dup sets table; refusing to migrate")
        }
      case None => ()
    }
    require(graft.state.Layout.hasDataFiles(fs, side),
      s"$sideDir holds no data — nothing to migrate")
    val leaves = graft.state.Generations.batchLeaves(fs, side)
    require(leaves.nonEmpty && leaves.forall(_._1.isEmpty),
      s"$sideDir is not a flat batch-appended sets table " +
        s"(expected batch_id= leaves at the root)")
    val maxBatch = leaves.map(_._2).max
    val bandPath = new org.apache.hadoop.fs.Path(bandDir)
    val bfs = bandPath.getFileSystem(conf)
    graft.state.Layout.layoutMarkerRaw(bfs, bandPath) match {
      case Some(raw) =>
        require(graft.state.Layout.markedBuckets(spark, bandDir,
            "band_buckets").contains(buckets),
          s"$bandDir carries a layout marker ($raw) that is not " +
            s"band_buckets=$buckets — refusing to delete what may " +
            "be a foreign (or differently-bucketed) table")
      case None =>
        require(!graft.state.Layout.hasDataFiles(bfs, bandPath),
          s"$bandDir holds data without a band_buckets marker — " +
            "refusing to overwrite a foreign table")
    }
    // a crashed FOLD on the flat table must complete before the
    // rebuild reads it (rows could otherwise be read twice)
    graft.state.Generations.recover(spark, sideDir)
    // ── stage the bucketed sets tree ──
    // batch mapping = exactly a fold at horizon maxBatch: ids below
    // it can never be re-delivered (sequential foreachBatch), the max
    // leaf is preserved for the straddling replay
    fs.delete(staging, true)
    val flat = spark.read.parquet(sideDir)
    val docs = flat.count()
    flat
      .withColumn("batch_id",
        when(col("batch_id") === lit(maxBatch), lit(maxBatch))
          .otherwise(lit(graft.state.Generations.BaseBatchId)))
      .withColumn("id_bucket", Dedup.idBucket(col("id"), buckets))
      .repartition(col("id_bucket"))
      .write.mode("overwrite")
      .partitionBy("id_bucket", "batch_id")
      .parquet(staging.toString)
    graft.state.Layout.writeLayoutMarker(fs, staging,
      "sets_buckets", buckets)
    if (maxBatch >= 0)
      graft.state.Generations.writeLastBatchWatermark(fs, staging,
        maxBatch)
    // ── build the band table (before the swap: a completed swap
    // must imply a complete band table) ──
    def bandRowsAt(sets: org.apache.spark.sql.DataFrame,
                   batch: Long) =
      Dedup.minhashBandRows(sets.select("id", "sh"), k, bands, seed)
        .withColumn("band_bucket",
          Dedup.bandBucket(col("band"), col("key"), buckets))
        .withColumn("batch_id", lit(batch))
    graft.state.Layout.bandSideTable(bandDir).rebuild(spark, buckets) {
      bandRowsAt(flat.filter(col("batch_id") =!= lit(maxBatch)),
          graft.state.Generations.BaseBatchId)
        .unionByName(bandRowsAt(
          flat.filter(col("batch_id") === lit(maxBatch)), maxBatch))
        .repartition(col("band_bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("band_bucket", "batch_id")
        .parquet(bandDir)
    }
    // ── the swap: the ONLY window where the live table moves ──
    if (!fs.rename(side, old))
      throw new IllegalStateException(
        s"migration: cannot move $side aside")
    if (!fs.rename(staging, side)) {
      fs.rename(old, side) // roll back
      throw new IllegalStateException(
        s"migration: cannot install $staging at $side")
    }
    fs.delete(old, true)
    // group manifest so maintain() on either member ages the pair
    // from day one; the first post-restart trigger extends it with
    // the pairs dir ([[probeAndAppend]]'s ensure)
    graft.state.Layout.ensureGroupManifest(spark,
      Seq(sideDir, bandDir),
      graft.state.Layout.MaintenanceGroup(
        horizonSource = sideDir, fold = Seq(sideDir, bandDir)))
    MigrateReport(migrated = true, docs = docs,
      preservedBatch = if (maxBatch >= 0) Some(maxBatch) else None)
  }

  /** One micro-batch: emit (new_id, old_id, n_inter, n_union,
    * batch_id) pairs to `pairsDir`, then register the batch's
    * shingle sets in `sideDir`. Both writes are per-batch-partition
    * overwrites → replay-idempotent (same input ⇒ same pairs ⇒ the
    * replay rewrites its partition byte-equivalent; a batch with
    * ZERO pairs touches no pairs partition at all — the pairs table
    * may not exist until the first duplicate arrives, so readers
    * supply the schema). Returns the batch's pair count (the
    * foreachBatch progress metric).
    *
    * `bandDir = Some(dir)` switches to the BUCKETED layout pair: the
    * sets table partitions by ([[graft.dedup.Dedup.idBucket]],
    * batch_id), a band table at `dir` by
    * ([[graft.dedup.Dedup.bandBucket]], batch_id) — both maintained
    * per batch — and the probe becomes the fully-pruned,
    * LEAF-ENUMERATED [[graft.dedup.Dedup.minhashLshProbeBandsPruned]]
    * form (measured 6.6× less cluster work per probe at 5M docs,
    * BENCH_NOTES d44d; listing bounded by the probe's own buckets,
    * d44e r11).
    * `buckets` is the shared modulus, recorded in each table's
    * layout marker on first create and VALIDATED every batch — a
    * restart with a different modulus, or against the other mode's
    * table, fails loud instead of silently mis-pruning or writing a
    * conflicting partition scheme. Replays first clear the batch's
    * own leaves, so idempotence holds even when the replayed row set
    * drifted. Pair output is identical in both modes (spec-pinned).
    *
    * Aging: every bucketed trigger appends one `batch_id` leaf per
    * touched bucket — fold leaves older than the replay horizon into
    * the per-bucket base generation ([[maybeAutoFold]], the engine's
    * own cadence [[run]] wires in by default, or
    * [[graft.state.Generations.foldBatches]] directly with
    * `horizon = batchId`); this method runs
    * [[graft.state.Generations.recover]] on its tables first, so a
    * fold that crashed mid-commit is completed before any read. */
  def probeAndAppend(spark: SparkSession, batch: DataFrame,
                     batchId: Long, sideDir: String, pairsDir: String,
                     textCol: String = Defaults.TextCol,
                     idCol: String = Defaults.IdCol,
                     shingleN: Int = Defaults.ShingleN,
                     k: Int = Defaults.K, bands: Int = Defaults.Bands,
                     threshold: Double = Defaults.Threshold,
                     seed: Long = Defaults.Seed,
                     bandDir: Option[String] = None,
                     buckets: Int = Defaults.Buckets,
                     pairProvenanceCol: Option[String] = None): Long = {
    require(batchId >= 0, s"batchId must be >= 0 (got $batchId): " +
      "negative ids are reserved for folded base generations")
    // pure config checks FIRST, before any side effect: a replayed
    // batch deletes its own pairs partition below — a misconfigured
    // provenance column failing only after that delete would leave
    // the stream down with the batch's pairs missing until a fixed
    // restart. The provenance column must be NEW: "batch_id" (or any
    // pair output column) would make the withColumn a silent
    // OVERWRITE — the fold would then collapse the 'provenance' to
    // -1 (batch_id IS the layout column the fold rewrites) or
    // corrupt pair data, defeating the marker handshake's guarantee.
    pairProvenanceCol.foreach { c =>
      require(c != "batch_id",
        "pairProvenanceCol must not be \"batch_id\": that is the " +
          "LAYOUT column the fold collapses — the provenance copy " +
          "would silently overwrite it and fold to -1")
      require(!PairOutputColumns.contains(c),
        s"pairProvenanceCol '$c' collides with a pairs column " +
          s"(${PairOutputColumns.mkString(", ")}): withColumn would " +
          "silently overwrite pair data")
    }
    try {
      // complete any fold that crashed mid-commit BEFORE reading: a
      // committed-but-unfinished fold has some buckets' rows in both
      // the new base and the old leaves (cheap when clean — one
      // existence probe per table)
      (Seq(sideDir, pairsDir) ++ bandDir)
        .foreach(graft.state.Generations.recover(spark, _))
      val deltaSets = CacheTracker.persistTracked(batch
        .select(col(idCol).as("id"),
          Text.tokens(col(textCol)).as("toks"))
        .select(col("id"),
          Text.wordShingles(col("toks"), shingleN).as("sh")))
      val conf = spark.sparkContext.hadoopConfiguration
      // "has a table" = has DATA, not just a directory: an EMPTY
      // first batch leaves the dir holding only _SUCCESS (dynamic
      // overwrite writes no partition), and a schema-less read of
      // that would throw "Unable to infer schema" and wedge the
      // stream on every subsequent batch — the shared Layout
      // predicate, NOT a local copy (one definition of "crashed
      // create" across the stream and state layers)
      def hasData(dir: String): Boolean = {
        val p = new org.apache.hadoop.fs.Path(dir)
        graft.state.Layout.hasDataFiles(p.getFileSystem(conf), p)
      }
      // the two maintained layouts as their SHARED lifecycle values
      // — the (bucketCol, markerKey) pairing lives in Layout, not
      // here (one spelling across rebuild, probe, and this stream)
      val setsTable = graft.state.Layout.setsSideTable(sideDir)
      val bandTable = bandDir.map(graft.state.Layout.bandSideTable)
      val hasSide = hasData(sideDir)
      // layout handshake (marker-validated, the reply-index rule):
      // the bucketed mode's prune filters hash with `buckets`, so a
      // restart with a different modulus — or against a table the
      // OTHER mode created — must fail loud, not silently mis-prune
      // (wrong modulus) or corrupt the directory tree (mode switch
      // writes conflicting partition schemes into one table). The
      // modulus reads are STRICT (the StreamIngest write-path rule):
      // these guards gate WRITES, so a present-but-corrupt marker
      // must refuse rather than degrade to None — a swallowed read
      // would silently disable the very corruption guard below.
      bandDir match {
        case Some(_) =>
          (Seq(setsTable) ++ bandTable).foreach { t =>
            val stored = t.modulus(spark, strict = true)
            require(stored.isEmpty || stored.contains(buckets),
              s"${t.dir} was created with ${t.markerKey}=" +
                s"${stored.get}, this stream runs buckets=$buckets " +
                "— moduli must match")
            require(stored.nonEmpty || !hasData(t.dir),
              s"${t.dir} holds data but no ${t.markerKey} marker: " +
                "it was created by the flat mode — rebuild it (or " +
                "drop bandDir)")
          }
        case None =>
          // NON-strict probe + raw contents in the refusal: a strict
          // read here turned a FOREIGN marker (sideDir pointed at a
          // reply index or other marked table) into "corrupt layout
          // marker" — fail-loud with the wrong diagnosis. ANY marker
          // means this dir belongs to some bucketed layout; flat
          // batch_id writes would corrupt its partition tree.
          val sp = new org.apache.hadoop.fs.Path(sideDir)
          val sfs = sp.getFileSystem(conf)
          graft.state.Layout.layoutMarkerRaw(sfs, sp)
            .foreach { raw =>
              throw new IllegalArgumentException(
                s"$sideDir carries a layout marker ($raw): it is a " +
                  "bucketed-mode table (or a foreign marked layout)" +
                  " — pass bandDir for the bucketed near-dup " +
                  "layout, or point the stream at a fresh directory")
            }
          // same refusal for a GROUP manifest with the layout marker
          // gone (hand-deleted): the manifest alone still proves the
          // dir belongs to a maintained bucketed group — flat writes
          // would corrupt the tree the siblings will fold. Existence
          // probe only (a corrupt manifest must refuse too, not
          // parse-fail with the wrong diagnosis).
          if (graft.state.Layout.hasGroupManifest(sfs, sp))
            throw new IllegalArgumentException(
              s"$sideDir carries a maintenance-group manifest: it " +
                "belongs to a bucketed near-dup group — pass " +
                "bandDir, or point the stream at a fresh directory")
      }
      val pairs = CacheTracker.persistTracked(bandDir match {
        // BUCKETED mode: the corpus side is the persisted band +
        // sets layout pair ([[graft.dedup.Dedup.writeBandSideTable]]
        // shape, here maintained incrementally), and the probe
        // LEAF-ENUMERATES both reads
        // ([[graft.dedup.Dedup.minhashLshProbeBandsPruned]] +
        // [[graft.state.Layout.readBucketLeaves]]): a fresh
        // partitioned read would re-list every `bucket=…/batch_id=…`
        // leaf of both side tables per trigger — O(buckets × batches)
        // driver RPCs that grow with the stream's life — where the
        // probe's own bucket values name exactly the leaf dirs it
        // will read. A replayed batch must not probe against its OWN
        // first-run signatures (every doc would "near-dup" itself) —
        // the batch's partition is filtered out of the enumerated
        // read (a partition filter over the already-small file
        // index). The folded base generation (batch_id = -1) is
        // enumerated like any other leaf.
        case Some(_) =>
          val emptyBands = Dedup.minhashBandRows(
            deltaSets.filter(lit(false)), k, bands, seed)
          // facade reads ([[graft.state.Layout.BucketedTable]]): the
          // one (bucketCol, markerKey) spelling, and STRICT — a
          // marked table whose data is not bucket-partitioned
          // refuses instead of probing an empty corpus
          Dedup.minhashLshProbeBandsPruned(
            bk => bandTable.get.readBuckets(spark, bk)
              .map(_.filter(col("batch_id") =!= batchId)
                .select("id", "band", "key"))
              .getOrElse(emptyBands),
            ib => setsTable.readBuckets(spark, ib)
              .map(_.filter(col("batch_id") =!= batchId)
                .select("id", "sh"))
              .getOrElse(deltaSets.filter(lit(false))),
            deltaSets, k, bands, threshold, seed,
            bandBuckets = buckets, setsBuckets = buckets)
        case None =>
          // FLAT mode: the side table has no bucket column to
          // enumerate by — the corpus read is the whole table minus
          // the batch's own partition
          val corpusSets =
            if (hasSide) spark.read.parquet(sideDir)
              .filter(col("batch_id") =!= batchId).select("id", "sh")
            else deltaSets.filter(lit(false))
          Dedup.minhashLshProbeSets(corpusSets, deltaSets,
            k, bands, threshold, seed)
      })
      // drift canary for the top-of-method config check, run BEFORE
      // the first side effect (watermark advance, replay pair-clear):
      // the provenance-collision require validates against
      // [[PairOutputColumns]] — if the probes' output schema ever
      // evolves, this must fail the batch with the table UNTOUCHED
      // (a replayed batch failing here after its pairs partition was
      // deleted would leave the stream down with those pairs missing
      // — the exact ordering the config checks exist to prevent),
      // instead of letting the constant silently under-protect
      require(pairs.columns.toSet == PairOutputColumns.toSet,
        s"pair output columns drifted: ${pairs.columns.mkString(",")}" +
          s" != $PairOutputColumns — update PairOutputColumns")
      // dynamic overwrite as a PER-WRITE option, not session conf:
      // under foreachBatch these frames are bound to the query's
      // CLONED session (conf copied at query start), so a setting on
      // the caller's session never reaches them — static overwrite
      // would silently replace the whole table every batch (the
      // StreamIngest per-write pattern)
      // bucketed mode's drift-proof replay extends to the PAIRS
      // table: a drifted replay emitting zero pairs writes no
      // partition at all, which would leave the first attempt's pair
      // rows as permanent ghosts referencing rows the replay is
      // about to scrub — clear the batch's partition up front (flat
      // mode keeps its documented byte-identical-replay contract).
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
      val isReplay = bandDir.isDefined && {
        val p = new org.apache.hadoop.fs.Path(sideDir)
        val fs = p.getFileSystem(conf)
        val wm = graft.state.Generations.lastBatchWatermark(fs, p)
        if (wm.forall(_ < batchId))
          graft.state.Generations.writeLastBatchWatermark(fs, p,
            batchId)
        wm.exists(_ >= batchId) || (wm.isEmpty && hasSide)
      }
      if (bandDir.isDefined && isReplay) {
        val pp = new org.apache.hadoop.fs.Path(pairsDir,
          s"batch_id=$batchId")
        pp.getFileSystem(conf).delete(pp, true)
      }
      // `pairProvenanceCol`: copy the batch id into a DATA column so
      // the pairs table can be AGED ([[foldBatches]] collapses the
      // batch_id LAYOUT column to -1; the data column survives the
      // fold — the documented provenance trade, made optional).
      // The mode is a CREATE-time property of the table, enforced by
      // the same marker handshake that pins the side tables' moduli:
      // toggling it against a table with opposite-mode batches splits
      // the schema, and the next fold (schema inferred from an
      // arbitrary leaf, mergeSchema off) would silently DROP or null
      // the provenance column — fail loud instead.
      locally {
        val pp = new org.apache.hadoop.fs.Path(pairsDir)
        val pfs = pp.getFileSystem(conf)
        // RAW read first (the sideDir-guard rule): a marker that
        // exists but carries no pair_provenance key is a FOREIGN
        // table (someone pointed pairsDir at a bucketed layout) —
        // refuse with the found contents, in BOTH modes, rather than
        // misdiagnose it as corrupt or silently write into it
        val raw = graft.state.Layout.layoutMarkerRaw(pfs, pp)
        val stored = graft.state.Layout.layoutMarker(pfs, pp,
          "pair_provenance")
        require(raw.isEmpty || stored.nonEmpty,
          s"$pairsDir carries a foreign layout marker (${raw.get}) " +
            "— point the stream at a fresh pairs directory")
        pairProvenanceCol match {
          case Some(_) =>
            require(stored.contains(1) || !hasData(pairsDir),
              s"$pairsDir holds pairs written WITHOUT a provenance " +
                "column (no pair_provenance marker): folding a " +
                "mixed-schema table silently loses provenance — " +
                "start a fresh pairs dir (or drop pairProvenanceCol)")
            if (stored.isEmpty) { // marker BEFORE first data
              pfs.mkdirs(pp)
              graft.state.Layout.writeLayoutMarker(pfs, pp,
                "pair_provenance", 1)
            }
          case None =>
            require(!stored.contains(1),
              s"$pairsDir carries the pair_provenance marker: its " +
                "pairs have a src-batch data column — pass " +
                "pairProvenanceCol (or start a fresh pairs dir)")
        }
      }
      pairProvenanceCol.foldLeft(pairs)(
          (df, c) => df.withColumn(c, lit(batchId)))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(pairsDir)
      bandDir match {
        case Some(bd) =>
          // bucket-major layout, batch_id leaf: pruning skips whole
          // bucket dirs. Buckets accrue one small file per touched
          // batch — compaction is the store's usual maintenance,
          // orthogonal to correctness here.
          (Seq(setsTable) ++ bandTable).foreach { t =>
            // marker BEFORE first data (the rebuildWithMarker
            // crash-window rule applied to an incremental create)
            t.ensureMarker(spark, buckets)
            // full replay idempotence: dynamic overwrite only
            // replaces the leaves the REPLAYED rows hash into, so
            // a replay whose row set drifted (non-replayable
            // source) would leave first-attempt ghosts in
            // untouched buckets — clear ALL of this batch's leaves
            // first. Only on a PROVEN possible replay (watermark
            // above): first-run batches skip the O(buckets) glob.
            if (isReplay) {
              val p = new org.apache.hadoop.fs.Path(t.dir)
              val fs = p.getFileSystem(conf)
              fs.globStatus(new org.apache.hadoop.fs.Path(p,
                  s"*/batch_id=$batchId"))
                match {
                  case null => ()
                  case sts => sts.foreach(st =>
                    fs.delete(st.getPath, true))
                }
            }
          }
          // NO pre-write repartition on the leaf columns: measured
          // (r12 d44e A/B at 100×) it buys nothing — the trigger's
          // writes are already ~1 file per touched leaf, the fixed
          // cost is the dynamic-overwrite commit machinery per leaf
          // dir, and the added (tiny) shuffle broke the mode's
          // zero-shuffle property for a 16.5-vs-16.4 s wash
          deltaSets
            .withColumn("id_bucket",
              Dedup.idBucket(col("id"), buckets))
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
            .parquet(bd)
          // the GROUP manifest, kept current every trigger (rewrite
          // only on drift): names the sibling tables + the horizon
          // source, so ONE `Layout.maintain(anyMemberDir)` ages the
          // whole group with the sets table's watermark — without it
          // a standalone maintain(bandDir) had no safe horizon and
          // skipped. The pairs table is in the FOLD list only when
          // its provenance mode lets it age (provenance rides a data
          // column); un-aged it still carries the manifest, so
          // entering through it maintains the siblings.
          graft.state.Layout.ensureGroupManifest(spark,
            Seq(sideDir, bd, pairsDir),
            graft.state.Layout.MaintenanceGroup(
              horizonSource = sideDir,
              fold = Seq(sideDir, bd) ++
                pairProvenanceCol.map(_ => pairsDir)))
        case None =>
          deltaSets.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sideDir)
      }
      pairs.count()
    } finally {
      CacheTracker.releaseAll()
    }
  }

  /** The AUTO aging decision + fold — the engine-side cadence that
    * replaces caller-chosen `foldEvery` as [[run]]'s default: fold
    * when the sampled mean batch-leaves per bucket of ANY maintained
    * bucketed table reaches `threshold`
    * ([[graft.state.Generations.sampleLeavesPerBucket]] — ~17 listing
    * RPCs per table, cheap enough to check every trigger). The
    * decision is the MAX over the sets and band tables because they
    * age at DIFFERENT per-bucket rates: each doc lands in exactly
    * one sets bucket but `bands` band buckets, so the band table
    * accumulates leaves ~bands× faster — a sets-only sample would
    * let the band listing walk most of the way to the task-bound
    * wall before firing (measured: the r10 aged store sat at 5.9
    * sets- but 39 band-leaves/bucket). All maintained tables (plus
    * the pairs table, when aged) fold in LOCKSTEP off the one
    * decision. `horizon` must be ≤ the smallest batch id the source
    * could still re-deliver (foreachBatch: the current batch id —
    * exactly the horizon the explicit cadence uses). Returns the
    * deciding leaves-per-bucket when the fold fired, None when the
    * store is healthy. No-op on a flat layout (no bucket dirs →
    * sample is 0 — the flat fold is the documented serial-rewrite
    * cliff; auto must never walk into it). */
  def maybeAutoFold(spark: SparkSession, sideDir: String,
                    bandDir: Option[String],
                    pairsDir: Option[String], horizon: Long,
                    threshold: Double = Defaults.AutoFoldLeavesPerBucket,
                    sample: Int = Defaults.AutoFoldSampleBuckets)
      : Option[Double] = {
    val lpb = (Seq(sideDir) ++ bandDir).map(
      graft.state.Generations.sampleLeavesPerBucket(spark, _, sample))
      .max
    if (lpb < threshold) None
    else {
      foldAll(spark, sideDir, bandDir, pairsDir, horizon)
      Some(lpb)
    }
  }

  /** The turnkey streaming query: a JSON doc feed → per-micro-batch
    * [[probeAndAppend]], exactly-once via checkpoint — the
    * [[StreamIngest.run]] shape for the near-dup plane, with the
    * AGING maintenance wired in as an ENGINE decision: by default
    * (`foldEvery = None`) every bucketed-mode trigger samples each
    * side table's mean batch-leaves per bucket and folds
    * replay-expired leaves into the base generation the moment it
    * reaches [[Defaults.AutoFoldLeavesPerBucket]]
    * ([[maybeAutoFold]]; `horizon = <current batch>` — exactly the
    * safe horizon, since foreachBatch can only re-deliver the
    * current batch). An operator who never thinks about cadence
    * therefore never reaches the measured task-bound regime the
    * un-folded store walks into (~22.6 leaves/bucket: 23.9 s wall /
    * 405 s task per trigger vs 7.7 s / 55 s post-fold — BENCH_NOTES
    * r10; spec-pinned invariant). The fold runs INSIDE foreachBatch,
    * so it can never race a probe — the single-writer contract holds
    * by construction. It pays for itself in ~2 triggers. By DEFAULT
    * the pairs OUTPUT table is never folded (its `batch_id` leaves
    * are provenance the consumer may need — the documented trade);
    * `agePairs` below opts out of that trade.
    *
    * `foldEvery` is the OVERRIDE: `Some(k)` folds every k batches
    * regardless of leaf counts (the pre-auto interface), `Some(0)`
    * disables maintenance entirely, `None` (default) is the auto
    * cadence. An explicit `Some(k > 0)` requires the BUCKETED mode
    * (`bandDir` set): the flat table's one-level fold rewrites the
    * whole accumulated corpus through a single task every cadence —
    * O(corpus) serial work that grows quadratically over the
    * stream's life. A flat stream that needs aging should move to
    * the bucketed layout ([[migrateToBucketed]], one call; the fold
    * there is per-bucket parallel) — refusing loud
    * here beats wiring in a scaling cliff; the AUTO cadence is
    * simply inert in flat mode for the same reason (no bucket dirs
    * to sample, no per-bucket fold to run). (Sizing: pass
    * `bandDir = recommendedBandDir(expectedDocs, dir)` to let the
    * measured d44e crossover pick the mode at create time.)
    *
    * `agePairs = true` extends the fold to the PAIRS OUTPUT table:
    * by default its `batch_id` leaves are kept forever because they
    * carry per-batch provenance the consumer may need (the layout
    * column is what the fold collapses). With the flag, every batch
    * copies its id into a `src_batch_id` DATA column (which survives
    * folding) and the pairs table folds at the same cadence — one
    * file per cadence instead of one per pair-emitting batch. The
    * pairs table stays one-level, so its fold is the serial-rewrite
    * shape; it is the PAIRS output (duplicates found), naturally a
    * tiny fraction of the corpus — a pairs feed large enough for
    * that to matter should be partitioned downstream instead.
    * Requires folding to be possible: the bucketed mode with either
    * the auto cadence (`foldEvery = None`) or an explicit
    * `Some(k > 0)`. */
  def run(spark: SparkSession, inDir: String, sideDir: String,
          pairsDir: String, checkpointDir: String,
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
          bandDir: Option[String] = None,
          buckets: Int = Defaults.Buckets,
          foldEvery: Option[Int] = None,
          agePairs: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(foldEvery.forall(_ >= 0),
      "foldEvery must be None (auto), Some(0) (never) or Some(k > 0)")
    require(!foldEvery.exists(_ > 0) || bandDir.isDefined,
      "foldEvery requires the bucketed mode (bandDir): folding the " +
        "flat layout rewrites the whole corpus serially per cadence")
    require(!agePairs ||
        (bandDir.isDefined && !foldEvery.contains(0)),
      "agePairs requires folding to be possible (bucketed mode with " +
        "the auto cadence or foldEvery > 0): the pairs table ages " +
        "at the same cadence as the side tables")
    spark.readStream
      .schema(s"$idCol long, $textCol string")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        probeAndAppend(spark, batch, batchId, sideDir, pairsDir,
          textCol, idCol, shingleN, k, bands, threshold, seed,
          bandDir, buckets,
          pairProvenanceCol =
            if (agePairs) Some("src_batch_id") else None)
        // same horizon either way: only replay-expired pair leaves
        // fold, so a replayed current batch still overwrites its own
        // partition
        val agedPairsDir = if (agePairs) Some(pairsDir) else None
        foldEvery match {
          case None => // AUTO: the engine's own leaves-per-bucket rule
            if (bandDir.isDefined)
              maybeAutoFold(spark, sideDir, bandDir, agedPairsDir,
                horizon = batchId)
          case Some(k) if k > 0 &&
              batchId > 0 && batchId % k == 0 =>
            foldAll(spark, sideDir, bandDir, agedPairsDir,
              horizon = batchId)
          case _ => () // Some(0) = never, or off-cadence batch
        }
        ()
      }
      .start()
  }
}
