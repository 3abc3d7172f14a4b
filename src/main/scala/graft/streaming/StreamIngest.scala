package graft.streaming

import graft.ingest.{GraphIngest, OpExtract, PostsIngest}
import graft.state.Merge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest plane (SURVEY.md §2.11; reference
  * src/workers/hive-stream.ts + src/services/index.ts CDC).
  *
  * The reference hand-rolls ordering (reorder buffer), checkpointing
  * (2 s timers writing `hive_stream_state`), backpressure (heap
  * watermarks) and at-least-once flushing (idempotent upserts). In
  * Structured Streaming each of those is a platform primitive:
  *
  *   - ordering: restored relationally per micro-batch + the
  *     latest-wins MERGE guard (Merge.latestWins on block_height) —
  *     exactly the reference's state_control monotonicity;
  *   - checkpointing: the query checkpoint dir (exact offsets, not a
  *     2 s-stale height) — strictly stronger than the reference's
  *     checkpoint-ahead/behind-of-buffer race (hive-stream.ts:164-197);
  *   - backpressure: maxFilesPerTrigger / maxOffsetsPerTrigger;
  *   - exactly-once per micro-batch: foreachBatch + idempotent
  *     latest-wins rewrite (Delta MERGE at production scale).
  */
object StreamIngest {

  /** Blocks arriving as JSON files in `inDir` (the block-archive
    * layout S1 maps to in batch mode). */
  def blockStream(spark: SparkSession, inDir: String,
                  maxFilesPerTrigger: Int = 8): DataFrame =
    spark.readStream
      .schema(graft.domain.Schemas.block)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inDir)

  /** One micro-batch of blocks merged into the posts table at
    * `postsDir`. Shared by the streaming sink and batch
    * `Trigger.AvailableNow` catch-up.
    *
    * Scale design — BOTH sides of the merge are partition-scoped:
    *
    *   - layout: `created_month=yyyy-MM / key_bucket=H(author) mod n`
    *     (Layout.monthBucket / Layout.authorBucket). Edits keep their
    *     stored created_at via the seeded fold, so a post never
    *     migrates partitions.
    *   - read side: the gate-seed / fold-seed / restore lookups no
    *     longer scan the table — the hash buckets of the batch's keys
    *     (and referenced parents) are computed first
    *     ([[batchKeyBuckets]]) and the stored view is read through
    *     [[graft.state.Layout.BucketedTable.readBuckets]], so both the
    *     DRIVER LISTING and the scan are bounded by the batch: O(batch keys ·
    *     table/n) per trigger, independent of table growth
    *     (metric-proven in StreamIngestSpec; the listing half measured
    *     in BENCH_NOTES r11).
    *   - write side: only the exact (month, bucket) pairs present in
    *     the batch's output rows join the latest-wins union and are
    *     replaced by dynamic partition overwrite — write
    *     amplification is O(touched pairs), n× finer than the
    *     month-only layout.
    *
    * On Delta this whole method is `MERGE INTO`; the bucket column
    * plays the role of its file-skipping stats.
    *
    * `keyBuckets` applies only when CREATING the table: an existing
    * table's recorded modulus (the `_graft_layout.json` marker) wins,
    * because pruning or writing with a different n than the stored
    * rows were hashed with would silently split keys across buckets.
    * The merge accepts only tables it created itself (bucketed by
    * author, with the marker): a table with data but no marker is
    * refused before anything is written, and so are a marker written
    * under the old `(author, permlink)` hash (no `"key_hash":
    * "author"`) and data outside the bucket tree.
    *
    * The merge runs on its own clone of `spark` (same context, cache
    * manager and registered functions) with AQE off: AQE materializes
    * every shuffle stage as its own job to re-plan — the right trade
    * for big queries, pure fixed overhead for a micro-batch whose
    * shuffles are a few thousand rows (profiled: ~50 of the merge's
    * ~75 driver jobs were AQE stage jobs). The caller's session conf
    * is never written, so a server thread sharing it plans as before
    * while a merge runs. */
  def mergeBlocksBatch(spark: SparkSession, blocks: DataFrame,
                       postsDir: String,
                       keyBuckets: Int = 64,
                       replyIndexDir: Option[String] = None): Unit = {
    val m = GraftBridge.cloneSession(spark)
    m.conf.set("spark.sql.adaptive.enabled", "false")
    // each phase below describes its Spark jobs; the caller's
    // description comes back after, and the job group is left alone
    // (callers attribute the batch's jobs by it)
    val sc = spark.sparkContext
    val description = sc.getLocalProperty("spark.job.description")
    // blocks re-rooted on the merge session: under foreachBatch the
    // micro-batch is bound to the query's own session, whose conf
    // would otherwise plan every read of it
    try mergeBlocksBatchImpl(m,
      GraftBridge.ofRows(m, GraftBridge.analyzed(blocks)), postsDir,
      keyBuckets, replyIndexDir)
    finally {
      // the batch's caches and checkpoints (parsed events, gate
      // fixpoint sets, stored view, ingested rows) — release them
      // HERE or a long-running stream pins one set per micro-batch
      // forever
      graft.CacheTracker.releaseAll()
      sc.setLocalProperty("spark.job.description", description)
    }
  }

  private def mergeBlocksBatchImpl(spark: SparkSession,
                                   blocks: DataFrame, postsDir: String,
                                   keyBuckets: Int,
                                   replyIndexDir: Option[String])
      : Unit = {
    implicit val s: SparkSession = spark
    val monthCol = graft.state.Layout.monthBucket(col("created_at"))
    val ops = OpExtract.ops(blocks)
    def phase(name: String): Unit =
      spark.sparkContext.setJobDescription(s"mergeBlocksBatch: $name")
    phase("bucket discovery")
    // explicit FS existence check — Spark 4 resolves reads lazily, so
    // a try/catch around read.parquet may not fire until deep inside
    // the ingest plan (entry-point-dependent); the FS probe is
    // deterministic
    val tablePath = new org.apache.hadoop.fs.Path(postsDir)
    val fs = tablePath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // "exists" = has DATA (a non-underscore/dot entry): a dir holding
    // only the layout marker is a crashed first create — the marker
    // is written before the data (see below), so this is the
    // recovery path and the merge restarts as a fresh create
    val hasData = graft.state.Layout.hasDataFiles(fs, tablePath)
    // the modulus is a property of the TABLE, not the call: pruning
    // or writing with a different n than the stored rows were hashed
    // with silently splits keys across buckets. The create records n
    // in the marker BEFORE writing data (so no crash window can leave
    // data without its modulus); a table with data but NO marker was
    // therefore not written by this merge (e.g. Layout.writePosts'
    // month-only layout) — refuse rather than guess (guessing the
    // caller's default was the silent key-splitting hazard). A marker
    // of the old (author, permlink) hash refuses inside the read.
    val n =
      if (!hasData) keyBuckets
      else graft.state.Layout.postsKeyBuckets(fs, tablePath).getOrElse(
        throw new IllegalStateException(
          s"posts table at $postsDir has data but no " +
            "_graft_layout.json; the stream merge accepts only the " +
            "bucketed tables it creates itself — build the table " +
            "with StreamIngest.mergeBlocksBatch into an empty dir " +
            "(Layout.writePosts' month-only tables cannot be merged)"))
    // parse once: bucket discovery, the gate fixpoint and the fold
    // all read the same events (released at batch end)
    val evs = graft.CacheTracker.persistTracked(
      PostsIngest.commentEvents(ops))
    // the bucket-pruned stored view is read FOUR times per batch
    // (gate seeds, fold seeds, restore joins, merge union), and the
    // posts write below overwrites the partitions it came from — so
    // it is read ONCE into a CHECKPOINT, which has no lineage. A
    // persisted read would keep it: the write's `recacheByPath` would
    // clear and re-list it and every cache derived from it, and the
    // reply-index step would re-run the gate and fold over the rows
    // just written. With no cached plan reading `postsDir`, the write
    // invalidates nothing. The read is LEAF-ENUMERATED
    // (Layout.BucketedTable.readBuckets): the batch's own key buckets
    // name the exact leaf dirs, so Spark's file index is built over ≤|batch
    // keys| leaves instead of a full n×months listing. None of the
    // batch's buckets on disk ⇒ no stored row can match any batch
    // key: no stored view, as for a create.
    val pruned =
      if (!hasData) None
      else graft.state.Layout.postsStoreTable(postsDir)
        .readBuckets(spark, batchKeyBuckets(evs, n))
        .map(graft.CacheTracker.checkpointTracked)
    val partCols = Seq("created_month", "key_bucket")
    phase("gate") // the fixpoint's jobs; the fold is lazy
    val fresh0 = PostsIngest
      .ingestEvents(evs, pruned.map(
        _.drop("created_month", "key_bucket")))
      .withColumn("created_month", monthCol)
    // checkpointed: the pair discovery, the merge union and the
    // reply-index delta all read the batch's ingested rows
    phase("fold")
    val fresh = graft.CacheTracker.checkpointTracked(
      fresh0.withColumn("key_bucket",
        graft.state.Layout.authorBucket(col("author"), n)))
    phase("posts write")
    val merged = pruned match {
      // Tie-break prefers the EXISTING row: the reference's monotonic
      // guard is strict (`stored.block_height < edit.block_height`,
      // hive-stream.ts:538), so a replayed batch that adds nothing new
      // must leave the stored row (incl. metadata_status) untouched.
      // (fresh's keys ⊆ batch keys, so its partition pairs are all
      // inside the pruned view.)
      case Some(ex) =>
        // exact partitions touched — bounded by the batch's keys
        val pairs = fresh.select("created_month", "key_bucket")
          .distinct().collect()
          .map(r => (r.getString(0), r.getInt(1)))
        val pairPred = pairs.groupBy(_._1).map { case (m, bs) =>
          col("created_month") === m &&
            col("key_bucket").isin(bs.map(_._2).toSeq: _*)
        }.reduceOption(_ || _).getOrElse(lit(false))
        Merge.latestWins(
          ex.filter(pairPred)
            .withColumn("__src", lit(1))
            .unionByName(fresh.withColumn("__src", lit(0)),
              allowMissingColumns = true),
          // document identity is the FULL 4-tuple (the reference's
          // already-exists lookup matches all four,
          // hive-stream.ts:530-535; foldPosts/seedEvents key the
          // same way) — deduping on (author, permlink) alone would
          // silently drop one of two documents sharing a permlink
          // under different parents
          Seq("parent_author", "parent_permlink", "author", "permlink"),
          col("state_control.block_height"),
          ties = Seq(col("__src"))).drop("__src")
      case None => fresh
    }
    // marker BEFORE data, but only on table CREATE: for an
    // existing table the modulus was just READ from this marker —
    // re-writing it every batch (a truncating create) opens a
    // recurring crash window that leaves a zero-byte marker and
    // wedges every subsequent batch on "corrupt layout marker"
    if (!hasData) graft.state.Layout.writePostsMarker(fs, tablePath, n)
    merged
      .repartition(partCols.map(col): _*)
      .sortWithinPartitions("author", "permlink")
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(postsDir)
    // maintained alongside, AFTER the store write (a crash between
    // the two leaves the index one batch stale; the replayed batch
    // repairs both idempotently). The index delta is exactly the
    // batch's ingested rows, read from `fresh`'s checkpoint. A store
    // that PRE-DATES the index triggers a one-time full bootstrap
    // from the merged table instead (the delta is not the history).
    // thunked, not eager: DataFrameReader.parquet triggers a full
    // file listing + schema inference of the whole bucketed store,
    // and the bootstrap branch consumes it at most ONCE per index
    // lifetime — paying that per 2s trigger would double the
    // merge's fixed overhead (ADVICE r8)
    phase("reply index")
    replyIndexDir.foreach(d =>
      refreshReplyIndex(spark, fresh, d, keyBuckets,
        bootstrapFrom =
          if (hasData) Some(() => spark.read.parquet(postsDir))
          else None))
  }

  /** Incrementally maintain a reply index
    * ([[graft.state.Layout.writeReplyIndex]]) alongside a merged
    * store: the DELTA is the micro-batch's own ingested rows (their
    * replies touch ≤|batch| reply buckets), so the refresh unions the
    * touched buckets' existing rows with the batch's index rows,
    * dedupes per document key, and dynamic-partition-overwrites ONLY
    * those buckets — O(batch · index/n) per trigger, the same scaling
    * contract as the posts merge itself. Replay-idempotent: a
    * re-delivered batch rewrites the same buckets to the same bytes
    * (index rows are immutable projections — the fold preserves
    * stored created_at on edits — and the existing side wins ties).
    * Run AFTER the posts write: a crash between the two leaves the
    * index one batch stale, and the replayed batch repairs both.
    *
    * `bootstrapFrom` is a THUNK: it is forced only inside the
    * bootstrap branch (at most once per index lifetime) — an eager
    * DataFrame argument would pay a full file listing + schema
    * inference of the bucketed store on EVERY micro-batch. */
  def refreshReplyIndex(spark: SparkSession, freshPosts: DataFrame,
                        idxDir: String, keyBuckets: Int = 64,
                        bootstrapFrom: Option[() => DataFrame] = None)
      : Unit = {
    val p = new org.apache.hadoop.fs.Path(idxDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = graft.state.Layout.hasDataFiles(fs, p)
    if (!hasData && !graft.state.Layout.hasEmptyIndexMarker(fs, p)) {
      // no index yet (marker-only without the empty-success sentinel
      // = crashed create — re-create). If the posts store PRE-DATES
      // the index, the delta is NOT the whole history — an
      // incremental create would silently serve an index missing
      // every earlier reply; bootstrap with the full rebuild
      // (marker-before-data inside) over the just-merged store
      // instead.
      bootstrapFrom match {
        case Some(full) =>
          graft.state.Layout.writeReplyIndex(full(), idxDir, keyBuckets)
          // a reply-less store bootstraps to ZERO rows, leaving a
          // marker-only dir indistinguishable from a crashed create —
          // record the completed empty generation, or every later
          // batch re-runs the full-store bootstrap until the first
          // reply arrives
          if (!graft.state.Layout.hasDataFiles(fs, p))
            graft.state.Layout.writeEmptyIndexMarker(fs, p)
        case None =>
          val delta = graft.state.Layout.replyIndexRows(freshPosts,
            keyBuckets)
          // a reply-less head-of-archive batch must not churn the
          // marker + an empty write job every trigger
          if (!delta.isEmpty) {
            graft.state.Layout.writeLayoutMarker(fs, p,
              "reply_buckets", keyBuckets)
            graft.state.Layout.writeReplyIndexRows(delta, idxDir)
          }
      }
      return
    }
    // an EXISTING index's recorded modulus wins (pruning/writing with
    // a different n silently splits keys)
    val n = graft.state.Layout.layoutMarker(fs, p, "reply_buckets",
      strict = true).getOrElse(throw new IllegalStateException(
      s"reply index at $idxDir has no layout marker"))
    val delta = graft.state.Layout.replyIndexRows(freshPosts, n)
    if (!hasData) {
      // bootstrapped-empty index (sentinel above): nothing stored to
      // union with — the incremental CREATE, marker already in place
      if (!delta.isEmpty)
        graft.state.Layout.writeReplyIndexRows(delta, idxDir)
      return
    }
    val touched = delta.select("reply_bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return
    // LEAF-ENUMERATED read of the touched buckets via the facade: a
    // fresh partitioned read would list all n index dirs per trigger
    // to serve a ≤|batch|-bucket union — enumerate exactly the
    // touched leaves instead (none on disk yet ⇒ nothing stored to
    // merge with: the empty frame, schema via the shared projection)
    val existing = graft.state.Layout.replyIndexTable(idxDir)
      .readBuckets(spark, touched)
      .getOrElse(graft.state.Layout.emptyReplyIndexRows(spark))
    val merged = Merge.latestWins(
      existing.withColumn("__src", lit(1))
        .unionByName(delta.withColumn("__src", lit(0))),
      Seq("parent_author", "parent_permlink", "author", "permlink"),
      lit(0), ties = Seq(col("__src"))).drop("__src")
    graft.state.Layout.writeReplyIndexRows(merged, idxDir)
  }

  /** The key buckets a batch's events can possibly touch: the buckets
    * of the batch's own authors (fold seeds / restore joins) plus
    * those of its referenced parents' authors (gate seeds): the
    * leaves the merge's stored view enumerates. ≤ min(batch authors,
    * n) ints — driver-trivial. */
  private def batchKeyBuckets(evs: DataFrame,
                              keyBuckets: Int): Seq[Int] = {
    // top-level posts carry the empty ("","") parent ref — its hash
    // bucket can never match a stored key (gateEvents filters the
    // same case), so keep it out of the pruned scan
    evs.select(col("author"))
      .unionByName(evs.filter(col("parent_author") =!= "")
        .select(col("parent_author").as("author")))
      .select(graft.state.Layout.authorBucket(col("author"), keyBuckets)
        .as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq
  }

  /** The streaming query: block files → per-micro-batch ingest+merge,
    * exactly-once via checkpoint. */
  def run(spark: SparkSession, inDir: String, postsDir: String,
          checkpointDir: String,
          trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
          replyIndexDir: Option[String] = None)
      : StreamingQuery =
    blockStream(spark, inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBlocksBatch(spark, batch, postsDir,
          replyIndexDir = replyIndexDir)
      }
      .start()

  /** S2: the Ceramic CDC change-stream source mapped onto the posts
    * schema (reference src/services/index.ts:57-138): keep only
    * graph.docs events, drop last_pinged-only updates and deletes,
    * project fullDocument → PostStruct fields, then unionByName with
    * the Hive posts (§2.9). Works identically on a batch snapshot or
    * a readStream of the CDC feed. */
  def ceramicPosts(cdc: DataFrame): DataFrame = {
    val doc = col("fullDocument")
    val raw = doc.getField("content").getField("json_metadata_raw")
    cdc
      .filter(col("ns.coll") === "graph.docs")
      .filter(col("operationType") =!= "delete")
      .filter(!(col("operationType") === "update" &&
        size(map_keys(col("updateDescription.updatedFields"))) === 1 &&
        array_contains(map_keys(col("updateDescription.updatedFields")),
          "last_pinged")))
      // only documents with content are indexed (services/index.ts:68)
      .filter(doc.getField("content").isNotNull)
      .select(
        doc.getField("parent_headers").getField("author")
          .as("parent_author"),
        doc.getField("parent_headers").getField("permlink")
          .as("parent_permlink"),
        doc.getField("creator_id").as("author"),
        doc.getField("app_metadata").getField("permlink").as("permlink"),
        lit("published").as("status"),
        doc.getField("content").getField("title").as("title"),
        doc.getField("content").getField("body").as("body"),
        coalesce(from_json(get_json_object(raw, "$.tags"),
          graft.ddl("array<string>")),
          array().cast("array<string>")).as("tags"),
        doc.getField("created_at").as("created_at"),
        doc.getField("updated_at").as("updated_at"),
        lit("unprocessed").as("metadata_status"),
        lit(false).as("needs_stat_update"),
        struct(lit(null).cast("long").as("block_height"),
          doc.getField("version_id").as("version_id"))
          .as("state_control"),
        struct(lit(false).as("allowed_by_parent"),
          lit(true).as("allowed_by_type"),
          lit(false).as("allowed_by_community")).as("origin_control"),
        raw.as("json_metadata_raw"),
        struct(array().cast("array<string>").as("types"),
          split(get_json_object(raw, "$.app"), "/").getItem(0)
            .as("app"),
          lit(null).cast(graft.domain.Schemas.spkvideo).as("spkvideo"))
          .as("app_metadata"),
        array().cast("array<struct<cid:string>>").as("ipfs_links"),
        array().cast("array<struct<account:string,weight:int>>")
          .as("beneficiaries"),
        doc.getField("id").as("off_chain_id"),
        // comment flag iff parent_headers.permlink is truthy
        // (services/index.ts:72-75)
        when(length(coalesce(doc.getField("parent_headers")
          .getField("permlink"), lit(""))) > 0,
          array(lit("comment")))
          .otherwise(array().cast("array<string>")).as("flags"),
        // Divergence note: the reference's $set omits TYPE entirely,
        // so its own F12 `TYPE != CERAMIC` filter never actually
        // excludes ceramic rows (a latent bug); we set the evident
        // intent so includeCeramic works as designed.
        lit("CERAMIC").as("TYPE"),
        lit("post_ceramic").as("__t"),
        lit("0.1").as("__v"))
  }

  /** Union the two post sources into one queryable table
    * (reference: both writers upsert the same collection). */
  def unifiedPosts(hivePosts: DataFrame,
                   ceramicPosts: DataFrame): DataFrame =
    hivePosts.unionByName(ceramicPosts, allowMissingColumns = true)
}
