package graft.ingest

import graft.functions.Dmp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One comment-op event after payload parsing, with its transaction's
  * sibling-op facts ([[OpExtract.ops]]).
  * `allowed_by_type` is per-event (each op is gated on its OWN
  * metadata); `allowed_by_parent` is filled by [[PostsIngest.gateEvents]].
  */
final case class CommentEv(
    author: String, permlink: String,
    parent_author: String, parent_permlink: String,
    block_height: Long, op_index: Int, ts: java.sql.Timestamp,
    title: String, body: String, json_metadata_raw: String,
    deleted: Boolean, authority_signed: Boolean,
    beneficiaries: scala.collection.Seq[Beneficiary],
    allowed_by_type: Boolean, allowed_by_parent: Boolean)

final case class Beneficiary(account: String, weight: Int)

/** Folded per-post state before relational decoration.
  * `json_metadata_raw` is the LAST write (what gets stored);
  * `insert_metadata_raw` is the insert-time metadata, which alone
  * feeds app_metadata / ipfs_links (the reference's edit `$set` never
  * recomputes them, hive-stream.ts:563-577 vs :586-655). */
final case class FoldedPost(
    author: String, permlink: String,
    parent_author: String, parent_permlink: String,
    title: String, body: String,
    json_metadata_raw: String, insert_metadata_raw: String,
    created_at: java.sql.Timestamp, updated_at: java.sql.Timestamp,
    block_height: Long, status: String, authority_signed: Boolean,
    beneficiaries: scala.collection.Seq[Beneficiary],
    allowed_by_type: Boolean, allowed_by_parent: Boolean,
    n_edits: Int)

/** The comment pipeline (SURVEY.md §2/§3.2; reference
  * src/workers/hive-stream.ts:494-698).
  *
  * Spark-first shape: everything relational except the one genuinely
  * sequential piece — the per-post edit chain, where each edit is a
  * diff-match-patch applied to the *previous* body
  * (hive-stream.ts:540-548). That is a per-key ordered fold, done with
  * `groupByKey.flatMapGroups` over ops sorted by (block_height,
  * op_index): one shuffle on the post key, then a linear scan per
  * post. Posts are small groups (edit counts are tiny), so the fold
  * parallelizes across keys at any scale — the reference serializes
  * the entire chain through one Node process.
  *
  * Out-of-order arrivals: the reference guards with
  * `state_control.block_height` monotonicity (hive-stream.ts:538); the
  * sorted fold replays canonically ordered instead, which converges to
  * the same final state (a stale op never wins).
  */
object PostsIngest {

  private val payloadSchema =
    "struct<parent_author:string,parent_permlink:string,author:string," +
      "permlink:string,title:string,body:string,json_metadata:string>"

  /** X3 detectPostType over a raw json_metadata column
    * (block_processing/posts.ts:1-30): exact, case-sensitive app
    * names; ALLOWED_APPS = ['3speak','dbuzz']. */
  private def appAllowedByType(metaRaw: Column): Column = {
    val appName = split(from_json(metaRaw,
      graft.domain.Schemas.commentMeta).getField("app"), "/").getItem(0)
    // '3speak' → '3speak', 'dBuzz' → 'dbuzz'; both pass the gate
    coalesce(appName === "3speak" || appName === "dBuzz", lit(false))
  }

  /** comment ops → parsed events incl. the sibling-op facts (J10) the
    * ops carry from their transaction. */
  def commentEvents(ops: DataFrame): DataFrame = {
    val meta = from_json(col("json_metadata_raw"),
      graft.domain.Schemas.commentMeta)
    ops.filter(col("op_name") === "comment")
      .withColumn("p", from_json(col("payload"), graft.ddl(payloadSchema)))
      .filter(col("p.author").isNotNull && col("p.permlink").isNotNull)
      .select(
        col("p.author").as("author"),
        col("p.permlink").as("permlink"),
        coalesce(col("p.parent_author"), lit("")).as("parent_author"),
        coalesce(col("p.parent_permlink"), lit(""))
          .as("parent_permlink"),
        col("block_height"), col("op_index"), col("ts"),
        col("p.title").as("title"),
        coalesce(col("p.body"), lit("")).as("body"),
        col("p.json_metadata").as("json_metadata_raw"),
        coalesce(col("authority_signed"), lit(false))
          .as("authority_signed"),
        col("beneficiaries"))
      .withColumn("deleted",
        coalesce(array_contains(meta.getField("flags"), "deleted") ||
          array_contains(meta.getField("tags"), "deleted"), lit(false)))
      .withColumn("allowed_by_type",
        appAllowedByType(col("json_metadata_raw")))
      .withColumn("allowed_by_parent", lit(false))
  }

  /** Per-EVENT indexing gate (hive-stream.ts:515-528): every comment
    * op — insert or edit alike — is dropped unless its OWN metadata
    * passes the app-type gate or its parent is an indexed post.
    * Fills `allowed_by_parent` per event. Parent identity is
    * `(author, permlink)` — the reference's parent lookup uses only
    * those two fields (hive-stream.ts:517-520).
    *
    * Reply chains resolve to FIXPOINT: the reference indexes any
    * depth because it processes blocks sequentially (each parent is
    * stored before its child arrives); relationally that is iterate-
    * until-no-growth, not a fixed round count. Scale design: every
    * set in the loop is bounded by the BATCH, not the table —
    * `existingPosts` keys are first semi-joined down to the parents
    * this batch actually references, so an iteration shuffles
    * O(batch) rows even against a 100 TB posts table, and real
    * batches converge in 1-2 iterations (depth > 1 only when a chain
    * arrives entirely within one batch). */
  def gateEvents(evsRaw: DataFrame,
                 existingPosts: Option[DataFrame] = None): DataFrame = {
    // cache the parsed events: parentRefs, typeKeys, each fixpoint
    // iteration's semi-join AND the final gate all read them — without
    // this the JSON/regex extraction re-runs once per consumer
    // (released with the batch's other caches via CacheTracker);
    // callers that already persisted (the streaming merge caches the
    // events for its bucket discovery) pass through untouched
    val evs =
      if (evsRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        graft.CacheTracker.persistTracked(evsRaw)
      else evsRaw
    // all (parent_author, parent_permlink) this batch references —
    // the only keys whose membership in "indexed" matters. The empty
    // ("", "") ref of top-level posts can never match a post key
    // (authors are non-empty), so it is excluded up front.
    val parentRefs = evs
      .filter(col("parent_author") =!= "")
      .select(col("parent_author").as("pa"),
        col("parent_permlink").as("pp"))
      .distinct()
    // Fast path — a batch with ZERO real parent refs (all top-level
    // posts, the common streaming micro-batch) needs no existing-key
    // lookup and no fixpoint: nothing can gate through a parent. This
    // skips the per-batch stored-table seed scan and 2+ count jobs.
    if (parentRefs.isEmpty) {
      return evs.withColumn("allowed_by_parent", lit(false))
        .filter(col("allowed_by_type"))
    }
    val existingKeys = existingPosts.map(
      _.select(col("author").as("pa"), col("permlink").as("pp"))
        .join(parentRefs, Seq("pa", "pp"), "left_semi"))
    val typeKeys = evs.filter(col("allowed_by_type"))
      .select(col("author").as("pa"), col("permlink").as("pp"))
      .distinct()
    var allowed = existingKeys
      .fold(typeKeys)(e => typeKeys.unionByName(e)).distinct()
      .persist()
    var size = allowed.count()
    var grew = true
    while (grew) {
      val next = allowed.unionByName(
        evs.alias("e")
          .join(allowed.alias("a"),
            col("e.parent_author") === col("a.pa") &&
              col("e.parent_permlink") === col("a.pp"), "left_semi")
          .select(col("author").as("pa"), col("permlink").as("pp")))
        .distinct().persist()
      val nextSize = next.count()
      grew = nextSize > size
      allowed.unpersist(blocking = false)
      allowed = next
      size = nextSize
    }
    val gated = evs.drop("allowed_by_parent").alias("e")
      .join(allowed.withColumn("__pok", lit(true)).alias("a"),
        col("e.parent_author") === col("a.pa") &&
          col("e.parent_permlink") === col("a.pp"), "left")
      .withColumn("allowed_by_parent",
        coalesce(col("__pok"), lit(false)))
      .drop("pa", "pp", "__pok")
      .filter(col("allowed_by_type") || col("allowed_by_parent"))
    // the loop's persists stay referenced by `gated`'s plan; register
    // the final one for harness release
    graft.CacheTracker.persistTracked(allowed)
    gated
  }

  /** The sequential per-post fold: insert body verbatim, edits via
    * dmp-or-replace, delete flags, last-op-wins stored metadata
    * (hive-stream.ts:530-577).
    *
    * Post identity is the full 4-tuple `(parent_author,
    * parent_permlink, author, permlink)` — the reference's
    * already-exists lookup matches on all four (hive-stream.ts:530-535),
    * so an op reusing a permlink under a different parent is a new
    * document, not an edit.
    *
    * Insert-path-only facts: `authority_signed`, `beneficiaries`, and
    * the metadata feeding app_metadata/ipfs_links come from the FIRST
    * surviving event only — the edit `$set` (hive-stream.ts:563-577)
    * never recomputes them. */
  def foldPosts(evs: Dataset[CommentEv])
      (implicit spark: SparkSession): Dataset[FoldedPost] = {
    import spark.implicits._
    evs.groupByKey(e =>
      (e.author, e.permlink, e.parent_author, e.parent_permlink))
      .flatMapGroups {
        (key: (String, String, String, String),
         it: Iterator[CommentEv]) =>
          val (author, permlink, pa, pp) = key
          val ordered = it.toArray
            .sortBy(e => (e.block_height, e.op_index))
          if (ordered.isEmpty) Iterator.empty
          else {
            val head = ordered.head
            var body = head.body            // insert: verbatim
            var title = head.title
            var lastMeta = head.json_metadata_raw
            // insert is always published; only EDITS carry the
            // deleted flag (hive-stream.ts:550-561 is the edit path,
            // the insert path hardcodes status:'published' at :661)
            var status = "published"
            ordered.tail.foreach { e =>     // edits: dmp-or-replace
              body = Dmp.applyOrReplace(e.body, body)
              if (e.title != null) title = e.title
              if (e.json_metadata_raw != null)
                lastMeta = e.json_metadata_raw
              status = if (e.deleted) "deleted" else "published"
            }
            val last = ordered.last
            Iterator.single(FoldedPost(author, permlink, pa, pp,
              title, body, lastMeta, head.json_metadata_raw,
              head.ts, last.ts, last.block_height,
              status, head.authority_signed, head.beneficiaries,
              head.allowed_by_type, head.allowed_by_parent,
              ordered.length - 1))
          }
      }
  }

  /** Relational decoration of folded posts into the full posts schema:
    * type gate (X3: detectPostType with the reference's exact
    * case-sensitive app names), parent gate (J2), app_metadata/
    * spkvideo (hive-stream.ts:607-649: keyed off the `3speak/` app
    * prefix or an authority-signed sibling — NOT off video presence),
    * ipfs links (X5: host of every sourceMap url), first_upload (J8
    * window — intended semantics; see divergence note), origin/state
    * control, discriminators.
    *
    * Input must be pre-gated via [[gateEvents]]; app_metadata /
    * ipfs_links derive from `insert_metadata_raw` (insert-time),
    * stored tags/json_metadata from the last write.
    *
    * first_upload: the reference's dedup lookup queries
    * `video.first_upload` but writers only ever set
    * `app_metadata.spkvideo.first_upload` (hive-stream.ts:624-631),
    * so the guard never fires and EVERY 3speak post gets
    * first_upload=true — we reproduce that observable behavior. */
  def decorate(folded: DataFrame): DataFrame = {
    // stored fields (tags, json_metadata) track the LAST write; the
    // app_metadata/ipfs_links inputs track the INSERT write only
    val meta = from_json(col("json_metadata_raw"),
      graft.domain.Schemas.commentMeta)
    val insMeta = from_json(col("insert_metadata_raw"),
      graft.domain.Schemas.commentMeta)
    val appFull = insMeta.getField("app")
    val appName = split(appFull, "/").getItem(0)               // X2
    val video = insMeta.getField("video").getField("info")
    val srcMap = video.getField("sourceMap")
    val hasVideoEntry = coalesce(
      exists(srcMap, e => e.getField("type") === "video"), lit(false))
    val hasThumbEntry = coalesce(
      exists(srcMap, e => e.getField("type") === "thumbnail"),
      lit(false))

    val withCols = folded
      .withColumn("tags",
        coalesce(meta.getField("tags"), array().cast("array<string>")))
      .withColumn("flags",
        when(col("parent_author") =!= "", array(lit("comment")))
          .otherwise(array().cast("array<string>")))
      .withColumn("app_name", appName)
      .withColumn("is_3speak",
        coalesce(appFull.startsWith("3speak/"), lit(false)))
      // storage_type by sourceMap entry TYPE (video beats thumbnail,
      // hive-stream.ts:633-646); only computed for 3speak posts
      .withColumn("storage_type",
        when(hasVideoEntry, "ipfs")
          .when(hasThumbEntry, "thumbnail_ipfs")
          .otherwise("legacy"))
      // ipfs_links: host of EVERY sourceMap url (pulloutIpfsLinks,
      // hive-stream.ts:14-30 — not restricted to ipfs:// scheme)
      .withColumn("ipfs_links",
        transform(
          coalesce(srcMap, array().cast(
            "array<struct<type:string,url:string,format:string>>")),
          e => struct(regexp_extract(e.getField("url"),
            "^[a-zA-Z]+://([^/]+)", 1).as("cid"))))

    // J8 first_upload — observable reference behavior: the dedup
    // lookup queries `video.first_upload`, a field no writer ever
    // sets (hive-stream.ts:623-631), so the guard never fires and
    // EVERY 3speak insert gets first_upload=true. The intended
    // first-event-per-author semantics exist as the catalog's
    // q12_first_event window operator.
    val withFirst = withCols.withColumn("first_upload",
      col("is_3speak"))

    // Gating already happened per event in gateEvents; the folded
    // allowed_by_* booleans are the insert event's origin facts.
    withFirst.select(
      col("parent_author"), col("parent_permlink"),
      col("author"), col("permlink"), col("status"),
      col("title"), col("body"), col("tags"),
      col("created_at"), col("updated_at"),
      lit("unprocessed").as("metadata_status"),
      // the reference's insert writes NO needs_stat_update field and
      // postStats treats missing as dirty ($exists:false, core.ts:78-87)
      // — null models "missing"
      lit(null).cast("boolean").as("needs_stat_update"),
      lit(false).as("needs_stream_id"),
      lit(null).cast(graft.domain.Schemas.stats).as("stats"),
      lit(null).cast(graft.domain.Schemas.hiveRewards)
        .as("hive_rewards"),
      struct(col("block_height"),
        lit(null).cast("string").as("version_id")).as("state_control"),
      // reference writes only {allowed_by_parent, allowed_by_type}
      // (hive-stream.ts:663-666); allowed_by_community stays unset
      struct(col("allowed_by_parent"), col("allowed_by_type"),
        lit(null).cast("boolean").as("allowed_by_community"))
        .as("origin_control"),
      col("json_metadata_raw"),
      // spkvideo exists iff the app is 3speak/* OR an authority-signed
      // sibling op was present; types = keys of app_metadata
      // (hive-stream.ts:617-651)
      struct(
        when(col("is_3speak") || col("authority_signed"),
          array(lit("spkvideo")))
          .otherwise(array().cast("array<string>")).as("types"),
        col("app_name").as("app"),
        when(col("is_3speak") || col("authority_signed"), struct(
          col("authority_signed"),
          when(col("is_3speak"), col("storage_type"))
            .otherwise(lit(null).cast("string")).as("storage_type"),
          when(col("is_3speak"), col("first_upload"))
            .otherwise(lit(null).cast("boolean")).as("first_upload"),
          lit(null).cast("int").as("height"),
          lit(null).cast("int").as("width"),
          lit(null).cast("boolean").as("is_short")))
          .otherwise(lit(null).cast(graft.domain.Schemas.spkvideo))
          .as("spkvideo")).as("app_metadata"),
      col("ipfs_links"),
      col("beneficiaries").cast(
        "array<struct<account:string,weight:int>>").as("beneficiaries"),
      lit("HIVE").as("TYPE"),
      lit("post_hive").as("__t"),
      lit("0.1").as("__v"),
      col("flags"),
      lit(null).cast("string").as("off_chain_id"))
  }

  /** Synthetic head events from already-stored rows, one per stored
    * post whose key appears in this batch — the seed that makes the
    * per-key fold correct ACROSS micro-batches: an edit arriving in a
    * later batch than its insert must dmp-apply against the STORED
    * body, not be mistaken for an insert (hive-stream.ts:536-548).
    *
    * Ordering: `op_index = Int.MaxValue` puts the seed AFTER any real
    * op at the same block height, reproducing the reference's strict
    * monotonic guard (`stored.block_height < edit.block_height`,
    * hive-stream.ts:538): a same-or-lower-height edit folds to the
    * stored state unchanged. `ts = updated_at` so a fold that ends on
    * the seed keeps the stored updated_at (created_at and the other
    * edit-untouched fields are restored by [[restoreInsertFacts]]).
    *
    * Scale note: `left_semi` on the batch's keys means the seed scan
    * is bounded by the micro-batch size, not the table size. */
  def seedEvents(existing: DataFrame, batchEvs: DataFrame)
      (implicit spark: SparkSession): Dataset[CommentEv] = {
    import spark.implicits._
    val keys = batchEvs.select(
      "parent_author", "parent_permlink", "author", "permlink").distinct()
    existing
      .join(keys,
        Seq("parent_author", "parent_permlink", "author", "permlink"),
        "left_semi")
      .select(
        col("author"), col("permlink"),
        col("parent_author"), col("parent_permlink"),
        coalesce(col("state_control.block_height"), lit(0L))
          .as("block_height"),
        lit(Int.MaxValue).as("op_index"),
        col("updated_at").as("ts"),
        col("title"), col("body"), col("json_metadata_raw"),
        (coalesce(col("status"), lit("published")) === "deleted")
          .as("deleted"),
        coalesce(col("app_metadata.spkvideo.authority_signed"),
          lit(false)).as("authority_signed"),
        coalesce(col("beneficiaries"),
          array().cast("array<struct<account:string,weight:int>>"))
          .as("beneficiaries"),
        coalesce(col("origin_control.allowed_by_type"), lit(false))
          .as("allowed_by_type"),
        coalesce(col("origin_control.allowed_by_parent"), lit(false))
          .as("allowed_by_parent"))
      .as[CommentEv]
  }

  /** Restore the fields an edit `$set` never touches from the stored
    * row, for keys that already existed (hive-stream.ts:563-577: the
    * edit writes op fields + status/body/json_metadata/tags/
    * updated_at/state_control/metadata_status ONLY — created_at,
    * beneficiaries, app_metadata, ipfs_links, origin_control,
    * needs_stat_update, stats, hive_rewards are untouched). The fold
    * + [[decorate]] recompute them from whatever event landed first
    * in this batch, which for a pre-existing key is wrong — overwrite
    * with the stored values. */
  def restoreInsertFacts(decorated: DataFrame,
                         existing: DataFrame): DataFrame = {
    val keyCols =
      Seq("parent_author", "parent_permlink", "author", "permlink")
    val keep = Seq("created_at", "beneficiaries", "app_metadata",
      "ipfs_links", "origin_control", "needs_stat_update",
      "needs_stream_id", "stats", "hive_rewards", "off_chain_id")
      .filter(existing.columns.contains)
    val ex = existing.select(
      keyCols.map(col) ++ keep.map(c => col(c).as(s"__ex_$c")) :+
        lit(true).as("__ex_hit"): _*)
    val joined = decorated.join(ex, keyCols, "left")
    keep.foldLeft(joined) { (df, c) =>
      df.withColumn(c,
        when(col("__ex_hit"), col(s"__ex_$c")).otherwise(col(c)))
    }.drop("__ex_hit").drop(keep.map(c => s"__ex_$c"): _*)
  }

  /** Full pipeline: ops → gate → fold → posts rows (batch replay).
    * With `existingPosts`, the fold is seeded per batch key
    * ([[seedEvents]]) and edit-untouched fields are restored
    * ([[restoreInsertFacts]]) — together these make micro-batch
    * boundaries invisible: an insert+edit in one batch and the same
    * split across two batches fold to identical rows. */
  def ingest(ops: DataFrame, existingPosts: Option[DataFrame] = None)
      (implicit spark: SparkSession): DataFrame =
    ingestEvents(commentEvents(ops), existingPosts)

  /** [[ingest]] from already-parsed comment events — the streaming
    * merge parses once, derives the batch's key buckets for its
    * pruned existing-table read, then ingests the same events. */
  def ingestEvents(events: DataFrame,
                   existingPosts: Option[DataFrame] = None)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val evs = gateEvents(events, existingPosts)
      .as[CommentEv]
    val folded = existingPosts match {
      case None => foldPosts(evs)
      case Some(ex) => foldPosts(evs.unionByName(seedEvents(ex, evs.toDF())))
    }
    val dec = decorate(folded.toDF())
    existingPosts.fold(dec)(ex => restoreInsertFacts(dec, ex))
  }

  /** Vote ops → dirty set (J9, hive-stream.ts:224-238): distinct
    * (author, permlink) needing a stat refresh. */
  def voteDirtySet(ops: DataFrame): DataFrame =
    ops.filter(col("op_name") === "vote")
      .select(
        get_json_object(col("payload"), "$.author").as("author"),
        get_json_object(col("payload"), "$.permlink").as("permlink"))
      .filter(col("author").isNotNull)
      .distinct()

  /** Apply the dirty set: set needs_stat_update on matching posts
    * (MERGE-shaped; batch = left join + boolean or). */
  def flagNeedsStatUpdate(posts: DataFrame, dirty: DataFrame): DataFrame =
    flagColumn(posts, dirty, "needs_stat_update")

  /** spk.bridge_id dirty set → needs_stream_id flags
    * (hive-stream.ts:268-280). */
  def flagNeedsStreamId(posts: DataFrame, requests: DataFrame): DataFrame =
    flagColumn(posts, requests.select("author", "permlink"),
      "needs_stream_id")

  private def flagColumn(posts: DataFrame, dirty: DataFrame,
                         flag: String): DataFrame =
    posts.alias("p")
      .join(dirty.select("author", "permlink").distinct()
        .withColumn("__dirty", lit(true)).alias("d"),
        Seq("author", "permlink"), "left")
      .withColumn(flag,
        col(flag) || coalesce(col("__dirty"), lit(false)))
      .drop("__dirty")
}
