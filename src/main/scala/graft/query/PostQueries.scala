package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feed-filter arguments — the engine's equivalent of the reference's
  * GraphQL input object (schema.ts:284-291) compiled by
  * TransformFeedArgs (resolvers/index.ts:58-149). Field-for-field per
  * SURVEY.md §2.2 F1-F14. */
final case class FeedArgs(
    spkvideoFirstUpload: Boolean = false,            // F1
    spkvideoOnly: Boolean = false,                   // F2
    spkvideoIsShort: Boolean = false,                // F3
    includeComments: Boolean = false,                // F4 (default off)
    byTag: Option[Where] = None,                     // F5
    byCreator: Option[Where] = None,                 // F6
    byPermlink: Option[Where] = None,
    byCommunity: Option[Where] = None,               // F7
    byApp: Option[Where] = None,                     // F8
    byType: Option[Where] = None,                    // F9
    byLang: Option[Where] = None,                    // F10
    or: Seq[FeedArgs] = Nil,                         // F11
    includeCeramic: Boolean = false,                 // F12
    byFollower: Option[String] = None,               // F13 (semi join)
    // 0 = "unset": each feed applies its own default via limitOr,
    // matching JS `pagination?.limit || N` (0 is falsy there too)
    limit: Int = 0, skip: Int = 0) {
  def limitOr(default: Int): Int = if (limit > 0) limit else default
}

/** The read-path query surface over the posts/profiles/communities/
  * follows entity tables (SURVEY.md §2.3-§2.5, §3.1).
  *
  * Where the reference issues one MongoDB query per GraphQL field
  * (N+1), every method here is a single DataFrame pipeline: filters
  * compile to pushed-down predicates, `byFollower` is a broadcast
  * left-semi join, hydration is a broadcast left join — so a feed is
  * one scan + one TakeOrderedAndProject regardless of page size.
  */
object PostQueries {

  /** F11: an `_or` branch carries ONLY its named field predicate
    * (schema.ts:284-291, resolvers/index.ts:108-116) — the F1-F4/F12
    * defaults stay top-level and are not folded into branches. */
  private def orBranch(a: FeedArgs): Column =
    Predicates.all(
      a.byTag.flatMap(_.compileArray(col("tags"))),
      a.byCreator.flatMap(_.compile(col("author"))),
      a.byPermlink.flatMap(_.compile(col("permlink"))),
      a.byCommunity.flatMap(_.compile(col("parent_permlink"))),
      a.byApp.flatMap(_.compile(col("app_metadata.app"))),
      a.byType.flatMap(_.compileArray(col("app_metadata.types"))))

  /** F1-F12 compiled to one predicate (no F13 — that's a join).
    *
    * TransformFeedArgs builds a plain object, so later assignments to
    * the same key silently replace earlier ones: `byFollower`
    * overwrites `byCreator` (both write query["author"],
    * resolvers/index.ts:88-90 vs :126-146), and `byType` overwrites
    * `spkvideo.only` (both write query["app_metadata.types"],
    * :65-67 vs :100-102). We reproduce that last-wins behavior. */
  def feedPredicate(a: FeedArgs): Column = {
    val base = Predicates.all(
      Option.when(a.spkvideoFirstUpload)(
        col("app_metadata.spkvideo.first_upload") === true),
      Option.when(a.spkvideoOnly && a.byType.isEmpty)(
        array_contains(col("app_metadata.types"), "spkvideo")),
      Option.when(a.spkvideoIsShort)(
        col("app_metadata.spkvideo.is_short") === true),
      // F4: flags must NOT contain 'comment'; null-safe (missing ⇒ keep)
      Option.when(!a.includeComments)(
        !coalesce(array_contains(col("flags"), "comment"), lit(false))),
      a.byTag.flatMap(_.compileArray(col("tags"))),
      Option.when(a.byFollower.isEmpty)(a.byCreator)
        .flatten.flatMap(_.compile(col("author"))),
      a.byPermlink.flatMap(_.compile(col("permlink"))),
      a.byCommunity.flatMap(_.compile(col("parent_permlink"))),
      a.byApp.flatMap(_.compile(col("app_metadata.app"))),
      a.byType.flatMap(_.compileArray(col("app_metadata.types"))),
      a.byLang.flatMap(_.compile(
        get_json_object(col("json_metadata_raw"), "$.video.info.lang"))),
      // F12: TYPE != CERAMIC unless opted in (null-safe)
      Option.when(!a.includeCeramic)(
        coalesce(col("TYPE"), lit("")) =!= "CERAMIC"))
    // F11: _or of single-field branches, ANDed with the rest
    if (a.or.isEmpty) base
    else base && a.or.map(orBranch).reduce(_ || _)
  }

  /** Apply F13 byFollower as a broadcast left-semi join against the
    * follow edge list (resolvers/index.ts:126-146): keep posts whose
    * author is followed by X. A `did:`-prefixed follower reads the
    * offchain `social_connections` table instead of `follows`
    * (resolvers/index.ts:127-138). The follow set of one account is
    * tiny ⇒ broadcast, no shuffle of posts. */
  def applyFollower(posts: DataFrame, follows: DataFrame,
                    follower: String,
                    socialConnections: Option[DataFrame] = None)
      : DataFrame = {
    val edges =
      if (follower.startsWith("did:"))
        socialConnections.getOrElse(follows)
      else follows
    posts.join(
      broadcast(edges.filter(col("follower") === follower)
        .select(col("following"))),
      posts("author") === col("following"), "left_semi")
  }

  private def filtered(posts: DataFrame, follows: DataFrame,
                       a: FeedArgs,
                       socialConnections: Option[DataFrame],
                       keyBuckets: Option[Int]): DataFrame = {
    val base = creatorPruned(posts, a, keyBuckets)
      .filter(feedPredicate(a))
    a.byFollower.fold(base)(f =>
      applyFollower(base, follows, f, socialConnections))
  }

  /** The authors a feed's rows must come from, when its arguments
    * name them: the string `_eq` of `byCreator`, else its `_in` list
    * when every value is a string. None when `byFollower` is set (it
    * overrides `byCreator`, see [[feedPredicate]]) or when no such
    * value is given. An `_or` branch's `byCreator` is not counted: the
    * branches are ORed. A non-string value is not counted either: its
    * comparison casts, and its hash differs from the matching name's. */
  def creatorAuthors(a: FeedArgs): Option[Seq[String]] =
    if (a.byFollower.nonEmpty) None
    else a.byCreator.flatMap { w =>
      w.eq.collect { case s: String => Seq(s) }.orElse(
        w.in.filter(vs => vs.nonEmpty && vs.forall(_.isInstanceOf[String]))
          .map(_.map(_.asInstanceOf[String]).distinct))
    }

  /** Partition-prune a graft-layout posts source to the author buckets
    * of [[creatorAuthors]] ([[graft.state.Layout.authorBucket]]): an
    * author's feed page then reads one bucket file per month instead
    * of all n. The added predicate follows from the feed's own
    * `author` filter, so the answer does not change. The bucket
    * expressions are over literals and fold to constants, so Catalyst
    * plans them as a partition filter. Sources without the layout,
    * and feeds that name no authors, pass through unchanged. */
  def creatorPruned(posts: DataFrame, a: FeedArgs,
                    keyBuckets: Option[Int]): DataFrame =
    (for {
      n <- keyBuckets if posts.columns.contains("key_bucket")
      authors <- creatorAuthors(a)
    } yield posts.filter(col("key_bucket").isin(authors.map(x =>
      graft.state.Layout.authorBucket(lit(x), n)): _*)))
      .getOrElse(posts)

  /** Q8 socialFeed: newest-first page. `socialConnections` routes a
    * `did:` byFollower to the Ceramic social graph instead of the
    * Hive follows table (resolvers/index.ts:126-146). `keyBuckets`
    * prunes a byCreator page on a graft-layout store to its authors'
    * buckets ([[creatorPruned]]), as it does for every feed here. */
  def socialFeed(posts: DataFrame, follows: DataFrame,
                 a: FeedArgs,
                 socialConnections: Option[DataFrame] = None,
                 keyBuckets: Option[Int] = None)
      : DataFrame =
    Feeds.page(filtered(posts, follows, a, socialConnections, keyBuckets),
      lit(true),
      Seq(col("created_at").desc, col("author").asc,
        col("permlink").asc),
      a.skip, a.limitOr(100))

  /** Q9 searchFeed: any-term token match + tf score, newest-first —
    * Mongo $text matches documents containing ANY search term and the
    * resolver sorts by created_at, not relevance
    * (resolvers/index.ts:200-214). `stem = true` is the Mongo-analyzer
    * parity mode ("running" matches "run"; Porter at tokenize time,
    * [[graft.functions.PorterStem]]); default off = the token-exact
    * oracle contract (the remaining documented divergence,
    * SURVEY.md §7.4, now opt-in-closable). */
  def searchFeed(posts: DataFrame, follows: DataFrame, a: FeedArgs,
                 term: String,
                 socialConnections: Option[DataFrame] = None,
                 stem: Boolean = false,
                 keyBuckets: Option[Int] = None)
      : DataFrame = {
    val terms = term.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    Feeds.search(filtered(posts, follows, a, socialConnections,
      keyBuckets),
      col("body"), terms,
        requireAll = false, stem = stem)
      .orderBy(col("created_at").desc, col("author").asc,
        col("permlink").asc)
      .offset(a.skip).limit(a.limitOr(100))
  }

  sealed trait TrendingBy
  case object ByComments extends TrendingBy
  case object ByPayout extends TrendingBy

  /** Q10 trendingFeed: 3-day window back from the newest matching
    * post, ranked by comments or payout (resolvers/index.ts:224-267).
    */
  def trendingFeed(posts: DataFrame, follows: DataFrame, a: FeedArgs,
                   by: TrendingBy = ByComments,
                   socialConnections: Option[DataFrame] = None,
                   keyBuckets: Option[Int] = None)
      : DataFrame = {
    val metric = by match {
      case ByComments => col("stats.num_comments")
      case ByPayout   => col("stats.total_hive_reward")
    }
    Feeds.trending(filtered(posts, follows, a, socialConnections,
      keyBuckets),
      lit(true),
      col("created_at"), expr("INTERVAL 3 DAYS"),
      Seq(metric.desc, col("author").asc, col("permlink").asc),
      a.limitOr(100), a.skip)
  }

  /** Q11 relatedFeed: posts sharing tags with the anchor (or same
    * community for top-level anchors), uniform seeded sample of 25
    * (resolvers/index.ts:268-307). `keyBuckets` partition-prunes the
    * anchor lookup on a graft-layout store, like [[socialPost]], and
    * a byCreator sample like [[socialFeed]]. */
  def relatedFeed(posts: DataFrame, follows: DataFrame, a: FeedArgs,
                  author: String, permlink: String,
                  seed: Long = 42L,
                  socialConnections: Option[DataFrame] = None,
                  keyBuckets: Option[Int] = None)
      : DataFrame = {
    // Eager 1-row anchor lookup: the reference throws `Post not
    // found` on a missing anchor (resolvers/index.ts:276-278) — fail
    // fast the same way rather than silently returning an empty feed.
    // The collect is a bucket-pruned point lookup; its values then
    // enter the plan as LITERALS, so the tag-overlap filter is pure
    // codegen with no join at all.
    val anchorRow = bucketPointPruned(posts, author, permlink, keyBuckets)
      .filter(col("author") === author && col("permlink") === permlink)
      .select(col("tags"), col("parent_author"), col("parent_permlink"))
      .limit(1).collect()
    if (anchorRow.isEmpty)
      throw new NoSuchElementException("Post not found")
    val r = anchorRow.head
    // null-safe: a posts table not built by PostsIngest (ceramic CDC,
    // hand-made fixtures) can carry tags = null; treat as no tags like
    // the old arrays_overlap-against-null formulation did
    val aTags = Option(r.getAs[scala.collection.Seq[String]]("tags"))
      .getOrElse(scala.collection.Seq.empty[String])
    val aTagsLit =
      if (aTags.isEmpty) array().cast("array<string>")
      else array(aTags.map(lit).toSeq: _*)
    // NB: the reference does NOT exclude the anchor post itself —
    // it matches its own tags and can appear in the sample
    // (resolvers/index.ts:279-296)
    val related = filtered(posts, follows, a, socialConnections,
      keyBuckets)
      .filter(
        arrays_overlap(col("tags"), aTagsLit) ||
          (lit(r.getAs[String]("parent_author") == "") &&
            col("parent_permlink") ===
              lit(r.getAs[String]("parent_permlink"))))
    // layout-independent seeded sample; default size 25 = the
    // reference's `pagination?.limit || 25`
    Feeds.relatedSample(related, lit(true), a.limitOr(25), seed,
      Seq(col("author"), col("permlink")))
  }

  /** Q1 socialPost: point lookup. The key may match more than one
    * document: two documents sharing (author, permlink) under
    * different parents both survive the merge (see
    * [[childrenForIndexed]]). It is unlimited all the same, and the
    * reader keeps the first row with its own limit above its JSON
    * encoding: a limit here would plan a single-partition exchange, a
    * second job, under every read. A hydrated read hydrates every
    * matching document before that limit. */
  def socialPost(posts: DataFrame, author: String,
                 permlink: String,
                 keyBuckets: Option[Int] = None): DataFrame =
    bucketPointPruned(posts, author, permlink, keyBuckets)
      .filter(col("author") === author && col("permlink") === permlink)

  /** Point-lookup partition pruning for a graft-layout store
    * (`created_month / key_bucket = H(author) mod n`,
    * `state.Layout.authorBucket` — the layout StreamIngest merges
    * into): the key's bucket is its author's, a CONSTANT-FOLDABLE
    * expression over a literal, so Catalyst turns it into a partition
    * filter and the scan touches 1/n of the store instead of all of
    * it. `permlink` does not enter the bucket. Sources without the
    * layout pass through unchanged. */
  def bucketPointPruned(posts: DataFrame, author: String,
                        permlink: String,
                        keyBuckets: Option[Int]): DataFrame =
    keyBuckets.filter(_ => posts.columns.contains("key_bucket"))
      .map(n => posts.filter(col("key_bucket") ===
        graft.state.Layout.authorBucket(lit(author), n)))
      .getOrElse(posts)

  /** A page-bounded frame collected ONCE and re-entered as a local
    * relation. Later plans read its rows instead of re-running its
    * plan, and a Project or Filter over it folds into the relation at
    * optimization, so bucket lists and join keys derived from it
    * evaluate on the driver without a Spark job. A frame that already
    * optimizes to a local relation is returned as is. */
  def local(df: DataFrame): DataFrame =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => df
      case _ => df.sparkSession.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    }

  /** The distinct values of the bucket expression `bucket` over
    * `rows` — no job when `rows` is [[local]]. */
  private def bucketsOf(rows: DataFrame, bucket: Column): Seq[Int] =
    rows.select(bucket).collect().map(_.getInt(0)).distinct.toSeq

  /** Partition-prune a graft-layout posts source to the author buckets
    * the page's parent refs hash into — the hydration-side twin of
    * the stream merge's bucket prune (same authorBucket contract). The
    * bucket list comes from the page's rows: no job for a [[local]]
    * page. The win scales with n / |page parent authors| — a point
    * page touches 1 bucket of n, a 100-row page on a 4096-bucket
    * production store ~2.5%. `children` CANNOT prune on this layout
    * (rows bucket by their OWN author, not their parent's) — that
    * probe goes through the reply index ([[childrenForIndexed]]).
    * Top-level rows' empty ("","") parent ref is excluded as in the
    * merge's prune. Sources without the layout pass through. */
  def parentPruned(page: DataFrame, source: DataFrame,
                   keyBuckets: Int): DataFrame =
    if (!source.columns.contains("key_bucket")) source
    else source.filter(col("key_bucket").isin(bucketsOf(
      page.filter(col("parent_author") =!= ""),
      graft.state.Layout.authorBucket(col("parent_author"), keyBuckets))
      : _*))

  /** Q3 children: one level of the reply tree with skip/limit
    * (posts.ts:161-231). */
  def children(posts: DataFrame, author: String, permlink: String,
               limit: Int = 100, skip: Int = 0): DataFrame =
    posts.filter(col("parent_author") === author &&
        col("parent_permlink") === permlink)
      .orderBy(col("created_at").asc, col("author").asc,
        col("permlink").asc)
      .offset(skip).limit(limit)

  /** Q2 parent_post hydration for a set of posts: one SHUFFLE
    * self-join replacing the reference's per-row findOne. This is the
    * full-table form — both sides are table-sized, so forcing the
    * broadcast plan of [[withParentFrom]] here would materialize a
    * table-proportional hash relation on the driver; keep the shuffle
    * and let AQE downgrade it when the input happens to be small. */
  def withParent(posts: DataFrame): DataFrame = {
    val parents = posts.select(
      col("author").as("_pa"), col("permlink").as("_pp"),
      struct(posts.columns.map(col).toSeq: _*).as("parent_post"))
    posts.join(parents,
      col("parent_author") === col("_pa") &&
        col("parent_permlink") === col("_pp"), "left")
      .drop("_pa", "_pp")
  }

  /** Q2, page form: hydrate the parent post onto a (small) page from a
    * (large) posts source. Scale shape: the source is first
    * semi-joined down to the page's parent keys (broadcast of ≤page
    * keys), so the final left join broadcasts a ≤page-sized matched
    * set — no full-table shuffle ever touches the page
    * (posts.ts:233-244 resolves this per post, N+1).
    *
    * `outCol` names the struct column (each aliased GraphQL occurrence
    * materializes under its own name — never two columns with a shared
    * default). `hydrate` runs on the MATCHED parents AFTER the
    * semi-join pares them down to ≤page rows — the hook nested
    * (multi-level) hydration attaches the parents' own relational
    * fields through, so a deeper level only ever joins against a
    * page-bounded frame, never the full table. */
  def withParentFrom(page: DataFrame, source: DataFrame,
                     outCol: String = "parent_post",
                     hydrate: DataFrame => DataFrame = identity)
      : DataFrame = {
    val keys = page.select(col("parent_author").as("_pa"),
      col("parent_permlink").as("_pp")).distinct()
    val matched = source.join(broadcast(keys),
      source("author") === keys("_pa") &&
        source("permlink") === keys("_pp"), "left_semi")
    val h = hydrate(matched)
    val parents = h.select(col("author").as("_pa"),
      col("permlink").as("_pp"),
      struct(h.columns.map(c => col(s"`$c`")).toSeq: _*).as(outCol))
    page.join(broadcast(parents),
      page("parent_author") === parents("_pa") &&
        page("parent_permlink") === parents("_pp"), "left")
      .drop("_pa", "_pp")
  }

  /** Q3, page form: attach each page post's `children` array (its
    * one-level reply page, ordered like [[children]]: created_at,
    * author, permlink; `skip`/`limit` applied PER PARENT). The
    * reference runs one find per post (posts.ts:161-231 — N+1); here
    * one window partitioned by parent key ranks every child of the
    * page's posts in a single pass — and the window input is first
    * semi-joined down to the page's keys, so the rank never runs
    * over the full table. Posts with no children get []. */
  def childrenFor(page: DataFrame, source: DataFrame,
                  limit: Int = 100, skip: Int = 0,
                  outCol: String = "children",
                  hydrate: DataFrame => DataFrame = identity)
      : DataFrame = {
    // negative skip behaves like 0 (JS `args.skip` undefined/negative
    // both page from the start) — unclamped, `_rk > -1` would keep
    // ranks 1..limit-1 and silently shorten the page by one
    val sk = math.max(0, skip)
    val keys = page.select(col("author").as("_ca"),
      col("permlink").as("_cp")).distinct()
    val matched = source.join(broadcast(keys),
      source("parent_author") === keys("_ca") &&
        source("parent_permlink") === keys("_cp"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("parent_author", "parent_permlink")
      .orderBy(col("created_at").asc, col("author").asc,
        col("permlink").asc)
    // rank + page BEFORE `hydrate`: nested (multi-level) hydration then
    // joins against at most page×limit rows, never every child row
    val paged = matched.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") > sk && col("_rk") <= sk.toLong + limit)
    assembleChildren(page, paged, outCol, hydrate)
  }

  /** Q3 page form, served through a REPLY-INDEX layout
    * ([[graft.state.Layout.writeReplyIndex]]) — the scale path for
    * the one API probe the key-bucketed store cannot prune (rows
    * bucket by their own author, children look up by their PARENT's).
    * Same results as [[childrenFor]]; different plan:
    *   1. the page is collected once ([[local]]; a no-op for a page
    *      that already is one) and its rows give the ≤|page keys|
    *      `reply_bucket` partitions the slim index is pruned to,
    *   2. the per-parent rank/skip/limit window runs on the INDEX
    *      (5 narrow columns), never the full-width store, and its
    *      ≤ page×limit surviving child keys are collected once,
    *   3. those keys' rows give the store's `key_bucket` list (when
    *      it has the graft layout, `sourceKeyBuckets`), and only they
    *      fetch their full rows.
    * Both bucket lists are literals, so both probes prune statically
    * and nothing page-bounded executes twice. Pruning scales with
    * n/|keys| (a 4096-bucket production index prunes a 100-key page
    * to ~2.5% of files); the window input drops from every child of
    * the page's posts at store width to the same rows at index width
    * regardless.
    *
    * Document identity is the FULL 4-tuple
    * (parent_author, parent_permlink, author, permlink) — the same
    * key the merge and the index rows preserve (two documents sharing
    * (author, permlink) under different parents BOTH survive) — so
    * the fetch joins and dedupes on all four; a store whose index
    * holds duplicate 4-tuples (a violated invariant) serves one row
    * per key instead of cross-multiplying past `limit`. */
  def childrenForIndexed(page: DataFrame, source: DataFrame,
                         replyIndex: DataFrame, indexBuckets: Int,
                         limit: Int = 100, skip: Int = 0,
                         outCol: String = "children",
                         hydrate: DataFrame => DataFrame = identity,
                         sourceKeyBuckets: Option[Int] = None)
      : DataFrame = {
    val p = local(page)
    val pb = bucketsOf(p, graft.state.Layout.keyBucket(col("author"),
      col("permlink"), indexBuckets))
    val idxPruned = replyIndex.filter(col("reply_bucket").isin(pb: _*))
    val sk = math.max(0, skip)
    // the page's keys are driver values: an IN over literal pairs,
    // not a join that must first broadcast them
    def key(a: Column, p: Column) = struct(a.as("author"), p.as("permlink"))
    val keys = p.select(col("author"), col("permlink")).collect()
      .map(r => (r.getString(0), r.getString(1))).distinct.toSeq
    val cand = idxPruned.filter(key(col("parent_author"),
      col("parent_permlink")).isin(keys.map { case (a, p) =>
        key(lit(a), lit(p)) }: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("parent_author", "parent_permlink")
      .orderBy(col("created_at").asc, col("author").asc,
        col("permlink").asc)
    val pagedKeys = local(cand.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") > sk && col("_rk") <= sk.toLong + limit)
      .select(col("parent_author").as("_pa"),
        col("parent_permlink").as("_pp"),
        col("author").as("_ka"), col("permlink").as("_kp"),
        col("_rk"))
      // one row per document key (the 4-tuple identity above)
      .dropDuplicates("_pa", "_pp", "_ka", "_kp"))
    val fetchBase = sourceKeyBuckets
      .filter(_ => source.columns.contains("key_bucket")) match {
        case Some(n) => source.filter(col("key_bucket").isin(
          bucketsOf(pagedKeys,
            graft.state.Layout.authorBucket(col("_ka"), n)): _*))
        case None => source
      }
    val ranked = fetchBase.join(broadcast(pagedKeys),
      fetchBase("parent_author") === pagedKeys("_pa") &&
        fetchBase("parent_permlink") === pagedKeys("_pp") &&
        fetchBase("author") === pagedKeys("_ka") &&
        fetchBase("permlink") === pagedKeys("_kp"), "inner")
      .drop("_pa", "_pp", "_ka", "_kp")
      // no-op on a latest-wins store; bounds a duplicate-key store to
      // one fetched row per document instead of multiplying past
      // limit. Partitioned by parent key, so the dedupe and the
      // per-parent grouping after it share one exchange.
      .repartition(col("parent_author"), col("parent_permlink"))
      .dropDuplicates("parent_author", "parent_permlink", "author",
        "permlink")
    assembleChildren(p, ranked, outCol, hydrate)
  }

  /** Shared tail of the children operators: hydrate the ranked child
    * rows (`_rk` present), collect each parent's page into an
    * `_rk`-ordered struct array, left-join onto the page, [] for
    * childless posts. */
  private def assembleChildren(page: DataFrame, ranked: DataFrame,
                               outCol: String,
                               hydrate: DataFrame => DataFrame)
      : DataFrame = {
    val h = hydrate(ranked)
    val kidCols = h.columns.filterNot(_ == "_rk")
    val grouped = h
      .groupBy(col("parent_author").as("_ca"),
        col("parent_permlink").as("_cp"))
      .agg(transform(
        array_sort(collect_list(struct(col("_rk"),
          struct(kidCols.map(c => col(s"`$c`")).toSeq: _*).as("_kid")))),
        x => x.getField("_kid")).as(outCol))
    val emptyKids = array().cast(
      org.apache.spark.sql.types.ArrayType(
        grouped.schema(outCol).dataType
          .asInstanceOf[org.apache.spark.sql.types.ArrayType]
          .elementType))
    page.join(broadcast(grouped),
      page("author") === grouped("_ca") &&
        page("permlink") === grouped("_cp"), "left")
      .drop("_ca", "_cp")
      .withColumn(outCol, coalesce(col(s"`$outCol`"), emptyKids))
  }

  /** J6 profile hydration: batched broadcast join, not N+1. */
  def hydrateAuthors(posts: DataFrame, profiles: DataFrame): DataFrame =
    posts.join(
      broadcast(profiles.select(col("username"),
        struct(col("displayName"), col("about"), col("images"))
          .as("author_profile"))),
      posts("author") === col("username"), "left")
      .drop("username")

  /** Q12 follows: both directions + counts (A9) in two aggregations.
    */
  def followCounts(follows: DataFrame, id: String): DataFrame =
    // coalesce: sum() over an EMPTY follows table is NULL, and the
    // reference's countDocuments answers 0 there — without it a store
    // with no follow edges turns the counts into field-level errors
    follows.agg(
      coalesce(sum(when(col("follower") === id, 1).otherwise(0)),
        lit(0L)).as("following_count"),
      coalesce(sum(when(col("following") === id, 1).otherwise(0)),
        lit(0L)).as("follower_count"))

  /** Q12 follows(id) edge lists: the reference returns BOTH
    * directions — `followings` (follower = id) and `followers`
    * (following = id) — each edge with `followed_at.toISOString()`
    * and lazily-hydrated follower/following profiles
    * (resolvers/index.ts:322-351). One scan emits both lists (a
    * self-follow edge lands in both, like the reference), and the
    * per-edge N+1 profile lookups become two broadcast joins. */
  def followEdges(follows: DataFrame, profiles: DataFrame,
      id: String): DataFrame = {
    val edges = follows
      .filter(col("follower") === id || col("following") === id)
      .withColumn("list", explode(filter(array(
        when(col("follower") === id, lit("followings")),
        when(col("following") === id, lit("followers"))),
        x => x.isNotNull)))
      .withColumn("followed_at",
        date_format(col("followed_at"),
          "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
    def prof(as: String) = broadcast(profiles.select(
      col("username").as(s"_u_$as"),
      struct(col("username"), col("displayName"), col("about"),
        col("images")).as(as)))
    edges
      .join(prof("follower_profile"),
        col("follower") === col("_u_follower_profile"), "left")
      .join(prof("following_profile"),
        col("following") === col("_u_following_profile"), "left")
      .drop("_u_follower_profile", "_u_following_profile")
  }

  /** Q13 leaderBoard items: the `k` best score>0 profiles, best first
    * (score desc, username asc). Each item carries `author` (the
    * username) and the full profile row as `author_profile`, like the
    * reference's response shape (resolvers/index.ts:464-471). `rank`
    * is the position in this top-k — a row_number over the ≤ k rows of
    * the top-k's one sorted output partition, never over the table —
    * so nothing is ranked or cached table-wide; with k at least the
    * number of score>0 profiles it is the full ranking.
    * total_active_creators (A7) is a filtered count beside it. */
  def leaderBoard(profiles: DataFrame, k: Int): DataFrame = {
    val order = Seq(col("score").desc, col("username").asc)
    profiles.filter(col("score") > 0).orderBy(order: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(order: _*))
        .cast("long"))
      .select(col("rank"), col("username"),
        col("username").as("author"),
        struct(profiles.columns.map(col).toSeq: _*).as("author_profile"),
        col("score"))
  }

  /** A1 trendingTags over posts: 14-day window, unwind, count, top-k.
    */
  def trendingTags(posts: DataFrame, now: Column, k: Int = 5): DataFrame =
    Feeds.topTags(posts,
      col("created_at") > now - expr("INTERVAL 14 DAYS"),
      col("tags"), k)
}
