package graft.api

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import graft.query.{ArgsJson, FeedArgs, PostProjections, PostQueries}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The entity tables the query plane serves (the reference's Mongo
  * collections, as DataFrames — SURVEY.md §3.1 declared boundary).
  * Optional tables correspond to resolvers a deployment may not wire
  * (Ceramic, communities, the stats singleton); querying an unwired
  * resolver is a field-level GraphQL error, not a crash. */
final case class ApiTables(
    posts: DataFrame,
    follows: DataFrame,
    profiles: DataFrame,
    ceramicProfiles: Option[DataFrame] = None,
    communities: Option[DataFrame] = None,
    socialConnections: Option[DataFrame] = None,
    /** One row shaped like `SyncMetrics.syncStateFromLog` output
      * (block_lag, sync_eta_seconds, block_lag_diff). */
    syncStats: Option[DataFrame] = None,
    /** The posts store's graft-layout bucket modulus
      * (`_graft_layout.json`, `state.Layout.authorBucket`) when the
      * table carries a `key_bucket` partition column — point lookups,
      * byCreator feeds and parent_post hydration then PARTITION-PRUNE
      * their store probes (Serve.tables reads the marker
      * automatically). */
    keyBuckets: Option[Int] = None,
    /** A reply-index table ([[graft.state.Layout.writeReplyIndex]])
      * with its bucket modulus — `children` hydration then reads only
      * the page's `reply_bucket` partitions of the slim
      * parent-bucketed index, ranks there, and fetches only the paged
      * child rows from their `key_bucket`s, instead of scanning the
      * whole store (the one probe `key_bucket` alone cannot prune).
      * Both bucket lists are read off collected page-bounded rows
      * ([[graft.query.PostQueries.childrenForIndexed]]). Serve loads
      * `reply_index/` when present. */
    replyIndex: Option[(DataFrame, Int)] = None)

/** GraphQL executor over the engine's query surface — the reference's
  * eleven Query-type resolvers (`graphql-v2/resolvers/index.ts`,
  * `schema.ts:308-327`) re-expressed as thin arg-compile → DataFrame
  * dispatch. The HEAVY side of every field stays the oracle-gated
  * engine pipeline (PostQueries / Feeds / PostProjections); this
  * class only (1) compiles GraphQL arguments to [[FeedArgs]] via the
  * same ArgsJson compiler the argument objects already pass through,
  * (2) prunes the DataFrame's columns to the requested selection
  * BEFORE collect — so a GraphQL selection drives Catalyst column
  * pruning all the way to the parquet scan — and (3) shapes the
  * bounded page of collected rows to the selection (aliases, nested
  * selections, inline fragments matched on `__typename`).
  *
  * Scale shape: resolvers return pages (`limit`-bounded), so the
  * driver-side collect is O(page), never O(table); everything before
  * it is a distributed plan.
  *
  * `now`: trendingTags' 14-day window anchor — wall clock in the
  * reference (`resolvers/index.ts:368`); injectable here so tests and
  * replays are deterministic.
  *
  * `maxPage` caps the two resolvers whose reference form returns
  * UNBOUNDED arrays (leaderBoard items, follows edge lists —
  * `resolvers/index.ts:322-351,455-476` collect whole collections):
  * a deliberate divergence, because an uncapped collect of a
  * production-sized table onto the driver is exactly the failure the
  * O(page) contract above exists to prevent. Counts stay exact
  * (distributed aggregates, not capped). For the same reason a
  * client-chosen page size above `maxPage` — a feed's
  * `pagination.limit`, `children(limit)` or `trendingTags(limit)` — is
  * a named request error, where the reference accepts any limit
  * (`resolvers/index.ts:178`, `posts.ts:161-231`). The resolvers'
  * default page sizes (100; relatedFeed 25) are the reference's.
  *
  * Selections and argument names are validated against the SERVED
  * schema shape ([[SchemaShape]], derived from the entity DataFrames
  * + resolver fields) before execution (yoga parity) — a typo'd
  * field is a named request error, not a silent null.
  *
  * searchFeed is token-exact, the contract the catalog's DuckDB
  * oracle verifies; Porter-stemmed search is
  * `PostQueries.searchFeed(stem = true)`. */
final class GraftApi(spark: SparkSession, tables: ApiTables,
                     now: () => Column = () => current_timestamp(),
                     sampleSeed: Long = 42L,
                     maxPage: Int = 10000) {
  import GraphQL._
  import SchemaShape.{FieldShape, TypeShape}

  private val mapper = new ObjectMapper()
  private val nf = JsonNodeFactory.instance

  /** Post view with all computed projections attached (P1–P6 +
    * __typename) — built once; Catalyst prunes unrequested ones per
    * query. */
  private val projectedPosts = PostProjections.project(tables.posts)
  private val profileView = PostProjections.profileView(tables.profiles)
  private val ceramicView =
    tables.ceramicProfiles.map(PostProjections.ceramicProfileView)

  // ── served schema shape (document validation) ──────────────────────
  // built lazily ONCE from the entity DataFrames' schemas + the
  // resolver-level fields; thunks tie the post type's recursive knot
  // (parent_post/children are posts). Derivations that need a plan
  // (followEdges, leaderBoard, trendingTags output schemas) fall back
  // to unvalidated leaves on any analysis failure — validation must
  // never be the thing that breaks a working store.
  private def tryShape(nm: String, df: => DataFrame): Option[TypeShape] =
    try Some(SchemaShape.fromFrame(nm, df))
    catch { case _: Exception => None }
  private lazy val profileShape: TypeShape =
    // the served profile is the Hive/Ceramic UNION (yoga's
    // MergedProfile) — derived from the unified struct both views
    // cast to, not by concatenating the two field maps: a map concat
    // is last-wins on nested structs, so the Ceramic `images`
    // interior {avatar, background} would silently replace the Hive
    // {avatar, cover} and reject valid `images { cover }` selections
    SchemaShape.union(
      SchemaShape.fromFrame("Profile", profileView
        .select(unifiedProfileStruct(profileView).as("_p"))
        .select("_p.*")),
      declaredProfileShape)
  private lazy val authorShape = TypeShape("Author", Map(
    "id" -> FieldShape(), "username" -> FieldShape(),
    "profile" -> FieldShape(tpe = () => Some(profileShape))))
  private lazy val communityShape: Option[TypeShape] =
    tables.communities.map { comms =>
      val base = SchemaShape.fromFrame("CommunityOutput", comms)
      base.copy(fields = base.fields ++ Map(
        "roles" -> FieldShape(tpe = () => Some(TypeShape("CommunityRole",
          Map("username" -> FieldShape(), "role" -> FieldShape(),
            "title" -> FieldShape())))),
        "latestFeed" -> FieldShape(feedArgNames,
          () => Some(feedOutputShape)),
        "trendingFeed" -> FieldShape(feedArgNames,
          () => Some(feedOutputShape))))
    }
  /** Everything the reference schema DECLARES (schema.ts:9-182),
    * including struct INTERIORS (PostStats, JsonMetadata,
    * StateControl, ProfileImages) — unioned RECURSIVELY into the
    * store-derived shapes, so a schema-legal client document never
    * fails validation even when this store carries a struct
    * partially (e.g. a stats column without total_hive_reward); the
    * absent field serializes as JSON null, exactly like yoga
    * resolving a missing Mongo key. */
  private def leaves(ns: String*): Map[String, FieldShape] =
    ns.map(_ -> FieldShape()).toMap
  private lazy val declaredPostShape: TypeShape = {
    val voter = TypeShape("Voter",
      leaves("voter", "rshares", "percent", "weight"))
    val stats = TypeShape("PostStats",
      leaves("num_comments", "num_votes", "total_hive_reward") +
        ("active_voters" -> FieldShape(tpe = () => Some(voter))))
    val jsonMeta = TypeShape("JsonMetadata",
      leaves("image", "app", "raw"))
    val stateControl = TypeShape("StateControl",
      leaves("version_id", "height"))
    TypeShape("SocialPost",
      leaves("parent_author", "parent_permlink", "permlink", "title",
        "body", "tags", "created_at", "updated_at", "spkvideo",
        "lang", "app_metadata", "post_type", "flags", "refs",
        "hive_rewards", "off_chain_id", "debug_metadata", "stream_id",
        "parent_id", "original_content") ++ Map(
        "stats" -> FieldShape(tpe = () => Some(stats)),
        "json_metadata" -> FieldShape(tpe = () => Some(jsonMeta)),
        "state_control" -> FieldShape(tpe = () => Some(stateControl))))
  }
  private lazy val declaredProfileShape: TypeShape =
    TypeShape("Profile",
      leaves("id", "username", "name", "about", "json_metadata",
        "website", "location", "did", "src") +
        ("images" -> FieldShape(tpe = () => Some(TypeShape(
          "ProfileImages", leaves("avatar", "cover"))))))
  private lazy val postShape: TypeShape = {
    val base = SchemaShape.fromFrame("SocialPost", projectedPosts)
    SchemaShape.union(base.copy(fields = base.fields ++ Map(
      "parent_post" -> FieldShape(tpe = () => Some(postShape)),
      "children" -> FieldShape(Set("limit", "skip"),
        () => Some(postShape)),
      "author" -> FieldShape(tpe = () => Some(authorShape)),
      "community" -> FieldShape(tpe = () => communityShape))),
      declaredPostShape)
  }
  private lazy val feedOutputShape = TypeShape("FeedOutput",
    Map("items" -> FieldShape(tpe = () => Some(postShape))))
  private lazy val followEdgeShape =
    tryShape("Follow",
      PostQueries.followEdges(tables.follows, tables.profiles, ""))
  private lazy val followsShape = TypeShape("FollowOverview", Map(
    "followers" -> FieldShape(tpe = () => followEdgeShape),
    "followings" -> FieldShape(tpe = () => followEdgeShape),
    "followers_count" -> FieldShape(),
    "followings_count" -> FieldShape()))
  // memoized like followEdgeShape: each derivation builds + analyzes
  // a full Catalyst plan just to read its schema — once, not per
  // request
  private lazy val leaderBoardItemShape =
    tryShape("LeaderBoardItem", PostQueries.leaderBoard(profileView, 1))
  private lazy val trendingTagShape =
    tryShape("TrendingTag",
      PostQueries.trendingTags(tables.posts, now(), 1))
  private lazy val leaderBoardShape = TypeShape("LeaderBoard", Map(
    "items" -> FieldShape(tpe = () => leaderBoardItemShape),
    "total_active_creators" -> FieldShape()))
  private lazy val syncStateShape = TypeShape("SyncState", Map(
    "blockLag" -> FieldShape(), "syncEtaSeconds" -> FieldShape(),
    "latestBlockLagDiff" -> FieldShape()))
  private lazy val trendingTagsShape = TypeShape("TrendingTags", Map(
    "tags" -> FieldShape(tpe = () => trendingTagShape)))
  // exact argument names from the reference Query type
  // (schema.ts:308-327)
  private val feedArgNames =
    Set("spkvideo", "apps", "pagination", "feedOptions")
  private lazy val queryShape = TypeShape("Query", Map(
    "socialPost" -> FieldShape(Set("author", "permlink"),
      () => Some(postShape)),
    "socialFeed" -> FieldShape(feedArgNames, () => Some(feedOutputShape)),
    "trendingFeed" -> FieldShape(feedArgNames + "trendingBy",
      () => Some(feedOutputShape)),
    "searchFeed" -> FieldShape(
      feedArgNames - "apps" + "searchTerm", () => Some(feedOutputShape)),
    "relatedFeed" -> FieldShape(
      feedArgNames - "apps" ++ Set("author", "permlink"),
      () => Some(feedOutputShape)),
    // the validator accepts what the EXECUTOR accepts: the resolver
    // reads id-else-username, so both names are the served surface
    // (the reference schema declares only id)
    "profile" -> FieldShape(Set("id", "username"),
      () => Some(profileShape)),
    "follows" -> FieldShape(Set("id"), () => Some(followsShape)),
    "leaderBoard" -> FieldShape(tpe = () => Some(leaderBoardShape)),
    "syncState" -> FieldShape(tpe = () => Some(syncStateShape)),
    "trendingTags" -> FieldShape(Set("limit"),
      () => Some(trendingTagsShape)),
    "community" -> FieldShape(Set("id"), () => communityShape)))

  /** Execute a GraphQL request; returns the standard response object
    * ({"data": ...} / {"errors": [...]}; field failures yield a null
    * field plus an errors entry — GraphQL partial-result semantics).
    */
  def execute(query: String, variablesJson: Option[String] = None,
              operationName: Option[String] = None): ObjectNode = {
    val out = nf.objectNode()
    val (op, allOps) =
      try GraphQL.parseDocument(query, operationName)
      catch {
        // ParseError carries position; anything else a hostile
        // document provokes (number overflow, truncated \u escape)
        // is still a request error, not a server fault.
        // StackOverflowError too (an Error, so `Exception` alone lets
        // it escape): the combined-depth bound should make it
        // unreachable, but a parser hole must degrade to a request
        // error, not a dropped response.
        case e: Throwable if scala.util.control.NonFatal(e) ||
            e.isInstanceOf[StackOverflowError] =>
          out.set[ObjectNode]("errors", errorArr(
            Option(e.getMessage).getOrElse(e.toString)))
          return out
      }
    // static validation BEFORE execution (yoga parity): the WHOLE
    // document — unselected operations included, like graphql-js
    // validate() — every unknown field/argument reported at once, as
    // a request error
    val verrs = allOps.flatMap(o =>
      SchemaShape.validate(o.selections, queryShape)).distinct
    if (verrs.nonEmpty) {
      val arr = nf.arrayNode()
      verrs.foreach { m =>
        val e = nf.objectNode(); e.put("message", m); arr.add(e)
      }
      out.set[ObjectNode]("errors", arr)
      return out
    }
    val vars: Map[String, JsonNode] =
      try buildVars(op, variablesJson)
      catch {
        // covers missing required variables AND malformed variables
        // JSON (Jackson throws JsonProcessingException, an
        // IOException) — both are request errors, never a 500
        case e: Exception =>
          out.set[ObjectNode]("errors", errorArr(
            Option(e.getMessage).getOrElse(e.toString)))
          return out
      }
    // @skip/@include consume their directives here, once, with the
    // request's variables; unknown directive names error
    val sels =
      try GraphQL.applyDirectives(op.selections,
        nm => vars.get(nm).filter(_.isBoolean).map(_.asBoolean))
      catch {
        case e: Exception =>
          out.set[ObjectNode]("errors", errorArr(
            Option(e.getMessage).getOrElse(e.toString)))
          return out
      }
    val data = nf.objectNode()
    val errors = nf.arrayNode()
    GraphQL.collectFields(sels, None).foreach { f =>
      try data.set[ObjectNode](f.alias, resolveField(f, vars))
      catch {
        case e: Exception =>
          data.set[ObjectNode](f.alias, nf.nullNode())
          val err = nf.objectNode()
          err.put("message", Option(e.getMessage).getOrElse(e.toString))
          err.set[ObjectNode]("path",
            nf.arrayNode().add(f.alias))
          errors.add(err)
      }
    }
    out.set[ObjectNode]("data", data)
    if (errors.size() > 0) out.set[ObjectNode]("errors", errors)
    out
  }

  def executeJson(query: String, variablesJson: Option[String] = None,
                  operationName: Option[String] = None): String =
    mapper.writeValueAsString(
      execute(query, variablesJson, operationName))

  /** The REST half of the reference's API: `POST /api/v1/
    * create_stream_id` (`api/controller.ts:8-39`) — returns the
    * post's existing stream id, `{stream_id: null}` for an unknown
    * post. The CREATE branch (a side-effecting Ceramic bridge RPC +
    * upsert) is out of engine scope per the declared boundary
    * (COVERAGE.md Q7): grant application is the batch operator
    * `Enrich.applyStreamIds`; a post with no grant yet answers null
    * here too. */
  def streamIdLookup(author: String, permlink: String): ObjectNode = {
    val out = nf.objectNode()
    val row = PostQueries.bucketPointPruned(tables.posts, author,
        permlink, tables.keyBuckets)
      .filter(col("author") === author && col("permlink") === permlink)
      .select(col("off_chain_id")).limit(1).collect()
    row.headOption.flatMap(r => Option(r.getString(0))) match {
      case Some(sid) => out.put("stream_id", sid)
      case None => out.set[ObjectNode]("stream_id", nf.nullNode())
    }
    out
  }

  // ── field dispatch ─────────────────────────────────────────────────
  private def resolveField(f: Field, vars: Map[String, JsonNode])
      : JsonNode = {
    val args = argsNode(f.args, vars)
    def str(n: String): Option[String] =
      Option(args.get(n)).filterNot(_.isNull).map(_.asText())
    f.name match {
      case "socialPost" =>
        single(hydrated(PostQueries.socialPost(projectedPosts,
          str("author").getOrElse(""), str("permlink").getOrElse(""),
          tables.keyBuckets), f.selections, vars), f.selections)
      case "socialFeed" =>
        feedOutput(PostQueries.socialFeed(projectedPosts,
          tables.follows, feedArgs(args),
          socialConnections = tables.socialConnections,
          keyBuckets = tables.keyBuckets),
          f.selections, vars)
      case "trendingFeed" =>
        val by =
          if (str("trendingBy").contains("PAYOUT")) PostQueries.ByPayout
          else PostQueries.ByComments
        feedOutput(PostQueries.trendingFeed(projectedPosts,
          tables.follows, feedArgs(args), by,
          socialConnections = tables.socialConnections,
          keyBuckets = tables.keyBuckets),
          f.selections, vars)
      case "searchFeed" =>
        feedOutput(PostQueries.searchFeed(projectedPosts,
          tables.follows, feedArgs(args),
          str("searchTerm").getOrElse(""),
          socialConnections = tables.socialConnections,
          keyBuckets = tables.keyBuckets),
          f.selections, vars)
      case "relatedFeed" =>
        feedOutput(PostQueries.relatedFeed(projectedPosts,
          tables.follows, feedArgs(args),
          str("author").getOrElse(""), str("permlink").getOrElse(""),
          sampleSeed,
          socialConnections = tables.socialConnections,
          keyBuckets = tables.keyBuckets),
          f.selections, vars)
      case "profile" =>
        val id = str("id").orElse(str("username")).getOrElse("")
        if (id.startsWith("did:"))
          single(ceramicView.getOrElse(
            sys.error("ceramic profiles not configured"))
            .filter(col("did") === id), f.selections)
        else single(profileView.filter(col("username") === id),
          f.selections)
      case "follows" => followsField(str("id").getOrElse(""), f)
      case "leaderBoard" => leaderBoardField(f)
      case "syncState" =>
        val stats = tables.syncStats
          .getOrElse(sys.error("sync stats not configured"))
          .select(col("block_lag").as("blockLag"),
            col("sync_eta_seconds").as("syncEtaSeconds"),
            col("block_lag_diff").as("latestBlockLagDiff"))
        single(stats, f.selections)
      case "trendingTags" =>
        val k = pageLimit("trendingTags(limit)", Option(args.get("limit"))
          .filterNot(_.isNull).map(_.asInt()).filter(_ > 0).getOrElse(5))
        val tags = PostQueries.trendingTags(tables.posts, now(), k)
        val obj = nf.objectNode()
        GraphQL.collectFields(f.selections, None).foreach { sub =>
          sub.name match {
            case "tags" =>
              obj.set[ObjectNode](sub.alias,
                arrayOf(tags, sub.selections))
            case "__typename" =>
              obj.put(sub.alias, "TrendingTags")
            case _ => obj.set[ObjectNode](sub.alias, nf.nullNode())
          }
        }
        obj
      case "community" => communityField(str("id").getOrElse(""), f, vars)
      case other => sys.error(s"unknown query field '$other'")
    }
  }

  /** FeedOutput { items: [MergedPost] } — items computed once, other
    * selected fields null. */
  private def feedOutput(df: DataFrame, sels: Seq[Selection],
                         vars: Map[String, JsonNode]): JsonNode = {
    val obj = nf.objectNode()
    GraphQL.collectFields(sels, None).foreach { sub =>
      sub.name match {
        case "items" =>
          obj.set[ObjectNode](sub.alias,
            arrayOf(hydrated(df, sub.selections, vars), sub.selections))
        case "__typename" => obj.put(sub.alias, "FeedOutput")
        case _ => obj.set[ObjectNode](sub.alias, nf.nullNode())
      }
    }
    obj
  }

  private val relationalFields = Set("parent_post", "children",
    "community")
  private def needsHydration(sels: Seq[Selection]): Boolean =
    GraphQL.collectFields(sels, None).exists(f =>
      relationalFields(f.name) ||
        (f.name == "author" && f.selections.nonEmpty))

  /** Hydrated fields materialize under a RESERVED column name —
    * `__hyd:<alias>` — never under the alias or field name itself.
    * `:` cannot appear in a GraphQL name, so the key can't collide
    * with any real column or any alias a client could write (an alias
    * shadowing a real column, e.g. `title: children`, used to leave
    * two same-named columns in the frame / serve the wrong value).
    * shape() reads `__hyd:<alias>` when present, the plain field name
    * otherwise. */
  private val HydPrefix = "__hyd:"

  /** Relational hydration recursion cap: levels past this return
    * scalar columns only (a deeper level is one more query). Each
    * `children` level multiplies the collected page by its `limit`,
    * so the cap also bounds the driver-side response size — 4 covers
    * every shape the reference's own clients issue
    * (`children { author { profile } }` is depth 2). */
  private val MaxHydrationDepth = 4

  /** The page with its selected relational fields attached. The page
    * is pruned to the selection plus the hydration keys and collected
    * ONCE ([[PostQueries.local]]): every hydration join reads its rows
    * instead of re-running the feed or point plan, and the operators'
    * bucket lists and join keys come off those rows without a job. */
  private def hydrated(df: DataFrame, sels: Seq[Selection],
      vars: Map[String, JsonNode]): DataFrame =
    if (!needsHydration(sels)) df
    else hydratePosts(PostQueries.local(prunedTo(df, sels)), sels, vars, 1)

  /** The nested-level hook passed into the page operators: runs on the
    * MATCHED (already page-bounded) parents/children, attaching THEIR
    * relational fields from the matched rows collected once — so
    * `children { author { profile } }` and `children { children }`
    * hydrate to any depth (graphql-yoga recurses field thunks,
    * posts.ts:140-258), each level one batched join over a bounded
    * frame. */
  private def hydrateNested(nested: Seq[Selection],
      vars: Map[String, JsonNode], depth: Int)
      : DataFrame => DataFrame =
    matched =>
      if (depth > MaxHydrationDepth || !needsHydration(nested)) matched
      else hydratePosts(PostQueries.local(matched), nested, vars, depth)

  /** `base` pruned to a selection plus the join/order keys the
    * hydration operators need: without this, a hydration source's
    * struct carries every store column and pays a full-width scan for
    * a { permlink }-only selection — measured 3.5x the slim form on a
    * 500k store (BENCH_NOTES r7) — and a collected page carries every
    * column. */
  private def prunedTo(base: DataFrame, sels: Seq[Selection],
                       extra: Set[String] = Set.empty): DataFrame = {
    val want = GraphQL.allFieldNames(sels) ++ Set("__typename",
      "author", "permlink", "parent_author", "parent_permlink",
      "created_at") ++ extra
    base.select(base.columns
      .filter(want.contains).map(c => col(s"`$c`")).toSeq: _*)
  }

  /** The SocialPost interface's RELATIONAL fields, attached to the
    * page only when selected (posts.ts field resolvers — each is a
    * per-post Mongo find there, N+1, re-fired per level; here one
    * batched join per selected field per level, the source first cut
    * down to the page's keys so nothing full-table ever shuffles
    * against the page). `df` is the [[PostQueries.local]] page, whose
    * rows give those keys and bucket lists without a job:
    *   - `parent_post` (posts.ts:233-244) → [[PostQueries.withParentFrom]]
    *   - `children(limit, skip)` (posts.ts:161-231) →
    *     [[PostQueries.childrenForIndexed]] with a reply index, else
    *     [[PostQueries.childrenFor]] (per-parent windowed page)
    *   - `author { id username profile }` (posts.ts:140-155) →
    *     broadcast profile hydration, routed per row: a CeramicPost's
    *     profile comes from the Ceramic view when one is wired
    *     (posts.ts:146-152 dispatches on `__t === 'post_ceramic'`),
    *     every other row from the Hive view
    *   - `community` (posts.ts:245-258) → broadcast communities join
    *     on `hive/<parent_permlink>`
    * Nested post selections recurse via [[hydrateNested]] up to
    * [[MaxHydrationDepth]]. */
  private def hydratePosts(df: DataFrame, sels: Seq[Selection],
      vars: Map[String, JsonNode], depth: Int): DataFrame = {
    val fields = GraphQL.collectFields(sels, None)
    var out = df
    // PER-ALIAS hydration: collectFields merges same-alias duplicates,
    // so distinct occurrences here carry distinct aliases — each with
    // its own args/sub-selection (e.g. a: children(limit:1) alongside
    // b: children(limit:10)) and therefore its own reserved column
    fields.filter(_.name == "parent_post").foreach { pp =>
      // parent-key bucket pruning (graft-layout stores): the bucket
      // filter sits BELOW the column projection (key_bucket is a
      // partition column, not part of the selection); its bucket list
      // comes off the local page's rows, no job
      val base = tables.keyBuckets
        .map(n => PostQueries.parentPruned(df, projectedPosts, n))
        .getOrElse(projectedPosts)
      out = PostQueries.withParentFrom(out,
        prunedTo(base, pp.selections),
        outCol = HydPrefix + pp.alias,
        hydrate = hydrateNested(pp.selections, vars, depth + 1))
    }
    fields.filter(_.name == "children").foreach { ch =>
      val a = argsNode(ch.args, vars)
      def i(n: String, d: Int) = Option(a.get(n)).filterNot(_.isNull)
        .map(_.asInt()).filter(_ > 0).getOrElse(d)
      val limit = pageLimit("children(limit)", i("limit", 100))
      val skip = Option(a.get("skip"))
        .filterNot(_.isNull).map(_.asInt()).getOrElse(0)
      val outCol = HydPrefix + ch.alias
      val hyd = hydrateNested(ch.selections, vars, depth + 1)
      out = tables.replyIndex match {
        case Some((idx, n)) =>
          // rank on the slim parent-bucketed index, fetch only the
          // paged child rows (key-bucket pruned when the store has
          // the layout — the partition column rides through the
          // projection for that filter, then drops before the struct
          // unless the client actually selected it). The operator
          // collects `out` only when earlier fields extended the page.
          val needExtra = tables.keyBuckets.isDefined &&
            !GraphQL.allFieldNames(ch.selections).contains("key_bucket")
          PostQueries.childrenForIndexed(out,
            prunedTo(projectedPosts, ch.selections,
              extra = if (needExtra) Set("key_bucket") else Set.empty),
            idx, n, limit, skip, outCol,
            hydrate = m =>
              hyd(if (needExtra) m.drop("key_bucket") else m),
            sourceKeyBuckets = tables.keyBuckets)
        case None =>
          PostQueries.childrenFor(out, prunedTo(projectedPosts,
            ch.selections), limit, skip, outCol, hyd)
      }
    }
    val authorFields =
      fields.filter(f => f.name == "author" && f.selections.nonEmpty)
    if (authorFields.nonEmpty) {
      // the page's authors come off the local input rows (no job) and
      // reach the profile scans as a pushed-down IN filter
      val authors = df.select(col("author")).collect()
        .map(_.getString(0)).distinct.toSeq
      val hive = profileView.filter(col("username").isin(authors: _*))
        .select(col("username").as("_hu"),
          unifiedProfileStruct(profileView).as("_hprof"))
      var h = out.join(broadcast(hive), out("author") === hive("_hu"),
        "left")
      // per-row Ceramic routing needs the page's __typename (always in
      // the pruned want-set) AND a wired Ceramic table; without one,
      // every row serves the Hive view (a did: author simply misses)
      val cer =
        if (out.columns.contains("__typename")) ceramicView.map { cv =>
          cv.filter(col("did").isin(authors: _*))
            .select(col("did").as("_cdu"),
              unifiedProfileStruct(cv).as("_cprof"))
        } else None
      cer.foreach { cp =>
        h = h.join(broadcast(cp), h("author") === cp("_cdu"), "left")
      }
      val prof =
        if (cer.isDefined)
          when(col("__typename") === "CeramicPost", col("_cprof"))
            .otherwise(col("_hprof"))
        else col("_hprof")
      val authorStruct = struct(col("author").as("id"),
        col("author").as("username"), prof.as("profile"))
      authorFields.foreach { af =>
        h = h.withColumn(HydPrefix + af.alias, authorStruct)
      }
      out = h.drop("_hu", "_hprof", "_cdu", "_cprof")
    }
    val commFields = fields.filter(_.name == "community")
    if (commFields.nonEmpty) {
      val comms = tables.communities.getOrElse(
        sys.error("communities not configured"))
      val c = comms.select(col("_id").as("_cid"),
        struct(comms.columns.map(col).toSeq: _*).as("_comm"))
      var h = out.join(broadcast(c),
        concat(lit("hive/"), out("parent_permlink")) === c("_cid"),
        "left")
      commFields.foreach { cf =>
        h = h.withColumn(HydPrefix + cf.alias, col("_comm"))
      }
      out = h.drop("_cid", "_comm")
    }
    out
  }

  /** One struct shape covering BOTH profile views — the union of their
    * fields, absent ones typed nulls — so the per-row Hive/Ceramic
    * dispatch can be a single WHEN over two broadcast joins (the
    * reference branches per post inside the profile thunk,
    * posts.ts:146-152). */
  private def unifiedProfileStruct(v: DataFrame): Column = {
    val imgFields = v.schema("images").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSet
    def img(n: String) =
      (if (imgFields(n)) col(s"images.$n").cast("string")
       else lit(null).cast("string")).as(n)
    def f(n: String, t: String = "string") =
      (if (v.columns.contains(n)) col(s"`$n`").cast(t)
       else lit(null).cast(t)).as(n)
    struct(f("id"), f("username"), f("name"), f("about"),
      f("location"), f("website"), f("did"),
      struct(img("avatar"), img("cover"), img("background"))
        .as("images"),
      f("pinned_post"), f("score", "double"), f("__typename"))
  }

  /** Q12 follows(id): both edge lists from ONE scan
    * (PostQueries.followEdges), counts from one aggregate — computed
    * only when the selection asks (the reference defers them behind
    * async thunks for the same reason; resolvers/index.ts:322-351).
    */
  private def followsField(id: String, f: Field): JsonNode = {
    val sels = GraphQL.collectFields(f.selections, None)
    val obj = nf.objectNode()
    // one followEdges PLAN; each selected list is its own bounded,
    // column-pruned collect (the list filter + selection pruning
    // reach the scan — collecting both lists fully hydrated for a
    // high-degree account would be an unbounded driver pull)
    lazy val edgesPlan =
      PostQueries.followEdges(tables.follows, tables.profiles, id)
    lazy val counts = PostQueries.followCounts(tables.follows, id)
      .collect().head
    sels.foreach { sub =>
      sub.name match {
        case "followers" | "followings" =>
          val arr = nf.arrayNode()
          rowsOf(edgesPlan.filter(col("list") === sub.name)
              .limit(maxPage), sub.selections)
            .foreach(n => arr.add(shape(n, sub.selections)))
          obj.set[ObjectNode](sub.alias, arr)
        case "followers_count" =>
          obj.put(sub.alias, counts.getAs[Long]("follower_count"))
        case "followings_count" =>
          obj.put(sub.alias, counts.getAs[Long]("following_count"))
        case "__typename" => obj.put(sub.alias, "FollowOverview")
        case _ => obj.set[ObjectNode](sub.alias, nf.nullNode())
      }
    }
    obj
  }

  /** Q13 leaderBoard: items are the top-maxPage ranked by score
    * (PostQueries.leaderBoard — the reference collects EVERY
    * score>0 profile, resolvers/index.ts:455-476, which does not
    * survive a production store); the total stays exact, one filtered
    * count. Neither ranks nor caches the whole table. */
  private def leaderBoardField(f: Field): JsonNode = {
    val sels = GraphQL.collectFields(f.selections, None)
    val obj = nf.objectNode()
    sels.foreach { sub =>
      sub.name match {
        case "items" =>
          obj.set[ObjectNode](sub.alias, arrayOf(
            PostQueries.leaderBoard(profileView, maxPage),
            sub.selections))
        case "total_active_creators" =>
          obj.put(sub.alias,
            profileView.filter(col("score") > 0).count())
        case "__typename" => obj.put(sub.alias, "LeaderBoard")
        case _ => obj.set[ObjectNode](sub.alias, nf.nullNode())
      }
    }
    obj
  }

  /** Q4 community(id): point row + two nested feeds with byCommunity
    * forced into whatever feed args the NESTED field carries
    * (resolvers/index.ts:406-453) — each feed built only if selected.
    */
  private def communityField(id: String, f: Field,
                             vars: Map[String, JsonNode]): JsonNode = {
    val comms = tables.communities
      .getOrElse(sys.error("communities not configured"))
    val rows = rowsOf(PostProjections.communityRow(comms, id), Nil)
    if (rows.isEmpty) return nf.nullNode()
    val node = rows.head
    val obj = nf.objectNode()
    GraphQL.collectFields(f.selections, None).foreach { sub =>
      sub.name match {
        case "latestFeed" | "trendingFeed" =>
          val args = argsNode(sub.args, vars)
          val fa0 = feedArgs(args)
          val fa = fa0.copy(byCommunity =
            Some(graft.query.Where(eq = Some(id))))
          val df =
            if (sub.name == "latestFeed")
              PostQueries.socialFeed(projectedPosts, tables.follows,
                fa, socialConnections = tables.socialConnections,
                keyBuckets = tables.keyBuckets)
            else PostQueries.trendingFeed(projectedPosts,
              tables.follows, fa,
              socialConnections = tables.socialConnections,
              keyBuckets = tables.keyBuckets)
          obj.set[ObjectNode](sub.alias,
            feedOutput(df, sub.selections, vars))
        case "roles" =>
          // unpacked [[username, role, title]] structs (P8)
          obj.set[ObjectNode](sub.alias,
            shapeValue(node.path("roles_unpacked"), sub.selections))
        case "created_at" =>
          obj.set[ObjectNode](sub.alias, node.path("created_at_iso"))
        case "__typename" => obj.put(sub.alias, "CommunityOutput")
        case nm =>
          obj.set[ObjectNode](sub.alias,
            shapeValue(node.path(nm), sub.selections))
      }
    }
    obj
  }

  // ── GraphQL args → FeedArgs ────────────────────────────────────────
  /** The schema splits feed arguments across `spkvideo`, `pagination`
    * and `feedOptions` (schema.ts:308-316) while the resolver reads
    * them back as one query (TransformFeedArgs,
    * resolvers/index.ts:58-149) — and `_or` is an OBJECT of named
    * filters there (FeedOptinsOR) where ArgsJson's combined shape
    * takes an array of branches. Merge + convert here; `apps` is
    * accepted and ignored exactly like the reference (declared in the
    * schema, never read by TransformFeedArgs). */
  private def feedArgs(args: ObjectNode): FeedArgs = {
    // fail loudly, like any unwired resolver: engine-level
    // applyFollower deliberately answers a did: follower with an
    // empty set when no Ceramic graph is wired (spec-pinned library
    // semantics), but at the API an empty feed would silently
    // masquerade as "follows nobody" — the client must learn the
    // table is not configured
    def didFollower(n: JsonNode): Boolean =
      Option(n.get("byFollower")).filterNot(_.isNull)
        .exists(_.asText("").startsWith("did:"))
    if (tables.socialConnections.isEmpty &&
        (didFollower(args) || Option(args.get("feedOptions"))
          .filterNot(_.isNull).exists(didFollower)))
      sys.error("social connections not configured " +
        "(did: byFollower needs the Ceramic social graph)")
    val merged = nf.objectNode()
    Option(args.get("feedOptions")).filterNot(_.isNull).foreach { fo =>
      fo.fieldNames().asScala
        .foreach(k => merged.set[ObjectNode](k, fo.get(k)))
    }
    Option(args.get("spkvideo")).filterNot(_.isNull)
      .foreach(merged.set[ObjectNode]("spkvideo", _))
    Option(args.get("pagination")).filterNot(_.isNull)
      .foreach(merged.set[ObjectNode]("pagination", _))
    Option(merged.get("_or")).filterNot(_.isNull).foreach { or =>
      if (or.isObject) {
        val arr = nf.arrayNode()
        or.fieldNames().asScala.foreach { k =>
          val branch = nf.objectNode()
          branch.set[ObjectNode](k, or.get(k))
          arr.add(branch)
        }
        merged.set[ObjectNode]("_or", arr)
      }
    }
    val fa = ArgsJson.parse(mapper.writeValueAsString(merged))
    pageLimit("pagination.limit", fa.limit)
    fa
  }

  /** `n`, or a request error naming `arg` when it is above
    * [[maxPage]]. */
  private def pageLimit(arg: String, n: Int): Int = {
    if (n > maxPage) throw new IllegalArgumentException(
      s"$arg $n is above the page cap $maxPage")
    n
  }

  // ── variables ──────────────────────────────────────────────────────
  private def buildVars(op: Operation, variablesJson: Option[String])
      : Map[String, JsonNode] = {
    val provided: Map[String, JsonNode] = variablesJson
      .map(mapper.readTree).filter(_.isObject)
      .map(o => o.fieldNames().asScala.map(k => k -> o.get(k)).toMap)
      .getOrElse(Map.empty)
    op.variables.map { case (nm, tp, dflt) =>
      val v = provided.get(nm)
        .orElse(dflt.map(valueToNode(_, Map.empty)))
        .getOrElse {
          if (tp.endsWith("!"))
            throw new IllegalArgumentException(
              s"missing required variable $$$nm: $tp")
          nf.nullNode()
        }
      nm -> v
    }.toMap
  }

  private def argsNode(args: Seq[(String, Value)],
                       vars: Map[String, JsonNode]): ObjectNode = {
    val o = nf.objectNode()
    args.foreach { case (k, v) =>
      o.set[ObjectNode](k, valueToNode(v, vars))
    }
    o
  }

  private def valueToNode(v: Value, vars: Map[String, JsonNode])
      : JsonNode = v match {
    case VInt(x) => nf.numberNode(x)
    case VFloat(x) => nf.numberNode(x)
    case VString(x) => nf.textNode(x)
    case VBool(x) => nf.booleanNode(x)
    case VNull => nf.nullNode()
    case VEnum(x) => nf.textNode(x)
    case VList(xs) =>
      val a = nf.arrayNode(); xs.foreach(x => a.add(valueToNode(x, vars))); a
    case VObj(fs) =>
      val o = nf.objectNode()
      fs.foreach { case (k, x) =>
        o.set[ObjectNode](k, valueToNode(x, vars))
      }
      o
    case VVar(nm) => vars.getOrElse(nm,
      throw new IllegalArgumentException(s"undefined variable $$$nm"))
  }

  // ── DataFrame → shaped JSON ────────────────────────────────────────
  /** Collect a (page-bounded) DataFrame as Jackson rows, pruning the
    * plan's columns to the selection FIRST — the GraphQL selection
    * becomes a Project that Catalyst pushes into the scan. Passing
    * empty selections skips pruning (caller shapes later). `limit`
    * applies AFTER Spark's JSON encoding: each partition stops at
    * `limit` rows and the driver keeps the first `limit`, so the read
    * is one job whatever partition holds the match. (A limit below the
    * encoding plans a second, single-partition exchange job; one at the
    * root plans a `CollectLimit`, whose first job reads one partition
    * and launches another when the match lies elsewhere.) */
  private def rowsOf(df: DataFrame, sels: Seq[Selection],
                     limit: Option[Int] = None): Seq[JsonNode] = {
    val pruned =
      if (sels.isEmpty) df
      else {
        // union over fragment branches + __typename (needed both as a
        // selectable meta field and to match fragment conditions) +
        // every reserved hydration column (only created when selected)
        val want = GraphQL.allFieldNames(sels) + "__typename"
        val keep = df.columns.filter(c =>
          want.contains(c) || c.startsWith(HydPrefix))
        if (keep.isEmpty) df.select(df.columns.head)
        else df.select(keep.map(c => col(s"`$c`")).toSeq: _*)
      }
    val json = pruned.toJSON
    limit.fold(json.collect())(n =>
      json.mapPartitions(_.take(n))(Encoders.STRING).collect().take(n))
      .toSeq.map(mapper.readTree)
  }

  private def arrayOf(df: DataFrame, sels: Seq[Selection]): ArrayNode = {
    val arr = nf.arrayNode()
    rowsOf(df, sels).foreach(n => arr.add(shape(n, sels)))
    arr
  }

  /** First row shaped to the selection, or JSON null (socialPost /
    * profile return null for a miss, resolvers/index.ts:159-162). */
  private def single(df: DataFrame, sels: Seq[Selection]): JsonNode =
    rowsOf(df, sels, limit = Some(1)).headOption
      .map(shape(_, sels)).getOrElse(nf.nullNode())

  /** Shape one object node to a selection: aliases applied, inline
    * fragments matched on the row's __typename, nested selections
    * recursing into objects and arrays of objects. Selected fields the
    * row doesn't carry become explicit JSON nulls (toJSON also drops
    * null-valued columns — both land as null here). */
  private def shape(node: JsonNode, sels: Seq[Selection]): JsonNode = {
    if (sels.isEmpty) return node
    val tn = Option(node.get("__typename")).filterNot(_.isNull)
      .map(_.asText())
    val out = nf.objectNode()
    GraphQL.collectFields(sels, tn).foreach { f =>
      if (f.name == "__typename" && !node.has("__typename"))
        out.set[ObjectNode](f.alias, nf.nullNode())
      else {
        // hydration materializes each occurrence under its RESERVED
        // `__hyd:<alias>` key (':' can't appear in a GraphQL name, so
        // no client alias can shadow it and no alias can be shadowed
        // by a real column); everything else reads the field name
        val hk = HydPrefix + f.alias
        val v = if (node.has(hk)) node.path(hk) else node.path(f.name)
        out.set[ObjectNode](f.alias, shapeValue(v, f.selections))
      }
    }
    out
  }

  private def shapeValue(v: JsonNode, sels: Seq[Selection]): JsonNode =
    if (v.isMissingNode) nf.nullNode()
    else if (sels.isEmpty) v
    else if (v.isArray) {
      val arr = nf.arrayNode()
      v.elements().asScala.foreach(e => arr.add(shapeValue(e, sels)))
      arr
    } else if (v.isObject) shape(v, sels)
    else v

  private def errorArr(msg: String): ArrayNode = {
    val arr = nf.arrayNode()
    val err = nf.objectNode()
    err.put("message", msg)
    arr.add(err)
    arr
  }
}
