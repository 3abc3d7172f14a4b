package graft.api

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec
import graft.ingest.{Fixtures, GraphIngest, PostsIngest}
import org.apache.spark.sql.functions._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

/** End-to-end transport: a real HTTP server on an ephemeral port, a
  * real java.net.http client, reference-shaped GraphQL documents —
  * the full front door (parse → args → engine pipeline → selection-
  * shaped JSON) over the same ingest fixture PostQueriesSpec uses. */
class HttpApiSpec extends SparkSpec {
  import Fixtures._
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private lazy val tables: ApiTables = {
    val ops = toOps(spark,
      block(100, "2024-05-01T12:00:00",
        ("t1", Seq(("comment", comment("alice", "v1", "spark video one",
          jsonMeta = videoMeta)))),
        ("t2", Seq(("comment", comment("bob", "b1", "hello world",
          jsonMeta = """{"app":"dBuzz/1.0","tags":["chat"]}""")))),
        ("t3", Seq(("custom_json",
          s"""{"id":"follow","required_posting_auths":["carol"],""" +
            s""""json":${js("""["follow",{"follower":"carol","following":"alice","what":["blog"]}]""")}}""")))),
      block(101, "2024-05-01T12:00:03",
        ("t4", Seq(("comment", comment("alice", "v2", "spark video two",
          jsonMeta = videoMeta)))),
        ("t5", Seq(("comment", comment("dave", "r1", "a reply",
          parentAuthor = "alice", parentPermlink = "v1")))),
        ("t6", Seq(("comment", comment("erin", "rr1", "a grandchild",
          parentAuthor = "dave", parentPermlink = "r1"))))))
    val posts = PostsIngest.ingest(ops)(spark).cache()
    val follows = GraphIngest.follows(ops).cache()
    val profiles = Seq(
      ("hive/alice", "alice", "Alice A", "about alice", 30.0),
      ("hive/bob", "bob", null: String, "", 10.0),
      ("hive/zed", "zed", "Zed", "", 0.0))
      .toDF("_id", "username", "displayName", "about", "score")
      .withColumn("location", lit(null).cast("string"))
      .withColumn("website", lit(null).cast("string"))
      .withColumn("did", lit(null).cast("string"))
      .withColumn("images", struct(lit("av.png").as("avatar"),
        lit(null).cast("string").as("cover")))
      .withColumn("extra",
        struct(lit(null).cast("string").as("pinned_post")))
    val stats = Seq((12L, 34L, -2L))
      .toDF("block_lag", "sync_eta_seconds", "block_lag_diff")
    ApiTables(posts, follows, profiles, syncStats = Some(stats))
  }

  private lazy val api = new GraftApi(spark, tables,
    now = () => lit("2024-05-02 00:00:00").cast("timestamp"))
  private lazy val server = new HttpApi(api).start()
  private lazy val client = HttpClient.newHttpClient()

  private def post(body: String): (Int, JsonNode) = {
    val req = HttpRequest.newBuilder()
      .uri(URI.create(
        s"http://127.0.0.1:${server.boundPort}/api/v2/graphql"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }

  private def gql(query: String, variables: String = null): JsonNode = {
    val b = mapper.createObjectNode()
    b.put("query", query)
    if (variables != null) b.set[JsonNode]("variables",
      mapper.readTree(variables))
    val (code, node) = post(mapper.writeValueAsString(b))
    assert(code == 200, node.toString)
    node
  }

  test("socialFeed over HTTP: feedOptions + pagination + selection " +
    "shaping with aliases and __typename") {
    val node = gql(
      """query {
        |  feed: socialFeed(
        |    feedOptions: {byCreator: {_eq: "alice"}},
        |    pagination: {limit: 10}
        |  ) { items { who: author permlink __typename } }
        |}""".stripMargin)
    assert(!node.has("errors"), node.toString)
    val items = node.path("data").path("feed").path("items")
    assert(items.size() == 2)
    val perms = items.elements().asScala
      .map(_.path("permlink").asText()).toSet
    assert(perms == Set("v1", "v2"))
    val first = items.get(0)
    assert(first.path("who").asText() == "alice")   // alias applied
    assert(first.path("__typename").asText() == "HivePost")
    // selection shaping: ONLY the requested keys appear
    assert(first.fieldNames().asScala.toSet ==
      Set("who", "permlink", "__typename"))
  }

  test("variables + socialPost point lookup; explicit null variable " +
    "for an optional arg") {
    val node = gql(
      """query Lookup($a: String!, $p: String!) {
        |  socialPost(author: $a, permlink: $p) { author permlink title }
        |}""".stripMargin,
      """{"a": "bob", "p": "b1"}""")
    val post = node.path("data").path("socialPost")
    assert(post.path("author").asText() == "bob")
    // miss → JSON null, no error (resolvers/index.ts:159-162)
    val miss = gql(
      """query { socialPost(author: "nope", permlink: "x") { author } }""")
    assert(miss.path("data").path("socialPost").isNull)
    assert(!miss.has("errors"))
  }

  test("inline fragment on HivePost (the reference's GraphiQL " +
    "default-query shape)") {
    val node = gql(
      """{ socialFeed(pagination: {limit: 3}) { items {
        |  ... on HivePost { author }
        |  ... on CeramicPost { streamId: permlink }
        |} } }""".stripMargin)
    val items = node.path("data").path("socialFeed").path("items")
    assert(items.size() == 3)
    items.elements().asScala.foreach { it =>
      assert(it.has("author"))          // HivePost branch applied
      assert(!it.has("streamId"))       // CeramicPost branch skipped
    }
  }

  test("searchFeed any-term match over HTTP") {
    val node = gql(
      """{ searchFeed(searchTerm: "spark") { items { permlink } } }""")
    val perms = node.path("data").path("searchFeed").path("items")
      .elements().asScala.map(_.path("permlink").asText()).toSet
    assert(perms == Set("v1", "v2"))
  }

  test("profile: HiveProfile view with falsy-to-null getters") {
    val node = gql(
      """{ profile(id: "bob") { id username name about __typename } }""")
    val p = node.path("data").path("profile")
    assert(p.path("id").asText() == "hive/bob")
    assert(p.path("name").isNull)    // displayName null
    assert(p.path("about").isNull)   // empty string collapses (|| null)
    assert(p.path("__typename").asText() == "HiveProfile")
  }

  test("follows: both lists + counts from one fixture follow edge") {
    val node = gql(
      """{ follows(id: "carol") {
        |  followings_count followers_count
        |  followings { following follower }
        |} }""".stripMargin)
    val f = node.path("data").path("follows")
    assert(f.path("followings_count").asLong() == 1L)
    assert(f.path("followers_count").asLong() == 0L)
    assert(f.path("followings").get(0).path("following").asText()
      == "alice")
  }

  test("leaderBoard: ranked items + total_active_creators " +
    "(score>0 only)") {
    val node = gql(
      """{ leaderBoard {
        |  items { rank author score }
        |  total_active_creators
        |} }""".stripMargin)
    val lb = node.path("data").path("leaderBoard")
    assert(lb.path("total_active_creators").asInt() == 2) // zed: score 0
    val items = lb.path("items")
    assert(items.get(0).path("author").asText() == "alice")
    assert(items.get(0).path("rank").asLong() == 1L)
    assert(items.get(1).path("author").asText() == "bob")
  }

  test("syncState maps the stats singleton to the schema's field " +
    "names") {
    val node = gql(
      "{ syncState { blockLag syncEtaSeconds latestBlockLagDiff } }")
    val s = node.path("data").path("syncState")
    assert(s.path("blockLag").asLong() == 12L)
    assert(s.path("syncEtaSeconds").asLong() == 34L)
    assert(s.path("latestBlockLagDiff").asLong() == -2L)
  }

  test("trendingTags: 14-day window, top-k, injected clock") {
    val node = gql(
      """{ trendingTags(limit: 2) { tags { tag score } } }""")
    val tags = node.path("data").path("trendingTags").path("tags")
    assert(tags.size() == 2)
    // videoMeta carries tags; both alice posts share them
    assert(tags.get(0).path("score").asLong() >=
      tags.get(1).path("score").asLong())
  }

  test("field-level error: missing relatedFeed anchor → null field " +
    "+ errors entry (GraphQL partial results)") {
    val node = gql(
      """{ relatedFeed(author: "ghost", permlink: "gone") {
        |  items { author } } }""".stripMargin)
    assert(node.path("data").path("relatedFeed").isNull)
    assert(node.path("errors").get(0).path("message").asText()
      .contains("not found"))
    val unknown = gql("{ nosuchop { x } }")
    assert(unknown.path("errors").get(0).path("message").asText()
      .contains("""Cannot query field "nosuchop" on type "Query""""))
  }

  test("transport errors: malformed JSON → 400; parse error → " +
    "errors; GET works; OPTIONS preflight + CORS") {
    val (code, node) = post("{not json")
    assert(code == 400 && node.has("errors"))
    val bad = gql("query {{{")
    assert(bad.path("errors").get(0).path("message").asText().nonEmpty)
    // GET
    val q = java.net.URLEncoder.encode(
      """{ profile(id: "alice") { username } }""", "UTF-8")
    val req = HttpRequest.newBuilder()
      .uri(URI.create(
        s"http://127.0.0.1:${server.boundPort}/graphql?query=$q"))
      .GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    assert(mapper.readTree(r.body()).path("data").path("profile")
      .path("username").asText() == "alice")
    assert(r.headers().firstValue("Access-Control-Allow-Origin")
      .orElse("") == "*")
    val pre = client.send(HttpRequest.newBuilder()
      .uri(URI.create(
        s"http://127.0.0.1:${server.boundPort}/api/v2/graphql"))
      .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(pre.statusCode() == 204)
  }

  test("community: point row, unpacked roles, nested feed with " +
    "byCommunity forced and nested-field pagination") {
    import spark.implicits._
    val comms = Seq(("hive/hive-101", "Spark Fans"))
      .toDF("_id", "title")
      .withColumn("roles", array(
        array(lit("alice"), lit("admin"), lit("boss"))))
    val api2 = new GraftApi(spark, tables.copy(communities = Some(comms)))
    val node = api2.execute(
      """{ community(id: "hive-101") {
        |  title
        |  roles { username role }
        |  latestFeed(pagination: {limit: 1}) { items { permlink } }
        |} }""".stripMargin)
    val c = node.path("data").path("community")
    assert(c.path("title").asText() == "Spark Fans")
    assert(c.path("roles").get(0).path("username").asText() == "alice")
    assert(c.path("roles").get(0).path("role").asText() == "admin")
    // nested feed: byCommunity=hive-101 matches nothing in this
    // fixture (parent_permlink is the community key) → empty items,
    // shaped, no error
    assert(c.path("latestFeed").path("items").size() == 0)
    assert(!node.has("errors"), node.toString)
    // missing community → null (resolvers/index.ts:409-411)
    assert(api2.execute("""{ community(id: "nope") { title } }""")
      .path("data").path("community").isNull)
  }

  test("aliased duplicates of relational fields hydrate " +
    "independently (own args, own sub-selection)") {
    val node = gql(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  one: children(limit: 1) { permlink }
        |  all: children(limit: 10) { permlink author }
        |} }""".stripMargin)
    assert(!node.has("errors"), node.toString)
    val p = node.path("data").path("socialPost")
    assert(p.path("one").size() == 1)
    assert(p.path("all").size() == 1)   // v1 has one reply total
    assert(p.path("all").get(0).has("author"))
    assert(!p.path("one").get(0).has("author")) // own sub-selection
    // negative skip behaves like 0
    val neg = gql(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  children(limit: 5, skip: -1) { permlink } } }""".stripMargin)
    assert(neg.path("data").path("socialPost")
      .path("children").size() == 1)
  }

  test("did: byFollower without a wired Ceramic graph is a " +
    "field-level error, not a silently empty feed") {
    val node = gql(
      """{ socialFeed(feedOptions: {byFollower: "did:key:z6MkX"}) {
        | items { author } } }""".stripMargin)
    assert(node.path("data").path("socialFeed").isNull)
    assert(node.path("errors").get(0).path("message").asText()
      .contains("social connections not configured"))
  }

  test("fragment-bomb documents are rejected by the resolution " +
    "budget, not expanded") {
    val bomb = "query { q { ...f0 } } " + (0 until 40).map(i =>
      s"fragment f$i on T { ...f${i + 1} ...f${i + 1} }")
      .mkString(" ") + " fragment f40 on T { x }"
    val t0 = System.nanoTime()
    val e = intercept[GraphQL.ParseError](GraphQL.parse(bomb))
    assert((System.nanoTime() - t0) / 1e9 < 5.0, "must fail fast")
    assert(e.getMessage.contains("selection nodes"))
  }

  test("byFollower did: routes through socialConnections, not " +
    "follows (resolvers/index.ts:126-146)") {
    import spark.implicits._
    val social = Seq(("did:key:z6MkX", "bob"))
      .toDF("follower", "following")
    val api2 = new GraftApi(spark,
      tables.copy(socialConnections = Some(social)))
    val viaDid = api2.execute(
      """{ socialFeed(feedOptions: {byFollower: "did:key:z6MkX"}) {
        | items { author } } }""".stripMargin)
    val authors = viaDid.path("data").path("socialFeed").path("items")
      .elements().asScala.map(_.path("author").asText()).toSet
    assert(authors == Set("bob"))   // the Ceramic graph, not follows
    // a non-did follower still reads the Hive follows table
    val viaName = api2.execute(
      """{ socialFeed(feedOptions: {byFollower: "carol"}) {
        | items { author } } }""".stripMargin)
    val a2 = viaName.path("data").path("socialFeed").path("items")
      .elements().asScala.map(_.path("author").asText()).toSet
    assert(a2 == Set("alice"))      // carol follows alice on Hive
  }

  test("concurrent requests: 16 parallel mixed queries all answer " +
    "correctly (Spark actions are thread-safe across the pool)") {
    import java.util.concurrent.CompletableFuture
    val bodies = (0 until 16).map { i =>
      val q =
        if (i % 3 == 0) """{ profile(id: "alice") { username } }"""
        else if (i % 3 == 1)
          """{ socialFeed(feedOptions: {byCreator: {_eq: "bob"}}) {
            | items { permlink } } }""".stripMargin
        else """{ syncState { blockLag } }"""
      val b = mapper.createObjectNode(); b.put("query", q)
      mapper.writeValueAsString(b)
    }
    val futures: Seq[CompletableFuture[HttpResponse[String]]] =
      bodies.map { b =>
        client.sendAsync(HttpRequest.newBuilder()
          .uri(URI.create(s"http://127.0.0.1:${server.boundPort}" +
            "/api/v2/graphql"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(b)).build(),
          HttpResponse.BodyHandlers.ofString())
      }
    futures.zipWithIndex.foreach { case (fut, i) =>
      val r = fut.get(120, java.util.concurrent.TimeUnit.SECONDS)
      assert(r.statusCode() == 200, s"req $i: ${r.body()}")
      val d = mapper.readTree(r.body()).path("data")
      if (i % 3 == 0)
        assert(d.path("profile").path("username").asText() == "alice")
      else if (i % 3 == 1)
        assert(d.path("socialFeed").path("items").size() == 1)
      else assert(d.path("syncState").path("blockLag").asLong() == 12L)
    }
  }

  test("nested post hydration: parent_post, children(limit), " +
    "author{profile} — batched joins, selection-driven") {
    val node = gql(
      """query K($n: Int!) { socialPost(author: "alice", permlink: "v1") {
        |  permlink
        |  parent_post { author }
        |  children(limit: $n) { author permlink }
        |  author { id username profile { name __typename } }
        |} }""".stripMargin,
      """{"n": 5}""")
    assert(!node.has("errors"), node.toString)
    val p = node.path("data").path("socialPost")
    assert(p.path("parent_post").isNull)        // v1 is top-level
    val kids = p.path("children")
    assert(kids.size() == 1)                    // dave's reply r1
    assert(kids.get(0).path("author").asText() == "dave")
    assert(kids.get(0).path("permlink").asText() == "r1")
    val a = p.path("author")
    assert(a.path("id").asText() == "alice")
    assert(a.path("username").asText() == "alice")
    assert(a.path("profile").path("name").asText() == "Alice A")
    assert(a.path("profile").path("__typename").asText()
      == "HiveProfile")
    // the reply's parent_post hydrates back to v1; leaf posts get []
    val r = gql(
      """{ socialPost(author: "dave", permlink: "r1") {
        |  parent_post { permlink } children { permlink } } }"""
        .stripMargin).path("data").path("socialPost")
    assert(r.path("parent_post").path("permlink").asText() == "v1")
    assert(r.path("children").size() == 1)   // erin's rr1
    val leaf = gql(
      """{ socialPost(author: "erin", permlink: "rr1") {
        |  children { permlink } } }""".stripMargin)
      .path("data").path("socialPost")
    assert(leaf.path("children").isArray &&
      leaf.path("children").size() == 0)
    // feeds hydrate items the same way (one windowed join per page,
    // not per post)
    val feed = gql(
      """{ socialFeed(feedOptions: {byCreator: {_eq: "alice"}}) {
        |  items { permlink children { permlink } } } }""".stripMargin)
      .path("data").path("socialFeed").path("items")
    val byPerm = feed.elements().asScala
      .map(n => n.path("permlink").asText() ->
        n.path("children").size()).toMap
    assert(byPerm == Map("v1" -> 1, "v2" -> 0))
  }

  test("duplicate fields merge per CollectFields and resolve once; " +
    "capped leaderBoard keeps the exact total; bad variables JSON " +
    "is a request error") {
    val node = gql(
      """{ socialFeed(pagination: {limit: 2}) { items { author } }
        |  socialFeed(pagination: {limit: 2}) { items { permlink } } }"""
        .stripMargin)
    val items = node.path("data").path("socialFeed").path("items")
    assert(items.size() == 2)
    assert(items.get(0).has("author") && items.get(0).has("permlink"))
    // maxPage caps items; total_active_creators stays the exact count
    val capped = new GraftApi(spark, tables, maxPage = 1)
    val lb = capped.execute(
      "{ leaderBoard { items { author } total_active_creators } }")
      .path("data").path("leaderBoard")
    assert(lb.path("items").size() == 1)
    assert(lb.path("total_active_creators").asInt() == 2)
    // malformed variables JSON → errors array, not an exception/500
    val bad = api.execute("query($x: Int) { socialFeed { items { author } } }",
      Some("{not json"))
    assert(bad.has("errors") && !bad.has("data"))
  }

  test("a client page size above maxPage is a named request error") {
    val capped = new GraftApi(spark, tables, maxPage = 2)
    def err(q: String, field: String) = {
      val r = capped.execute(q)
      assert(r.path("data").path(field).isNull, r.toString)
      r.path("errors").get(0).path("message").asText()
    }
    assert(err("{ socialFeed(pagination: {limit: 3}) { items { author } } }",
      "socialFeed") == "pagination.limit 3 is above the page cap 2")
    assert(err("""{ socialPost(author: "alice", permlink: "v1")
      |  { children(limit: 5) { permlink } } }""".stripMargin,
      "socialPost") == "children(limit) 5 is above the page cap 2")
    assert(err("{ trendingTags(limit: 9) { tags { tag } } }",
      "trendingTags") == "trendingTags(limit) 9 is above the page cap 2")
    // at the cap the page is served
    val ok = capped.execute(
      "{ socialFeed(pagination: {limit: 2}) { items { author } } }")
    assert(!ok.has("errors") &&
      ok.path("data").path("socialFeed").path("items").size() == 2, ok)
  }

  test("REST create_stream_id: existing-id read; unknown post and " +
    "ungranted post answer null (controller.ts:8-39 read half)") {
    def rest(body: String) = {
      val req = HttpRequest.newBuilder()
        .uri(URI.create(s"http://127.0.0.1:${server.boundPort}" +
          "/api/v1/create_stream_id"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), mapper.readTree(r.body()))
    }
    // fixture posts carry no grant yet → stream_id null, 200
    val (c1, n1) = rest("""{"author":"alice","permlink":"v1"}""")
    assert(c1 == 200 && n1.path("stream_id").isNull)
    val (c2, n2) = rest("""{"author":"nope","permlink":"x"}""")
    assert(c2 == 200 && n2.path("stream_id").isNull)
    // a granted post answers its id
    val granted = tables.copy(posts = tables.posts
      .withColumn("off_chain_id",
        when(col("permlink") === "v1", "kjz-stream-1")))
    val api2 = new GraftApi(spark, granted)
    assert(api2.streamIdLookup("alice", "v1")
      .path("stream_id").asText() == "kjz-stream-1")
    val (c3, n3) = rest("not json")
    assert(c3 == 400 && n3.has("errors"))
  }

  test("Serve.tables: boots the API from a parquet entity store; " +
    "absent optional tables degrade to field-level errors") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-store").toString
    tables.posts.write.parquet(s"$dir/posts")
    tables.follows.write.parquet(s"$dir/follows")
    tables.profiles.write.parquet(s"$dir/profiles")
    val loaded = graft.tools.Serve.tables(spark, dir + "/")
    assert(loaded.communities.isEmpty && loaded.syncStats.isEmpty)
    val api2 = new GraftApi(spark, loaded)
    val ok = api2.execute(
      """{ profile(id: "alice") { username name } }""")
    assert(ok.path("data").path("profile").path("name").asText()
      == "Alice A")
    val missing = api2.execute("{ syncState { blockLag } }")
    assert(missing.path("data").path("syncState").isNull)
    assert(missing.path("errors").get(0).path("message").asText()
      .contains("not configured"))
  }

  test("Serve.tables: an absent posts layout marker serves unpruned; " +
    "a corrupt one fails with its path") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-store-marker").toString
    tables.posts.write.parquet(s"$dir/posts")
    tables.follows.write.parquet(s"$dir/follows")
    tables.profiles.write.parquet(s"$dir/profiles")
    assert(graft.tools.Serve.tables(spark, dir).keyBuckets.isEmpty)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/posts/_graft_layout.json"),
      "not json")
    val e = intercept[IllegalStateException] {
      graft.tools.Serve.tables(spark, dir)
    }
    assert(e.getMessage.contains(s"$dir/posts"), e.getMessage)
  }

  test("multi-level hydration: children { author { profile } }, " +
    "children { parent_post }, children { children } recurse like " +
    "the reference's field thunks (posts.ts:140-258)") {
    val node = gql(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  children {
        |    permlink
        |    author { id profile { name __typename } }
        |    parent_post { permlink author }
        |    children { permlink author { username } }
        |  }
        |} }""".stripMargin)
    assert(!node.has("errors"), node.toString)
    val kid = node.path("data").path("socialPost").path("children").get(0)
    assert(kid.path("permlink").asText() == "r1")
    // level-2 author: dave has no profile row → profile null, id set
    assert(kid.path("author").path("id").asText() == "dave")
    assert(kid.path("author").path("profile").isNull)
    // level-2 parent_post points back UP to v1
    assert(kid.path("parent_post").path("permlink").asText() == "v1")
    assert(kid.path("parent_post").path("author").asText() == "alice")
    // level-2 children: the grandchild rr1, with ITS author hydrated
    val gk = kid.path("children")
    assert(gk.size() == 1)
    assert(gk.get(0).path("permlink").asText() == "rr1")
    assert(gk.get(0).path("author").path("username").asText() == "erin")
    // level-2 author with a REAL profile resolves through the view
    val v = gql(
      """{ socialPost(author: "dave", permlink: "r1") {
        |  parent_post { permlink author { profile { name } } }
        |} }""".stripMargin)
      .path("data").path("socialPost").path("parent_post")
    assert(v.path("permlink").asText() == "v1")
    assert(v.path("author").path("profile").path("name").asText()
      == "Alice A")
  }

  test("an UNALIASED relational field coexists with aliased " +
    "duplicates (each occurrence owns a reserved column)") {
    val node = gql(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  parent_post { author }
        |  pp: parent_post { permlink }
        |  children { permlink }
        |  one: children(limit: 1) { author }
        |} }""".stripMargin)
    assert(!node.has("errors"), node.toString)
    val p = node.path("data").path("socialPost")
    assert(p.path("parent_post").isNull && p.path("pp").isNull)
    assert(p.path("children").size() == 1)
    assert(p.path("one").get(0).path("author").asText() == "dave")
  }

  test("an alias that collides with a real column serves the " +
    "SELECTED field's value, not the column's") {
    // { author: permlink } must answer the permlink under key
    // "author" (hydration keys are reserved __hyd:* names, so no
    // heuristic can misroute this)
    val node = gql(
      """{ socialPost(author: "bob", permlink: "b1") {
        |  author: permlink } }""".stripMargin)
    assert(node.path("data").path("socialPost")
      .path("author").asText() == "b1")
  }

  test("@skip/@include execute with variables over HTTP; unknown " +
    "directives are named errors") {
    val q =
      """query P($all: Boolean!) {
        |  socialPost(author: "bob", permlink: "b1") {
        |    permlink
        |    title @include(if: $all)
        |    author @skip(if: $all)
        |  }
        |}""".stripMargin
    val on = gql(q, """{"all": true}""")
      .path("data").path("socialPost")
    assert(on.has("title") && !on.has("author"))
    val off = gql(q, """{"all": false}""")
      .path("data").path("socialPost")
    assert(!off.has("title") && off.path("author").asText() == "bob")
    // a whole top-level field skipped: resolver never fires
    val skipped = gql(
      """{ syncState @skip(if: true) { blockLag }
        |  profile(id: "alice") { username } }""".stripMargin)
    assert(!skipped.path("data").has("syncState"))
    assert(skipped.path("data").path("profile").path("username")
      .asText() == "alice")
    val bad = gql("""{ profile(id: "alice") @defer { username } }""")
    assert(bad.path("errors").get(0).path("message").asText()
      .contains("@defer"))
    // an unknown directive errors even when a PRECEDING @skip already
    // excludes the field — whether '@defer' is rejected must not
    // depend on a neighboring directive's runtime value
    val bad2 = gql(
      """{ profile(id: "alice") @skip(if: true) @defer { username } }""")
    assert(bad2.path("errors").get(0).path("message").asText()
      .contains("@defer"))
  }

  test("a selection set emptied by directives resolves to an empty " +
    "object — never the raw unpruned row") {
    val node = gql(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  permlink @skip(if: true) } }""".stripMargin)
    assert(!node.has("errors"), node.toString)
    val p = node.path("data").path("socialPost")
    assert(p.isObject && p.size() == 0, p.toString)
    // same through a feed page: items become empty objects, and no
    // store column (author, body, TYPE, ...) leaks into them
    val items = gql(
      """{ socialFeed(pagination: {limit: 2}) {
        |  items { permlink @include(if: false) } } }""".stripMargin)
      .path("data").path("socialFeed").path("items")
    assert(items.size() == 2)
    items.elements().asScala.foreach(it =>
      assert(it.isObject && it.size() == 0, it.toString))
  }

  test("validation accepts the full unified profile images struct " +
    "and profile(username:); fragment-definition directives parse") {
    // Hive-only deployment still validates cover AND background (the
    // unified struct serves both; a field-map concat used to let one
    // view's images interior clobber the other's)
    val node = gql(
      """{ profile(id: "alice") {
        |  images { avatar cover background } } }""".stripMargin)
    assert(!node.has("errors"), node.toString)
    val img = node.path("data").path("profile").path("images")
    assert(img.path("avatar").asText() == "av.png")
    assert(img.path("background").isNull)   // Hive view: no background
    // the executor accepts username, so the validator must too
    val byName = gql("""{ profile(username: "alice") { name } }""")
    assert(!byName.has("errors"), byName.toString)
    assert(byName.path("data").path("profile").path("name").asText()
      == "Alice A")
    // directives on a FRAGMENT DEFINITION are grammar-legal but the
    // execution builtins are location-restricted to fields/spreads/
    // inline fragments (spec §5.7.1) — graphql-js rejects such
    // documents at validation, so the parser must too (a silently
    // evaluated @include here would execute documents yoga errors on)
    val fd = gql(
      """query { socialPost(author: "bob", permlink: "b1") { ...f } }
        |fragment f on HivePost @include(if: true) { permlink }"""
        .stripMargin)
    assert(fd.has("errors"), fd.toString)
    assert(fd.path("errors").get(0).path("message").asText()
      .contains("not allowed on a fragment definition"), fd.toString)
    // the same fragment WITHOUT definition directives executes, and a
    // directive on the SPREAD still evaluates
    val ok = gql(
      """query { socialPost(author: "bob", permlink: "b1")
        |  { ...f @include(if: true) } }
        |fragment f on HivePost { permlink }""".stripMargin)
    assert(!ok.has("errors"), ok.toString)
    assert(ok.path("data").path("socialPost").path("permlink")
      .asText() == "b1")
  }

  test("document validation: unknown fields and arguments are " +
    "yoga-style named request errors") {
    val node = gql(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  permlinkz
        |  author { profilez { name } }
        |} }""".stripMargin)
    assert(!node.has("data"))
    val msgs = node.path("errors").elements().asScala
      .map(_.path("message").asText()).toSeq
    assert(msgs.exists(_.contains(
      """Cannot query field "permlinkz" on type "SocialPost"""")),
      msgs.toString)
    assert(msgs.exists(_.contains(
      """Cannot query field "profilez" on type "Author"""")),
      msgs.toString)   // ALL errors reported at once
    val badArg = gql(
      """{ socialFeed(fooOptions: {x: 1}) { items { permlink } } }""")
    assert(badArg.path("errors").get(0).path("message").asText()
      .contains("""Unknown argument "fooOptions" on field """ +
        """"Query.socialFeed""""))
    // nested argument names validate too
    val badNested = gql(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  children(limitz: 3) { permlink } } }""".stripMargin)
    assert(badNested.path("errors").get(0).path("message").asText()
      .contains("""Unknown argument "limitz""""))
    // valid documents are unaffected (struct interiors validate;
    // map/opaque columns pass anything)
    val ok = gql(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  json_metadata { app } spkvideo { play_url } } }"""
        .stripMargin)
    assert(!ok.has("errors"), ok.toString)
    // ...and struct interiors reject typos like top-level fields do
    val badStruct = gql(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  spkvideo { play_urlz } } }""".stripMargin)
    assert(badStruct.path("errors").get(0).path("message").asText()
      .contains(""""play_urlz""""))
  }

  test("Ceramic-authored rows hydrate author.profile from the " +
    "Ceramic view; Hive rows from the Hive view (posts.ts:146-152)") {
    import spark.implicits._
    // rewrite bob's row as Ceramic-authored by a did
    val mixed = tables.posts
      .withColumn("__t", when(col("author") === "bob",
        lit("post_ceramic")).otherwise(col("__t")))
      .withColumn("TYPE", when(col("author") === "bob",
        lit("CERAMIC")).otherwise(col("TYPE")))
      .withColumn("author", when(col("author") === "bob",
        lit("did:key:zBob")).otherwise(col("author")))
    val cer = Seq(("did:key:zBob", "Bobby C", "on ceramic", "moon",
      "https://b.example"))
      .toDF("did", "name", "description", "location", "url")
      .withColumn("image",
        struct(struct(lit("ava.png").as("src")).as("original")))
      .withColumn("background", struct(
        struct(lit(null).cast("string").as("src")).as("original")))
    val api3 = new GraftApi(spark,
      tables.copy(posts = mixed, ceramicProfiles = Some(cer)))
    val items = api3.execute(
      """{ socialFeed(feedOptions: {includeCeramic: true},
        |             pagination: {limit: 10}) { items {
        |  permlink author { id profile { name about __typename } }
        |} } }""".stripMargin)
      .path("data").path("socialFeed").path("items")
    val byPerm = items.elements().asScala
      .map(n => n.path("permlink").asText() -> n.path("author")).toMap
    // the Ceramic row routed to the Ceramic view (about←description)
    val bob = byPerm("b1")
    assert(bob.path("id").asText() == "did:key:zBob")
    assert(bob.path("profile").path("name").asText() == "Bobby C")
    assert(bob.path("profile").path("about").asText() == "on ceramic")
    assert(bob.path("profile").path("__typename").asText()
      == "CeramicProfile")
    // a Hive row in the SAME page still serves the Hive view
    assert(byPerm("v1").path("profile").path("name").asText()
      == "Alice A")
    assert(byPerm("v1").path("profile").path("__typename").asText()
      == "HiveProfile")
  }

  test("followCounts answer 0 (not an error) over a store with no " +
    "follow edges") {
    val api4 = new GraftApi(spark,
      tables.copy(follows = tables.follows.filter(lit(false))))
    val node = api4.execute(
      """{ follows(id: "carol") { followers_count followings_count } }""")
    assert(!node.has("errors"), node.toString)
    val f = node.path("data").path("follows")
    assert(f.path("followers_count").asLong() == 0L)
    assert(f.path("followings_count").asLong() == 0L)
  }

  test("every field the reference schema declares validates, even " +
    "when this store lacks it (absent → null, like yoga on a " +
    "missing Mongo key)") {
    val node = gql(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  permlink title body tags lang flags refs post_type
        |  created_at updated_at off_chain_id hive_rewards
        |  stream_id state_control parent_id original_content
        |  debug_metadata app_metadata
        |  author { profile { src json_metadata about } }
        |} }""".stripMargin)
    assert(!node.has("errors"), node.toString)
    val p = node.path("data").path("socialPost")
    assert(p.path("permlink").asText() == "v1")
    assert(p.path("hive_rewards").isNull)       // declared, not stored
    assert(p.path("original_content").isNull)   // declared, not stored
    assert(p.path("author").path("profile").path("src").isNull)
    assert(p.path("author").path("profile").path("about").asText()
      == "about alice")
  }

  test("operationName selects one operation of a multi-operation " +
    "document over HTTP (what GraphiQL sends)") {
    val doc =
      """query Who { profile(id: "alice") { username } }
        |query Lag { syncState { blockLag } }""".stripMargin
    val b = mapper.createObjectNode()
    b.put("query", doc); b.put("operationName", "Lag")
    val (code, node) = post(mapper.writeValueAsString(b))
    assert(code == 200, node.toString)
    assert(node.path("data").path("syncState").path("blockLag")
      .asLong() == 12L)
    assert(!node.path("data").has("profile"))
    b.put("operationName", "Who")
    val (_, n2) = post(mapper.writeValueAsString(b))
    assert(n2.path("data").path("profile").path("username").asText()
      == "alice")
    // no operationName on an ambiguous document → request error
    b.remove("operationName")
    val (_, n3) = post(mapper.writeValueAsString(b))
    assert(n3.path("errors").get(0).path("message").asText()
      .contains("operationName"))
    // the WHOLE document validates before anything executes: a typo
    // in the UNSELECTED operation rejects the request (yoga validates
    // every definition)
    val b2 = mapper.createObjectNode()
    b2.put("query",
      """query Good { syncState { blockLag } }
        |query Bad { nosuchField { x } }""".stripMargin)
    b2.put("operationName", "Good")
    val (_, n4) = post(mapper.writeValueAsString(b2))
    assert(n4.path("errors").get(0).path("message").asText()
      .contains("nosuchField"), n4.toString)
    assert(!n4.has("data"))
  }

  test("a graft-layout store serves point lookups and parent_post " +
    "through bucket-pruned probes (Serve reads the layout marker)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-layout-store").toString
    tables.posts
      .withColumn("created_month",
        date_format(col("created_at"), "yyyy-MM"))
      .withColumn("key_bucket", graft.state.Layout.authorBucket(
        col("author"), 8))
      .write.partitionBy("created_month", "key_bucket")
      .parquet(s"$dir/posts")
    locally {
      val p = new org.apache.hadoop.fs.Path(s"$dir/posts")
      graft.state.Layout.writePostsMarker(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, 8)
    }
    tables.follows.write.parquet(s"$dir/follows")
    tables.profiles.write.parquet(s"$dir/profiles")
    val loaded = graft.tools.Serve.tables(spark, dir + "/")
    assert(loaded.keyBuckets.contains(8))
    val api2 = new GraftApi(spark, loaded)
    val node = api2.execute(
      """{ socialPost(author: "dave", permlink: "r1") {
        |  permlink parent_post { permlink author } } }""".stripMargin)
    assert(!node.has("errors"), node.toString)
    val p = node.path("data").path("socialPost")
    assert(p.path("permlink").asText() == "r1")
    assert(p.path("parent_post").path("permlink").asText() == "v1")
    // the REST read half prunes the same way
    assert(api2.streamIdLookup("alice", "v1").path("stream_id").isNull)
    // with a reply index alongside, children hydration serves through
    // it (rank on the slim index, fetch only the paged rows) — same
    // answers, including the multi-level shapes
    graft.state.Layout.writeReplyIndex(
      spark.read.parquet(s"$dir/posts"), s"$dir/reply_index", 8)
    val indexed = graft.tools.Serve.tables(spark, dir + "/")
    assert(indexed.replyIndex.exists(_._2 == 8))
    val api3 = new GraftApi(spark, indexed)
    val deep = api3.execute(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  children { permlink author { username }
        |             children { permlink } }
        |} }""".stripMargin)
    assert(!deep.has("errors"), deep.toString)
    val kid = deep.path("data").path("socialPost").path("children")
      .get(0)
    assert(kid.path("permlink").asText() == "r1")
    assert(kid.path("author").path("username").asText() == "dave")
    assert(kid.path("children").get(0).path("permlink").asText()
      == "rr1")
    val none = api3.execute(
      """{ socialPost(author: "erin", permlink: "rr1") {
        |  children { permlink } } }""".stripMargin)
      .path("data").path("socialPost").path("children")
    assert(none.isArray && none.size() == 0)
    // a top-level post (empty parent ref) stays a null parent, and a
    // page whose rows are ALL top-level hydrates against an empty
    // pruned source without error
    val top = api2.execute(
      """{ socialFeed(pagination: {limit: 5}) {
        |  items { permlink parent_post { permlink } } } }"""
        .stripMargin)
    assert(!top.has("errors"), top.toString)
    top.path("data").path("socialFeed").path("items").elements()
      .asScala.foreach(it => assert(it.path("parent_post").isNull))
  }

  test("introspection meta-fields pass validation and degrade to " +
    "field-level null + error (GraphiQL's first request must not " +
    "hard-fail)") {
    // root __schema / __type: validation treats them as opaque meta-
    // fields (spec: meta-fields of the root query type), so the
    // request executes and the unserved field degrades to data:null +
    // a pathed field error — yoga serves real introspection here; the
    // divergence is documented in SchemaShape's scaladoc
    val node = gql("{ __schema { types { name } } }")
    assert(node.has("data"), node.toString)
    assert(node.path("data").path("__schema").isNull, node.toString)
    assert(node.path("errors").get(0).path("path").get(0).asText()
      == "__schema", node.toString)
    val t = gql("""{ __type(name: "SocialPost") { name } }""")
    assert(t.has("data") && t.path("data").path("__type").isNull,
      t.toString)
    // NON-root positions are not meta-field locations: still a named
    // validation error, like any unknown field
    val nested = gql(
      """{ socialPost(author: "bob", permlink: "b1") {
        |  __schema { x } } }""".stripMargin)
    assert(!nested.has("data"), nested.toString)
    assert(nested.path("errors").get(0).path("message").asText()
      .contains("""Cannot query field "__schema""""), nested.toString)
  }

  test("hydration depth cap: the level past MaxHydrationDepth " +
    "returns scalar columns, relational selections there serialize " +
    "as null — no error, no wrong-shaped nulls") {
    // a 5-deep reply chain: p0 <- p1 <- p2 <- p3 <- p4 <- p5, each
    // level one block apart so latest-wins ordering is stable
    val chain = toOps(spark,
      block(300, "2024-05-01T13:00:00",
        ("c0", Seq(("comment", comment("u0", "p0", "root")))),
        ("c1", Seq(("comment", comment("u1", "p1", "l1",
          parentAuthor = "u0", parentPermlink = "p0")))),
        ("c2", Seq(("comment", comment("u2", "p2", "l2",
          parentAuthor = "u1", parentPermlink = "p1")))),
        ("c3", Seq(("comment", comment("u3", "p3", "l3",
          parentAuthor = "u2", parentPermlink = "p2")))),
        ("c4", Seq(("comment", comment("u4", "p4", "l4",
          parentAuthor = "u3", parentPermlink = "p3")))),
        ("c5", Seq(("comment", comment("u5", "p5", "l5",
          parentAuthor = "u4", parentPermlink = "p4"))))))
    val deepApi = new GraftApi(spark,
      tables.copy(posts = graft.ingest.PostsIngest.ingest(chain)(spark)))
    val resp = deepApi.execute(
      """{ socialPost(author: "u0", permlink: "p0") {
        |  children { permlink children { permlink children {
        |    permlink children { permlink children { permlink }
        |  } } } } } }""".stripMargin)
    assert(!resp.has("errors"), resp.toString)
    // levels 1..4 hydrate: one child each, permlink served
    var node = resp.path("data").path("socialPost")
    (1 to 4).foreach { lvl =>
      val kids = node.path("children")
      assert(kids.isArray && kids.size() == 1,
        s"level $lvl: ${resp.toString.take(400)}")
      node = kids.get(0)
      assert(node.path("permlink").asText() == s"p$lvl", resp.toString)
    }
    // level 5 is past the cap: the level-4 object still carries its
    // SCALAR columns (permlink above), and the relational `children`
    // selection there serializes as JSON null — not an error, not an
    // empty-array lie (the data exists; a deeper level is one more
    // query, anchored at p4)
    assert(node.path("children").isNull, resp.toString)
    val anchored = deepApi.execute(
      """{ socialPost(author: "u4", permlink: "p4") {
        |  children { permlink } } }""".stripMargin)
    assert(anchored.path("data").path("socialPost").path("children")
      .get(0).path("permlink").asText() == "p5", anchored.toString)
  }

  test("ArgsJson compatibility: the reference argument object sent " +
    "as a variable reaches the same FeedArgs compiler") {
    val node = gql(
      """query F($fo: FeedOptions) {
        |  socialFeed(feedOptions: $fo) { items { permlink } }
        |}""".stripMargin,
      """{"fo": {"_or": {"byCreator": {"_eq": "bob"},
        |               "byTag": {"_eq": "spark"}}}}""".stripMargin)
    val perms = node.path("data").path("socialFeed").path("items")
      .elements().asScala.map(_.path("permlink").asText()).toSet
    // _or OBJECT form (schema.ts FeedOptinsOR) → branches: bob's post
    // OR spark-tagged posts
    assert(perms.contains("b1"))
  }
}
