package graft.query

import graft.SparkSpec
import graft.ingest.{Fixtures, GraphIngest, PostsIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PostQueriesSpec extends SparkSpec {
  import Fixtures._

  private lazy val (posts, follows) = {
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
          parentAuthor = "alice", parentPermlink = "v1"))))),
      block(102, "2024-05-04T12:00:04",
        ("t6", Seq(("comment", comment("eve", "e1", "late spark post",
          jsonMeta = """{"app":"3speak/1.1","tags":["video"]}"""))))))
    (PostsIngest.ingest(ops)(spark).cache(),
      GraphIngest.follows(ops).cache())
  }

  test("socialFeed: comments excluded by default (F4), newest first (Q8)") {
    val out = PostQueries.socialFeed(posts, follows, FeedArgs())
      .select("permlink").collect().map(_.getString(0)).toSeq
    assert(out == Seq("e1", "v2", "v1", "b1"))   // no r1 (comment flag)
    val withComments = PostQueries.socialFeed(posts, follows,
      FeedArgs(includeComments = true))
      .select("permlink").collect().map(_.getString(0)).toSeq
    assert(withComments.contains("r1"))
  }

  test("byCreator (F6) / byApp (F8) / byTag (F5) / spkvideoOnly (F2)") {
    def perms(a: FeedArgs) =
      PostQueries.socialFeed(posts, follows, a)
        .select("permlink").collect().map(_.getString(0)).toSet
    assert(perms(FeedArgs(byCreator = Some(Where(eq = Some("alice")))))
      == Set("v1", "v2"))
    assert(perms(FeedArgs(byApp = Some(Where(eq = Some("dBuzz")))))
      == Set("b1"))
    assert(perms(FeedArgs(byTag = Some(Where(eq = Some("video")))))
      == Set("v1", "v2", "e1"))
    assert(perms(FeedArgs(spkvideoOnly = true)) == Set("v1", "v2", "e1"))
  }

  test("_or combinator (F11)") {
    val out = PostQueries.socialFeed(posts, follows, FeedArgs(or = Seq(
      FeedArgs(byCreator = Some(Where(eq = Some("bob")))),
      FeedArgs(byCreator = Some(Where(eq = Some("eve")))))))
      .select("permlink").collect().map(_.getString(0)).toSet
    assert(out == Set("b1", "e1"))
  }

  test("byFollower semi join (F13/J1)") {
    val out = PostQueries.socialFeed(posts, follows,
      FeedArgs(byFollower = Some("carol")))
      .select("permlink").collect().map(_.getString(0)).toSet
    assert(out == Set("v1", "v2"))        // carol follows only alice
  }

  test("byFollower overwrites byCreator (last-wins query object)") {
    // TransformFeedArgs assigns query["author"] twice; the
    // byFollower $in replaces the byCreator predicate entirely
    // (resolvers/index.ts:88-90 vs :126-146)
    val out = PostQueries.socialFeed(posts, follows, FeedArgs(
      byCreator = Some(Where(eq = Some("bob"))),
      byFollower = Some("carol")))
      .select("permlink").collect().map(_.getString(0)).toSet
    assert(out == Set("v1", "v2"))   // carol follows alice, not bob
  }

  test("byFollower did: prefix routes to social_connections") {
    import spark.implicits._
    val sc = Seq(("did:key:z6MkQ", "alice")).toDF("follower", "following")
    val out = PostQueries.applyFollower(posts, follows,
      "did:key:z6MkQ", Some(sc))
      .select("permlink").collect().map(_.getString(0)).toSet
    assert(out == Set("v1", "v2"))
    // without social_connections, a did follower matches nothing
    assert(PostQueries.applyFollower(posts, follows,
      "did:key:z6MkQ").count() == 0)
  }

  test("trendingFeed: 3-day window from newest match (Q10)") {
    // newest post e1 at 05-04; v1/v2/b1 at 05-01 are > 3 days older
    val out = PostQueries.trendingFeed(posts, follows, FeedArgs())
      .select("permlink").collect().map(_.getString(0)).toSeq
    assert(out == Seq("e1"))
  }

  test("trending pagination: sort → skip → limit (Mongo order), not limit-then-skip") {
    import spark.implicits._
    // 10 rows with distinct metric values; page 2 of size 3 must be
    // ranks 4-6 WITH 3 rows, not limit-3-then-drop-3 (empty)
    val df = (1 to 10).map(i => (s"p$i", 11 - i)).toDF("id", "m")
      .withColumn("t", lit("2024-05-01").cast("timestamp"))
    val page2 = graft.query.Feeds.trending(df, lit(true), col("t"),
      expr("INTERVAL 3 DAYS"), Seq(col("m").desc), limit = 3, skip = 3)
      .select("id").collect().map(_.getString(0)).toSeq
    assert(page2 == Seq("p4", "p5", "p6"))
  }

  test("searchFeed: any-term match like Mongo \\$text (Q9)") {
    val out = PostQueries.searchFeed(posts, follows,
      FeedArgs(includeComments = true), "spark video")
      .select("permlink", "score").collect()
      .map(r => r.getString(0)).toSeq
    // e1 ("late spark post") matches on 'spark' alone — $text is OR
    assert(out.toSet == Set("v1", "v2", "e1"))
  }

  test("relatedFeed: tag overlap, anchor included, seeded (Q11)") {
    val out = PostQueries.relatedFeed(posts, follows, FeedArgs(),
      "alice", "v1", seed = 7L)
      .select("permlink").collect().map(_.getString(0)).toSet
    // tag overlap or same community; the reference does not exclude
    // the anchor post itself (resolvers/index.ts:279-296)
    assert(out == Set("v1", "v2", "e1", "b1"))
  }

  test("relatedFeed: missing anchor throws like the reference") {
    // resolvers/index.ts:276-278 — `Post not found`, not an empty feed
    val e = intercept[NoSuchElementException] {
      PostQueries.relatedFeed(posts, follows, FeedArgs(),
        "nobody", "missing")
    }
    assert(e.getMessage == "Post not found")
  }

  test("relatedFeed: null-tags anchor treated as no tags (no NPE)") {
    // posts tables not built by PostsIngest (ceramic CDC, fixtures)
    // can carry tags = null — the anchor lookup must not NPE
    val nulled = posts.withColumn("tags",
      when(col("permlink") === "b1", lit(null).cast("array<string>"))
        .otherwise(col("tags")))
    val out = PostQueries.relatedFeed(nulled, follows, FeedArgs(),
      "bob", "b1", seed = 7L)
      .select("permlink").collect().map(_.getString(0)).toSet
    // no tags to overlap; b1 is top-level, so only the same-community
    // branch matches (all top-level posts share the empty parent)
    assert(out == Set("v1", "v2", "b1", "e1"))
  }

  test("relatedSample: deterministic and layout-independent") {
    import graft.query.Feeds
    def sample(df: org.apache.spark.sql.DataFrame) =
      Feeds.relatedSample(df, lit(true), 3, 42L,
        Seq(col("author"), col("permlink")))
        .select("author", "permlink").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    val a = sample(posts)
    val b = sample(posts.repartition(7))   // rand(seed) would differ here
    val c = sample(posts.coalesce(1))
    assert(a == b && b == c && a.length == 3)
  }

  test("socialPost point lookup (Q1) and children (Q3)") {
    assert(PostQueries.socialPost(posts, "alice", "v1").count() == 1)
    val kids = PostQueries.children(posts, "alice", "v1")
      .select("permlink").collect().map(_.getString(0)).toSeq
    assert(kids == Seq("r1"))
  }

  test("withParent self-join hydration (Q2)") {
    val out = PostQueries.withParent(posts)
      .filter(col("permlink") === "r1")
      .select(col("parent_post.permlink")).collect()
    assert(out.head.getString(0) == "v1")
  }

  test("leaderBoard rank window (Q13) + followCounts (A9/Q12)") {
    import spark.implicits._
    val profiles = Seq(("a", 10.0), ("b", 30.0), ("c", 0.0), ("d", 30.0))
      .toDF("username", "score")
    val lb = PostQueries.leaderBoard(profiles, k = 4).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("username")))
    assert(lb.toSeq == Seq((1L, "b"), (2L, "d"), (3L, "a")))
    val fc = PostQueries.followCounts(follows, "carol").collect().head
    assert(fc.getAs[Long]("following_count") == 1)
    assert(fc.getAs[Long]("follower_count") == 0)
  }

  test("followEdges: both lists, ISO followed_at, hydrated (Q12)") {
    import spark.implicits._
    val profiles = Seq(("alice", "Alice"), ("carol", "Carol"))
      .toDF("username", "displayName")
      .withColumn("about", lit(null).cast("string"))
      .withColumn("images", struct(
        lit(null).cast("string").as("avatar"),
        lit(null).cast("string").as("cover")))
    val rows = PostQueries.followEdges(follows, profiles, "carol")
      .collect()
    assert(rows.map(_.getAs[String]("list")).toSeq == Seq("followings"))
    val e = rows.head
    assert(e.getAs[String]("followed_at")
      == "2024-05-01T12:00:00.000Z")
    assert(e.getAs[org.apache.spark.sql.Row]("follower_profile")
      .getAs[String]("displayName") == "Carol")
    assert(e.getAs[org.apache.spark.sql.Row]("following_profile")
      .getAs[String]("displayName") == "Alice")
    // the followed account's view: same edge lands in `followers`
    val back = PostQueries.followEdges(follows, profiles, "alice")
      .collect()
    assert(back.map(_.getAs[String]("list")).toSeq == Seq("followers"))
  }

  test("trendingTags 14-day window (A1)") {
    val tags = PostQueries.trendingTags(posts,
      to_timestamp(lit("2024-05-05 00:00:00")), k = 3)
      .collect().map(r => (r.getAs[String]("tag"), r.getAs[Long]("score")))
    assert(tags.head == ("video", 4L))    // v1 v2 e1 + reply r1
  }
}
