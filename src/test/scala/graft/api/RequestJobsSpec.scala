package graft.api

import com.fasterxml.jackson.databind.JsonNode
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll

import scala.jdk.CollectionConverters._

/** The Spark work one GraphQL request costs over a graft-layout store
  * with a reply index ([[LayoutStore]]): the jobs each
  * `GraftApi.execute` launches, counted per job group by a
  * SparkListener, and that no request leaves a persisted RDD behind. */
class RequestJobsSpec extends SparkSpec with BeforeAndAfterAll {
  private lazy val api = new GraftApi(spark, LayoutStore.tables(spark))

  /** Jobs started per job group. */
  private object Jobs extends SparkListener {
    private val byGroup =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).foreach(g =>
        byGroup.merge(g, 1, (a: Integer, b: Integer) => a + b))
    def apply(group: String): Int = byGroup.getOrDefault(group, 0)
  }
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(Jobs)
  }
  override def afterAll(): Unit =
    try spark.sparkContext.removeSparkListener(Jobs)
    finally super.afterAll()
  private val groups = new java.util.concurrent.atomic.AtomicInteger()

  private def inGroup[A](body: => A): (A, String) = {
    val g = s"request-jobs-${groups.incrementAndGet()}"
    spark.sparkContext.setJobGroup(g, g)
    try (body, g) finally spark.sparkContext.clearJobGroup()
  }

  /** The request's `data` and the number of jobs it launched. A fence
    * job follows the request: the listener bus delivers events in
    * order, so once the fence's start has arrived, so have the
    * request's. */
  private def run(query: String): (JsonNode, Int) = {
    val served = api // loading the store runs jobs of its own
    val (node, g) = inGroup(served.execute(query))
    val (_, fence) =
      inGroup(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (Jobs(fence) == 0 && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(Jobs(fence) == 1, "the fence job's start never arrived")
    assert(!node.has("errors"), node.toString)
    (node.path("data"), Jobs(g))
  }

  private def texts(arr: JsonNode, field: String): Seq[String] =
    arr.elements().asScala.map(_.path(field).asText()).toSeq

  test("point reads launch exactly one job: socialPost and profile") {
    val (post, postJobs) = run(
      """{ socialPost(author: "dave", permlink: "r1") {
        |  author permlink body } }""".stripMargin)
    assert(post.path("socialPost").path("body").asText() == "reply r1")
    assert(postJobs == 1, s"socialPost launched $postJobs jobs")
    val (prof, profJobs) = run(
      """{ profile(id: "bob") { username name } }""")
    assert(prof.path("profile").path("name").asText() == "bob name")
    assert(profJobs == 1, s"profile launched $profJobs jobs")
    // a miss is null, hydrated or not (an empty page ranks no keys)
    val (miss, _) = run(
      """{ socialPost(author: "nobody", permlink: "x") { permlink } }""")
    assert(miss.path("socialPost").isNull)
    val (hydratedMiss, _) = run(
      """{ socialPost(author: "nobody", permlink: "x") {
        |  children { permlink } parent_post { permlink } } }"""
        .stripMargin)
    assert(hydratedMiss.path("socialPost").isNull)
  }

  test("a key shared by two documents under different parents: the " +
    "point read is still one job and answers one of them") {
    val (post, jobs) = run(
      """{ socialPost(author: "carol", permlink: "dup") {
        |  author permlink body } }""".stripMargin)
    assert(post.path("socialPost").path("body").asText() == "reply dup")
    assert(jobs == 1, s"socialPost launched $jobs jobs")
    val (hydrated, _) = run(
      """{ socialPost(author: "carol", permlink: "dup") { permlink
        |  parent_post { permlink } children { permlink } } }"""
        .stripMargin)
    val p = hydrated.path("socialPost")
    assert(p.path("permlink").asText() == "dup")
    assert(Set("v2", "b1")(p.path("parent_post").path("permlink").asText()))
    assert(p.path("children").isArray && p.path("children").size() == 0)
    val (miss, _) = run(
      """{ socialPost(author: "carol", permlink: "nodup") {
        |  permlink parent_post { permlink } } }""".stripMargin)
    assert(miss.path("socialPost").isNull)
  }

  test("socialPost { children } through the reply index: the page and " +
    "the ranked child keys are each collected once") {
    val (data, jobs) = run(
      """{ socialPost(author: "alice", permlink: "v1") { permlink
        |  children(limit: 3) { author permlink } } }""".stripMargin)
    val kids = data.path("socialPost").path("children")
    assert(texts(kids, "permlink") == Seq("r1", "r2", "r3"))
    assert(texts(kids, "author") == Seq("dave", "erin", "bob"))
    // the persisted-page form launched 13 here: the page persist, a
    // distinct reply-bucket discovery, a distinct child key-bucket
    // discovery, and the final plan re-running the index window
    assert(jobs < 13, s"socialPost { children } launched $jobs jobs")
    info(s"socialPost { children }: $jobs jobs")
  }

  test("author and parent hydration answer from the collected page") {
    val (feed, feedJobs) = run(
      """{ socialFeed(feedOptions: {byCreator: {_eq: "alice"}},
        |  pagination: {limit: 5}) { items { permlink
        |  author { username profile { name } } } } }""".stripMargin)
    val items = feed.path("socialFeed").path("items")
    assert(texts(items, "permlink") == Seq("v2", "v1"))
    assert(items.elements().asScala.forall(i =>
      i.path("author").path("profile").path("name").asText() ==
        "alice name"))
    info(s"socialFeed { items { author { profile } } }: $feedJobs jobs")
    val (deep, _) = run(
      """{ socialPost(author: "erin", permlink: "rr1") { permlink
        |  parent_post { permlink author { username }
        |    parent_post { permlink } }
        |  children { permlink } } }""".stripMargin)
    val p = deep.path("socialPost")
    assert(p.path("parent_post").path("permlink").asText() == "r1")
    assert(p.path("parent_post").path("author").path("username")
      .asText() == "dave")
    assert(p.path("parent_post").path("parent_post").path("permlink")
      .asText() == "v1")
    assert(p.path("children").isArray && p.path("children").size() == 0)
  }

  test("no request leaves a persisted RDD behind, leaderBoard included; " +
    "leaderBoard's items, ranks and total are the full ranking's") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (lb, _) = run(
      """{ leaderBoard { total_active_creators
        |  items { rank username score author_profile { username } } } }"""
        .stripMargin)
    Seq(
      """{ socialPost(author: "alice", permlink: "v1") {
        |  permlink children(limit: 2) { permlink
        |    author { profile { name } } children { permlink } } } }""",
      """{ socialFeed(pagination: {limit: 3}) { items { permlink
        |  parent_post { permlink } author { username } } } }""",
      """{ relatedFeed(author: "alice", permlink: "v1") {
        |  items { permlink } } }""",
      """{ trendingFeed { items { permlink } } }""",
      """{ follows(id: "alice") { followers { follower }
        |  followers_count } }""",
      """{ profile(id: "alice") { name } }""")
      .foreach(q => run(q.stripMargin))
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"requests left persisted RDDs $left")
    val board = lb.path("leaderBoard")
    val ranked = LayoutStore.scores.filter(_._2 > 0)
      .sortBy { case (u, s) => (-s, u) }
    assert(board.path("total_active_creators").asLong() == ranked.size)
    val items = board.path("items").elements().asScala.toSeq
    assert(items.map(_.path("rank").asLong()) == (1L to ranked.size))
    assert(items.map(_.path("username").asText()) == ranked.map(_._1))
    assert(items.map(_.path("score").asDouble()) == ranked.map(_._2))
    assert(items.map(_.path("author_profile").path("username").asText())
      == ranked.map(_._1))
  }
}
