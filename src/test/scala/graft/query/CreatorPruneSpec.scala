package graft.query

import graft.SparkSpec
import graft.ingest.{GraphIngest, OpExtract}
import graft.streaming.StreamIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.functions._

import scala.util.Try

/** Author-bucket pruning of the feeds ([[PostQueries.creatorPruned]])
  * over a store the streaming merge wrote (`created_month /
  * key_bucket = xxhash64(author) mod 8`): a pruned feed answers
  * exactly what the unpruned feed answers, and a byCreator page reads
  * only its authors' bucket dirs. */
class CreatorPruneSpec extends SparkSpec {
  import graft.ingest.Fixtures._
  import spark.implicits._

  private val n = 8
  private val authors = Seq("alice", "bob", "carol", "dave", "erin",
    "frank", "5")

  private lazy val (postsDir, stored, follows) = {
    def post(a: String, i: Int, month: Int) =
      (s"$a-$month-$i", Seq(("comment", comment(a, s"p$month$i",
        if (i == 1) s"spark note $i" else s"plain note $i",
        jsonMeta = s"""{"app":"3speak/0.3","tags":["video","t$i"]}"""))))
    val follow = (who: String, whom: String) =>
      (s"f-$who-$whom", Seq(("custom_json",
        s"""{"id":"follow","required_posting_auths":[${js(who)}],""" +
          s""""json":${js(s"""["follow",{"follower":"$who",""" +
            s""""following":"$whom","what":["blog"]}]""")}}""")))
    val blocks = Seq(
      block(100, "2024-04-10T12:00:00",
        authors.flatMap(a => (1 to 3).map(post(a, _, 4))): _*),
      block(200, "2024-05-10T12:00:00",
        (authors.flatMap(a => (1 to 3).map(post(a, _, 5))) ++ Seq(
          ("r1", Seq(("comment", comment("bob", "re1", "spark reply",
            parentAuthor = "alice", parentPermlink = "p41")))),
          follow("carol", "alice"), follow("carol", "bob"))): _*))
    val dir = java.nio.file.Files.createTempDirectory("graft-creator")
      .toString + "/posts"
    val df = spark.read.schema(graft.domain.Schemas.block)
      .json(blocks.toDS())
    StreamIngest.mergeBlocksBatch(spark, df, dir, keyBuckets = n)
    (dir, spark.read.parquet(dir), GraphIngest.follows(OpExtract.ops(df)))
  }

  private def eqC(v: Any) = Some(Where(eq = Some(v)))

  /** name → feed args; each is run pruned and unpruned */
  private val cases: Seq[(String, FeedArgs)] = Seq(
    "_eq" -> FeedArgs(byCreator = eqC("alice")),
    "_in" -> FeedArgs(byCreator = Some(Where(in = Some(Seq("alice",
      "dave", "alice"))))),
    "_eq with comments" -> FeedArgs(byCreator = eqC("bob"),
      includeComments = true),
    "_ne" -> FeedArgs(byCreator = Some(Where(ne = Some("alice")))),
    "_regex" -> FeedArgs(byCreator = Some(Where(regex = Some("^(a|b)")))),
    "_or under _eq" -> FeedArgs(byCreator = eqC("alice"),
      or = Seq(FeedArgs(byTag = eqC("t1")), FeedArgs(byCreator = eqC("bob")))),
    "byFollower with byCreator" -> FeedArgs(byFollower = Some("carol"),
      byCreator = eqC("dave")),
    "non-string _eq" -> FeedArgs(byCreator = eqC(5L)),
    "absent author" -> FeedArgs(byCreator = eqC("nobody")))

  private def rows(df: => DataFrame): Try[Seq[String]] =
    Try(df.toJSON.collect().toSeq)

  test("the store is the author-bucketed merge layout") {
    assert(graft.state.Layout.postsKeyBuckets(spark, postsDir).contains(n))
    val perAuthor = stored.groupBy("author")
      .agg(countDistinct("key_bucket").as("b")).as[(String, Long)]
      .collect().toMap
    assert(perAuthor.keySet == authors.toSet)
    assert(perAuthor.values.forall(_ == 1), perAuthor)
  }

  cases.foreach { case (name, a) =>
    test(s"pruned feeds answer as unpruned ones: byCreator $name") {
      def feeds(kb: Option[Int]) = Seq(
        rows(PostQueries.socialFeed(stored, follows, a, keyBuckets = kb)),
        rows(PostQueries.searchFeed(stored, follows, a, "spark",
          keyBuckets = kb)),
        rows(PostQueries.trendingFeed(stored, follows, a,
          keyBuckets = kb)),
        rows(PostQueries.relatedFeed(stored, follows, a, "alice", "p51",
          keyBuckets = kb)))
      val pruned = feeds(Some(n))
      val unpruned = feeds(None)
      pruned.zip(unpruned).zipWithIndex.foreach { case ((p, u), i) =>
        assert(p.toOption == u.toOption && p.isSuccess == u.isSuccess,
          s"feed $i: pruned $p vs unpruned $u")
      }
    }
  }

  test("the differential cases answer what they name") {
    def authorsOf(a: FeedArgs) = PostQueries.socialFeed(stored, follows,
      a, keyBuckets = Some(n)).select("author").distinct()
      .as[String].collect().toSet
    val named = cases.toMap
    assert(authorsOf(named("_eq")) == Set("alice"))
    assert(authorsOf(named("_in")) == Set("alice", "dave"))
    assert(authorsOf(named("_ne")) == authors.toSet - "alice")
    assert(authorsOf(named("byFollower with byCreator")) ==
      Set("alice", "bob"))
    assert(authorsOf(named("absent author")).isEmpty)
    assert(PostQueries.socialFeed(stored, follows, named("_or under _eq"),
      keyBuckets = Some(n)).select("permlink").as[String].collect()
      .toSet == Set("p41", "p51"))
  }

  /** (partition dirs, files) the posts scans of `df`'s executed plan
    * read, from the scans' own metrics */
  private def postsRead(df: DataFrame): (Long, Long) = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case x => Seq(x)
    }
    val scans = walk(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains(postsDir)) => f
    }
    assert(scans.nonEmpty)
    (scans.map(_.metrics("numPartitions").value).sum,
      scans.map(_.metrics("numFiles").value).sum)
  }

  test("a byCreator page reads only its authors' bucket dirs; _ne and " +
    "byFollower pages read them all") {
    val pairs = stored.select("created_month", "key_bucket").distinct()
      .as[(String, Int)].collect().toSeq
    def bucketOf(a: String) = stored.filter(col("author") === a)
      .select("key_bucket").as[Int].head()
    def dirsOf(as: String*) = {
      val bs = as.map(bucketOf).toSet
      pairs.count(p => bs(p._2)).toLong
    }
    def read(a: FeedArgs) = postsRead(
      PostQueries.socialFeed(stored, follows, a, keyBuckets = Some(n)))
    val all = pairs.size.toLong
    assert(dirsOf("alice", "dave") < all)
    val (eqDirs, eqFiles) = read(cases.toMap.apply("_eq"))
    assert(eqDirs == dirsOf("alice") && eqFiles >= eqDirs)
    assert(read(cases.toMap.apply("_in"))._1 == dirsOf("alice", "dave"))
    assert(read(cases.toMap.apply("_ne"))._1 == all)
    assert(read(cases.toMap.apply("byFollower with byCreator"))._1 == all)
    // a non-string value names no author: its comparison casts
    assert(PostQueries.creatorAuthors(cases.toMap.apply("non-string _eq"))
      .isEmpty)
    assert(PostQueries.creatorAuthors(FeedArgs(byCreator =
      Some(Where(in = Some(Seq("alice", 5L)))))).isEmpty)
    // the same page over a source without the marker is not pruned
    val (unDirs, unFiles) = postsRead(PostQueries.socialFeed(stored,
      follows, cases.toMap.apply("_eq")))
    assert(unDirs == all && unFiles > eqFiles)
  }
}
