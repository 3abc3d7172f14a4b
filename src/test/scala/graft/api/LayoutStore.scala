package graft.api

import graft.ingest.{GraphIngest, PostsIngest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A small ingest-built store in the layout the streaming merge writes:
  * posts under `created_month / key_bucket` (8 buckets, with the
  * `_graft_layout.json` marker), a reply index beside them, follows
  * and profiles — served as `Serve.tables` loads a store. alice/v1 has
  * four replies (r1 < r2 < r3 < r4 by time) and r1 one reply of its
  * own; carol/dup is two documents, one under alice/v2 and one under
  * bob/b1; every post lies in one month. Built once per JVM. */
object LayoutStore {
  import graft.ingest.Fixtures._

  /** usernames and scores of the stored profiles */
  val scores: Seq[(String, Double)] = Seq("alice" -> 30.0,
    "bob" -> 10.0, "carol" -> 10.0, "dave" -> 5.0, "erin" -> 0.0)

  private lazy val dir: String = write(graft.SparkSpec.session)

  def tables(spark: SparkSession): ApiTables =
    graft.tools.Serve.tables(spark, dir)

  private def write(spark: SparkSession): String = {
    import spark.implicits._
    val reply = (a: String, p: String, pa: String, pp: String) =>
      ("comment", comment(a, p, s"reply $p", parentAuthor = pa,
        parentPermlink = pp))
    val ops = toOps(spark,
      block(100, "2024-05-01T12:00:00",
        ("t1", Seq(("comment", comment("alice", "v1", "spark video one",
          jsonMeta = videoMeta)))),
        ("t2", Seq(("comment", comment("bob", "b1", "hello world")))),
        ("t3", Seq(("custom_json",
          s"""{"id":"follow","required_posting_auths":["carol"],""" +
            s""""json":${js("""["follow",{"follower":"carol","following":"alice","what":["blog"]}]""")}}""")))),
      block(101, "2024-05-01T12:00:03",
        ("t4", Seq(("comment", comment("alice", "v2", "spark video two",
          jsonMeta = videoMeta)))),
        ("t5", Seq(reply("dave", "r1", "alice", "v1")))),
      block(102, "2024-05-01T12:00:06",
        ("t6", Seq(reply("erin", "r2", "alice", "v1"))),
        ("t7", Seq(reply("erin", "rr1", "dave", "r1")))),
      block(103, "2024-05-01T12:00:09",
        ("t8", Seq(reply("bob", "r3", "alice", "v1"))),
        ("t9", Seq(reply("carol", "r4", "alice", "v1")))),
      block(104, "2024-05-01T12:00:12",
        ("t10", Seq(reply("carol", "dup", "alice", "v2"))),
        ("t11", Seq(reply("carol", "dup", "bob", "b1")))))
    val d = java.nio.file.Files.createTempDirectory("graft-layout-store")
      .toString
    PostsIngest.ingest(ops)(spark)
      .withColumn("created_month", date_format(col("created_at"), "yyyy-MM"))
      .withColumn("key_bucket", graft.state.Layout.authorBucket(
        col("author"), 8))
      .write.partitionBy("created_month", "key_bucket")
      .parquet(s"$d/posts")
    locally {
      val p = new org.apache.hadoop.fs.Path(s"$d/posts")
      graft.state.Layout.writePostsMarker(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, 8)
    }
    graft.state.Layout.writeReplyIndex(spark.read.parquet(s"$d/posts"),
      s"$d/reply_index", 8)
    GraphIngest.follows(ops).write.parquet(s"$d/follows")
    scores.map { case (u, s) => (s"hive/$u", u, s"$u name", s) }
      .toDF("_id", "username", "displayName", "score")
      .withColumn("about", lit(""))
      .withColumn("location", lit(null).cast("string"))
      .withColumn("website", lit(null).cast("string"))
      .withColumn("did", lit(null).cast("string"))
      .withColumn("images", struct(lit("av.png").as("avatar"),
        lit(null).cast("string").as("cover")))
      .withColumn("extra",
        struct(lit(null).cast("string").as("pinned_post")))
      .write.parquet(s"$d/profiles")
    d
  }
}
