package graft.tools

import graft.ingest.{GraphIngest, OpExtract, PostsIngest}
import graft.query.{FeedArgs, PostQueries, Where}
import org.apache.spark.sql.SparkSession

/** End-to-end drive of the domain pipeline through the public API:
  * raw Hive-shaped blocks → ops → posts/follows → feed queries.
  * Run: sbt "runMain graft.tools.DomainDemo" */
object DomainDemo {
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = graft.Session.build()
    import spark.implicits._

    val blocks = Seq(
      """{"block_id":"00000064ffff","timestamp":"2024-05-01T12:00:00","transactions":[
        {"transaction_id":"t1","operations":[
          {"name":"comment","payload":"{\"parent_author\":\"\",\"parent_permlink\":\"hive-181335\",\"author\":\"alice\",\"permlink\":\"my-video\",\"title\":\"My Video\",\"body\":\"hello spark world\",\"json_metadata\":\"{\\\"app\\\":\\\"3speak/0.3\\\",\\\"tags\\\":[\\\"video\\\"],\\\"video\\\":{\\\"info\\\":{\\\"duration\\\":90,\\\"sourceMap\\\":[{\\\"type\\\":\\\"video\\\",\\\"url\\\":\\\"ipfs://QmX/m.m3u8\\\"}]}}}\"}"}]},
        {"transaction_id":"t2","operations":[
          {"name":"custom_json","payload":"{\"id\":\"follow\",\"required_posting_auths\":[\"bob\"],\"json\":\"[\\\"follow\\\",{\\\"follower\\\":\\\"bob\\\",\\\"following\\\":\\\"alice\\\",\\\"what\\\":[\\\"blog\\\"]}]\"}"}]}]}"""
        .replaceAll("\n\\s*", ""),
      """{"block_id":"00000065ffff","timestamp":"2024-05-01T12:00:03","transactions":[
        {"transaction_id":"t3","operations":[
          {"name":"comment","payload":"{\"parent_author\":\"alice\",\"parent_permlink\":\"my-video\",\"author\":\"bob\",\"permlink\":\"re-1\",\"title\":\"\",\"body\":\"great one @alice\",\"json_metadata\":\"{\\\"app\\\":\\\"3speak/0.3\\\"}\"}"}]}]}"""
        .replaceAll("\n\\s*", ""))

    val ops = OpExtract.ops(spark.read
      .schema(graft.domain.Schemas.block).json(blocks.toDS()))
    val posts = PostsIngest.ingest(ops)
    val follows = GraphIngest.follows(ops)

    println("== posts ==")
    posts.select("author", "permlink", "status", "flags",
      "app_metadata.app", "origin_control.allowed_by_parent").show(false)
    println("== follows ==")
    follows.show(false)
    println("== socialFeed byFollower=bob ==")
    PostQueries.socialFeed(posts, follows,
      FeedArgs(byFollower = Some("bob")))
      .select("author", "permlink", "title").show(false)
    println("== children of alice/my-video ==")
    PostQueries.children(posts, "alice", "my-video")
      .select("author", "permlink", "body").show(false)
    println("== mention notifications ==")
    graft.enrich.Enrich.mentionNotifications(posts).show(false)
    spark.stop()
  }
}
