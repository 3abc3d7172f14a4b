package graft.state

import graft.SparkSpec
import graft.streaming.StreamIngest

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The store's layout markers as `StreamIngest.mergeBlocksBatch` and
  * `Serve.tables` read them: a posts marker written under the old
  * `(author, permlink)` hash is refused, and the reply index's marker
  * is absent (served unindexed) or corrupt (refused), never guessed. */
class PostsMarkerSpec extends SparkSpec {
  import graft.ingest.Fixtures._
  import spark.implicits._

  private def blocks(height: Long, author: String) =
    spark.read.schema(graft.domain.Schemas.block).json(Seq(
      block(height, "2024-05-01T12:00:00",
        ("t" + height, Seq(("comment", comment(author, "p1", "body")))),
        ("r" + height, Seq(("comment", comment("bob", s"re$height",
          "reply", parentAuthor = author, parentPermlink = "p1")))))
    ).toDS())

  /** a store dir as Serve loads it: merged posts with their reply
    * index, one follow edge, one profile */
  private def store(): String = {
    val dir = Files.createTempDirectory("graft-markers").toString
    StreamIngest.mergeBlocksBatch(spark, blocks(100, "alice"),
      s"$dir/posts", keyBuckets = 4,
      replyIndexDir = Some(s"$dir/reply_index"))
    Seq(("carol", "alice")).toDF("follower", "following")
      .write.parquet(s"$dir/follows")
    Seq(("hive/alice", "alice")).toDF("_id", "username")
      .write.parquet(s"$dir/profiles")
    dir
  }

  private def marker(table: String) = Paths.get(s"$table/_graft_layout.json")

  /** replace a table's marker through Hadoop's file system, which
    * keeps the marker's checksum file in step */
  private def setMarker(table: String, text: Option[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$table/_graft_layout.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    text.foreach { t =>
      val out = fs.create(p, true)
      try out.write(t.getBytes("UTF-8")) finally out.close()
    }
  }

  /** every file under `dir` with its bytes' hash */
  private def files(dir: String): Map[String, Int] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map((f: Path) => f.toString ->
        java.util.Arrays.hashCode(Files.readAllBytes(f)))
      .toMap

  test("the merge writes the author-hash posts marker, and Serve.tables " +
    "reads it") {
    val dir = store()
    assert(Files.readString(marker(s"$dir/posts")) ==
      """{"key_buckets": 4, "key_hash": "author"}""")
    val t = graft.tools.Serve.tables(spark, dir)
    assert(t.keyBuckets.contains(4) && t.replyIndex.exists(_._2 == 4))
  }

  test("a posts table whose marker lacks the author hash is refused by " +
    "mergeBlocksBatch and by Serve.tables, with its path, and its " +
    "files are left as they were") {
    val dir = store()
    val posts = s"$dir/posts"
    setMarker(posts, Some("""{"key_buckets": 4}"""))
    val before = files(dir)
    val merge = intercept[IllegalStateException] {
      StreamIngest.mergeBlocksBatch(spark, blocks(101, "alice"), posts,
        keyBuckets = 4, replyIndexDir = Some(s"$dir/reply_index"))
    }
    assert(merge.getMessage.contains(posts) &&
      merge.getMessage.contains("key_hash"), merge.getMessage)
    val serve = intercept[IllegalStateException] {
      graft.tools.Serve.tables(spark, dir)
    }
    assert(serve.getMessage.contains(posts), serve.getMessage)
    assert(files(dir) == before)
  }

  test("a reply index without its marker is served unindexed") {
    val dir = store()
    setMarker(s"$dir/reply_index", None)
    val t = graft.tools.Serve.tables(spark, dir)
    assert(t.replyIndex.isEmpty && t.keyBuckets.contains(4))
  }

  test("a corrupt reply-index marker fails Serve.tables with its path") {
    val dir = store()
    setMarker(s"$dir/reply_index", Some("not json"))
    val e = intercept[IllegalStateException] {
      graft.tools.Serve.tables(spark, dir)
    }
    assert(e.getMessage.contains(s"$dir/reply_index"), e.getMessage)
  }
}
