package graft.streaming

import graft.SparkSpec
import graft.ingest.Fixtures
import graft.query.{FeedArgs, PostQueries}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamIngestSpec extends SparkSpec {
  import Fixtures._

  test("file-stream ingest: micro-batches merge into posts with checkpoint") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val inDir = s"$dir/blocks"
    val postsDir = s"$dir/posts"
    val ckDir = s"$dir/ck"
    new java.io.File(inDir).mkdirs()

    // batch 1: insert
    Files.writeString(java.nio.file.Paths.get(s"$inDir/b1.json"),
      block(100, "2024-05-01T12:00:00",
        ("t1", Seq(("comment", comment("alice", "p1", "v1 body"))))))
    val q1 = StreamIngest.run(spark, inDir, postsDir, ckDir,
      Trigger.AvailableNow())
    q1.awaitTermination()
    val after1 = spark.read.parquet(postsDir)
    assert(after1.count() == 1)
    assert(after1.head().getAs[String]("body") == "v1 body")

    // batch 2: edit (replace) + a second author — resumes from checkpoint
    Files.writeString(java.nio.file.Paths.get(s"$inDir/b2.json"),
      block(101, "2024-05-01T12:00:03",
        ("t2", Seq(("comment", comment("alice", "p1", "v2 body")))),
        ("t3", Seq(("comment", comment("bob", "p2", "other"))))))
    val q2 = StreamIngest.run(spark, inDir, postsDir, ckDir,
      Trigger.AvailableNow())
    q2.awaitTermination()
    val after2 = spark.read.parquet(postsDir)
    assert(after2.count() == 2)
    val byKey = after2.collect().map(r =>
      r.getAs[String]("permlink") -> r).toMap
    assert(byKey("p1").getAs[String]("body") == "v2 body")
    assert(byKey("p1").getAs[org.apache.spark.sql.Row]("state_control")
      .getAs[Long]("block_height") == 101)

    // replaying batch 1's file only (fresh checkpoint) must not
    // regress p1 — latest-wins guard (state_control monotonicity)
    StreamIngest.mergeBlocksBatch(spark,
      spark.read.schema(graft.domain.Schemas.block)
        .json(s"$inDir/b1.json"), postsDir)
    val after3 = spark.read.parquet(postsDir)
    assert(after3.filter(col("permlink") === "p1").head()
      .getAs[String]("body") == "v2 body")
  }

  test("reply index maintained alongside the merge: split batches == " +
    "single batch == full rebuild; replay idempotent; serves " +
    "childrenForIndexed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-replymaint").toString
    val postsDir = s"$dir/posts"
    val idxDir = s"$dir/reply_index"
    def blocksDf(s: String) = spark.read
      .schema(graft.domain.Schemas.block)
      .json(spark.createDataset(Seq(s))(
        org.apache.spark.sql.Encoders.STRING))
    val b1 = block(100, "2024-05-01T12:00:00",
      ("t1", Seq(("comment", comment("alice", "p1", "root")))),
      ("t2", Seq(("comment", comment("bob", "r1", "re one",
        parentAuthor = "alice", parentPermlink = "p1")))))
    val b2 = block(101, "2024-05-01T12:00:03",
      ("t3", Seq(("comment", comment("carol", "r2", "re two",
        parentAuthor = "alice", parentPermlink = "p1")))),
      ("t4", Seq(("comment", comment("dave", "rr1", "re reply",
        parentAuthor = "bob", parentPermlink = "r1")))))
    StreamIngest.mergeBlocksBatch(spark, blocksDf(b1), postsDir,
      keyBuckets = 4, replyIndexDir = Some(idxDir))
    StreamIngest.mergeBlocksBatch(spark, blocksDf(b2), postsDir,
      keyBuckets = 4, replyIndexDir = Some(idxDir))
    // created_at included: it is the column children rank on — the
    // maintained and rebuilt forms must agree on it, not just on keys
    def rowsOf(d: String) = spark.read.parquet(d)
      .select("parent_author", "parent_permlink", "author",
        "permlink", "created_at", "reply_bucket")
      .collect().map(_.toSeq).toSet
    val maintained = rowsOf(idxDir)
    assert(maintained.size == 3)   // r1, r2, rr1
    // == a from-scratch rebuild of the merged store
    graft.state.Layout.writeReplyIndex(
      spark.read.parquet(postsDir), s"$dir/rebuilt", 4)
    assert(maintained == rowsOf(s"$dir/rebuilt"))
    // replaying batch 1 changes nothing (latest-wins + immutable rows)
    StreamIngest.mergeBlocksBatch(spark, blocksDf(b1), postsDir,
      keyBuckets = 4, replyIndexDir = Some(idxDir))
    assert(rowsOf(idxDir) == maintained)
    // the maintained index serves the indexed children path with the
    // same answers as the scan path
    val stored = spark.read.parquet(postsDir)
    val page = stored.filter(col("permlink") === "p1")
    val idx = spark.read.parquet(idxDir)
    val viaIdx = graft.query.PostQueries.childrenForIndexed(
      page, stored, idx, 4, limit = 10)
      .select(org.apache.spark.sql.functions.transform(col("children"),
        k => k.getField("permlink")).as("ks"))
      .as[Seq[String]].collect().head
    assert(viaIdx == Seq("r1", "r2"))
    // marker pins the index modulus
    assert(graft.state.Layout.replyIndexBuckets(spark, idxDir)
      .contains(4))
    // enabling the index against a PRE-EXISTING store bootstraps the
    // full history (an incremental create would miss every reply
    // merged before the flag was turned on)
    val late = s"$dir/late_index"
    StreamIngest.mergeBlocksBatch(spark,
      blocksDf(block(102, "2024-05-01T12:00:06",
        ("t5", Seq(("comment", comment("erin", "r3", "re three",
          parentAuthor = "alice", parentPermlink = "p1")))))),
      postsDir, keyBuckets = 4, replyIndexDir = Some(late))
    assert(rowsOf(late).map(_.take(4)) ==
      rowsOf(idxDir).map(_.take(4)) +
        Seq("alice", "p1", "erin", "r3"))
  }

  test("a merge into an existing table reads its blocks once, and the " +
    "touched posts and reply-index buckets once each") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-readonce").toString
    val postsDir = s"$dir/posts"
    val idxDir = s"$dir/reply_index"
    val n = 8
    val roots = (1 to 12).map(i =>
      (s"t$i", Seq(("comment", comment(s"author$i", s"p$i", s"root $i")))))
    val replies = (1 to 4).map(i =>
      (s"r$i", Seq(("comment", comment(s"replier$i", s"re$i", s"re $i",
        parentAuthor = s"author$i", parentPermlink = s"p$i")))))
    StreamIngest.mergeBlocksBatch(spark,
      spark.read.schema(graft.domain.Schemas.block).json(
        Seq(block(100, "2024-05-01T12:00:00", roots ++ replies: _*)).toDS()),
      postsDir, keyBuckets = n, replyIndexDir = Some(idxDir))

    // the next batch arrives as three block files: edits of a root and
    // a reply, new replies to stored posts, and a new root post
    val inDir = new java.io.File(s"$dir/blocks")
    inDir.mkdirs()
    val batch = Seq(
      block(101, "2024-05-01T12:00:03",
        ("e1", Seq(("comment", comment("author2", "p2", "root 2 v2")))),
        ("e2", Seq(("comment", comment("replier1", "re1", "re 1 v2",
          parentAuthor = "author1", parentPermlink = "p1"))))),
      block(102, "2024-05-01T12:00:06",
        ("n1", Seq(("comment", comment("replier5", "re5", "re 5",
          parentAuthor = "author5", parentPermlink = "p5"))))),
      block(103, "2024-05-01T12:00:09",
        ("n2", Seq(("comment", comment("newbie", "q1", "new root")))),
        ("n3", Seq(("comment", comment("replier6", "re6", "re 6",
          parentAuthor = "author1", parentPermlink = "p1"))))))
    batch.zipWithIndex.foreach { case (b, i) =>
      Files.writeString(java.nio.file.Paths.get(s"$inDir/b$i.json"), b) }
    val keys = Seq(("author2", "p2"), ("replier1", "re1"),
      ("replier5", "re5"), ("newbie", "q1"), ("replier6", "re6"))
    val parents = Seq(("author1", "p1"), ("author5", "p5"))
    def bucketsOf(ks: Seq[(String, String)], b: (String, String) =>
        org.apache.spark.sql.Column) = ks.toDF("a", "p")
      .select(b("a", "p")).distinct().as[Int].collect().toSeq
    val postBuckets = bucketsOf(keys ++ parents, (a, _) =>
      graft.state.Layout.authorBucket(col(a), n))
    val replyBuckets = bucketsOf(parents, (a, p) =>
      graft.state.Layout.keyBucket(col(a), col(p), n))
    val touchedPosts = spark.read.parquet(postsDir)
      .filter(col("key_bucket").isin(postBuckets: _*)).count()
    val touchedIndex = spark.read.parquet(idxDir)
      .filter(col("reply_bucket").isin(replyBuckets: _*)).count()
    assert(touchedPosts > keys.size && touchedIndex > 0)

    val scans = new ScanRows(Map("blocks" -> inDir.toString,
      "posts" -> postsDir, "index" -> idxDir))
    val descriptions =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // a parquet schema-inference job: a parquet read's own job, run
    // outside any SQL execution; recorded by its phase
    val inference =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = String.valueOf(
          e.properties.getProperty("spark.job.description"))
        descriptions.add(d)
        if (e.properties.getProperty("spark.sql.execution.id") == null &&
            e.stageInfos.exists(_.name.startsWith("parquet at")))
          inference.add(d)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(scans)
    sc.addSparkListener(jobs)
    sc.setJobDescription("caller")
    try {
      StreamIngest.mergeBlocksBatch(spark,
        spark.read.schema(graft.domain.Schemas.block).json(inDir.toString),
        postsDir, keyBuckets = n, replyIndexDir = Some(idxDir))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      scans.drain(spark)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(scans)
      sc.removeSparkListener(jobs)
    }
    assert(scans("blocks") == batch.size, scans.toString)
    assert(scans("posts") == touchedPosts, scans.toString)
    assert(scans("index") == touchedIndex, scans.toString)
    // every merge job names its phase (the last job is the fence)
    import scala.jdk.CollectionConverters._
    assert(descriptions.asScala.toSeq.dropRight(1).distinct ==
      Seq("bucket discovery", "gate", "fold", "posts write",
        "reply index").map(p => s"mergeBlocksBatch: $p"))
    // one schema inference per stored table read: the posts leaves in
    // bucket discovery, the reply-index leaves in its own phase
    assert(inference.asScala.toSeq == Seq("bucket discovery",
      "reply index").map(p => s"mergeBlocksBatch: $p"),
      inference.asScala.mkString("; "))

    val after = spark.read.parquet(postsDir)
    assert(after.count() == roots.size + replies.size + 3)
    assert(after.filter(col("permlink") === "p2").head()
      .getAs[String]("body") == "root 2 v2")
    assert(spark.read.parquet(idxDir).count() == replies.size + 2)
  }

  test("reply-less bootstrap records the empty generation: later " +
    "batches take the incremental path and never force the " +
    "bootstrap thunk") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-emptyboot").toString
    val postsDir = s"$dir/posts"
    val idxDir = s"$dir/reply_index"
    def blocksDf(s: String) = spark.read
      .schema(graft.domain.Schemas.block)
      .json(spark.createDataset(Seq(s))(
        org.apache.spark.sql.Encoders.STRING))
    // batch 1 creates the store (top-level posts only, no index yet)
    StreamIngest.mergeBlocksBatch(spark,
      blocksDf(block(100, "2024-05-01T12:00:00",
        ("t1", Seq(("comment", comment("alice", "p1", "root")))))),
      postsDir, keyBuckets = 4)
    // batch 2 enables the index against the PRE-EXISTING store: the
    // bootstrap scans it, finds no replies, and must record the
    // completed EMPTY generation — without the sentinel, every later
    // batch re-runs the full-store bootstrap until a reply arrives
    StreamIngest.mergeBlocksBatch(spark,
      blocksDf(block(101, "2024-05-01T12:00:03",
        ("t2", Seq(("comment", comment("bob", "p2", "also root")))))),
      postsDir, keyBuckets = 4, replyIndexDir = Some(idxDir))
    val p = new org.apache.hadoop.fs.Path(idxDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.state.Layout.hasEmptyIndexMarker(fs, p))
    assert(!graft.state.Layout.hasDataFiles(fs, p))
    assert(graft.state.Layout.replyIndexBuckets(spark, idxDir)
      .contains(4))
    // the first reply takes the incremental-create path: the bootstrap
    // thunk must never be forced (poisoned thunk throws if it is)
    def reply(a: String, pl: String) =
      Seq(("alice", "p1", a, pl,
        java.sql.Timestamp.valueOf("2024-05-01 12:00:06")))
        .toDF("parent_author", "parent_permlink", "author", "permlink",
          "created_at")
    val poisoned = Some(() => sys.error(
      "bootstrap must not re-run after the empty-success sentinel")
      : org.apache.spark.sql.DataFrame)
    StreamIngest.refreshReplyIndex(spark, reply("carol", "r1"), idxDir,
      keyBuckets = 4, bootstrapFrom = poisoned)
    def rows() = spark.read.parquet(idxDir)
      .select("parent_author", "permlink", "reply_bucket")
      .collect().map(_.toSeq).toSet
    assert(rows().map(_(1)) == Set("r1"))
    // with data present the normal incremental path also leaves the
    // thunk unforced, and the modulus stays the marker's
    StreamIngest.refreshReplyIndex(spark, reply("dave", "r2"), idxDir,
      keyBuckets = 8 /* ignored: marker wins */,
      bootstrapFrom = poisoned)
    assert(rows().map(_(1)) == Set("r1", "r2"))
    val expectedBucket = spark.range(1).select(
      graft.state.Layout.keyBucket(lit("alice"), lit("p1"), 4))
      .collect().head.getInt(0)
    assert(rows().map(_(2)) == Set(expectedBucket))
  }

  test("two documents sharing (author, permlink) under different " +
    "parents BOTH survive the merge (4-tuple identity)") {
    import spark.implicits._
    def blocksDf(s: String) = spark.read
      .schema(graft.domain.Schemas.block).json(Seq(s).toDS())
    val dir = Files.createTempDirectory("graft-4tuple").toString
    val postsDir = s"$dir/posts"
    // same author+permlink: one top-level post, one reply — the
    // reference's already-exists lookup matches all four key fields
    // (hive-stream.ts:530-535), so these are distinct documents
    StreamIngest.mergeBlocksBatch(spark,
      blocksDf(
        block(200, "2024-06-01T10:00:00",
          ("t1", Seq(("comment", comment("carol", "px", "top-level")))),
          ("t2", Seq(("comment", comment("carol", "px", "the reply",
            parentAuthor = "alice", parentPermlink = "p1")))))),
      postsDir)
    val rows = spark.read.parquet(postsDir)
      .filter(col("author") === "carol" && col("permlink") === "px")
      .collect()
    assert(rows.length == 2, rows.mkString("; "))
    assert(rows.map(_.getAs[String]("body")).toSet ==
      Set("top-level", "the reply"))
    // and a second batch editing ONE of them touches only that one
    StreamIngest.mergeBlocksBatch(spark,
      blocksDf(
        block(201, "2024-06-01T10:00:03",
          ("t3", Seq(("comment", comment("carol", "px", "reply v2",
            parentAuthor = "alice", parentPermlink = "p1")))))),
      postsDir)
    val rows2 = spark.read.parquet(postsDir)
      .filter(col("author") === "carol" && col("permlink") === "px")
      .collect()
    assert(rows2.length == 2)
    assert(rows2.map(_.getAs[String]("body")).toSet ==
      Set("top-level", "reply v2"))
  }

  test("cross-batch edit: dmp applies to STORED body; insert facts kept") {
    val dir = Files.createTempDirectory("graft-xbatch").toString
    val postsDir = s"$dir/posts"
    import spark.implicits._
    def mergeBlock(json: String): Unit =
      StreamIngest.mergeBlocksBatch(spark,
        spark.read.schema(graft.domain.Schemas.block)
          .json(Seq(json).toDS()),
        postsDir)

    val v1 = "The quick brown fox jumps over the lazy dog"
    val v2 = "The quick red fox jumps over the lazy dog"
    val patch = graft.functions.Dmp.patchToText(
      graft.functions.Dmp.patchMake(v1, v2))

    // batch 1: insert (3speak video meta → spkvideo + ipfs_links)
    mergeBlock(block(100, "2024-05-01T12:00:00",
      ("t1", Seq(("comment",
        comment("alice", "p1", v1, jsonMeta = videoMeta))))))
    // batch 2: the edit arrives ALONE — must patch the stored body,
    // and must NOT recompute insert-time facts from the edit's meta
    mergeBlock(block(101, "2024-05-01T12:00:03",
      ("t2", Seq(("comment", comment("alice", "p1", patch,
        jsonMeta = """{"app":"3speak/9.9","tags":["edited"]}"""))))))

    val p = spark.read.parquet(postsDir).collect().head
    assert(p.getAs[String]("body") == v2)           // patched, not verbatim
    assert(p.getAs[String]("status") == "published")
    assert(p.getAs[java.sql.Timestamp]("created_at").toString
      .startsWith("2024-05-01 12:00:00"))           // insert-time, kept
    assert(p.getAs[java.sql.Timestamp]("updated_at").toString
      .startsWith("2024-05-01 12:00:03"))           // edit-time
    assert(p.getAs[org.apache.spark.sql.Row]("state_control")
      .getAs[Long]("block_height") == 101)
    val app = p.getAs[org.apache.spark.sql.Row]("app_metadata")
    // spkvideo/ipfs_links derive from the INSERT metadata only
    // (edit $set never recomputes them, hive-stream.ts:563-577)
    assert(app.getAs[org.apache.spark.sql.Row]("spkvideo")
      .getAs[String]("storage_type") == "ipfs")
    assert(p.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "ipfs_links").map(_.getAs[String]("cid")) == Seq("QmVid123", "QmThumb9"))
    // stored metadata tracks the LAST write
    assert(p.getAs[String]("json_metadata_raw").contains("edited"))

    // batch 3: deleted-flag edit (non-patch body ⇒ replace)
    mergeBlock(block(102, "2024-05-01T12:00:06",
      ("t3", Seq(("comment", comment("alice", "p1", "gone",
        jsonMeta = """{"app":"3speak/9.9","flags":["deleted"]}"""))))))
    val p3 = spark.read.parquet(postsDir).collect().head
    assert(p3.getAs[String]("status") == "deleted")
    assert(p3.getAs[String]("body") == "gone")

    // batch 4: stale replay of the ORIGINAL insert — strict monotonic
    // guard: must not regress body/status/metadata
    mergeBlock(block(100, "2024-05-01T12:00:00",
      ("t1", Seq(("comment",
        comment("alice", "p1", v1, jsonMeta = videoMeta))))))
    val p4 = spark.read.parquet(postsDir).collect().head
    assert(p4.getAs[String]("status") == "deleted")
    assert(p4.getAs[String]("body") == "gone")
    assert(p4.getAs[org.apache.spark.sql.Row]("state_control")
      .getAs[Long]("block_height") == 102)
  }

  test("merge is partition-scoped: untouched months' files stay on disk") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-partmerge").toString
    val postsDir = s"$dir/posts"
    def mergeBlock(json: String): Unit =
      StreamIngest.mergeBlocksBatch(spark,
        spark.read.schema(graft.domain.Schemas.block)
          .json(Seq(json).toDS()),
        postsDir)
    def partFiles(month: String): Map[String, Long] = {
      // walk the month dir recursively — files live under
      // key_bucket=N sub-partitions
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$postsDir/created_month=$month"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getParentFile.getName + "/" + f.getName ->
          f.lastModified()).toMap
    }

    // two posts in different months
    mergeBlock(block(100, "2024-04-15T00:00:00",
      ("t1", Seq(("comment", comment("april", "pa", "april body"))))))
    mergeBlock(block(200, "2024-05-15T00:00:00",
      ("t2", Seq(("comment", comment("may", "pm", "may body"))))))
    val aprilBefore = partFiles("2024-04")
    assert(aprilBefore.nonEmpty && partFiles("2024-05").nonEmpty)

    // a batch editing only the MAY post must not rewrite April's files
    mergeBlock(block(201, "2024-05-15T00:01:00",
      ("t3", Seq(("comment", comment("may", "pm", "may body v2"))))))
    assert(partFiles("2024-04") == aprilBefore)   // byte-level untouched
    val table = spark.read.parquet(postsDir)
    assert(table.count() == 2)
    val byKey = table.collect()
      .map(r => r.getAs[String]("permlink") -> r).toMap
    assert(byKey("pm").getAs[String]("body") == "may body v2")
    // the edited post keeps its insert-month partition (created_at
    // restored from the stored row — no month migration)
    assert(byKey("pm").getAs[String]("created_month") == "2024-05")
    assert(byKey("pa").getAs[String]("body") == "april body")
  }

  test("fully-gated-out batch is a no-op merge: stored table untouched") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-noop").toString
    val postsDir = s"$dir/posts"
    def mergeBlock(json: String): Unit =
      StreamIngest.mergeBlocksBatch(spark,
        spark.read.schema(graft.domain.Schemas.block)
          .json(Seq(json).toDS()),
        postsDir)
    mergeBlock(block(100, "2024-05-01T12:00:00",
      ("t1", Seq(("comment", comment("alice", "p1", "kept body"))))))
    val before = spark.read.parquet(postsDir).collect()
      .map(_.getAs[String]("body")).toSeq
    // top-level post from a non-allowed app: the type gate drops it,
    // fresh is EMPTY — the write must not clobber the table
    mergeBlock(block(101, "2024-05-01T12:00:05",
      ("t2", Seq(("comment", comment("eve", "spam", "dropped",
        jsonMeta = """{"app":"otherapp/1.0"}"""))))))
    val after = spark.read.parquet(postsDir)
    assert(after.count() == 1)
    assert(after.collect().map(_.getAs[String]("body")).toSeq == before)
  }

  test("leaf-enumerated stored view: a batch editing an existing key " +
    "AND inserting a key whose bucket dir does not exist yet merges " +
    "both correctly") {
    import spark.implicits._
    // with n=2 the two authors below land in DIFFERENT buckets; only
    // alice's exists on disk before the second merge, so the
    // leaf-enumerated read must serve (a) the existing bucket's rows
    // for the latest-wins union and (b) an empty view for the new
    // bucket — without the full-listing fallback path masking either
    val dir = Files.createTempDirectory("graft-leafmerge").toString
    val postsDir = s"$dir/posts"
    def mergeBlock(json: String): Unit =
      StreamIngest.mergeBlocksBatch(spark,
        spark.read.schema(graft.domain.Schemas.block)
          .json(Seq(json).toDS()),
        postsDir, keyBuckets = 2)
    mergeBlock(block(100, "2024-05-01T12:00:00",
      ("t1", Seq(("comment", comment("alice", "p1", "v1 body"))))))
    val aliceBucket = spark.read.parquet(postsDir)
      .select("key_bucket").head().getInt(0)
    // pick an author hashing to the OTHER bucket (n=2 ⇒ exists)
    val other = (1 to 50).map(i => s"user$i").find { a =>
      spark.range(1).select(graft.state.Layout.authorBucket(
          lit(a), 2).as("b"))
        .head().getInt(0) != aliceBucket
    }.get
    mergeBlock(block(101, "2024-05-01T12:00:05",
      ("t2", Seq(("comment", comment("alice", "p1", "v2 body")))),
      ("t3", Seq(("comment", comment(other, "pnew", "new body"))))))
    val after = spark.read.parquet(postsDir)
    assert(after.count() == 2)
    assert(after.filter(col("author") === "alice").head()
      .getAs[String]("body") == "v2 body")
    assert(after.filter(col("author") === other).head()
      .getAs[String]("body") == "new body")
    assert(after.select("key_bucket").distinct().count() == 2)
  }

  test("a month-only table written by Layout.writePosts is refused, " +
    "and its files are left as they were") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-monthonly").toString
    val postsDir = s"$dir/posts"
    val ops = toOps(spark, block(100, "2024-05-01T12:00:00",
      ("t1", Seq(("comment", comment("alice", "p1", "v1 body")))),
      ("t2", Seq(("comment", comment("bob", "p2", "other"))))))
    graft.state.Layout.writePosts(
      graft.ingest.PostsIngest.ingest(ops)(spark), postsDir)
    def files(): Seq[(String, Long, Long)] = {
      val root = java.nio.file.Paths.get(postsDir)
      val walk = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
          (root.relativize(f).toString, Files.size(f),
            Files.getLastModifiedTime(f).toMillis)
        }.toSeq.sorted
      } finally walk.close()
    }
    val before = files()
    assert(before.exists(_._1.endsWith(".parquet")))
    val e = intercept[IllegalStateException] {
      StreamIngest.mergeBlocksBatch(spark,
        spark.read.schema(graft.domain.Schemas.block)
          .json(Seq(block(101, "2024-05-01T12:00:03",
            ("t3", Seq(("comment",
              comment("alice", "p1", "v2 body")))))).toDS()),
        postsDir)
    }
    assert(e.getMessage.contains(postsDir), e.getMessage)
    assert(e.getMessage.contains("StreamIngest.mergeBlocksBatch"),
      e.getMessage)
    assert(!e.getMessage.contains("migrate"), e.getMessage)
    assert(files() == before)
  }

  test("a merge leaves the caller's session conf alone and plans its " +
    "own executions without AQE") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mergesession").toString
    val postsDir = s"$dir/posts"
    def blocksDf(s: String) = spark.read
      .schema(graft.domain.Schemas.block).json(Seq(s).toDS())
    val key = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(key) == "true")
    val inserts = (1 to 10).map(i =>
      (s"t$i", Seq(("comment", comment(s"a$i", s"p$i", s"b$i")))))
    StreamIngest.mergeBlocksBatch(spark,
      blocksDf(block(100, "2024-05-01T12:00:00", inserts: _*)), postsDir,
      keyBuckets = 4)

    val plans = new SqlPlans
    val sc = spark.sparkContext
    sc.addSparkListener(plans)
    @volatile var done = false
    val samples = new java.util.concurrent.atomic.AtomicLong
    val off = new java.util.concurrent.atomic.AtomicLong
    val sampler = new Thread(() =>
      while (!done) {
        if (spark.conf.get(key) != "true") off.incrementAndGet()
        samples.incrementAndGet()
        Thread.sleep(1)
      })
    sampler.start()
    try {
      StreamIngest.mergeBlocksBatch(spark,
        blocksDf(block(101, "2024-05-01T12:00:05",
          ("e1", Seq(("comment", comment("a3", "p3", "edited")))),
          ("r1", Seq(("comment", comment("b1", "r1", "reply",
            parentAuthor = "a1", parentPermlink = "p1")))))),
        postsDir, keyBuckets = 4)
      plans.drain(spark)
    } finally {
      done = true
      sampler.join()
      sc.removeSparkListener(plans)
    }
    assert(samples.get() > 10, s"${samples.get()} samples")
    assert(off.get() == 0,
      s"${off.get()} of ${samples.get()} samples read AQE off")
    assert(spark.conf.get(key) == "true")
    val execs = plans.nodeNames
    assert(execs.nonEmpty)
    assert(execs.forall(!_.contains("AdaptiveSparkPlan")), execs)
    val after = spark.read.parquet(postsDir)
    assert(after.count() == 11)
    assert(after.filter(col("author") === "a3").head()
      .getAs[String]("body") == "edited")
  }

  test("bucket modulus is pinned by the layout marker across merges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-modulus").toString
    val postsDir = s"$dir/posts"
    def mergeBlock(json: String, n: Int): Unit =
      StreamIngest.mergeBlocksBatch(spark,
        spark.read.schema(graft.domain.Schemas.block)
          .json(Seq(json).toDS()),
        postsDir, keyBuckets = n)
    val inserts = (1 to 10).map(i =>
      (s"t$i", Seq(("comment", comment(s"a$i", s"p$i", s"b$i")))))
    mergeBlock(block(100, "2024-05-01T12:00:00", inserts: _*), 8)
    // a later deployment passes a DIFFERENT modulus — the recorded one
    // must win, or the edit is pruned/written under the wrong bucket
    // and the key silently splits into two rows
    mergeBlock(block(101, "2024-05-01T12:00:05",
      ("tx", Seq(("comment", comment("a3", "p3", "edited"))))), 128)
    val after = spark.read.parquet(postsDir)
    assert(after.count() == 10)
    assert(after.filter(col("author") === "a3").count() == 1)
    assert(after.filter(col("author") === "a3").head()
      .getAs[String]("body") == "edited")
    assert(after.select("key_bucket").distinct().collect()
      .map(_.getInt(0)).forall(_ < 8))
    val p = new org.apache.hadoop.fs.Path(postsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.state.Layout.postsKeyBuckets(fs, p).contains(8))

    // a corrupt marker must REFUSE the merge, not fall back to the
    // caller's modulus (which could prune the wrong buckets)
    val marker = new org.apache.hadoop.fs.Path(p, "_graft_layout.json")
    val out = fs.create(marker, true)
    out.write("not json".getBytes("UTF-8")); out.close()
    intercept[IllegalStateException] {
      graft.state.Layout.postsKeyBuckets(fs, p)
    }
  }

  test("ceramic CDC → posts schema → unified queryable table (S2)") {
    import spark.implicits._
    val cdcJson = Seq(
      // kept: insert of a graph.docs post
      """{"operationType":"insert","clusterTime":1,"ns":{"coll":"graph.docs"},
         "fullDocument":{"id":"kjzstream1","creator_id":"did:key:z6MkA",
         "version_id":"v1","created_at":"2024-05-02T00:00:00",
         "updated_at":"2024-05-02T00:00:00",
         "parent_headers":{"author":"","permlink":""},
         "app_metadata":{"permlink":"ceramic-post-1"},
         "content":{"title":"C1","body":"ceramic body","json_metadata_raw":"{}"}}}""",
      // dropped: wrong collection
      """{"operationType":"insert","clusterTime":2,"ns":{"coll":"other"},
         "fullDocument":{"id":"x","creator_id":"d","version_id":"v",
         "created_at":"2024-05-02T00:00:00","updated_at":"2024-05-02T00:00:00",
         "parent_headers":{"author":"","permlink":""},
         "app_metadata":{"permlink":"x"},
         "content":{"title":"","body":"","json_metadata_raw":"{}"}}}""",
      // dropped: last_pinged-only update
      """{"operationType":"update","clusterTime":3,"ns":{"coll":"graph.docs"},
         "updateDescription":{"updatedFields":{"last_pinged":"2024"}},
         "fullDocument":{"id":"kjzstream2","creator_id":"did:key:z6MkB",
         "version_id":"v1","created_at":"2024-05-02T00:00:00",
         "updated_at":"2024-05-02T00:00:00",
         "parent_headers":{"author":"","permlink":""},
         "app_metadata":{"permlink":"p"},
         "content":{"title":"","body":"","json_metadata_raw":"{}"}}}""",
      // dropped: delete
      """{"operationType":"delete","clusterTime":4,"ns":{"coll":"graph.docs"},
         "fullDocument":null}""").map(_.replaceAll("\n\\s*", ""))
    val cdc = spark.read.schema(graft.domain.Schemas.cdcEvent)
      .json(cdcJson.toDS())
    val ceramic = StreamIngest.ceramicPosts(cdc)
    val rows = ceramic.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("TYPE") == "CERAMIC")
    assert(rows.head.getAs[String]("permlink") == "ceramic-post-1")
    assert(rows.head.getAs[String]("off_chain_id") == "kjzstream1")

    // union with hive posts; F12 includeCeramic gate applies
    val ops = toOps(spark, block(100, "2024-05-01T12:00:00",
      ("t1", Seq(("comment", comment("alice", "h1", "hive body"))))))
    val hive = graft.ingest.PostsIngest.ingest(ops)(spark)
    val unified = StreamIngest.unifiedPosts(hive,
      ceramic.withColumn("created_at",
        to_timestamp(col("created_at")))
        .withColumn("updated_at", to_timestamp(col("updated_at"))))
    assert(unified.count() == 2)
    val noCeramic = unified.filter(
      PostQueries.feedPredicate(FeedArgs()))
    assert(noCeramic.collect().map(_.getAs[String]("permlink")).toSeq
      == Seq("h1"))
    val withCeramic = unified.filter(
      PostQueries.feedPredicate(FeedArgs(includeCeramic = true)))
    assert(withCeramic.count() == 2)
  }
}
