package graft

import graft.enrich.Enrich
import graft.ingest.{Fixtures, GraphIngest, PostsIngest}
import graft.query._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** End-to-end: fixture blocks → ingest (posts + graph) → dirty flags
  * → enrichment joins → the full GraphQL-shaped query surface.
  * This is the reference's §3 lifecycle run as one Spark pipeline.
  */
class PipelineIntegrationSpec extends SparkSpec {
  import Fixtures._

  test("blocks → entities → enrichment → feeds/leaderboard, one pipeline") {
    import spark.implicits._
    // -- chain activity: video + reply + votes + follow + profile
    val ops = toOps(spark,
      block(100, "2024-05-01T12:00:00",
        ("t1", Seq(("comment",
          comment("alice", "v1", "a spark video", jsonMeta = videoMeta)))),
        ("t2", Seq(("custom_json",
          s"""{"id":"follow","required_posting_auths":["bob"],""" +
            s""""json":${js("""["follow",{"follower":"bob","following":"alice","what":["blog"]}]""")}}"""))),
        ("t3", Seq(("account_update2",
          """{"account":"alice","posting_json_metadata":""" +
            js("""{"profile":{"name":"Alice"}}""") + "}")))),
      block(101, "2024-05-01T12:00:03",
        ("t4", Seq(("comment", comment("bob", "r1", "nice @alice",
          parentAuthor = "alice", parentPermlink = "v1")))),
        ("t5", Seq(("vote",
          """{"voter":"carol","author":"alice","permlink":"v1","weight":10000}""")))))

    // -- ingest plane
    val posts0 = PostsIngest.ingest(ops)(spark)
    val follows = GraphIngest.follows(ops)
    val profiles0 = GraphIngest.profiles(ops)

    // -- dirty flags from votes (J9)
    val posts1 = PostsIngest.flagNeedsStatUpdate(posts0,
      PostsIngest.voteDirtySet(ops))
    assert(posts1.filter(col("needs_stat_update")).count() == 1)

    // -- enrichment plane: stats from the content_rpc stand-in (J5)
    val rpc = Seq(("alice", "v1", "1970-01-01T00:00:00", "3.000 HBD",
      "0.000 HBD", "0.000 HBD", 2))
      .toDF("author", "permlink", "last_payout", "pending_payout_value",
        "total_payout_value", "curator_payout_value", "net_votes")
      .withColumn("active_votes", array(
        struct(lit("carol").as("voter"), lit(50.0).as("rshares"),
          lit(10000).as("percent"), lit(1.0).as("weight")),
        struct(lit("dan").as("voter"), lit(-1.0).as("rshares"),
          lit(-10000).as("percent"), lit(1.0).as("weight"))))
      .withColumn("max_accepted_payout", lit("1000000.000 HBD"))
      .withColumn("max_cashout_time", lit("2024-05-08T00:00:00"))
      .withColumn("cashout_time", lit("2024-05-08T00:00:00"))
    val posts2 = Enrich.postStats(posts1, rpc)
    val v1 = posts2.filter(col("permlink") === "v1").head()
    assert(v1.getAs[Row]("stats").getAs[Int]("num_comments") == 1)
    assert(v1.getAs[Row]("stats").getAs[Int]("num_up_votes") == 1)
    assert(math.abs(v1.getAs[Row]("stats")
      .getAs[Double]("total_hive_reward") - 3.0) < 1e-9)
    assert(!v1.getAs[Boolean]("needs_stat_update"))   // flag cleared

    // -- creator scores + leaderboard (A6 → Q13)
    val profiles1 = Enrich.channelScores(posts2, profiles0)
    val lb = PostQueries.leaderBoard(profiles1,
      k = profiles1.count().toInt).collect()
    assert(lb.length == 1)
    assert(lb.head.getAs[String]("username") == "alice")
    assert(math.abs(lb.head.getAs[Double]("score") - 3.2) < 1e-9)
    // 1 comment × 3 + 2 votes × 0.1

    // -- query surface over the enriched table
    val feed = PostQueries.socialFeed(posts2, follows,
      FeedArgs(byFollower = Some("bob")))
    assert(feed.collect().map(_.getAs[String]("permlink")).toSeq
      == Seq("v1"))
    val hydrated = PostQueries.hydrateAuthors(feed,
      PostProjections.profileView(profiles1)
        .withColumn("displayName", col("name")))
    assert(hydrated.head().getAs[Row]("author_profile") != null)

    // -- notifications from mentions (X7)
    val notifs = Enrich.mentionNotifications(posts2)
    assert(notifs.collect().map(_.getAs[String]("target")).toSeq
      == Seq("alice"))
  }

  test("streamed partitioned table serves the same query surface") {
    import spark.implicits._
    // the SAME lifecycle, but entities materialized through the
    // partition-scoped streaming merge across two micro-batches, the
    // entity table re-read from disk, and queries served from it —
    // batch boundaries and physical layout must be invisible
    val dir = java.nio.file.Files
      .createTempDirectory("graft-e2e-stream").toString
    val postsDir = s"$dir/posts"
    def mergeBlock(json: String): Unit =
      graft.streaming.StreamIngest.mergeBlocksBatch(spark,
        spark.read.schema(graft.domain.Schemas.block)
          .json(Seq(json).toDS()),
        postsDir)
    val b1 = block(100, "2024-05-01T12:00:00",
      ("t1", Seq(("comment",
        comment("alice", "v1", "a spark video", jsonMeta = videoMeta)))))
    val b2 = block(101, "2024-06-01T12:00:03",
      ("t4", Seq(("comment", comment("bob", "r1", "nice @alice",
        parentAuthor = "alice", parentPermlink = "v1")))))
    mergeBlock(b1)
    mergeBlock(b2)

    val table = spark.read.parquet(postsDir)
    // two month partitions, reply indexed via the cross-batch gate
    assert(table.select("created_month").distinct().count() == 2)
    assert(table.count() == 2)

    // feeds over the streamed table — identical to the batch path
    val follows = graft.ingest.GraphIngest.follows(
      toOps(spark, b1, b2))
    val feed = PostQueries.socialFeed(table, follows, FeedArgs())
    assert(feed.collect().map(_.getAs[String]("permlink")).toSeq
      == Seq("v1"))                       // comment excluded (F4)
    val kids = PostQueries.children(table, "alice", "v1")
    assert(kids.collect().map(_.getAs[String]("permlink")).toSeq
      == Seq("r1"))
    // month pruning applies to the streamed layout directly
    val may = graft.state.Layout.monthWindow(table,
      java.sql.Timestamp.valueOf("2024-05-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-05-31 00:00:00"))
    assert(may.collect().map(_.getAs[String]("permlink")).toSeq
      == Seq("v1"))
  }

  test("training-data curation chain: dedup → rebuild → perplexity gate → BPE budget") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val n0 = docs.count()

    // 1. exact dedup, then cross-doc boilerplate removal + rebuild
    val uniq = graft.dedup.Dedup.exact(docs, "text", "doc_id")
    val n1 = uniq.count()
    assert(n1 <= n0 && n1 > 0)
    val cleaned = graft.dedup.Dedup
      .segmentDedup(uniq, "text", "doc_id", segTokens = 16, minDocs = 2)
      .select(col("id").as("doc_id"), col("clean_text").as("text"))
      .filter(length(col("text")) > 0)

    // 2. bigram-perplexity gate: keep docs under the p90 avg_nll
    val scored = graft.text.UnigramLm
      .bigramSurprisal(cleaned, "text", "doc_id")
    val p90 = scored.stat.approxQuantile("avg_nll", Array(0.9), 0.0)(0)
    val kept = scored.filter(col("avg_nll") <= p90)
      .select("doc_id").join(cleaned, "doc_id")
    val n2 = kept.count()
    assert(n2 > 0 && n2 <= n1)

    // 3. tokenizer learned on the SURVIVORS, budget column applied
    val merges = graft.text.Bpe.learnMerges(kept, "text", 8)
    val budgeted = kept.select(col("doc_id"),
      graft.text.Bpe.tokenCount(col("text"), merges).as("n_bpe"),
      graft.functions.Text.tokenCount(col("text")).as("n_ws"))
    val r = budgeted.agg(sum("n_bpe").cast("long"),
      sum("n_ws").cast("long"), count(lit(1))).head()
    // BPE merges never cross word boundaries: per-doc BPE count is
    // >= whitespace count, and every kept doc got a budget
    assert(r.getLong(0) >= r.getLong(1))
    assert(r.getLong(2) === n2)
    graft.CacheTracker.releaseAll()
  }

  test("curation chain, continued: semantic decontam → NB classify → " +
    "PMI vocab") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)

    // 4. semantic decontamination: flag corpus vectors near the
    //    held-out "benchmark" slice, anti-join the drop list
    val flags = graft.functions.Vectors.semanticDecontamFlags(
      emb.filter(col("vec_id") % 25 =!= 0),
      emb.filter(col("vec_id") % 25 === 0),
      "embedding", "vec_id", simMicroThreshold = 300000L)
    val clean = docs.join(
      flags.select(col("corpus_id").as("doc_id")), Seq("doc_id"),
      "left_anti")
    val nClean = clean.count()
    assert(nClean > 0 && nClean <= docs.count())
    // every flagged id really is gone
    assert(clean.join(flags.select(col("corpus_id").as("doc_id")),
      Seq("doc_id")).count() == 0)

    // 5. NB classifier trained on the decontaminated corpus: every
    //    holdout doc gets exactly one prediction from the label set
    val scored = graft.text.NaiveBayes.trainApply(clean, "text",
      "doc_id", "lang", col("doc_id") % 4 === 0)
    val langs = clean.select("lang").distinct().collect()
      .map(_.getString(0)).toSet
    val preds = scored.collect()
    assert(preds.length ==
      clean.filter(col("doc_id") % 4 === 0).count())
    assert(preds.forall(r => langs(r.getAs[String]("pred"))))

    // 6. PMI collocations over the survivors: every mined bigram's
    //    words are in the corpus vocabulary
    val colls = graft.text.Collocations
      .pmiTopK(clean, "text", minCount = 3, k = 20).collect()
    assert(colls.nonEmpty)
    val vocab = clean
      .select(explode(graft.functions.Text.tokens(col("text")))
        .as("t")).distinct().collect().map(_.getString(0)).toSet
    assert(colls.forall { r =>
      val Array(w1, w2) = r.getAs[String]("bigram").split(" ")
      vocab(w1) && vocab(w2)
    })
    graft.CacheTracker.releaseAll()
  }
}
