package graft.tools

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{ApiTables, GraftApi, HttpApi}
import graft.domain.Schemas
import graft.streaming.StreamIngest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Dev-only: the store and layout probes that no catalog row, spec or
  * perfbench workload runs at scale. `StoreScale [<sfDir>]` (default
  * sf0.1; a [[Replicate]] directory for 10×) prints one line per stage:
  * wall, rows and the stage's shuffle, task and GC totals
  * ([[StageMetrics]]).
  *
  *   - The author-bucketed streaming merge: a catch-up merge of one
  *     synthetic post per two `events` rows (50k per sf0.1 replica)
  *     into an empty store, then a 20-edit micro-batch with its
  *     rewritten files and bytes.
  *   - The z-order write of `events`, a pruned read of one stripe, and
  *     the compaction of a 50-trigger append-fragmented table.
  *   - Freshness: a 20-op batch through merge, view refresh and feed
  *     read; and a 20-reply batch through merge with reply-index
  *     refresh to a GraphQL page over HTTP.
  *   - GraphQL over the merged store: a feed page, children hydration
  *     to two levels, point lookups full vs bucket-pruned, and children
  *     by store scan vs by reply index.
  *
  * The catalog rows run at scale on a [[Replicate]] directory with
  * `graft.Bench`, [[QueryProfile]] and `graft.Verify` instead. */
object StoreScale {

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = "/tmp/graft-store-scale"
    val spark = graft.Session.build()
    implicit val s: SparkSession = spark
    val metrics = StageMetrics.attach(spark)
    def timed(label: String)(f: => Long): Unit = {
      val m0 = metrics.snapshot()
      val t0 = System.nanoTime()
      val n = f
      val secs = (System.nanoTime() - t0) / 1e9
      val m = metrics.snapshot() - m0
      val (runS, gcS) = (m.execRunMs / 1e3, m.gcMs / 1e3)
      // a wall read while GC eats a material share of task time is
      // memory pressure, not plan cost
      val tag = if (gcS > 5.0 && gcS > 0.15 * runS) "  !MEM-PRESSURE(gc)"
        else ""
      println(f"$label%-58s ${secs}%7.2f s  $n%,10d rows  shuffle " +
        f"w=${m.shuffleWriteBytes / 1e6}%7.1f " +
        f"r=${m.shuffleReadBytes / 1e6}%7.1f MB  " +
        f"taskrun=$runS%7.1f s gc=$gcS%6.1f s$tag")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(work).getFileSystem(conf)
    fs.delete(new Path(work), true)
    val ev = graft.Tables.events(spark, d)
    val nPosts = ev.count() / 2

    // ── author-bucketed streaming merge ────────────────────────────────
    def blocksFor(idStart: Long, count: Long, heightOff: Long,
                  body: String, stride: Long = 1L): DataFrame =
      spark.range(count).select((col("id") * stride + idStart).as("id"))
        .select(
          lpad(lower(hex(col("id") + 1 + heightOff)), 8, "0").as("block_id"),
          concat(lit("2024-0"), (col("id") % 6 + 1).cast("string"),
            lit("-01T12:00:00")).as("timestamp"),
          array(struct(concat(lit("tx"), col("id")).as("transaction_id"),
            array(struct(lit("comment").as("name"), to_json(struct(
              lit("").as("parent_author"), lit("").as("parent_permlink"),
              concat(lit("user"), pmod(col("id"), lit(50000L))).as("author"),
              concat(lit("post"), col("id")).as("permlink"),
              lit("t").as("title"), lit(body).as("body"),
              lit("""{"app":"3speak/1.0"}""").as("json_metadata")))
              .as("payload"))).as("operations"))).as("transactions"))
    val postsDir = s"$work/posts"
    def posts = spark.read.parquet(postsDir)
    timed(s"catch-up merge: $nPosts inserts") {
      StreamIngest.mergeBlocksBatch(spark,
        blocksFor(0, nPosts, 0, "original body text"), postsDir)
      posts.count()
    }
    def files(): Map[String, (Long, Long)] = {
      val it = fs.listFiles(new Path(postsDir), true)
      val m = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          m += f.getPath.toString -> (f.getLen, f.getModificationTime)
      }
      m.result()
    }
    val before = files()
    // a ~2 s micro-batch of comment ops: the merge rewrites only the
    // (month, key_bucket) leaves its keys touch
    timed(s"micro-batch merge: 20 edits vs $nPosts stored") {
      StreamIngest.mergeBlocksBatch(spark,
        blocksFor(600, 20, nPosts, "edited body text", stride = 6), postsDir)
      posts.filter(col("body") === "edited body text").count()
    }
    locally {
      val after = files()
      val rewritten = after.filterNot { case (p, v) => before.get(p).contains(v) }
      def leaf(p: String) = p.split('/').dropRight(1).takeRight(2).mkString("/")
      println(f"  rewrote ${rewritten.size}%,d of ${after.size}%,d files, " +
        f"${rewritten.values.map(_._1).sum / 1e6}%.1f of " +
        f"${after.values.map(_._1).sum / 1e6}%.1f MB, in " +
        f"${rewritten.keys.map(leaf).toSet.size}%,d of " +
        f"${after.keys.map(leaf).toSet.size}%,d (month, bucket) leaves")
    }
    graft.CacheTracker.releaseAll()

    // ── z-order layout and compaction over events ──────────────────────
    val (tmin, tmax) = {
      val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      (b.getLong(0), b.getLong(1))
    }
    val zDir = s"$work/zorder"
    timed(s"z-order write (${ev.count()} rows, 256-cell grid)") {
      // (user_id, ts) quantized onto a 2^10 grid, p = 4 → 256 cells
      val g = ev.select(col("event_id"),
        pmod(col("user_id"), lit(1024L)).as("x"),
        least(lit(1023L), ((unix_micros(col("ts")) - tmin) * 1024L /
          math.max(1L, tmax - tmin + 1)).cast("long")).as("y"))
      graft.state.Layout.writeZOrdered(g, zDir, col("x"), col("y"),
        bits = 10, p = 4)
      spark.read.parquet(zDir).count()
    }
    timed("z-order pruned read (one x-stripe of 16)") {
      val cells = graft.state.Layout.zCellsFor(0, 63, 0, 1023, bits = 10, p = 4)
      spark.read.parquet(zDir)
        .filter(col("z_cell").isin(cells: _*) && col("x") <= 63).count()
    }
    // an append sink fragments (each trigger adds files); the setup
    // appends 50 micro-batches, the timed work is the bin-pack
    val frag = s"$work/appendlog"
    (0 until 50).foreach { i =>
      ev.filter(pmod(col("event_id"), lit(50L)) === i).coalesce(1).write
        .mode(if (i == 0) "overwrite" else "append").parquet(frag)
    }
    timed("compact a 50-trigger append-fragmented table") {
      val (b, a) = graft.state.Layout.compact(spark, frag,
        targetBytes = 128L * 1024 * 1024)
      println(f"  files: $b -> $a")
      spark.read.parquet(frag).count()
    }

    // ── freshness: merge + view refresh + feed read ────────────────────
    val viewDir = s"$work/author_view"
    graft.state.Incremental.maintainParquetView(viewDir, Seq("author"),
      lit(1L))(posts.select("author"), 0L)
    timed(s"e2e freshness: 20-op batch vs $nPosts stored") {
      val blocks = blocksFor(1200, 20, nPosts * 3, "fresh body text", stride = 6)
      StreamIngest.mergeBlocksBatch(spark, blocks, postsDir)
      graft.state.Incremental.maintainParquetView(viewDir, Seq("author"),
        lit(1L))(graft.ingest.PostsIngest.commentEvents(
          graft.ingest.OpExtract.ops(blocks)).select("author"), 1L)
      val top = spark.read.parquet(viewDir)
        .orderBy(col("n").desc, col("author").asc).limit(20).count()
      val feed = posts.filter(col("body") === "fresh body text")
        .orderBy(col("created_at").desc).limit(100).count()
      graft.CacheTracker.releaseAll()
      top + feed
    }

    // ── GraphQL over the merged store ──────────────────────────────────
    def empty(st: StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st)
    // one profile per author, so author { profile } joins real rows
    val profiles = spark.range(50000).select(
      concat(lit("hive/user"), col("id")).as("_id"),
      concat(lit("user"), col("id")).as("username"),
      concat(lit("User "), col("id")).as("displayName"),
      lit("about text").as("about"),
      lit(null).cast("string").as("location"),
      lit(null).cast("string").as("website"),
      lit(null).cast("string").as("did"),
      struct(lit("a.png").as("avatar"),
        lit(null).cast("string").as("cover")).as("images"),
      struct(lit(null).cast("string").as("pinned_post")).as("extra"),
      (col("id") % 100).cast("double").as("score"))
    // a reply forest over the flat store, derived on read: post k with
    // k % 10 in 1..8 replies to k - k % 10, k % 10 == 9 to k - 8, so
    // every leader has 8 children and its first child has one. Replies
    // carry the comment flag, or the feed would list them.
    def forest(src: DataFrame): DataFrame = {
      val pid = regexp_extract(col("permlink"), "post(\\d+)", 1).cast("long")
      val m = pmod(pid, lit(10L))
      val parent = when(m === 9, pid - 8).otherwise(pid - m)
      src.withColumn("parent_author", when(m =!= 0,
          concat(lit("user"), pmod(parent, lit(50000L))))
          .otherwise(col("parent_author")))
        .withColumn("parent_permlink", when(m =!= 0,
          concat(lit("post"), parent)).otherwise(col("parent_permlink")))
        .withColumn("flags", when(m =!= 0, array_union(coalesce(col("flags"),
          array().cast("array<string>")), array(lit("comment"))))
          .otherwise(col("flags")))
    }
    val buckets = graft.state.Layout.layoutMarker(fs, new Path(postsDir),
      "key_buckets").getOrElse(sys.error(s"no layout marker at $postsDir"))
    def api(postsDf: DataFrame, index: Option[DataFrame] = None,
            kb: Option[Int] = Some(buckets),
            prof: DataFrame = empty(Schemas.profile)) =
      new GraftApi(spark, ApiTables(posts = postsDf,
        follows = empty(Schemas.follow), profiles = prof, keyBuckets = kb,
        replyIndex = index.map(_ -> buckets)))
    def run(a: GraftApi, q: String): JsonNode = {
      val r = a.execute(q)
      require(!r.has("errors"), r.toString.take(400))
      r.path("data")
    }
    def kids(items: JsonNode): Long = {
      var n = 0L
      items.elements().forEachRemaining(it => n += it.path("children").size())
      n
    }
    timed(s"graphql socialFeed page (limit 100) vs $nPosts stored") {
      run(api(posts), "{ socialFeed(pagination: {limit: 100})" +
        " { items { author permlink created_at } } }")
        .path("socialFeed").path("items").size().toLong
    }
    timed(s"graphql feed page + children hydration vs $nPosts stored") {
      run(api(posts), "{ socialFeed(pagination: {limit: 100})" +
        " { items { permlink children(limit: 5) { permlink } } } }")
        .path("socialFeed").path("items").size().toLong
    }
    timed(s"graphql level-2 hydration (3 nested fields) vs $nPosts stored") {
      val items = run(api(forest(posts), prof = profiles),
        "{ socialFeed(pagination: {limit: 100}) { items { permlink" +
          " children(limit: 8) { permlink parent_post { permlink }" +
          " author { profile { name } } children(limit: 3) { permlink } }" +
          " } } }").path("socialFeed").path("items")
      var grandkids = 0L
      items.elements().forEachRemaining(_.path("children").elements()
        .forEachRemaining(k => grandkids += k.path("children").size()))
      require(kids(items) > 0 && grandkids > 0,
        s"the forest must fill both levels (${kids(items)}, $grandkids)")
      items.size() + kids(items) + grandkids
    }
    val point = """{ socialPost(author: "user123", permlink: "post123")
      | { permlink title } }""".stripMargin
    for ((how, kb) <- Seq("FULL SCAN" -> None,
        s"BUCKET-PRUNED (1/$buckets)" -> Some(buckets)))
      timed(s"graphql point lookup $how vs $nPosts stored") {
        require(run(api(posts, kb = kb), point).path("socialPost")
          .path("permlink").asText() == "post123")
        1L
      }
    val indexDir = s"$work/reply_index"
    timed(s"reply index build (one-time) vs $nPosts stored") {
      graft.state.Layout.writeReplyIndex(forest(posts), indexDir, buckets)
      spark.read.parquet(indexDir).count()
    }
    for ((how, index) <- Seq("STORE SCAN" -> (() => None),
        "REPLY INDEX" -> (() => Some(spark.read.parquet(indexDir))))) {
      timed(s"children page(100) VIA $how vs $nPosts stored") {
        val items = run(api(forest(posts), index()),
          "{ socialFeed(pagination: {limit: 100}) { items { permlink" +
            " children(limit: 8) { permlink } } } }")
          .path("socialFeed").path("items")
        require(items.size() == 100 && kids(items) > 0, items.toString.take(200))
        kids(items)
      }
      timed(s"children POINT (1 post) VIA $how vs $nPosts stored") {
        val n = run(api(forest(posts), index()),
          """{ socialPost(author: "user120", permlink: "post120")
            | { children(limit: 8) { permlink } } }""".stripMargin)
          .path("socialPost").path("children").size()
        require(n == 8, s"point children $n")
        n.toLong
      }
    }

    // ── freshness to first byte: 20 replies merged with the reply
    //    index refreshed, then a children { author { profile } } page
    //    served over HTTP by a server booted on the refreshed store ──
    val e2eIndex = s"$work/e2e_reply_index"
    // enabling the index on an existing store bootstraps its history
    StreamIngest.refreshReplyIndex(spark, posts.limit(0), e2eIndex,
      keyBuckets = buckets, bootstrapFrom = Some(() => posts))
    val pageKeys = posts.filter(!array_contains(coalesce(col("flags"),
        array().cast("array<string>")), "comment"))
      .orderBy(col("created_at").desc, col("author").asc, col("permlink").asc)
      .limit(100).select("author", "permlink").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val targets = pageKeys.indices.filter(_ % 5 == 0).map(pageKeys(_)).take(20)
    require(targets.size == 20, s"page too small: ${pageKeys.length}")
    import spark.implicits._
    val replies = targets.zipWithIndex.map { case ((a, p), i) => (a, p, i.toLong) }
      .toDF("pa", "pp", "i").select(
        lpad(lower(hex(col("i") + 1 + nPosts * 7)), 8, "0").as("block_id"),
        lit("2024-06-02T12:00:00").as("timestamp"),
        array(struct(concat(lit("txfresh"), col("i")).as("transaction_id"),
          array(struct(lit("comment").as("name"), to_json(struct(
            col("pa").as("parent_author"), col("pp").as("parent_permlink"),
            concat(lit("user"), col("i") + 100).as("author"),
            concat(lit("fresh_r"), col("i")).as("permlink"),
            lit("t").as("title"), lit("fresh reply body").as("body"),
            lit("""{"app":"3speak/1.0"}""").as("json_metadata")))
            .as("payload"))).as("operations"))).as("transactions"))
    val t0 = System.nanoTime()
    timed(s"e2e 1/3: 20-reply merge + index refresh vs $nPosts stored") {
      StreamIngest.mergeBlocksBatch(spark, replies, postsDir,
        replyIndexDir = Some(e2eIndex))
      graft.CacheTracker.releaseAll()
      20L
    }
    var server: HttpApi = null
    try {
      // a parquet DataFrame pins its file listing, so freshness
      // includes re-resolving the views the server reads
      timed(s"e2e 2/3: store-view refresh + api boot vs $nPosts stored") {
        server = new HttpApi(new GraftApi(spark, ApiTables(posts = posts,
          follows = empty(Schemas.follow), profiles = profiles,
          keyBuckets = Some(buckets),
          replyIndex = Some(spark.read.parquet(e2eIndex) -> buckets)))).start()
        1L
      }
      timed(s"e2e 3/3: HTTP children+profile page(100) vs $nPosts stored") {
        // children pages serve created_at ASC: the fresh replies sort
        // last, so the limit stays above any target's reply count
        val mapper = new ObjectMapper()
        val body = mapper.createObjectNode().put("query",
          "{ socialFeed(pagination: {limit: 100}) { items { permlink" +
            " children(limit: 50) { permlink author { profile { name } } }" +
            " } } }")
        val req = java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(
            s"http://127.0.0.1:${server.boundPort}/api/v2/graphql"))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body.toString))
          .build()
        val resp = java.net.http.HttpClient.newHttpClient()
          .send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200, resp.body().take(400))
        val node = mapper.readTree(resp.body())
        require(!node.has("errors"), node.toString.take(400))
        var fresh = 0L; var profiled = 0L
        node.path("data").path("socialFeed").path("items").elements()
          .forEachRemaining(_.path("children").elements().forEachRemaining { k =>
            if (k.path("permlink").asText().startsWith("fresh_r")) {
              fresh += 1
              if (!k.path("author").path("profile").path("name").isNull)
                profiled += 1
            }
          })
        require(fresh == 20 && profiled == 20, s"fresh=$fresh profiled=$profiled")
        fresh
      }
      println(f"e2e freshness to first byte: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s total")
    } finally if (server != null) server.stop()
    spark.stop()
  }
}
