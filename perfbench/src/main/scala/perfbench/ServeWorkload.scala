package perfbench

import graft.api.{GraphQL, HttpApi}

import java.io.{File, PrintWriter}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** `serve`: the generated GraphQL mix against one long-lived
  * `HttpApi(GraftApi)` over loopback HTTP, in a closed loop of `nproc`
  * clients (each sends its next request when the previous one has
  * answered). Set-up builds the store through the ingest path, merges
  * the tail blocks into it as a stream and loads the API view
  * (`Store`). The traced run calls `GraftApi.execute` directly from the
  * client threads instead, so each request's Spark jobs carry its job
  * group, and measures the HTTP transport separately. */
object ServeWorkload {
  final case class Req(op: String, query: String)
  final case class Done(i: Int, op: String, ms: Double, code: Int,
                        body: String)

  def requests(path: String): IndexedSeq[Req] =
    Main.mapper.readTree(new File(path)).elements().asScala.map(n =>
      Req(n.get("op").asText(), n.get("query").asText())).toIndexedSeq

  def run(env: Env): Outcome = {
    import env.spark
    val out = new Outcome
    val reqs = requests(s"${env.work}/requests.json")

    // set-up: build the store through the ingest path, merge the tail
    // into it and load the API view. One build per run: a cold build is
    // most of the run's time budget. The traced run also keeps a view
    // loaded before the tail, to probe the engine's stale-view defect.
    val store = s"${env.work}/store"
    var stale: Option[graft.api.GraftApi] = None
    val t0 = System.nanoTime()
    val built = Store.build(env, store, () =>
      if (env.traced) stale = Some(Store.api(spark, env.work, store)))
    val r0 = System.nanoTime()
    val api = env.inGroup("reload")(Store.api(spark, env.work, store))
    val reloadS = (System.nanoTime() - r0) / 1e9
    out.metrics("setup_s") = ((System.nanoTime() - t0) / 1e9, "s")
    val st = out.detail.putObject("setup_steps")
    (built.steps :+ ("reload" -> reloadS)).foreach { case (n, v) =>
      st.put(n, v) }
    val server = new HttpApi(api, 0, env.cores).start()
    val url = URI.create(
      s"http://127.0.0.1:${server.boundPort}/api/v2/graphql")
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    def http(q: String): (Int, String) = {
      val body = Main.mapper.createObjectNode().put("query", q)
      val r = client.send(HttpRequest.newBuilder(url)
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body.toString)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    def direct(tag: String, i: Int, q: String): String = {
      val op = s"$tag/${reqs(i).op}/$i"
      env.inGroup(op)(env.span(op, "request") {
        env.span(op, "parse")(GraphQL.parseDocument(q))
        val node = env.span(op, "execute")(api.execute(q))
        env.span(op, "encode")(Main.mapper.writeValueAsString(node))
      })
    }

    // the closed loop: each client walks its own stretch of the request
    // list in order, the next request when the previous one has
    // answered. The op order is a smooth cycle of the mix, so any stretch
    // holds the mix's proportions; the clients start a 1/nproc cycle
    // apart, so together they cover the cycle evenly.
    val cycle = Main.mapper.readTree(new File(s"${env.work}/meta.json"))
      .get("cycle").asInt
    val stride = reqs.size / env.cores / cycle * cycle + cycle / env.cores
    def loop(seconds: Double, into: ConcurrentLinkedQueue[Done]): Double = {
      val start = System.nanoTime()
      val end = start + (seconds * 1e9).toLong
      val threads = (0 until env.cores).map { c =>
        new Thread(() => {
          var i = c * stride
          while (System.nanoTime() < end) {
            val k = i % reqs.size
            val s = System.nanoTime()
            val (code, body) =
              try {
                if (env.traced) (200, direct("req", k, reqs(k).query))
                else http(reqs(k).query)
              } catch {
                case e: Exception => (-1, String.valueOf(e.getMessage))
              }
            into.add(Done(k, reqs(k).op, (System.nanoTime() - s) / 1e6,
              code, body))
            i += 1
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - start) / 1e9
    }

    // untimed warm-up (its answers are checked too): every op type runs
    // once, from `nproc` threads taking the next one when done, so JIT
    // and codegen have seen each plan shape before the timed window.
    // Taken from the end of the list, away from the keys the timed
    // stretches start with.
    val w0 = System.nanoTime()
    val done = new ConcurrentLinkedQueue[Done]
    val warm = new ConcurrentLinkedQueue[Integer](reqs.indices
      .groupBy(reqs(_).op).values.map(_.max).toSeq.sorted
      .map(Integer.valueOf).asJava)
    val ws = (0 until env.cores).map(_ => new Thread(() => {
      var k = warm.poll()
      while (k != null) {
        val (code, body) =
          if (env.traced) (200, direct("warm", k, reqs(k).query))
          else http(reqs(k).query)
        done.add(Done(k, reqs(k).op, 0, code, body))
        k = warm.poll()
      }
    }))
    ws.foreach(_.start())
    ws.foreach(_.join())

    out.detail.put("warmup_s", (System.nanoTime() - w0) / 1e9)
    val gc0 = Stats.gcMs()
    val timed = new ConcurrentLinkedQueue[Done]
    val wallS = loop(env.seconds, timed)
    val gcMs = Stats.gcMs() - gc0

    val ts = timed.asScala.toSeq
    val lat = ts.map(_.ms)
    val (tp, tv) = Stats.tail(lat)
    out.metrics("op_median_gmean_ms") =
      (Stats.medianGmean(ts.map(t => t.op -> t.ms)), "ms")
    out.metrics("op_p50_ms") = (Stats.median(lat), "ms")
    out.metrics("op_tail_ms") = (tv, "ms")
    out.metrics("throughput_per_s") = (ts.size / wallS, "1/s")
    out.attempted = ts.size.toLong
    out.failed = ts.count(_.code != 200).toLong
    out.detail.put("samples", ts.size).put("tail_percentile", tp)
      .put("clients", env.cores)
    val each = out.detail.putArray("samples_ms")
    ts.foreach(t => each.addArray().add(t.op).add(t.ms))
    val byOp = out.detail.putObject("op_p50_ms")
    ts.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, ds) =>
      byOp.put(op, Stats.median(ds.map(_.ms))) }

    env.rec.foreach { rec =>
      // transport: the same requests over HTTP and called directly, in
      // sequence, after the timed loop
      val sweep = reqs.indices.take(24)
      val viaHttp = sweep.map { i =>
        val s = System.nanoTime(); http(reqs(i).query)
        (System.nanoTime() - s) / 1e6 }
      val viaCall = sweep.map { i =>
        val s = System.nanoTime(); api.executeJson(reqs(i).query)
        (System.nanoTime() - s) / 1e6 }
      rec.settle()
      val isReq = (g: String) => g.startsWith("req/")
      Layers.common(out, rec, isReq,
        ts.map(t => s"req/${t.op}/${t.i}" -> t.ms), gcMs)
      val g = Layers.sumGroups(rec, isReq)
      val n = math.max(1, ts.size).toDouble
      val self = rec.selfMs(isReq)
      def med(name: String) = Stats.median(self(name))
      val driverMs = rec.spans.asScala.toSeq
        .filter(s => s.name == "execute" && isReq(s.op))
        .map(s => s.ms - rec.jobWallMs(_ == s.op))
      val d = out.detail.putObject("layers")
      ts.groupBy(_.op).foreach { case (op, ds) =>
        d.put(s"serve.op.${op}_p50_ms", Stats.median(ds.map(_.ms))) }
      d.put("api.parse_ms", med("parse"))
        .put("api.execute_ms", med("execute"))
        .put("api.encode_ms", med("encode"))
        .put("api.transport_ms",
          Stats.median(viaHttp) - Stats.median(viaCall))
        .put("api.driver_ms", Stats.median(driverMs))
        .put("api.request_self_ms", med("request"))
        .put("serve.spark_jobs_per_req", g.jobs / n)
        .put("serve.spark_tasks_per_req", g.tasks / n)
        .put("serve.spark_job_ms_per_req", g.jobMs / n)
        .put("serve.scan_mb_per_req", g.input / 1e6 / n)
        .put("serve.shuffle_mb_per_req",
          (g.shuffleWrite + g.shuffleRead) / 1e6 / n)
        .put("serve.gc_ms_per_req", gcMs / n)
        .put("serve.cached_mb_end", spark.sparkContext.getRDDStorageInfo
          .map(_.memSize).sum / 1e6)
      // the store's catch-up and tail ran through the ingest path in
      // set-up
      val c = Layers.sumGroups(rec, _ == "catchup")
      d.put("ingest.catchup_posts_per_s",
          Store.meta(env.work).get("archive_posts").asDouble /
            built.steps.head._2)
        .put("ingest.catchup_jobs", c.jobs)
        .put("ingest.catchup_shuffle_mb",
          (c.shuffleWrite + c.shuffleRead) / 1e6)
        .put("ingest.catchup_write_mb", c.output / 1e6)
      tailLayers(env, rec, built, store, d)
      d.put("ingest.reload_ms", reloadS * 1000)
        .put("ingest.reload_spark_jobs",
          Layers.sumGroups(rec, _ == "reload").jobs)
      // a view loaded before the tail, read once after it
      val staleFailed = stale.exists { v =>
        try v.executeJson("{ trendingTags(limit: 5) { tags { tag } } }")
          .contains("\"errors\"")
        catch { case _: Exception => true }
      }
      d.put("ingest.stale_view_failed_share", if (staleFailed) 1.0 else 0.0)
    }
    server.stop()

    // the posts table as a reader sees it, for the check against the
    // block log (run.py)
    val sw = new PrintWriter(s"${env.work}/final_store.jsonl", "UTF-8")
    try spark.read.parquet(s"$store/posts")
      .select("parent_author", "parent_permlink", "author", "permlink",
        "body").collect().foreach { r =>
        val o = Main.mapper.createObjectNode()
        (0 until 5).foreach(i => o.put(r.schema(i).name, r.getString(i)))
        sw.println(o.toString)
      } finally sw.close()

    val pw = new PrintWriter(s"${env.work}/responses.jsonl", "UTF-8")
    try (done.asScala ++ timed.asScala).foreach { r =>
      pw.println(Main.mapper.createObjectNode().put("i", r.i)
        .put("code", r.code).put("body", r.body).toString)
    } finally pw.close()
    out
  }

  /** The tail's streamed merges into the stored table: per-trigger
    * durations from the StreamingQueryListener, the Spark work of the
    * stream's job group (its run id), and what the merges rewrote. */
  private def tailLayers(env: Env, rec: Recorder, built: Store.Built,
                         store: String,
                         d: com.fasterxml.jackson.databind.node.ObjectNode)
      : Unit = {
    val runId = built.tail.runId.toString
    val progress = rec.progress.asScala.toSeq.filter(_._2 > 0)
    val nb = math.max(1, progress.size).toDouble
    def p50(key: String) = if (progress.isEmpty) 0.0
      else Stats.median(progress.map(_._1.getOrElse(key, 0L).toDouble))
    val g = Layers.sumGroups(rec, _ == runId)
    val tailFiles = new File(s"${env.work}/tail").listFiles()
    val inBytes = tailFiles.map(_.length).sum.toDouble
    val (leaves, files) = leafFiles(new File(s"$store/posts"))
    val touched = leaves.count(_.lastModified() >= built.tailStartMs)
    d.put("stream.trigger_ms_p50", p50("triggerExecution"))
      .put("stream.addbatch_ms_p50", p50("addBatch"))
      .put("stream.latest_offset_ms_p50", p50("latestOffset"))
      .put("stream.wal_commit_ms_p50", p50("walCommit"))
      .put("stream.batches", progress.size)
      .put("stream.blocks_per_batch", tailFiles.length / nb)
      .put("ingest.spark_jobs_per_batch", g.jobs / nb)
      .put("ingest.spark_tasks_per_batch", g.tasks / nb)
      .put("ingest.write_mb_per_batch", g.output / 1e6 / nb)
      .put("ingest.write_amp", g.output / math.max(1.0, inBytes))
      .put("ingest.partitions_rewritten_per_batch", touched / nb)
      .put("ingest.files_per_partition_end",
        files.toDouble / math.max(1, leaves.size))
  }

  /** Leaf partition directories of a table and their data-file count. */
  private def leafFiles(root: File): (Seq[File], Int) = {
    val leaves = scala.collection.mutable.ArrayBuffer[File]()
    var files = 0
    def walk(d: File): Unit = {
      val kids = Option(d.listFiles()).getOrElse(Array.empty[File])
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      val data = kids.filter(_.getName.endsWith(".parquet"))
      if (data.nonEmpty) { leaves += d; files += data.length }
      kids.filter(_.isDirectory).foreach(walk)
    }
    walk(root)
    (leaves.toSeq, files)
  }
}
