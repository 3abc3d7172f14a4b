package perfbench

import graft.domain.Schemas
import graft.ingest.{GraphIngest, OpExtract}
import graft.streaming.StreamIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.io.File

/** The served store, built from the generated blocks through the
  * engine's ingest path. The archive is one
  * `StreamIngest.mergeBlocksBatch` into an empty bucketed posts table
  * (with its reply index); follows come from the archive's follow ops
  * via `GraphIngest.follows`; profiles are loaded as generated. The tail
  * blocks then arrive as files and `StreamIngest.run` merges them into
  * the stored table (`Trigger.AvailableNow`, its default 8 files per
  * micro-batch): bucket-pruned reads of the stored rows, latest-wins
  * against them, dynamic partition overwrite and the reply-index
  * delta. */
object Store {
  def blocksDf(spark: SparkSession, path: String) =
    spark.read.schema(Schemas.block).json(path)

  /** What building the store took: seconds per step (`posts` is the
    * catch-up merge, `tail` the streamed merges into the stored
    * table), the tail's streaming query, and when the tail started. */
  final case class Built(steps: Seq[(String, Double)],
                         tail: StreamingQuery, tailStartMs: Long)

  def build(env: Env, dir: String, beforeTail: () => Unit): Built = {
    import env.spark
    def timed(step: String)(body: => Unit) = {
      val t0 = System.nanoTime()
      body
      step -> (System.nanoTime() - t0) / 1e9
    }
    val archive = s"${env.work}/blocks"
    val bulk = env.inGroup("catchup")(Seq(
      timed("posts")(StreamIngest.mergeBlocksBatch(spark,
        blocksDf(spark, archive), s"$dir/posts",
        replyIndexDir = Some(s"$dir/reply_index"))),
      timed("follows")(GraphIngest.follows(OpExtract.ops(
        blocksDf(spark, archive))).write.parquet(s"$dir/follows")),
      timed("profiles")(spark.read.schema(Schemas.profile)
        .json(s"${env.work}/profiles.json").write.parquet(s"$dir/profiles"))))
    beforeTail()
    val tailStartMs = System.currentTimeMillis()
    var query: StreamingQuery = null
    val tail = timed("tail") {
      query = StreamIngest.run(spark, s"${env.work}/tail", s"$dir/posts",
        s"${env.work}/checkpoint", Trigger.AvailableNow(),
        replyIndexDir = Some(s"$dir/reply_index"))
      query.awaitTermination()
    }
    query.exception.foreach(e => throw e)
    Built(bulk :+ tail, query, tailStartMs)
  }

  /** trendingTags' clock, fixed by the generator so answers are known */
  def now(work: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.lit(meta(work).get("now").asText())
      .cast("timestamp")

  /** The API over the store, loaded as the engine's server loads it
    * (`Serve.tables`): the only way new rows become visible. */
  def api(spark: SparkSession, work: String, dir: String) =
    new graft.api.GraftApi(spark, graft.tools.Serve.tables(spark, dir),
      now = () => now(work))

  def meta(work: String) =
    Main.mapper.readTree(new File(s"$work/meta.json"))
}
