package graft.tools

import graft.api.{ApiTables, GraftApi, HttpApi}
import org.apache.spark.sql.SparkSession

/** Boot the GraphQL front door over an ingest-produced entity store —
  * the deployment shape of the reference's indexer API
  * (`src/modules/api/index.ts:54-75`: yoga on a port, backed by the
  * ingested collections).
  *
  * Usage: `runMain graft.tools.Serve <storeDir> [port]` — boots at
  * `local[nproc]` (or `local[$SPARK_GRAFT_CPUS]`), with as many HTTP
  * request threads. Under spark-submit the submitted `--master` and
  * any `--conf` (e.g. `spark.sql.shuffle.partitions`) are kept; see
  * [[graft.Session]].
  *
  * `storeDir` holds the entity tables as parquet subdirectories —
  * `posts/` `follows/` `profiles/` required, `ceramic_profiles/`
  * `communities/` `social_connections/` `sync_stats/` picked up when
  * present (missing optional tables simply leave their resolvers
  * unconfigured — querying one is a field-level GraphQL error). The
  * layout is exactly what the ingest pipeline writes (PostsIngest /
  * GraphIngest output, persisted per partition strategy); pointing
  * this at a store on a cluster serves interactive GraphQL while all
  * per-query heavy lifting stays distributed. */
object Serve {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Serve <storeDir> [port] (default port 4568)")
    val store = args(0).stripSuffix("/")
    val port = if (args.length > 1) args(1).toInt else 4568
    // one request thread per local core: the pool admits as many
    // concurrent requests as the master has cores to run their jobs
    val cores = graft.Session.cores()
    val spark = graft.Session.build(cores,
      extra = Map("spark.app.name" -> "graft-serve"))
    val server = new HttpApi(new GraftApi(spark, tables(spark, store)),
      port, cores).start()
    println(s"graft GraphQL API listening on " +
      s"http://0.0.0.0:${server.boundPort}/api/v2/graphql")
    // serve until killed
    Thread.currentThread().join()
  }

  /** Load the entity store: required tables throw on absence with the
    * path in the message; optional ones resolve to None (their
    * resolvers then answer with a field-level GraphQL error). */
  def tables(spark: SparkSession, storeDir: String): ApiTables = {
    val store = storeDir.stripSuffix("/")
    def req(name: String) = spark.read.parquet(s"$store/$name")
    def opt(name: String) =
      try Some(spark.read.parquet(s"$store/$name"))
      catch {
        case _: org.apache.spark.sql.AnalysisException => None
      }
    ApiTables(
      posts = req("posts"),
      follows = req("follows"),
      profiles = req("profiles"),
      ceramicProfiles = opt("ceramic_profiles"),
      communities = opt("communities"),
      socialConnections = opt("social_connections"),
      syncStats = opt("sync_stats"),
      // an absent marker serves unpruned; a corrupt or old-hash one
      // fails the load with its path
      keyBuckets = graft.state.Layout.postsKeyBuckets(spark,
        s"$store/posts"),
      // the marker first: a corrupt one fails the load with its path
      replyIndex = for {
        n <- graft.state.Layout.replyIndexBuckets(spark,
          s"$store/reply_index")
        df <- opt("reply_index")
      } yield (df, n))
  }
}
