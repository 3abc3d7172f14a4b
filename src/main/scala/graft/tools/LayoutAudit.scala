package graft.tools

import graft.state.Layout
import org.apache.spark.sql.functions._

/** Dev-only: the recorded layout proof (VERDICT r01 item 10).
  *
  * Writes a posts-shaped table month-partitioned via Layout.writePosts
  * (events spread over 6 months), runs the q04-style 3-day trending
  * window through Layout.monthWindow, and prints the evidence:
  * PartitionFilters in the formatted plan + the scan's partitions-read
  * metric. Output is committed as LAYOUT_AUDIT.md.
  */
object LayoutAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-layout-audit").toString + "/posts"

    val posts = graft.Tables.events(spark, "/root/testdata/sf0.1")
      .select(col("event_id"), col("user_id"), col("ts").as("ts0"))
      .withColumn("created_at",
        add_months(col("ts0"), pmod(col("event_id"), lit(6)).cast("int"))
          .cast("timestamp"))
      .withColumn("author", concat(lit("u"), col("user_id")))
      .withColumn("permlink", concat(lit("p"), col("event_id")))
      .drop("ts0")
    Layout.writePosts(posts, dir)
    val table = Layout.readPosts(spark, dir)
    println(s"table rows = ${table.count()}; months = " +
      table.select("created_month").distinct().orderBy("created_month")
        .collect().map(_.getString(0)).mkString(", "))

    val anchor = table.agg(max("created_at")).head().getTimestamp(0)
    val from = java.sql.Timestamp.from(
      anchor.toInstant.minus(java.time.Duration.ofDays(3)))
    val pruned = Layout.monthWindow(table, from, anchor)
    // execute THIS QueryExecution so its scan metrics populate
    // (count() would build a separate plan)
    println(s"window = [$from .. $anchor]; rows = ${pruned.collect().length}")

    val finalPlan = pruned.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = finalPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    println(s"partitions read = ${scan.metrics("numPartitions").value}" +
      s" of 6; files read = ${scan.metrics("numFiles").value}")
    println("—— scan node ——")
    println(scan.toString.linesIterator.take(12).mkString("\n"))
    spark.stop()
  }
}
