package graft.query

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class RankSpec extends SparkSpec {

  /** ~5 MB of incompressible shuffle payload over 10k rows. AQE sizes
    * cached plans by bytes (`Tables.perfConf`), so a KB-sized input
    * would coalesce to one partition and hide the distribution the
    * tests below assert. */
  private def padded(df: DataFrame, key: String): DataFrame =
    df.withColumn("__pad", concat((0 until 8).map(j =>
      sha2(concat(col(key).cast("string"), lit(s"#$j")), 512)): _*))

  test("globalRowNumber == unpartitioned window row_number, no WindowExec") {
    val customers = graft.Tables.customer(spark, "/root/testdata/sf0.01")
      .filter(col("c_acctbal") > 0)
    val viaWindow = customers
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c_acctbal").desc, col("c_custkey").asc))
        .cast("long"))
      .select("rank", "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ranked = Rank.globalRowNumber(customers,
      Seq(col("c_acctbal").desc, col("c_custkey").asc))
    val viaRank = ranked.select("rank", "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CacheTracker.releaseAll()
    assert(viaRank == viaWindow)
    assert(viaWindow.map(_._1) == (1L to viaWindow.size.toLong).toSet)
    // the scale point: no window operator anywhere in the plan
    assert(!ranked.queryExecution.executedPlan.toString
      .contains("Window"))
  }

  test("globalRunningSum == unpartitioned window sum, distributed") {
    import spark.implicits._
    val df = (1 to 10000).map(i => (i.toLong, (i % 7 + 1).toLong))
      .toDF("k", "n")
    val viaWindow = df.withColumn("cum", sum("n").over(
      Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val summed = Rank.globalRunningSum(padded(df, "k"), Seq(col("k").asc),
      col("n"), "cum")
    assert(summed.rdd.getNumPartitions > 1)
    val got = summed.select("k", "cum")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CacheTracker.releaseAll()
    assert(got == viaWindow)
    assert(!summed.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("globalRowNumber distributes ranks across many partitions") {
    import spark.implicits._
    // more rows than one partition would hold comfortably; ensure the
    // rank job actually uses multiple partitions (the point of the
    // operator) and still numbers 1..n densely
    val df = (1 to 10000).map(i => (i.toLong, s"u$i")).toDF("v", "u")
    val ranked = Rank.globalRowNumber(padded(df, "u"),
      Seq(col("v").desc, col("u").asc))
    val nParts = ranked.rdd.getNumPartitions
    assert(nParts > 1, s"expected distributed sort, got $nParts partition")
    val ranks = ranked.select("rank", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.CacheTracker.releaseAll()
    assert(ranks.map(_._1).sorted.toSeq == (1L to 10000L))
    // rank 1 = max value, rank n = min value
    assert(ranks.find(_._1 == 1L).get._2 == 10000L)
    assert(ranks.find(_._1 == 10000L).get._2 == 1L)
  }
}
