package graft.state

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Schema evolution on a long-lived parquet table — the operations
  * story a 100 TB table needs when a column is added years in:
  * mixed-schema reads (mergeSchema), the ingest union contract
  * (unionByName allowMissingColumns — how StreamIngest unions stored
  * rows with a batch's rows), and partition-scoped backfill via dynamic
  * overwrite (only the partitions being backfilled are rewritten;
  * history stays byte-identical on disk). */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  test("mergeSchema read: v1 files surface the v2 column as null") {
    val dir = Files.createTempDirectory("graft-schema").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.mode("overwrite").parquet(s"$dir/part=old")
    Seq((3L, "c", 9.5)).toDF("id", "s", "score")
      .write.mode("overwrite").parquet(s"$dir/part=new")
    val t = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(t.columns.toSet === Set("id", "s", "score", "part"))
    val rows = t.orderBy("id")
      .select("id", "score").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None
        else Some(r.getDouble(1))))
    assert(rows.toSeq === Seq((1L, None), (2L, None), (3L, Some(9.5))))
  }

  test("partition-scoped backfill rewrites ONLY the target partition") {
    val dir = Files.createTempDirectory("graft-backfill").toString
    Seq((1L, "m1"), (2L, "m1"), (3L, "m2"))
      .toDF("id", "month")
      .write.mode("overwrite").partitionBy("month").parquet(dir)
    def files(sub: String): Map[String, Long] = {
      val d = new java.io.File(s"$dir/month=$sub")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val m2Before = files("m2")

    // backfill `score` for month=m1 only, dynamic partition overwrite
    val sess = spark
    sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.read.parquet(dir)
        .filter(col("month") === "m1")
        .withColumn("score", col("id") * 2.0)
        .write.mode("overwrite").partitionBy("month").parquet(dir)
    } finally sess.conf.unset("spark.sql.sources.partitionOverwriteMode")

    // untouched partition: same files, same mtimes
    assert(files("m2") === m2Before)
    // merged view: backfilled where rewritten, null elsewhere
    val t = spark.read.option("mergeSchema", "true").parquet(dir)
    val rows = t.orderBy("id")
      .select("id", "score").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None
        else Some(r.getDouble(1))))
    assert(rows.toSeq ===
      Seq((1L, Some(2.0)), (2L, Some(4.0)), (3L, None)))
  }

  test("ingest union contract: unionByName aligns v1/v2 frames") {
    val v1 = Seq((1L, "a")).toDF("id", "s")
    val v2 = Seq((2L, "b", 1.5)).toDF("id", "s", "score")
    val u = v1.unionByName(v2, allowMissingColumns = true).orderBy("id")
    assert(u.columns.toSet === Set("id", "s", "score"))
    assert(u.collect().map(_.isNullAt(2)).toSeq === Seq(true, false))
  }
}
