package graft.state

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ONE marker-and-read protocol, THREE instances: the reply index,
  * the dedup band table, and the dedup sets table each run the same
  * generation protocol — marker-before-data create, recorded-modulus
  * wins, empty-generation sentinel, leaf-pruned reads.
  * [[Layout.BucketedTable]] is the single home of the (bucketCol,
  * markerKey) pairing; this spec drives the protocol for all three
  * layouts by construction, so a regression cannot hide in any one
  * instance. Aging is covered where it runs: the fold in
  * GenerationsSpec, file compaction in ZorderCompactSpec. */
class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val layouts = Seq[(String, String => Layout.BucketedTable)](
    "reply-index" -> Layout.replyIndexTable,
    "band-side" -> Layout.bandSideTable,
    "sets-side" -> Layout.setsSideTable)

  private def rows(n: Int) =
    (0 until 40).map(i => (i.toLong, s"v$i", i % n))

  private def fsp(t: Layout.BucketedTable) = {
    val p = new org.apache.hadoop.fs.Path(t.dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def hasData(t: Layout.BucketedTable): Boolean = {
    val (fs, p) = fsp(t)
    Layout.hasDataFiles(fs, p)
  }

  private def rebuild(t: Layout.BucketedTable, n: Int)
                     (write: => Unit): Unit =
    Layout.rebuildWithMarker(spark, t.dir, t.markerKey, n)(write)

  for ((name, mk) <- layouts) {
    test(s"$name: marker-before-data create, recorded modulus wins, " +
      "crashed create is recognized, sentinel round-trips") {
      val t = mk(java.nio.file.Files
        .createTempDirectory(s"lc-$name").toString + "/t")
      // full rebuild: marker lands BEFORE data; modulus round-trips
      rebuild(t, 4) {
        rows(4).toDF("k", "v", t.bucketCol)
          .repartition(col(t.bucketCol))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(t.bucketCol).parquet(t.dir)
      }
      assert(t.modulus(spark).contains(4) && hasData(t))
      // ensureMarker is a no-op on an existing marker (the
      // incremental-create rule: never truncate-rewrite per batch)
      t.ensureMarker(spark, 16)
      assert(t.modulus(spark).contains(4))
      // crashed create: a rebuild whose write dies leaves marker-only
      // — hasData reads it as "no table" (the recovery contract)
      val t2 = mk(java.nio.file.Files
        .createTempDirectory(s"lc2-$name").toString + "/t")
      intercept[RuntimeException] {
        rebuild(t2, 8) { sys.error("crash mid-create") }
      }
      assert(t2.modulus(spark).contains(8) && !hasData(t2))
      // empty generation: the sentinel distinguishes "bootstrap
      // completed with zero rows" from that crashed create
      val (fs2, p2) = fsp(t2)
      assert(!Layout.hasEmptyIndexMarker(fs2, p2))
      Layout.writeEmptyIndexMarker(fs2, p2)
      assert(Layout.hasEmptyIndexMarker(fs2, p2) && !hasData(t2))
      // a fresh rebuild clears the sentinel with the old generation
      rebuild(t2, 8) {
        rows(8).toDF("k", "v", t2.bucketCol)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(t2.bucketCol).parquet(t2.dir)
      }
      assert(!Layout.hasEmptyIndexMarker(fs2, p2) && hasData(t2))
      // a corrupt marker REFUSES strict consumers instead of
      // degrading (the write-path rule)
      val out = fs2.create(
        new org.apache.hadoop.fs.Path(p2, "_graft_layout.json"), true)
      out.write("{\"garbage\": true}".getBytes("UTF-8")); out.close()
      intercept[IllegalStateException] {
        t2.modulus(spark, strict = true) }
      assert(t2.modulus(spark).isEmpty) // non-strict degrades to scan
    }

    test(s"$name: leaf-pruned reads return exactly the requested " +
      "buckets without touching the rest of the layout") {
      val t = mk(java.nio.file.Files
        .createTempDirectory(s"lc3-$name").toString + "/t")
      rebuild(t, 4) {
        rows(4).toDF("k", "v", t.bucketCol)
          .repartition(col(t.bucketCol))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(t.bucketCol).parquet(t.dir)
      }
      val full = spark.read.parquet(t.dir)
      val want = full.filter(col(t.bucketCol).isin(1, 2))
        .select("k").as[Long].collect().toSet
      val got = t.readBuckets(spark, Seq(1, 2)).get
        .select("k").as[Long].collect().toSet
      assert(got === want && got.nonEmpty)
      assert(t.readBuckets(spark, Seq(999)).isEmpty)
      assert(t.readBuckets(spark, Nil).isEmpty)
    }
  }

  test("strict leaf reads refuse PARTIALLY mixed layouts: data " +
    "outside the bucket tree (a legacy parent, a stray root file) " +
    "fails loud instead of being silently omitted") {
    // two-level shape (the posts store): one month parent bucketed,
    // another holding raw parquet files with no key_bucket= children
    // — the partially-migrated-legacy case the all-or-nothing signal
    // misses (some bucket dirs exist, so sawBucketDir is true)
    val dir = java.nio.file.Files
      .createTempDirectory("lc-mixed").toString + "/t"
    Seq((1L, "a")).toDF("k", "v")
      .write.parquet(s"$dir/created_month=2024-01/key_bucket=0")
    Seq((2L, "b")).toDF("k", "v")
      .write.parquet(s"$dir/created_month=2024-02") // raw, unbucketed
    val t = Layout.postsStoreTable(dir)
    val e = intercept[IllegalStateException] {
      t.readBuckets(spark, Seq(0)) }
    assert(e.getMessage.contains("outside the key_bucket= partition"))
    // one-level shape: a foreign partition dir next to the bucket
    // dirs is unbucketed data at that level too
    val dir2 = java.nio.file.Files
      .createTempDirectory("lc-mixed2").toString + "/t"
    Seq((1L, "a")).toDF("k", "v")
      .write.parquet(s"$dir2/reply_bucket=0")
    Seq((2L, "b")).toDF("k", "v")
      .write.parquet(s"$dir2/batch_id=7")
    val e2 = intercept[IllegalStateException] {
      Layout.replyIndexTable(dir2).readBuckets(spark, Seq(0)) }
    assert(e2.getMessage.contains("outside the reply_bucket="))
    // ...and NO false positive on the healthy batch-appended shape
    // (bucket dirs whose children are batch_id= leaves)
    val dir3 = java.nio.file.Files
      .createTempDirectory("lc-mixed3").toString + "/t"
    Seq((1L, "a")).toDF("k", "v")
      .write.parquet(s"$dir3/id_bucket=0/batch_id=0")
    assert(Layout.setsSideTable(dir3).readBuckets(spark, Seq(0))
      .get.count() === 1)
  }
}
