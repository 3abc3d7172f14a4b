package graft.state

import graft.SparkSpec
import graft.streaming.StreamNearDedup
import org.apache.spark.sql.functions._

/** The compaction-vs-replay protocol ([[Generations.foldBatches]]):
  * folding batch leaves older than the replay horizon into the
  * per-bucket base generation must change NOTHING observable — pair
  * history, probe results, row sets — while bounding leaf-file
  * growth; and a replay arriving AFTER a fold must stay idempotent
  * because only unfolded (≥ horizon) batches can ever be replayed. */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"

  private def fsp(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def parquetFiles(dir: String): Seq[String] = {
    val (fs, p) = fsp(dir)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.Buffer.empty[String]
      while (it.hasNext) {
        val f = it.next().getPath.toString
        if (f.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    }
  }

  private val pairSchema =
    "new_id long, old_id long, n_inter long, n_union long, " +
      "batch_id long"

  test("folding bucketed side tables preserves pair history, probe " +
    "results and row sets while collapsing batch leaves") {
    val dir = java.nio.file.Files
      .createTempDirectory("gen-fold").toString
    val side = s"$dir/side"; val pairs = s"$dir/pairs"
    val band = s"$dir/band"
    def run(batchId: Long, docs: Seq[(Long, String)]): Long =
      StreamNearDedup.probeAndAppend(spark,
        docs.toDF("doc_id", "text"), batchId, side, pairs,
        bandDir = band, threshold = 0.2, buckets = 8)
    def pairSet(): Set[(Long, Long, Long)] =
      spark.read.schema(pairSchema).parquet(pairs)
        .select(col("new_id"), col("old_id"), col("batch_id"))
        .as[(Long, Long, Long)].collect().toSet
    def sideRows(): Set[(Long, Int)] =
      spark.read.parquet(side).select(col("id"), col("id_bucket"))
        .as[(Long, Int)].collect().toSet
    def bandRows(): Set[(Long, Int, Long, Int)] =
      spark.read.parquet(band)
        .select(col("id"), col("band"), col("key"), col("band_bucket"))
        .as[(Long, Int, Long, Int)].collect().toSet

    run(0L, Seq(1L -> base,
      2L -> "completely different words entirely here nothing shared"))
    run(1L, Seq(10L -> base.replace("sigma", "SIGMA"),
      11L -> ("foo bar " * 12).trim))
    run(2L, Seq(20L -> ("foo bar " * 12).trim))
    val pairsBefore = pairSet()
    val sideBefore = sideRows()
    val bandBefore = bandRows()
    val sideLeavesBefore = parquetFiles(side).size

    // fold batches 0 and 1 (horizon = the current batch id: only
    // batch 2 could still be re-delivered)
    val s1 = Generations.foldBatches(spark, side, horizon = 2L)
    val s2 = Generations.foldBatches(spark, band, horizon = 2L)
    assert(s1.foldedLeaves > 0 && s2.foldedLeaves > 0)

    // nothing observable changed
    assert(pairSet() === pairsBefore)
    assert(sideRows() === sideBefore)
    assert(bandRows() === bandBefore)
    // folded rows now live in batch_id=-1 bases; old leaves gone
    val sideT = spark.read.parquet(side)
    assert(sideT.filter(col("batch_id") === Generations.BaseBatchId)
      .select("id").as[Long].collect().toSet === Set(1L, 2L, 10L, 11L))
    assert(sideT.filter(col("batch_id").between(0L, 1L)).count() === 0)
    assert(parquetFiles(side).size < sideLeavesBefore)

    // a NEW batch probes the folded corpus exactly as before: doc 30
    // near-dups doc 1 (folded into the base) and doc 31 dups the
    // still-leafed doc 20
    run(3L, Seq(30L -> base.replace("rho", "RHO"),
      31L -> ("foo bar " * 12).trim))
    val p3 = pairSet().filter(_._3 == 3L)
    assert(p3.contains((30L, 1L, 3L)))
    assert(p3.exists(p => p._1 == 31L && Set(11L, 20L)(p._2)))

    // a second fold with nothing old enough is a no-op
    assert(Generations.foldBatches(spark, side, horizon = 2L)
      .foldedLeaves === 0)

    // folding AGAIN later (horizon = 4) merges the existing base
    // with batches 2 and 3 — base-into-base correctness
    val s3 = Generations.foldBatches(spark, side, horizon = 4L)
    assert(s3.foldedLeaves > 0)
    Generations.foldBatches(spark, band, horizon = 4L)
    assert(pairSet().filter(_._3 <= 2L) === pairsBefore)
    assert(spark.read.parquet(side)
      .filter(col("batch_id") =!= Generations.BaseBatchId)
      .count() === 0)
  }

  test("a replay AFTER a fold stays idempotent: only unfolded " +
    "batches are replayable, and their clear-then-rewrite never " +
    "touches the base generation") {
    val dir = java.nio.file.Files
      .createTempDirectory("gen-replay").toString
    val side = s"$dir/side"; val pairs = s"$dir/pairs"
    val band = s"$dir/band"
    def run(batchId: Long, docs: Seq[(Long, String)]): Long =
      StreamNearDedup.probeAndAppend(spark,
        docs.toDF("doc_id", "text"), batchId, side, pairs,
        bandDir = band, threshold = 0.2, buckets = 8)
    def pairSet(): Set[(Long, Long, Long)] =
      spark.read.schema(pairSchema).parquet(pairs)
        .select(col("new_id"), col("old_id"), col("batch_id"))
        .as[(Long, Long, Long)].collect().toSet

    run(0L, Seq(1L -> base))
    run(1L, Seq(10L -> base.replace("sigma", "SIGMA")))
    // fold batch 0; batch 1 is the replayable frontier
    Generations.foldBatches(spark, side, horizon = 1L)
    Generations.foldBatches(spark, band, horizon = 1L)
    val want = pairSet()
    // replay batch 1 (post-crash redelivery) — same rows
    run(1L, Seq(10L -> base.replace("sigma", "SIGMA")))
    assert(pairSet() === want)
    assert(spark.read.parquet(side).select("id").as[Long]
      .collect().toSet === Set(1L, 10L))
    // replay batch 1 with a DRIFTED row set: the ghost clear scrubs
    // only batch 1's leaves; the folded base must survive untouched
    run(1L, Seq(99L -> "entirely unrelated replacement row text"))
    assert(spark.read.parquet(side).select("id").as[Long]
      .collect().toSet === Set(1L, 99L))
    assert(spark.read.parquet(side)
      .filter(col("batch_id") === Generations.BaseBatchId)
      .select("id").as[Long].collect().toSet === Set(1L))
  }

  test("crash recovery: staging without a commit record is " +
    "discarded; a committed fold is completed idempotently") {
    val dir = java.nio.file.Files
      .createTempDirectory("gen-crash").toString
    val side = s"$dir/side"; val pairs = s"$dir/pairs"
    val band = s"$dir/band"
    def run(batchId: Long, docs: Seq[(Long, String)]): Long =
      StreamNearDedup.probeAndAppend(spark,
        docs.toDF("doc_id", "text"), batchId, side, pairs,
        bandDir = band, threshold = 0.2, buckets = 8)
    run(0L, Seq(1L -> base))
    run(1L, Seq(10L -> base.replace("sigma", "SIGMA")))
    val rows = spark.read.parquet(side).select("id")
      .as[Long].collect().toSet
    val (fs, sp) = fsp(side)

    // (a) crash BEFORE the commit point: junk staging, no commit —
    // recover discards it and the table is untouched. A PARTIAL
    // commit record under its temp name (crash mid-write, before the
    // atomic rename) is part of "no commit": discarded, never parsed
    val staging = new org.apache.hadoop.fs.Path(sp, ".graft_fold")
    fs.mkdirs(new org.apache.hadoop.fs.Path(staging, "data"))
    val partial = fs.create(new org.apache.hadoop.fs.Path(staging,
      "._commit.json.tmp"), true)
    partial.write("""{"parents": ["id_buck""".getBytes("UTF-8"))
    partial.close()
    Generations.recover(spark, side)
    assert(!fs.exists(staging))
    assert(spark.read.parquet(side).select("id")
      .as[Long].collect().toSet === rows)

    // (b) crash AFTER the commit point: stage a real fold by hand
    // (what foldBatches writes between its data write and its
    // completion), then recover — the base must be installed and the
    // folded leaves deleted, and a SECOND recover must be a no-op
    val folded = spark.read.parquet(side)
      .filter(col("batch_id") === 0L)
    val buckets = folded.select("id_bucket").distinct()
      .as[Int].collect().toSeq.sorted
    folded.drop("batch_id")
      .repartition(col("id_bucket"))
      .write.partitionBy("id_bucket")
      .parquet(new org.apache.hadoop.fs.Path(staging, "data").toString)
    val commit = {
      def arr(xs: Seq[String]) =
        xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
      s"""{"parents": ${arr(buckets.map(b => s"id_bucket=$b"))}, """ +
        s""""folded": ${arr(buckets.map(b => s"id_bucket=$b|0"))}}"""
    }
    val out = fs.create(
      new org.apache.hadoop.fs.Path(staging, "_commit.json"), true)
    out.write(commit.getBytes("UTF-8")); out.close()
    Generations.recover(spark, side)
    assert(!fs.exists(staging))
    val t = spark.read.parquet(side)
    assert(t.select("id").as[Long].collect().toSet === rows)
    assert(t.filter(col("batch_id") === 0L).count() === 0)
    assert(t.filter(col("batch_id") === Generations.BaseBatchId)
      .select("id").as[Long].collect().toSet === Set(1L))
    Generations.recover(spark, side) // no-op on a clean table
    assert(spark.read.parquet(side).select("id")
      .as[Long].collect().toSet === rows)

    // probeAndAppend itself recovers a crashed fold before reading
    val staging2 = new org.apache.hadoop.fs.Path(sp, ".graft_fold")
    fs.mkdirs(new org.apache.hadoop.fs.Path(staging2, "data"))
    run(2L, Seq(20L -> base.replace("tau", "TAU")))
    assert(!fs.exists(staging2))
  }

  test("sampleLeavesPerBucket: deterministic sampled mean over " +
    "bucket dirs; 0.0 for flat/missing layouts (auto-fold can " +
    "never fire where no per-bucket fold exists)") {
    val dir = java.nio.file.Files
      .createTempDirectory("gen-lpb").toString
    // missing table
    assert(Generations.sampleLeavesPerBucket(spark, s"$dir/nope")
      === 0.0)
    // bucketed: 3 buckets x (2|3|4) batch leaves -> mean 3.0; the
    // base generation counts like any other leaf
    val t = s"$dir/t"
    for (b <- 0 until 3; l <- 0 to (b + 1))
      Seq((1L, "x")).toDF("k", "v")
        .write.parquet(s"$t/id_bucket=$b/batch_id=${
          if (l == 0) -1 else l}")
    assert(Generations.sampleLeavesPerBucket(spark, t) === 3.0)
    // sample smaller than the bucket count: name-sorted prefix
    // (id_bucket=0 has 2 leaves) — deterministic
    assert(Generations.sampleLeavesPerBucket(spark, t, sample = 1)
      === 2.0)
    // flat one-level layout (batch_id= at the root): no bucket
    // denominator -> 0.0, the auto cadence stays inert
    val f = s"$dir/flat"
    for (b <- 0 until 5)
      Seq((1L, "x")).toDF("k", "v")
        .write.parquet(s"$f/batch_id=$b")
    assert(Generations.sampleLeavesPerBucket(spark, f) === 0.0)
    // ...and the fold refuses that shape rather than rewrite the whole
    // table through one task
    val e = intercept[IllegalArgumentException] {
      Generations.foldBatches(spark, f, horizon = 5L) }
    assert(e.getMessage.contains("batch_id leaves at its root"))
  }

  test("watermark install: a failing delete+rename fallback still " +
    "carries the original rename refusal (cause/suppressed), and a " +
    "working fallback installs despite a throwing rename") {
    val dir = java.nio.file.Files
      .createTempDirectory("gen-wm").toString
    val table = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = table.getFileSystem(conf)
    val wmDst = new org.apache.hadoop.fs.Path(table,
      "_graft_last_batch.json")

    // an FS whose rename THROWS on an occupied destination (the
    // FileAlreadyExistsException class of filesystems) but whose
    // delete works: the fallback must succeed — no watermark-install
    // failure on every trigger
    Generations.writeLastBatchWatermark(raw, table, 1L)
    val renameThrows = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def rename(src: org.apache.hadoop.fs.Path,
                          dst: org.apache.hadoop.fs.Path): Boolean =
        if (dst == wmDst && fs.exists(dst))
          throw new java.io.IOException("rename refused: dst exists")
        else fs.rename(src, dst)
    }
    Generations.writeLastBatchWatermark(renameThrows, table, 2L)
    assert(Generations.lastBatchWatermark(raw, table).contains(2L))

    // the fallback ITSELF failing (e.g. permissions on delete) must
    // propagate WITH the first rename refusal attached — losing the
    // root cause is the regression this pins
    val bothFail = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def rename(src: org.apache.hadoop.fs.Path,
                          dst: org.apache.hadoop.fs.Path): Boolean =
        if (dst == wmDst)
          throw new java.io.IOException("rename refused")
        else fs.rename(src, dst)
      override def delete(p: org.apache.hadoop.fs.Path,
                          recursive: Boolean): Boolean =
        if (p == wmDst)
          throw new java.io.IOException("delete refused")
        else fs.delete(p, recursive)
    }
    val e = intercept[java.io.IOException] {
      Generations.writeLastBatchWatermark(bothFail, table, 3L) }
    assert(e.getMessage === "delete refused")
    assert(e.getSuppressed.exists(
      _.getMessage == "rename refused"),
      s"first failure lost: suppressed=${e.getSuppressed.toSeq}")
    // the live watermark is untouched by the failed install
    assert(Generations.lastBatchWatermark(raw, table).contains(2L))

    // false-returning rename with a false-returning fallback: the
    // terminal IllegalStateException (no throwable root cause exists
    // — nothing to chain)
    val bothFalse = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def rename(src: org.apache.hadoop.fs.Path,
                          dst: org.apache.hadoop.fs.Path): Boolean =
        if (dst == wmDst) false else fs.rename(src, dst)
    }
    val e2 = intercept[IllegalStateException] {
      Generations.writeLastBatchWatermark(bothFalse, table, 3L) }
    assert(e2.getMessage.contains("cannot install watermark"))
  }
}
