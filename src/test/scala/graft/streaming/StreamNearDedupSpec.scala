package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streaming incremental near-dup (foreachBatch unit): cross-batch
  * probing, intra-batch pairs, replay idempotence, layout guards and
  * the auto fold. */
class StreamNearDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"

  private val pairSchema =
    "new_id long, old_id long, n_inter long, n_union long, batch_id long"

  // zero-pair batches never create the pairs table — readers supply
  // the schema (the operator's documented contract)
  private def pairSet(pairs: String): Set[(Long, Long, Long)] =
    spark.read.schema(pairSchema).parquet(pairs)
      .select(col("new_id"), col("old_id"), col("batch_id"))
      .as[(Long, Long, Long)].collect().toSet

  /** Writes one JSON doc file per batch with an explicit mtime: the
    * file source orders batches by modification time. */
  private def writeDocs(in: String, name: String, mtime: Long,
                        docs: Seq[(Long, String)]): Unit = {
    new java.io.File(in).mkdirs()
    val f = new java.io.File(in, name)
    val w = new java.io.PrintWriter(f)
    try docs.foreach { case (id, t) =>
      w.println(s"""{"doc_id": $id, "text": "$t"}""") }
    finally w.close()
    f.setLastModified(mtime)
  }

  test("batches probe the accumulated corpus; replay overwrites in place") {
    val dir = java.nio.file.Files
      .createTempDirectory("snd").toString
    val side = s"$dir/side"; val pairs = s"$dir/pairs"
    def run(batchId: Long, docs: Seq[(Long, String)]): Long =
      StreamNearDedup.probeAndAppend(spark,
        docs.toDF("doc_id", "text"), batchId, side, pairs,
        bandDir = s"$dir/band", threshold = 0.2, buckets = 8)

    // batch 0: two unrelated docs — no pairs, side table seeded
    assert(run(0L, Seq(1L -> base,
      2L -> "completely different words entirely here nothing shared"))
      === 0L)
    assert(spark.read.parquet(side).count() === 2)

    // batch 1: near-dup of doc 1 + fresh doc — one cross-batch pair
    run(1L, Seq(10L -> base.replace("sigma", "SIGMA"),
      11L -> ("foo bar " * 12).trim))
    assert(pairSet(pairs) === Set((10L, 1L, 1L)))

    // batch 2: exact dup of 11 twice — cross-batch AND intra-batch
    run(2L, Seq(20L -> ("foo bar " * 12).trim,
      21L -> ("foo bar " * 12).trim))
    assert(pairSet(pairs) === Set((10L, 1L, 1L),
      (20L, 11L, 2L), (21L, 11L, 2L), (20L, 21L, 2L)))
    assert(spark.read.parquet(side).count() === 6)

    // replay batch 2 (post-crash redelivery): nothing duplicates,
    // and the batch does not pair against its own first run
    run(2L, Seq(20L -> ("foo bar " * 12).trim,
      21L -> ("foo bar " * 12).trim))
    assert(pairSet(pairs) === Set((10L, 1L, 1L),
      (20L, 11L, 2L), (21L, 11L, 2L), (20L, 21L, 2L)))
    assert(spark.read.parquet(side).count() === 6)
  }

  test("same pair history as Dedup.minhashLshProbeSets over the " +
    "accumulated corpus, through identical and drifted replays; " +
    "both side tables maintained per batch") {
    import StreamNearDedup.Defaults
    val dir = java.nio.file.Files
      .createTempDirectory("snd-parity").toString
    val side = s"$dir/side"; val pairs = s"$dir/pairs"
    val band = s"$dir/band"
    def sets(docs: Seq[(Long, String)]) = docs.toDF("doc_id", "text")
      .select(col("doc_id").as("id"),
        graft.functions.Text.tokens(col("text")).as("toks"))
      .select(col("id"), graft.functions.Text.wordShingles(col("toks"),
        Defaults.ShingleN).as("sh"))
    // the reference: each batch's docs as last delivered, and the
    // batch reference probe's pairs for that delivery against every
    // OTHER batch's docs (a replay replaces its batch's entry)
    val docsOf = scala.collection.mutable.Map.empty[Long, Seq[(Long, String)]]
    val want = scala.collection.mutable.Map.empty[Long,
      Set[(Long, Long, Long, Long)]]
    def step(b: Long, docs: Seq[(Long, String)]): Unit = {
      val corpus = docsOf.toSeq.filter(_._1 != b).flatMap(_._2)
      want(b) = graft.dedup.Dedup.minhashLshProbeSets(sets(corpus),
          sets(docs), Defaults.K, Defaults.Bands, 0.2, Defaults.Seed)
        .as[(Long, Long, Long, Long)].collect().toSet
      graft.CacheTracker.releaseAll()
      docsOf(b) = docs
      StreamNearDedup.probeAndAppend(spark, docs.toDF("doc_id", "text"),
        b, side, pairs, bandDir = band, threshold = 0.2, buckets = 8)
      val got = spark.read.schema(pairSchema).parquet(pairs)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
        .groupBy(_._5).map { case (bid, rs) =>
          bid -> rs.map(r => (r._1, r._2, r._3, r._4)).toSet }
      assert(got === want.filter(_._2.nonEmpty).toMap, s"after batch $b")
    }
    step(0L, Seq(1L -> base,
      2L -> "completely different words entirely here nothing shared"))
    step(1L, Seq(10L -> base.replace("sigma", "SIGMA"),
      11L -> ("foo bar " * 12).trim))
    step(2L, Seq(20L -> ("foo bar " * 12).trim,
      21L -> ("foo bar " * 12).trim))
    assert(want(2L).size === 3)
    // identical replay of batch 2
    step(2L, Seq(20L -> ("foo bar " * 12).trim,
      21L -> ("foo bar " * 12).trim))
    // drifted replay of batch 2: different rows, different pairs
    step(2L, Seq(22L -> base.replace("mu", "MU"),
      23L -> "nothing resembling any stored document at all"))
    assert(want(2L).map(p => (p._1, p._2)) === Set((22L, 1L), (22L, 10L)))
    step(3L, Seq(30L -> base.replace("rho", "RHO"),
      31L -> ("foo bar " * 12).trim))
    // both layouts hold exactly the corpus as last delivered,
    // partitioned by their bucket: one set row and `bands` band rows
    // per doc
    val ids = docsOf.values.flatten.map(_._1).toSet
    val sideT = spark.read.parquet(side)
    assert(sideT.select("id").as[Long].collect().toSet === ids &&
      sideT.count() === ids.size && sideT.columns.contains("id_bucket"))
    val bandT = spark.read.parquet(band)
    assert(bandT.count() === ids.size * Defaults.Bands &&
      bandT.columns.contains("band_bucket"))
  }

  test("bucketed mode guards: modulus drift and mode switches fail " +
    "loud; a replay with a DRIFTED row set leaves no ghosts") {
    val dir = java.nio.file.Files
      .createTempDirectory("snd-guards").toString
    val side = s"$dir/side"; val pairs = s"$dir/pairs"
    val band = s"$dir/band"
    def run(batchId: Long, docs: Seq[(Long, String)], n: Int = 8,
            sd: String = side, bd: String = band,
            pd: String = pairs): Long =
      StreamNearDedup.probeAndAppend(spark,
        docs.toDF("doc_id", "text"), batchId, sd, pd, bandDir = bd,
        threshold = 0.2, buckets = n)
    run(0L, Seq(1L -> base))
    // restart with a different modulus: silent mis-prune forbidden
    val e1 = intercept[IllegalArgumentException] {
      run(1L, Seq(2L -> base), n = 1024) }
    assert(e1.getMessage.contains("moduli must match"))
    // a side table that holds data without its marker (a table
    // another layout wrote — here a one-level batch_id table) is
    // refused, for the sets and the band table alike
    val foreign = s"$dir/foreign"
    Seq((5L, Seq("a b c"))).toDF("id", "sh")
      .write.parquet(s"$foreign/batch_id=0")
    val e2 = intercept[IllegalArgumentException] {
      run(1L, Seq(2L -> base), sd = foreign) }
    assert(e2.getMessage.contains("no sets_buckets marker"))
    val e3 = intercept[IllegalArgumentException] {
      run(1L, Seq(2L -> base), bd = foreign) }
    assert(e3.getMessage.contains("no band_buckets marker"))
    // a pairs dir carrying any layout marker is another layout's
    // table: refused before anything is written or cleared
    val e4 = intercept[IllegalArgumentException] {
      run(0L, Seq(1L -> base), pd = band) }
    assert(e4.getMessage.contains("carries a layout marker"))
    assert(spark.read.parquet(band).select("id").as[Long]
      .collect().toSet === Set(1L))
    // replay batch 0 with DIFFERENT rows (non-replayable source):
    // the first attempt's rows must not survive as ghosts — doc 1's
    // sets/bands hash to buckets doc 99 never touches
    run(0L, Seq(99L ->
      "totally different replacement row for the replay"))
    val sideIds = spark.read.parquet(side)
      .select("id").as[Long].collect().toSet
    assert(sideIds === Set(99L), s"ghost rows: $sideIds")
    assert(spark.read.parquet(band)
      .select("id").as[Long].collect().toSet === Set(99L))
    // ...and the PAIRS table: batch 2 emits a pair, then its drifted
    // replay emits none — the first attempt's pair must not survive
    // as a ghost referencing scrubbed rows
    def batch2Pairs(): Long = spark.read.schema(pairSchema)
      .parquet(pairs).filter(col("batch_id") === 2L).count()
    run(1L, Seq(100L -> base))
    run(2L, Seq(200L -> base.replace("mu", "MU")))
    assert(batch2Pairs() === 1L)
    run(2L, Seq(201L ->
      "nothing resembling any stored document at all"))
    assert(batch2Pairs() === 0L,
      "pairs ghost survived a drifted replay")
  }

  test("run(): a real StreamingQuery end-to-end — per-file batches, " +
    "fold cadence folds expired leaves mid-stream, checkpoint " +
    "restart continues, and the folded base is still probed") {
    val dir = java.nio.file.Files
      .createTempDirectory("snd-run").toString
    val in = s"$dir/in"; val side = s"$dir/side"
    val pairs = s"$dir/pairs"; val band = s"$dir/band"
    val cp = s"$dir/cp"
    // buckets=1: every batch adds one leaf to the one bucket of each
    // side table, so the auto cadence (8 leaves/bucket) fires exactly
    // at batch 7, folding batches 0-6 into the base generation
    val t0 = System.currentTimeMillis() - 600000L
    def filler(b: Int) = s"doc$b alpha$b beta$b gamma$b delta$b"
    writeDocs(in, "b00.json", t0, Seq(1L -> base,
      2L -> "completely different words entirely here nothing shared"))
    for (b <- 1 to 6)
      writeDocs(in, f"b$b%02d.json", t0 + b * 2000L,
        Seq(b * 10L -> filler(b)))
    writeDocs(in, "b07.json", t0 + 14000L,
      Seq(70L -> base.replace("sigma", "SIGMA")))
    writeDocs(in, "b08.json", t0 + 16000L, Seq(80L -> filler(8)))
    def runOnce(): Unit =
      StreamNearDedup.run(spark, in, side, pairs, cp, bandDir = band,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        maxFilesPerTrigger = 1, threshold = 0.2, buckets = 1)
        .awaitTermination()
    runOnce()
    def undirected(): Set[Set[Long]] = pairSet(pairs)
      .map(p => Set(p._1, p._2))
    assert(undirected() === Set(Set(1L, 70L)))
    // the fold fired at batch 7 with horizon 7: batches 0-6 are in the
    // base generation, batches 7 and 8 keep their leaves
    for (d <- Seq(side, band)) {
      val t = spark.read.parquet(d)
      assert(t.select("batch_id").distinct().as[Long].collect().toSet
        === Set(graft.state.Generations.BaseBatchId, 7L, 8L), d)
      assert(t.filter(col("batch_id") ===
          graft.state.Generations.BaseBatchId)
        .select("id").distinct().as[Long].collect().toSet ===
        Set(1L, 2L, 10L, 20L, 30L, 40L, 50L, 60L), d)
    }
    // restart from the checkpoint: the next file becomes batch 9 and
    // its probe sees folded-base rows AND leaf rows alike
    writeDocs(in, "b09.json", System.currentTimeMillis(),
      Seq(90L -> base.replace("tau", "TAU")))
    runOnce()
    assert(undirected() === Set(Set(1L, 70L), Set(1L, 90L),
      Set(70L, 90L)))
    assert(spark.read.parquet(side).count() === 11)
    // the fold NEVER touches the pairs table: its batch_id leaves
    // survive as per-batch provenance, with no extra column
    val pt = spark.read.parquet(pairs)
    assert(pt.columns.sorted.toSeq ===
      Seq("batch_id", "n_inter", "n_union", "new_id", "old_id"))
    assert(pt.select("batch_id").as[Long].collect().toSet ===
      Set(7L, 9L))
  }

  test("AUTO cadence invariant: an un-tuned probe loop (run()'s " +
    "exact per-batch composition) NEVER reaches the measured " +
    "task-bound regime — leaves-per-bucket stays bounded by the " +
    "threshold, and pair history matches a never-folded control") {
    import StreamNearDedup.Defaults
    val dir = java.nio.file.Files
      .createTempDirectory("snd-auto").toString
    val side = s"$dir/side"; val pairs = s"$dir/pairs"
    val band = s"$dir/band"
    val ctlSide = s"$dir/cside"; val ctlPairs = s"$dir/cpairs"
    val ctlBand = s"$dir/cband"
    // buckets=2 so every 2-doc batch touches ~all buckets: leaves
    // per bucket grow ~1/batch — 30 batches would age to ~30
    // leaves/bucket un-folded, PAST the measured ~22.6 task-bound
    // wall; the auto cadence must keep it under the threshold
    def batchDocs(b: Long) = Seq(
      b * 10 -> base.replace("alpha", s"A$b"),
      b * 10 + 1 -> s"unique filler text number $b with nothing shared")
    var maxLpb = 0.0
    var folds = 0
    for (b <- 0L until 30L) {
      val docs = batchDocs(b).toDF("doc_id", "text")
      StreamNearDedup.probeAndAppend(spark, docs, b, side, pairs,
        bandDir = band, threshold = 0.2, buckets = 2)
      // run()'s maintenance, verbatim: auto decision + fold
      if (StreamNearDedup.maybeAutoFold(spark, side, band,
          horizon = b).nonEmpty) folds += 1
      // BOTH tables must stay healthy — the band table ages faster
      // per bucket (bands rows per doc), which is why the decision
      // is the max over the two samples
      maxLpb = math.max(maxLpb, math.max(
        graft.state.Generations.sampleLeavesPerBucket(spark, side),
        graft.state.Generations.sampleLeavesPerBucket(spark, band)))
      // the never-folded control
      StreamNearDedup.probeAndAppend(spark, docs, b, ctlSide,
        ctlPairs, bandDir = ctlBand, threshold = 0.2, buckets = 2)
    }
    // the invariant the auto cadence exists for: the store NEVER
    // ages into the task-bound regime (measured at ~22.6
    // leaves/bucket), and in fact never exceeds the fire threshold
    // (the fold runs the same trigger the sample crosses it)
    assert(folds >= 2, s"auto cadence never fired (folds=$folds)")
    assert(maxLpb <= Defaults.AutoFoldLeavesPerBucket,
      s"auto-folded store aged past the threshold: $maxLpb")
    // the un-tuned control DID age — the invariant is not vacuous
    assert(graft.state.Generations.sampleLeavesPerBucket(spark,
      ctlSide) > Defaults.AutoFoldLeavesPerBucket * 2)
    // folding never changed what the stream found
    def hist(d: String) = spark.read.schema(pairSchema).parquet(d)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(hist(pairs) === hist(ctlPairs) && hist(pairs).nonEmpty)
  }

  test("un-tuned run(): the real StreamingQuery with NO cadence " +
    "argument auto-folds mid-stream — the base generation appears " +
    "without the caller ever passing foldEvery") {
    val dir = java.nio.file.Files
      .createTempDirectory("snd-autorun").toString
    val in = s"$dir/in"; val side = s"$dir/side"
    val pairs = s"$dir/pairs"; val band = s"$dir/band"
    val t0 = System.currentTimeMillis() - 600000L
    // 24 docs/batch across buckets=8 → every batch touches all
    // buckets, leaves/bucket grows ~1/batch → the default threshold
    // (8.0) fires inside 10 batches
    for (b <- 0 until 10)
      writeDocs(in, f"b$b%02d.json", t0 + b * 2000L, (0 until 24).map {
        i => (b * 100L + i) ->
          s"doc $b $i filler words ${b * 100 + i} more tokens here" })
    StreamNearDedup.run(spark, in, side, pairs, s"$dir/cp",
      bandDir = band,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxFilesPerTrigger = 1, threshold = 0.2, buckets = 8)
      .awaitTermination()
    // the engine folded on its own: a base generation exists in both
    // side tables and the store is healthy (bounded leaves/bucket)
    for (d <- Seq(side, band)) {
      assert(spark.read.parquet(d)
        .filter(col("batch_id") === graft.state.Generations.BaseBatchId)
        .count() > 0, s"no base generation in $d — auto fold never ran")
      assert(graft.state.Generations.sampleLeavesPerBucket(spark, d)
        <= StreamNearDedup.Defaults.AutoFoldLeavesPerBucket, d)
    }
    // every doc is in the corpus exactly once (folds lose nothing)
    assert(spark.read.parquet(side).count() === 240)
  }

  test("a MISSING replay watermark on a data-bearing table is not " +
    "proof of a first run: drifted-replay ghosts are still cleared") {
    val dir = java.nio.file.Files
      .createTempDirectory("snd-nowm").toString
    val side = s"$dir/side"; val pairs = s"$dir/pairs"
    val band = s"$dir/band"
    def run(batchId: Long, docs: Seq[(Long, String)]): Long =
      StreamNearDedup.probeAndAppend(spark,
        docs.toDF("doc_id", "text"), batchId, side, pairs,
        bandDir = band, threshold = 0.2, buckets = 8)
    run(0L, Seq(1L -> base))
    run(1L, Seq(10L -> base.replace("sigma", "SIGMA")))
    // a pre-watermark table / hand-deleted file: absence must fall
    // back to the ghost clears, never skip them
    val wm = new org.apache.hadoop.fs.Path(side,
      "_graft_last_batch.json")
    val fs = wm.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(wm, false))
    run(1L, Seq(99L -> "entirely unrelated replacement row text"))
    assert(spark.read.parquet(side).select("id").as[Long]
      .collect().toSet === Set(1L, 99L))
    assert(spark.read.parquet(band).select("id").as[Long]
      .collect().toSet === Set(1L, 99L))
    // ...and the watermark is re-established for the next batches
    assert(graft.state.Generations.lastBatchWatermark(fs,
      new org.apache.hadoop.fs.Path(side)).contains(1L))
  }

  test("an EMPTY first batch (recovery replay) does not wedge the " +
    "stream: the side read carries an explicit schema") {
    val dir = java.nio.file.Files
      .createTempDirectory("snd-empty").toString
    val side = s"$dir/side"; val pairs = s"$dir/pairs"
    def run(batchId: Long, docs: Seq[(Long, String)]): Long =
      StreamNearDedup.probeAndAppend(spark,
        docs.toDF("doc_id", "text"), batchId, side, pairs,
        bandDir = s"$dir/band", threshold = 0.2, buckets = 8)
    // batch 0 delivers no rows: the side tables hold only markers
    assert(run(0L, Seq.empty) === 0L)
    // batch 1 must still read the (empty) side tables and proceed
    assert(run(1L, Seq(1L -> base)) === 0L)
    assert(run(2L, Seq(2L -> base.replace("pi", "PI"))) === 1L)
  }
}
