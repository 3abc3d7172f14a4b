package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental delta-vs-corpus near-dup probe (catalog d44) and
  * CCNet-style inter-document segment dedup (d45). */
class IncrementalSegmentSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"

  // corpus 0-3 (0/1 near-dups of each other — corpus-internal, must
  // NOT re-emit), delta 10-13: 10 IDENTICAL to corpus doc 0 (an
  // exact dup shares every band — a guaranteed LSH hit), 11/12
  // identical to each other (intra-batch dup), 13 matches nothing.
  private val other = ("one two three four five six seven eight " * 3).trim
  private val corpus = Seq(
    0L -> base,
    1L -> base.replace("delta", "DELTA"),
    2L -> "completely different words entirely here nothing shared",
    3L -> ("foo bar " * 12).trim).toDF("doc_id", "text")
  private val delta = Seq(
    10L -> base,
    11L -> other,
    12L -> other,
    13L -> "unrelated tail omega psi chi phi just filler").toDF("doc_id", "text")

  private def shingles(t: String): Set[String] = {
    val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  test("probe finds delta-corpus AND intra-delta pairs, never corpus-corpus") {
    val got = Dedup.minhashLshProbe(corpus, delta, "text", "doc_id",
        shingleN = 3, k = 32, bands = 8, threshold = 0.2, seed = 42L)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    graft.CacheTracker.releaseAll()
    // orientation: every pair leads with a delta id; delta-delta
    // pairs are canonical (new < old), so nothing emits twice
    assert(got.forall { case (n, _) => n >= 10L })
    assert(got.forall { case (n, o) => o < 10L || n < o })
    // precision: emitted ⊆ exact-Jaccard truth (verification is exact)
    // NB: iterate a Seq, not the Map — a for/yield whose first
    // generator is a Map builds a Map and collapses same-n pairs
    val all = (corpus.as[(Long, String)].collect() ++
      delta.as[(Long, String)].collect()).toSeq
    val truth = (for {
      (n, tn) <- all if n >= 10L
      (o, to) <- all if o != n && !(o >= 10L && n > o)
      sa = shingles(tn); sb = shingles(to)
      i = (sa & sb).size; u = sa.size + sb.size - i
      if u > 0 && i.toDouble / u >= 0.2
    } yield (n, o)).toSet
    assert(got.subsetOf(truth))
    // guaranteed recall: exact duplicates share ALL bands
    assert(got.contains((10L, 0L)))  // delta-corpus
    assert(got.contains((11L, 12L))) // intra-delta, canonical order
    // corpus-internal near-dup (0,1) must not re-emit
    assert(!got.exists { case (n, o) => n < 10L && o < 10L })
  }

  private def sets(df: org.apache.spark.sql.DataFrame) = df
    .select(col("doc_id").as("id"),
      graft.functions.Text.tokens(col("text")).as("toks"))
    .select(col("id"),
      graft.functions.Text.wordShingles(col("toks"), 3).as("sh"))

  test("probe-bands (persisted band side table) emits EXACTLY the " +
    "probe-sets pairs, including the latest-wins re-ingest rule") {
    val corpusSets = sets(corpus)
    // the maintained artifacts: shingle sets + their banded projection,
    // served whole by frame-backed providers (a superset of every
    // requested bucket — the provider contract's safe direction)
    val corpusBands = Dedup.minhashBandRows(corpusSets, k = 32,
      bands = 8, seed = 42L)
    def run(d: org.apache.spark.sql.DataFrame) = {
      val viaSets = Dedup.minhashLshProbeSets(corpusSets, sets(d),
        k = 32, bands = 8, threshold = 0.2, seed = 42L)
        .as[(Long, Long, Long, Long)].collect().toSet
      graft.CacheTracker.releaseAll()
      val viaBands = Dedup.minhashLshProbeBandsPruned(_ => corpusBands,
        _ => corpusSets, sets(d), k = 32, bands = 8, threshold = 0.2,
        seed = 42L, bandBuckets = 8, setsBuckets = 4)
        .as[(Long, Long, Long, Long)].collect().toSet
      graft.CacheTracker.releaseAll()
      (viaSets, viaBands)
    }
    val (s1, b1) = run(delta)
    assert(s1.nonEmpty && s1 == b1, s"sets=$s1 bands=$b1")
    // re-ingest: a delta carrying a CORPUS id supersedes the stored
    // row (no self-pair, stored version dropped) in both forms
    val reingest = Seq(0L -> base, 11L -> other)
      .toDF("doc_id", "text")
    val (s2, b2) = run(reingest)
    assert(s2 == b2, s"sets=$s2 bands=$b2")
    assert(!s2.exists { case (n, o, _, _) => n == 0L && o == 0L })
  }

  test("bucketed band + sets side tables: the fully-pruned probe " +
    "emits the probe-sets pairs and both scans carry their layout's " +
    "partition filter") {
    val corpusSets = sets(corpus)
    // the side tables as the stream maintains them: batch 0 = the
    // corpus, partitioned by (bucket, batch_id) under a modulus marker
    val dir = java.nio.file.Files
      .createTempDirectory("side_tables").toString
    val setsDir = s"$dir/sets"; val bandDir = s"$dir/band"
    graft.streaming.StreamNearDedup.probeAndAppend(spark, corpus, 0L,
      setsDir, s"$dir/pairs", bandDir = bandDir, threshold = 0.2,
      buckets = 8)
    assert(graft.state.Layout.bandSideTable(bandDir).modulus(spark)
      .contains(8))
    assert(graft.state.Layout.setsSideTable(setsDir).modulus(spark)
      .contains(8))
    // providers that prune the stored tables with the probe's own
    // bucket values as partition filters
    val pruned = Dedup.minhashLshProbeBandsPruned(
      bk => spark.read.parquet(bandDir)
        .filter(col("band_bucket").isin(bk: _*))
        .select("id", "band", "key"),
      ib => spark.read.parquet(setsDir)
        .filter(col("id_bucket").isin(ib: _*))
        .select("id", "sh"),
      sets(delta), k = 32, bands = 8, threshold = 0.2, seed = 42L,
      bandBuckets = 8, setsBuckets = 8)
    val truth = Dedup.minhashLshProbeSets(corpusSets, sets(delta),
      k = 32, bands = 8, threshold = 0.2, seed = 42L)
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.CacheTracker.releaseAll()
    val got = pruned.as[(Long, Long, Long, Long)].collect().toSet
    assert(got == truth && got.nonEmpty, s"got=$got truth=$truth")
    // plan contract: the stored band table's scan PRUNES — its
    // partition filters name band_bucket (directory-level, the
    // LayoutSpec month-window assertion applied to the dedup layout).
    // The probe persists intermediates, so the scan hides under
    // InMemoryTableScan / adaptive roots — collect recursively.
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          Seq(f)
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => scans(a.executedPlan)
        case m: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec => scans(m.relation.cachedPlan)
      }.flatten
    val allScans = scans(pruned.queryExecution.executedPlan)
    val bandScan = allScans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains(bandDir)))
    assert(bandScan.nonEmpty, "no scan over the band side table")
    assert(bandScan.forall(
        _.partitionFilters.exists(_.toString.contains("band_bucket"))),
      bandScan.map(_.partitionFilters.mkString(",")).mkString(" | "))
    // ...and the candidate fetch prunes the sets table on id_bucket
    val setsScan = allScans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains(setsDir)))
    assert(setsScan.nonEmpty, "no scan over the sets side table")
    assert(setsScan.forall(
        _.partitionFilters.exists(_.toString.contains("id_bucket"))),
      setsScan.map(_.partitionFilters.mkString(",")).mkString(" | "))
    // the stream's own leaf-enumerated providers give the same pairs
    val viaLeaves = Dedup.minhashLshProbeBandsPruned(
      bk => graft.state.Layout.bandSideTable(bandDir)
        .readBuckets(spark, bk).get.select("id", "band", "key"),
      ib => graft.state.Layout.setsSideTable(setsDir)
        .readBuckets(spark, ib).get.select("id", "sh"),
      sets(delta), k = 32, bands = 8, threshold = 0.2, seed = 42L,
      bandBuckets = 8, setsBuckets = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.CacheTracker.releaseAll()
    assert(viaLeaves == truth)
  }

  test("segment dedup removes cross-doc boilerplate and rebuilds survivors") {
    // 20-token boilerplate header shared by docs 0/1; unique tails
    val header = (1 to 16).map(i => s"h$i").mkString(" ")
    val docs = Seq(
      0L -> s"$header u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14 u15 u16",
      1L -> s"$header w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16",
      2L -> "solo text with no duplicated segment at all here now ok")
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "text", "doc_id",
        segTokens = 16, minDocs = 2)
      .select(col("id"), col("n_segments"), col("n_removed"),
        col("clean_text"))
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    graft.CacheTracker.releaseAll()
    assert(got(0L)._1 === 2L && got(0L)._2 === 1L)
    assert(got(0L)._3 === (1 to 16).map(i => s"u$i").mkString(" "))
    assert(got(1L)._2 === 1L)
    assert(got(2L)._2 === 0L) // nothing removed from the solo doc
    assert(got(2L)._3.startsWith("solo text"))
  }

  test("sorted-neighborhood: rank-window candidates, exact verify") {
    // prefixes cluster docs 0/1/2 adjacently; doc 9 is a near-dup of
    // doc 0 but its prefix sorts it FAR away — with w=1 the (0,9)
    // pair must be invisible (the method's documented blind spot;
    // multi-pass with another key would catch it)
    val docs = Seq(
      0L -> s"aaa $base",
      1L -> s"aab $base",
      2L -> "aac completely different content here nothing shared ok",
      5L -> "mmm middle unrelated filler text goes right here now",
      9L -> s"zzz $base").toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "text", "doc_id",
        keyChars = 3, w = 1, shingleN = 3, threshold = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    graft.CacheTracker.releaseAll()
    assert(got === Set((0L, 1L)))
    // widening the window to cover the whole corpus recovers (0,9)
    // and (1,9); exact verification still rejects non-dups
    val wide = Dedup.sortedNeighborhoodPairs(docs, "text", "doc_id",
        keyChars = 3, w = 4, shingleN = 3, threshold = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    graft.CacheTracker.releaseAll()
    assert(wide === Set((0L, 1L), (0L, 9L), (1L, 9L)))
  }

  test("segment dedup: fully-boilerplate doc rebuilds to empty text") {
    val seg = (1 to 16).map(i => s"b$i").mkString(" ")
    val docs = Seq(0L -> seg, 1L -> seg, 2L -> s"$seg only one extra")
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "text", "doc_id",
        segTokens = 16, minDocs = 2)
      .select(col("id"), col("n_removed"), col("clean_text"))
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    graft.CacheTracker.releaseAll()
    assert(got(0L) === ((1L, "")))
    assert(got(2L) === ((1L, "only one extra")))
  }
}
