package graft.dedup

import graft.CacheTracker
import graft.functions.{SigExprs, Text}
import graft.state.Merge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline
  * (SURVEY.md §7.5): exact, MinHash-LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: every variant reduces to (a) a per-row codegen'd
  * signature, then (b) ONE equi-shuffle on a compact key (fingerprint /
  * band key / simhash prefix) — never an all-pairs comparison. The
  * candidate verification joins carry only (id, signature), not the
  * document text, so shuffle volume is O(rows × sig), not O(corpus).
  */
object Dedup {

  /** Exact dedup on normalized content: keep the lowest-id row per
    * fingerprint. One hash-shuffle on a 128-bit key. */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    Merge.firstPerKey(
      docs.withColumn("fp", Text.fingerprint(col(textCol))),
      Seq("fp"), col(idCol))

  /** Exact-dup groups: fingerprint → member count + surviving id.
    * The groupBy gets map-side partial aggregation for free. */
  def exactGroups(docs: DataFrame, textCol: String,
                  idCol: String): DataFrame =
    docs.withColumn("fp", Text.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** MinHash+LSH near-dup candidate pairs, verified by exact Jaccard
    * on shingle sets.
    *
    * shingle → minhash sig (k hashes) → band keys (b bands) →
    * self-equi-join on (band, key) → jaccard ≥ threshold.
    *
    * The self-join shuffles only (id, band-key, shingles); band keys
    * partition uniformly (they're hashes), and `hash < hash` halves
    * the pair space. At 100 TB the shingle arrays would be replaced by
    * a second verification pass joining text by id — structure
    * unchanged.
    */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5,
                      seed: Long = 42L): DataFrame = {
    val rowsPerBand = k / bands
    // Materialize the shingle sets once: they feed the signature AND
    // both sides of the verification join. At 100 TB this is the
    // persisted signature/shingle side table; here a tracked lazy
    // persist plays that role (re-read 3×, computed 1×; released by
    // the harness via CacheTracker.releaseAll).
    val sh = CacheTracker.persistTracked(docs
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        Text.wordShingles(col("toks"), shingleN).as("sh")))
    // Banding rows carry ONLY (id, band, key) — the candidate shuffle
    // moves 24 bytes/row, never the shingle arrays.
    val banded = CacheTracker.persistTracked(sh
      .withColumn("hashes", transform(col("sh"), s => xxhash64(s)))
      // native codegen signature (one loop, all k mins) — the composed
      // k×array_min formulation cost k array passes per row
      .withColumn("sig",
        SigExprs.minhashSigFromHashes(col("hashes"), k, seed))
      .select(col("id"),
        explode(Text.lshBandKeys(col("sig"), bands, rowsPerBand))
          .as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.key").as("key")))
    val cand = banded.select(col("band"), col("key"),
        col("id").as("id_a"))
      .join(banded.select(col("band"), col("key"), col("id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()                          // same pair can share >1 band
    // Verification joins pull shingles back by id — two hash joins on
    // the (small) candidate set, not an array-weighted shuffle.
    // n_inter/n_union ride along as exact integers: the oracle check
    // compares THEM (float division is engine-rounding-sensitive; the
    // set sizes are not — the d05 lesson).
    val verified = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("__da", array_distinct(col("sh_a")))
      .withColumn("__db", array_distinct(col("sh_b")))
      .withColumn("n_inter",
        size(array_intersect(col("__da"), col("__db"))).cast("long"))
      .withColumn("n_union",
        (size(col("__da")) + size(col("__db")) - col("n_inter"))
          .cast("long"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
        when(col("n_union") === 0, lit(0.0))
          .otherwise(col("n_inter").cast("double") / col("n_union"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    verified
  }

  /** SimHash near-dup pairs: 64-bit signature, candidates = equal
    * 16-bit sub-bands (any of 4), verified by Hamming distance ≤
    * `maxHamming` (standard Charikar/Manku block-permuted scheme —
    * any pair within Hamming 3 must share one of 4 bands, so recall
    * is GUARANTEED by pigeonhole, not probabilistic).
    *
    * `tokenHash` picks the per-token hash feeding the signature:
    * xxhash64 (default — cheapest, engine-specific) or
    * [[Text.portableTokenHash]] (md5-derived, reproducible in any
    * engine — the oracle-verified catalog configuration). */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3,
                   tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val sigd = CacheTracker.persistTracked(docs
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .withColumn("hashes", transform(col("toks"), t => tokenHash(t)))
      .select(col("id"),
        Text.simhash64Fast(col("hashes")).as("sig")))
    // ^ signature table: computed once, read by both self-join
    //   branches (the materialized index at scale)
    val banded = sigd.select(col("id"), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * 16).bitwiseAND(0xFFFF).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.select(col("band"), col("key"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("key"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    val verified = a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(first(Text.hamming64(col("sig_a"), col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    verified
  }

  /** Near-dup CLUSTERS from verified pair output: connected
    * components. Returns (id, cluster) with cluster = the component's
    * minimum id, i.e. the canonical survivor — `filter(id ===
    * cluster)` keeps one doc per near-dup cluster.
    *
    * Two paths, same output: up to `driverLimit` pairs, union-find on
    * the driver (the pair set is the DEDUP OUTPUT — a tiny fraction
    * of the corpus — and a 16 MB in-memory pass beats per-iteration
    * shuffle-stage overhead by an order of magnitude); past it, a
    * distributed min-label propagation with pointer jumping (each
    * iteration shuffles only the edge set, never documents; path
    * halving converges long chains in O(log diameter) rounds). */
  def neardupClusters(pairs: DataFrame, idA: String = "id_a",
                      idB: String = "id_b",
                      driverLimit: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    val slim = CacheTracker.persistTracked(
      pairs.select(col(idA).cast("long").as("a"),
        col(idB).cast("long").as("b")))
    // The pair set is a tiny fraction of the corpus (it IS the dedup
    // output), so up to `driverLimit` pairs (16 MB at the default)
    // union-find on the driver wins outright: the distributed loop
    // pays ~6 shuffle stages PER ITERATION, pure fixed overhead for a
    // graph this small. Past the limit, fall through to the
    // distributed min-label loop below — same output.
    if (slim.count() <= driverLimit) {
      val es = slim.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // root = transitive min because unions always point the larger
      // root at the smaller one
      val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      import spark.implicits._
      return rows.toDF("id", "cluster")
    }
    val edges = CacheTracker.persistTracked(
      slim.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(slim.select(col("b").as("src"),
          col("a").as("dst")))
        .distinct())
    var cached = CacheTracker.persistTracked(
      edges.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id")))
    var labels = cached
    var converged = false
    while (!converged) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"),
          col("cluster").as("ncl")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("ncl").as("nmin"))
      // cached: the self-join below reads it twice — without the cache
      // the neighborMin shuffle runs twice per iteration
      val stepped = CacheTracker.persistTracked(
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("nmin"), col("cluster")))
              .as("cl1"),
            (coalesce(col("nmin"), col("cluster")) < col("cluster"))
              .as("chg1")))
      // pointer jumping (path halving): also adopt the label OF the
      // label — diameter halves per round, so long chains converge in
      // O(log d) iterations instead of O(d)
      val next = CacheTracker.persistTracked(stepped
        .join(stepped.select(col("id").as("cl1"),
          col("cl1").as("cl2")), Seq("cl1"), "left")
        .select(col("id"),
          least(col("cl1"), coalesce(col("cl2"), col("cl1")))
            .as("cluster"),
          (col("chg1") ||
            coalesce(col("cl2"), col("cl1")) < col("cl1")).as("__chg")))
      // convergence check rides the cached iteration — no extra join
      converged = next.filter(col("__chg")).isEmpty
      // release the superseded iteration NOW (same pattern as the
      // gateEvents fixpoint): otherwise O(log diameter) full label
      // tables stay pinned until the caller's releaseAll
      stepped.unpersist(blocking = false)
      cached.unpersist(blocking = false)
      cached = next
      labels = next.select("id", "cluster")
    }
    labels
  }

  /** Corpus-wide duplicated n-gram statistics — the signal behind
    * span-level training-data dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): for each document,
    * how many of its distinct word n-grams occur in ≥ `minDocs`
    * documents corpus-wide. High `n_dup/n_sh` docs are boilerplate /
    * template candidates that doc-level near-dup (m01/m02) misses
    * because the surrounding text differs.
    *
    * Scale shape: explode per-doc DISTINCT shingles → ONE hash-agg on
    * the shingle (map-side partial combine) → join the per-shingle doc
    * count back on the same key → re-agg by doc. The exploded pair
    * table is computed once (tracked persist) and both shuffles hash
    * the same key, so the exchange is reusable. Shuffle rows are
    * (shingle, doc_id); at 100 TB hash the shingle to 64 bits first
    * (collision-tolerant statistics) — kept as exact strings here so
    * the DuckDB oracle matches string-for-string. */
  def dupNgramStats(docs: DataFrame, textCol: String, idCol: String,
                    shingleN: Int = 3, minDocs: Int = 2): DataFrame = {
    val pairs = CacheTracker.persistTracked(docs
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("t"))
      .select(col("id"), explode(array_distinct(
        Text.wordShingles(col("t"), shingleN))).as("s")))
    val counts = pairs.groupBy("s")
      .agg(count(lit(1)).as("docs_with"))
    val perDoc = pairs.join(counts, "s")
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_sh"),
        sum(when(col("docs_with") >= minDocs, 1L).otherwise(0L))
          .cast("long").as("n_dup"))
    // docs with no shingles (< n tokens) never explode a row — restore
    // them with zero counts so the output covers the corpus
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
  }

  /** Retention policy after clustering: pick ONE survivor per
    * near-dup cluster by a quality score (the real pipeline decision —
    * the structural min-id label from [[neardupClusters]] says which
    * docs are together, not which is worth keeping). Argmax =
    * `min(struct(-score, id))`: partial-aggregatable (map-side
    * combine), no window, ties broken by smallest id. One shuffle on
    * the cluster id. */
  def clusterSurvivors(clusters: DataFrame, scored: DataFrame,
                       idCol: String, scoreCol: String): DataFrame =
    clusters
      .join(scored.select(col(idCol).as("id"),
        col(scoreCol).as("__s")), "id")
      .groupBy(col("cluster").as("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        min(struct((-col("__s")).as("ns"), col("id").as("i")))
          .getField("i").as("keep_id"))

  /** Attribute-level survivorship — the "golden record" MDM merge
    * step downstream of clustering. [[clusterSurvivors]] keeps ONE
    * member row per cluster; this assembles a COMPOSITE record whose
    * attributes may come from DIFFERENT members: canonical id =
    * min(id), the longest record's id (argmax `lenCol`, tie →
    * smallest id), max length, and the majority value of `langCol`
    * (mode, tie → lexicographically smallest — deterministic, no
    * hash-order dependence).
    *
    * Records absent from `clusters` (never paired) are singleton
    * clusters of themselves (LEFT join + coalesce), so the op is
    * TOTAL over the corpus — every record resolves to a golden row.
    *
    * NULL attribute values are IGNORED as candidates (the standard
    * survivorship rule): a null-length member can't win longest_doc
    * (Spark's min-struct would otherwise sort the null FIRST —
    * inconsistent with null-ignoring max(len)), null langs don't
    * vote, and a cluster whose members are all-null keeps its golden
    * row with a null attribute (left join below).
    *
    * Shape at 100 TB: two cluster-keyed partial-aggregatable
    * shuffles — member-level argmaxes in one pass, then (cluster,
    * value) counts → mode argmax. min-struct everywhere: map-side
    * combine, no windows, no driver state. `base` is persisted —
    * both aggregations read it. */
  def goldenRecords(clusters: DataFrame, records: DataFrame,
                    idCol: String, lenCol: String,
                    langCol: String): DataFrame = {
    val base = CacheTracker.persistTracked(
      records.select(col(idCol).as("id"), col(lenCol).as("len"),
        col(langCol).as("lang"))
        .join(clusters.select(col("id"), col("cluster").as("__cl")),
          Seq("id"), "left")
        .withColumn("cluster_id", coalesce(col("__cl"), col("id"))))
    val attrs = base.groupBy("cluster_id")
      .agg(count(lit(1)).cast("long").as("n_members"),
        min(col("id")).as("canonical_id"),
        // min ignores NULLs, so wrapping the struct in a null-len
        // guard drops null candidates instead of letting struct
        // ordering sort them first
        min(when(col("len").isNotNull,
          struct((-col("len")).as("nl"), col("id").as("i"))))
          .getField("i").as("longest_doc"),
        max(col("len")).as("max_len"))
    val langMode = base.filter(col("lang").isNotNull)
      .groupBy("cluster_id", "lang")
      .agg(count(lit(1)).as("__n"))
      .groupBy("cluster_id")
      .agg(min(struct((-col("__n")).as("nn"), col("lang").as("l")))
        .getField("l").as("maj_lang"))
    attrs.join(langMode, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"), col("canonical_id"),
        col("longest_doc"), col("max_len"), col("maj_lang"))
  }

  /** Benchmark decontamination, bloom-prefiltered — the scale path
    * past [[graft.functions.BloomOverlapCount]]'s plan-literal limit
    * note: phase 1 probes each doc's shingles against a bloom BITSET
    * of the holdout inside the scan (no explode/join/shuffle; 10
    * bits/item regardless of string length); phase 2 computes the
    * exact overlap ONLY where the bloom reported a possible hit
    * (CaseWhen branches evaluate lazily per row). No false negatives
    * ⇒ `bloom == 0` rows are exactly-zero by construction, and false
    * positives cost only a phase-2 evaluation — the OUTPUT is
    * bit-identical to the all-exact path (d22's oracle is d14's).
    *
    * At 100 TB, phase 2's plan-literal exact set becomes a broadcast
    * semi-join of bloom-positive (doc, shingle) pairs against the
    * holdout table — phase 1 is unchanged and is what keeps that join
    * input a sliver of the corpus. */
  def decontaminateBloom(docs: DataFrame, textCol: String,
                         idCol: String, holdout: Seq[String],
                         shingleN: Int = 3, bitsPerItem: Int = 10,
                         numHash: Int = 5): DataFrame = {
    val uniq = holdout.distinct
    val bits = graft.functions.BloomOverlapCount.build(
      uniq, bitsPerItem, numHash)
    docs
      .withColumn("__toks", Text.tokens(col(textCol)))
      .withColumn("__sh", Text.wordShingles(col("__toks"), shingleN))
      .withColumn("__bloom", graft.functions.BloomOverlapCount
        .bloomOverlap(col("__sh"), bits, numHash))
      .select(col(idCol),
        when(col("__bloom") === 0, lit(0))
          .otherwise(SigExprs.anchorOverlap(col("__sh"), uniq)
            .getField("n_inter"))
          .cast("long").as("n_contam"))
      .withColumn("contaminated", col("n_contam") > 0)
  }

  /** Cross-corpus overlap estimation: MinHash-sketch Jaccard between
    * every pair of corpora (e.g. a crawl snapshot vs a curated set —
    * "how much does corpus B duplicate corpus A" before committing to
    * a merge). Emits (corpus_a, corpus_b, agree, est) where `agree`
    * counts agreeing minimum positions of the two k-slot sketches and
    * est = agree/k estimates shingle-set Jaccard.
    *
    * Hashing is the classic one-strong-hash + k universal rehashes:
    * base h = 60-bit md5 of the shingle mod p, slot i applies
    * (a_i·h + b_i) mod p with a_i/b_i derived from md5("a:i"/"b:i") —
    * every step is exact integer arithmetic a DuckDB oracle reproduces
    * bit-for-bit (no engine-private hash, unlike the xxhash64 scale
    * path in [[minhashLshPairs]]). p < 2^30 keeps a·h inside a long
    * under ANSI arithmetic.
    *
    * Scale shape: tokens → shingles → base hash runs ONCE per doc
    * inside a single Generate (a generator's child is evaluated once
    * per input row — a materialization barrier CollapseProject cannot
    * undo; the previous per-doc k-array-of-lambdas shape got its hash
    * pass inlined into the slot lambda and re-ran it k times per row,
    * a measured 20× on the bench). The exploded (corpus, h) rows then
    * feed ONE hash aggregate computing all k slot-mins per corpus —
    * map-side partial combine reduces each task to corpora·k values,
    * so the only shuffles are that ≈ partitions·corpora·k-row
    * exchange and the final corpora·k sketch self-join (broadcast).
    * Corpus count, not corpus size, bounds the pair stage. */
  def corpusOverlap(docs: DataFrame, textCol: String,
                    corpusCol: String, k: Int = 32,
                    shingleN: Int = 3): DataFrame = {
    val p = 1000000007L
    val as = (0 until k).map(i =>
      Text.portableHashLocal(s"a:$i") % (p - 1) + 1)
    val bs = (0 until k).map(i => Text.portableHashLocal(s"b:$i") % p)
    val h0 = docs
      .withColumn("__toks", Text.tokens(col(textCol)))
      .withColumn("__sh", Text.wordShingles(col("__toks"), shingleN))
      .select(col(corpusCol).as("corpus"),
        explode(transform(col("__sh"),
          s => pmod(Text.portableTokenHash(s), lit(p)))).as("h"))
    val slotMins = (0 until k).map(i =>
      min(pmod(lit(as(i)) * col("h") + lit(bs(i)), lit(p)))
        .as(s"__m$i"))
    // corpora·k values; persisted because both sides of the pair join
    // read it — without this the whole shingle-hash subtree runs twice
    // (verified in the formatted plan: no ReusedExchange fires)
    val sketch = CacheTracker.persistTracked(
      h0.groupBy("corpus").agg(slotMins.head, slotMins.tail: _*)
        .select(col("corpus"),
          posexplode(array((0 until k).map(i => col(s"__m$i")): _*))
            .as(Seq("i", "mh"))))
    val a = sketch.toDF("corpus_a", "i", "ha")
    val b = sketch.toDF("corpus_b", "i", "hb")
    a.join(b, a("i") === b("i") && col("corpus_a") < col("corpus_b"))
      .groupBy("corpus_a", "corpus_b")
      .agg(sum(when(col("ha") === col("hb"), 1L).otherwise(0L))
        .cast("long").as("agree"))
      .withColumn("est", round(col("agree") / lit(k.toDouble), 4))
  }

  /** Cross-document duplicated-SPAN coverage — the removal-side
    * counterpart of [[dupNgramStats]] (which counts distinct dup
    * shingles, this measures the token positions they cover). The
    * published shape is suffix-array exact-substring dedup (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"); at cluster scale the equivalent set-based plan is
    * shingle → global doc-frequency → join back positions → per-doc
    * interval merge, which is exactly what this computes:
    *
    *   1. posexplode k-token shingles (position = span start);
    *   2. one hash-shuffle on the shingle to find spans occurring in
    *      ≥ `minDocs` distinct docs (map-side combined count);
    *   3. join positions back (shuffle carries (id, start) longs, not
    *      text) and collect each doc's duplicated span starts;
    *   4. merged-interval covered-token count via one `aggregate`
    *      HOF pass over the sorted starts — O(spans) per doc, no
    *      window, no per-position loop.
    *
    * Output per doc: `n_tokens`, `n_covered` (tokens inside at least
    * one duplicated span), `n_clean = n_tokens - n_covered` (what a
    * span-removal rewrite would keep). All-integer — hash-stable. */
  def dupSpanStats(docs: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, minDocs: Int = 2): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      Text.tokens(col(textCol)).as("t"))
    val sh = CacheTracker.persistTracked(base
      .select(col("id"), posexplode(Text.wordShingles(col("t"), shingleN)))
      .select(col("id"), (col("pos") + 1).cast("long").as("start"),
        col("col").as("s")))
    val dup = sh.groupBy("s")
      .agg(count_distinct(col("id")).as("__d"))
      .filter(col("__d") >= minDocs).select("s")
    val k = shingleN.toLong
    // interval merge over sorted span starts: state = (covered, end of
    // rightmost merged interval); each span [st, st+k-1] adds only its
    // part past the current end
    val zero = struct(lit(0L).as("cov"), lit(0L).as("end"))
    val covered = sh.join(dup, "s")
      .groupBy("id")
      .agg(sort_array(collect_list(col("start"))).as("__ss"))
      .withColumn("__acc", aggregate(col("__ss"), zero,
        (acc, st) => {
          val e = st + lit(k - 1L)
          val lo = greatest(acc.getField("end") + lit(1L), st)
          struct(
            (acc.getField("cov") +
              greatest(e - lo + lit(1L), lit(0L))).as("cov"),
            greatest(acc.getField("end"), e).as("end"))
        }))
      .select(col("id"), col("__acc").getField("cov").as("n_covered"))
    base.select(col("id"), size(col("t")).cast("long").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (col("n_tokens") - coalesce(col("n_covered"), lit(0L)))
          .as("n_clean"))
  }

  /** Exact Jaccard of every document against one anchor document —
    * the O(n) similarity scan (anchor shingle set is a plan literal →
    * broadcast; single codegen'd pass, no shuffle). */
  def jaccardToAnchor(docs: DataFrame, textCol: String, idCol: String,
                      anchorShingles: Seq[String], shingleN: Int,
                      simName: String = "jaccard"): DataFrame =
    docs.withColumn("__toks", Text.tokens(col(textCol)))
      .withColumn("__sh", Text.wordShingles(col("__toks"), shingleN))
      // native single-pass overlap vs the plan-carried anchor set,
      // MATERIALIZED as a column before deriving the ratio — a
      // CaseWhen referencing the struct three times would re-run the
      // traversal per reference (CSE doesn't reach into branches)
      .withColumn("__o", SigExprs.anchorOverlap(col("__sh"), anchorShingles))
      .withColumn(simName,
        when(col("__o.n_union") === 0, lit(0.0))
          .otherwise(col("__o.n_inter").cast("double") /
            col("__o.n_union")))
      .drop("__toks", "__sh", "__o")

  /** Blocked edit-distance record linkage: candidate pairs share a
    * blocking key (first `blockToks` tokens), verified by Levenshtein
    * distance over a bounded `prefixLen`-char prefix.
    *
    * The classic entity-resolution shape complementing MinHash/SimHash:
    * blocking turns the O(n²) all-pairs comparison into one
    * equi-shuffle on the block key plus per-block O(b²) — the same
    * candidate-only discipline as the LSH variants, with an edit-metric
    * verifier instead of a set-overlap one. The join ships only
    * (id, block, prefix) — never the document body — so shuffle volume
    * is O(rows × prefixLen). Skewed blocks are AQE's skew-join case;
    * shrink them by raising `blockToks`. */
  def blockedEditDistancePairs(docs: DataFrame, textCol: String,
                               idCol: String, blockToks: Int,
                               prefixLen: Int, maxDist: Int): DataFrame = {
    // persisted: BOTH sides of the self-join read it — without the
    // persist the corpus scan + tokenizer run twice
    val slim = CacheTracker.persistTracked(docs
      .withColumn("__toks", Text.tokens(col(textCol)))
      .select(col(idCol),
        concat_ws(" ", slice(col("__toks"), 1, blockToks)).as("__blk"),
        substring(col(textCol), 1, prefixLen).as("__pfx")))
    val a = slim.select(col(idCol).as("id_a"), col("__blk"),
      col("__pfx").as("__pa"))
    val b = slim.select(col(idCol).as("id_b"), col("__blk"),
      col("__pfx").as("__pb"))
    // evalOnce barrier: pushdown would substitute the `dist` alias
    // into the pushed filter and run the Levenshtein DP twice per
    // surviving pair (the measured d23 trap)
    graft.query.Predicates.evalOnce(
      a.join(b, Seq("__blk")).where(col("id_a") < col("id_b")),
      Seq(col("id_a"), col("id_b")),
      "dist" -> levenshtein(col("__pa"), col("__pb")).cast("long"))
      .where(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** EXACT set-similarity join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., WWW 2007): all pairs
    * with shingle-set Jaccard ≥ tNum/tDen, recall = 1 BY
    * CONSTRUCTION — the deterministic complement to
    * [[minhashLshPairs]]' probabilistic LSH.
    *
    * Filter guarantee: order every set by GLOBAL shingle document
    * frequency (rarest first, shingle asc tie-break) and keep the
    * prefix of length |x| − ⌈t·|x|⌉ + 1. If J(x,y) ≥ t then
    * |x∩y| ≥ t·u ≥ t·max(|x|,|y|), so the suffix of either set
    * (⌈t·|set|⌉ − 1 shingles) cannot hold the whole intersection —
    * pigeonhole puts the globally-rarest shared shingle inside BOTH
    * prefixes, and the prefix equi-join cannot miss the pair.
    *
    * Scale shape: the candidate shuffle carries slim
    * (prefix-shingle, id, n, pos) rows only; rare-first ordering
    * keeps blocks selective — prefixes hold each set's rarest
    * (1−t)·|x|+1 shingles, never its common ones (the d39
    * common-token trap, dodged by construction). Two more standard
    * PPJoin prunes run BEFORE the pair distinct, both
    * guarantee-preserving:
    *   - size filter: J ≥ t ⇒ t·max ≤ i ≤ min, so
    *     |x|·tNum ≤ |y|·tDen (and symmetrically) — kills
    *     mismatched-length pairs at the join;
    *   - positional filter: for the rarest SHARED shingle at prefix
    *     positions (px, py), the intersection fits in the tails, so
    *     i ≤ 1 + min(|x|−px, |y|−py); J ≥ t needs
    *     i ≥ α = ⌈tNum·(|x|+|y|)/(tNum+tDen)⌉ — rows whose
    *     upper bound can't reach α are dropped, and the rarest
    *     shared shingle of a true pair always survives (the bound is
    *     tight exactly for it).
    * Verification pulls shingle sets back by id for candidates only
    * and emits exact integer set sizes (the oracle-comparable form).
    * Threshold is the rational tNum/tDen so every predicate —
    * prefix length, size, positional, final Jaccard — is pure
    * integer arithmetic. */
  def prefixFilterJoinPairs(docs: DataFrame, textCol: String,
                            idCol: String, shingleN: Int = 3,
                            tNum: Int = 4, tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tNum < tDen, "threshold must be in (0,1)")
    // persisted: feeds the frequency agg, the prefix build, and both
    // verification sides (the LSH-builder side-table pattern).
    // Two measured traps dodged here (both ~5x on this stage at
    // sf0.1): tokens materialize in their OWN projection — nested
    // inside wordShingles' transform-lambda the regex tokenizer
    // re-runs per shingle (Catalyst can't CSE across HOF lambdas);
    // and NO filter(size(sh) > 0) — the pushed-down predicate would
    // re-evaluate the whole shingle chain per row, and empty sets
    // self-exclude anyway (explode emits nothing, so shingle-less
    // docs never reach the prefix join or verification).
    val sets = CacheTracker.persistTracked(docs
      .withColumn("__toks", Text.tokens(col(textCol)))
      .select(col(idCol).as("id"), array_distinct(
          Text.wordShingles(col("__toks"), shingleN))
        .as("sh")))
    val ex = sets.select(col("id"), explode(col("sh")).as("tk"))
    val dfreq = ex.groupBy("tk").agg(count(lit(1)).as("df"))
    // prefix p = n − ⌈t·n⌉ + 1 over the rarest-first ordering;
    // posexplode keeps each prefix shingle's 1-based position for
    // the positional filter. Persisted: BOTH self-join sides read it
    // (the m01 banded-table lesson — without it the dfreq join +
    // collect_list chain executes twice)
    // candidate-join key = xxhash64(shingle), NOT the shingle string
    // (guide §2.3 — shuffle 8-byte keys, not payloads; also shrinks
    // the pref cache). The rarest-first ORDERING stays on the string
    // (array_sort below), so the pigeonhole/positional proofs are
    // untouched. A hash collision can only ADD candidate rows — the
    // true pair's rarest-shared-shingle row survives unchanged
    // (hash(s) = hash(s)) and exact verification discards impostors —
    // the same merge-never-split argument as the mm06 band keys.
    val pref = CacheTracker.persistTracked(ex.join(dfreq, "tk")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tk"))))
        .as("os"))
      .select(col("id"), size(col("os")).cast("long").as("n"),
        expr("transform(os, s -> xxhash64(s.tk))").as("os"))
      .select(col("id"), col("n"), posexplode(expr(
          s"slice(os, 1, cast(n - (($tNum * n + ${tDen - 1}) DIV " +
            s"$tDen) + 1 AS INT))")).as(Seq("p0", "tkh")))
      .select(col("id"), col("n"), (col("p0") + 1).as("pos"),
        col("tkh")))
    val cand = pref.select(col("tkh"), col("id").as("id_a"),
        col("n").as("na"), col("pos").as("pa"))
      .join(pref.select(col("tkh"), col("id").as("id_b"),
        col("n").as("nb"), col("pos").as("pb")), Seq("tkh"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("na") * tNum <= col("nb") * tDen &&
        col("nb") * tNum <= col("na") * tDen)
      .filter(lit(1L) + least(col("na") - col("pa"),
          col("nb") - col("pb")) >=
        expr(s"($tNum * (na + nb) + ${tNum + tDen - 1}) DIV " +
          s"${tNum + tDen}"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")),
        "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")),
        "id_b")
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union",
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))
          .cast("long"))
      .filter(col("n_inter") * tDen >= col("n_union") * tNum)
      .select("id_a", "id_b", "n_inter", "n_union")
  }

  /** EXACT containment join: all pairs where the SMALLER shingle set
    * is (tNum/tDen)-contained in the other —
    * |A∩B| ≥ t·min(|A|,|B|). The boilerplate/subset-duplicate
    * detector Jaccard structurally misses: a short doc embedded
    * verbatim in a long one has containment 1.0 but Jaccard
    * |A|/|B| ≈ 0, so neither [[minhashLshPairs]] nor
    * [[prefixFilterJoinPairs]] can find it at any useful threshold.
    *
    * Candidate generation is the ASYMMETRIC prefix scheme: probe =
    * each set's rarest-first prefix (|x| − ⌈t·|x|⌉ + 1 — valid for
    * the smaller side of any qualifying pair, since
    * i ≥ t·min = t·|x| makes x's suffix too small to hold the
    * intersection), index = the FULL exploded shingle table (the
    * larger side gives no prefix guarantee — its intersection can
    * hide anywhere). The positional filter keeps only emissions
    * whose probe-tail can still reach α = ⌈t·min(|x|,|y|)⌉; the
    * rarest shared shingle probed from the smaller side always
    * survives. No size filter exists here — a tiny doc contained in
    * a huge one is exactly the signal. Recall = 1 by construction;
    * verification is exact integer arithmetic. */
  def containmentJoinPairs(docs: DataFrame, textCol: String,
                           idCol: String, shingleN: Int = 3,
                           tNum: Int = 9, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0,1]")
    val sets = CacheTracker.persistTracked(docs
      .withColumn("__toks", Text.tokens(col(textCol)))
      .select(col(idCol).as("id"), array_distinct(
          Text.wordShingles(col("__toks"), shingleN))
        .as("sh")))
    val ex = sets.select(col("id"), explode(col("sh")).as("tk"))
    val dfreq = ex.groupBy("tk").agg(count(lit(1)).as("df"))
    // candidate-join key = xxhash64(shingle) — same scheme and same
    // recall argument as prefixFilterJoinPairs above: ordering stays
    // on the string, collisions only add candidates, verification is
    // exact.
    val pref = CacheTracker.persistTracked(ex.join(dfreq, "tk")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tk"))))
        .as("os"))
      .select(col("id"), size(col("os")).cast("long").as("n"),
        expr("transform(os, s -> xxhash64(s.tk))").as("os"))
      .select(col("id"), col("n"), posexplode(expr(
          s"slice(os, 1, cast(n - (($tNum * n + ${tDen - 1}) DIV " +
            s"$tDen) + 1 AS INT))")).as(Seq("p0", "tkh")))
      .select(col("id"), col("n"), (col("p0") + 1).as("pos"),
        col("tkh")))
    val index = sets.select(col("id").as("id_b"),
      size(col("sh")).cast("long").as("nb"),
      explode(col("sh")).as("tk"))
      .select(col("id_b"), col("nb"), xxhash64(col("tk")).as("tkh"))
    val cand = pref.select(col("tkh"), col("id").as("id_a"),
        col("n").as("na"), col("pos").as("pa"))
      .join(index, Seq("tkh"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(lit(1L) + (col("na") - col("pa")) >=
        expr(s"($tNum * least(na, nb) + ${tDen - 1}) DIV $tDen"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")),
        "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")),
        "id_b")
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_min",
        least(size(col("sh_a")), size(col("sh_b"))).cast("long"))
      .filter(col("n_inter") * tDen >= col("n_min") * tNum &&
        col("n_min") > 0)
      .select("id_a", "id_b", "n_inter", "n_min")
  }

  /** INCREMENTAL near-dup: probe a small DELTA batch against an
    * existing CORPUS without re-pairing the corpus with itself — the
    * shape every continuously-ingesting pipeline actually runs
    * (yesterday's 100 TB is already deduped; only today's arrivals
    * need checking).
    *
    * Same MinHash-LSH construction as [[minhashLshPairs]] (identical
    * signature parameters ⇒ identical recall), but the banding join
    * is ASYMMETRIC: delta bands × corpus bands. At 100 TB the corpus
    * side is a persisted signature/band side table bucketed by band
    * key — the probe then touches only the buckets the delta's keys
    * hash into, O(delta), never O(corpus). Corpus-internal pairs are
    * by definition already known and are NOT re-emitted; delta-delta
    * pairs ARE emitted (both orientations reduced to new_id pairs)
    * because neither member was seen before.
    *
    * Output: (new_id, old_id, n_inter, n_union) where new_id ∈ delta;
    * old_id may itself be a delta id for intra-batch duplicates (then
    * new_id < old_id dedups the orientation). */
  def minhashLshProbe(corpus: DataFrame, delta: DataFrame,
                      textCol: String, idCol: String,
                      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5,
                      seed: Long = 42L): DataFrame = {
    def prep(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        Text.wordShingles(col("toks"), shingleN).as("sh"))
    minhashLshProbeSets(prep(corpus), prep(delta), k, bands,
      threshold, seed)
  }

  /** The banded-signature projection of a shingle-set table: one
    * (id, band, key) row per document per band — BOTH the internal
    * step of every LSH form here and the band SIDE TABLE an
    * incremental pipeline persists so a probe never re-bands the
    * corpus ([[minhashLshProbeBandsPruned]]). Same k/bands/seed ⇒
    * bit-identical keys across all forms. */
  def minhashBandRows(sets: DataFrame, k: Int, bands: Int,
                      seed: Long): DataFrame =
    sets
      .withColumn("hashes", transform(col("sh"), s => xxhash64(s)))
      .withColumn("sig",
        SigExprs.minhashSigFromHashes(col("hashes"), k, seed))
      .select(col("id"),
        explode(Text.lshBandKeys(col("sig"), bands, k / bands))
          .as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.key").as("key"))

  /** The band side table's partition key: ONE expression shared by
    * the table's writer ([[graft.streaming.StreamNearDedup]]) and the
    * probe's bucket discovery, so the two can never hash differently
    * (the reply-index keyBucket contract). Bucketing by (band, key) —
    * the probe's join key — lets a micro-batch probe read only the
    * buckets its own ≤ |delta|·bands keys hash into. */
  def bandBucket(band: Column, key: Column, n: Int): Column =
    pmod(xxhash64(band, key), lit(n.toLong)).cast("int")

  /** The shingle-set side table's partition key — the candidate-FETCH
    * analogue of [[bandBucket]]: the probe's verification step pulls
    * sets for candidate ids only, so an id-bucketed layout prunes
    * that read to ≤ |candidates| buckets. One shared expression,
    * write + probe. */
  def idBucket(id: Column, n: Int): Column =
    pmod(xxhash64(id), lit(n.toLong)).cast("int")

  /** Shingle-set-level probe — the corpus side is (id, sh) rows; the
    * batch reference form ([[minhashLshProbe]] feeds it from raw
    * text) that the banded probe is spec-pinned against.
    *
    * NB measured (d44b, 5M-doc corpus): this form re-BANDS the whole
    * corpus on every probe — ~8.8 GB of banding shuffle per
    * micro-batch at that scale, O(corpus) however small the delta.
    * Continuous pipelines persist the banded table too and call
    * [[minhashLshProbeBandsPruned]], which moves only delta bands +
    * candidate sets (measured O(delta), d44c). */
  def minhashLshProbeSets(corpusSets: DataFrame, deltaSets: DataFrame,
                          k: Int, bands: Int, threshold: Double,
                          seed: Long): DataFrame = {
    def bandRows(sh: DataFrame): DataFrame =
      minhashBandRows(sh, k, bands, seed)
    // shingle sets feed banding AND verification — cache both sides
    // (the corpus side stands in for the persisted signature table).
    // Latest-wins on re-ingest: a doc id present in BOTH sides would
    // band twice and duplicate every verified pair row it joins (and
    // its new-vs-stored self-pair is suppressed by new_id =!= old_id
    // anyway) — drop the STORED version wherever the delta carries
    // the id, the S9 merge's document identity rule. CONTRACT: the
    // delta is one ingest micro-batch — driver-broadcast-sized by
    // construction (an unbounded "delta" belongs in the full rebuild
    // path, not here). Broadcast the id projection off the PERSISTED
    // shNew so it rides the cache instead of re-planning the raw
    // tokenize+shingle lineage for the broadcast side (ADVICE r5).
    val shNew = CacheTracker.persistTracked(deltaSets)
    val shOld = CacheTracker.persistTracked(corpusSets.join(
      broadcast(shNew.select("id")), Seq("id"), "left_anti"))
    // the banded delta feeds TWO consumers (the probe side and the
    // union's intra-batch arm) — persist the slim (id, band, key)
    // rows, or each consumer re-runs the per-shingle hashing +
    // minhash signature over the whole delta (only the shingle SETS
    // are cached below it; same-plan subtrees do NOT dedupe)
    val bNew = CacheTracker.persistTracked(bandRows(shNew))
    // corpus ∪ delta on the index side so intra-batch dups surface
    // too; the flag canonicalizes delta-delta pairs (which would
    // otherwise emit in both orientations) to new_id < old_id
    val bAll = bandRows(shOld).withColumn("was_new", lit(false))
      .unionByName(bNew.withColumn("was_new", lit(true)))
    val cand = bNew.select(col("band"), col("key"),
        col("id").as("new_id"))
      .join(bAll.select(col("band"), col("key"), col("id").as("old_id"),
          col("was_new")),
        Seq("band", "key"))
      .filter(col("new_id") =!= col("old_id") &&
        (!col("was_new") || col("new_id") < col("old_id")))
      .select(col("new_id"), col("old_id"))
      .distinct()
    val shAll = shOld.unionByName(shNew)
    cand
      .join(shAll.select(col("id").as("new_id"), col("sh").as("sh_a")),
        "new_id")
      .join(shAll.select(col("id").as("old_id"), col("sh").as("sh_b")),
        "old_id")
      .withColumn("__da", array_distinct(col("sh_a")))
      .withColumn("__db", array_distinct(col("sh_b")))
      .withColumn("n_inter",
        size(array_intersect(col("__da"), col("__db"))).cast("long"))
      .withColumn("n_union",
        (size(col("__da")) + size(col("__db")) - col("n_inter"))
          .cast("long"))
      .filter(col("n_union") > 0 &&
        col("n_inter").cast("double") / col("n_union") >= threshold)
      .select(col("new_id"), col("old_id"), col("n_inter"),
        col("n_union"))
  }

  /** The TRUE O(delta) incremental probe: both corpus-side artifacts
    * are PERSISTED side tables a continuous pipeline maintains (the
    * band rows, [[minhashBandRows]] of the corpus, and the (id, sh)
    * shingle sets), supplied as BUCKET-VALUE PROVIDERS. The probe
    * computes its bucket values first — the delta's [[bandBucket]]s,
    * then the candidates' [[idBucket]]s — and hands them to the
    * providers, which read exactly those buckets. Over a
    * batch-appended layout a provider ENUMERATES the leaf dirs
    * (bucket → directory is computable, the layout is its own
    * manifest), so neither the scan nor the driver's file listing
    * touches the rest of the table
    * ([[graft.state.Layout.BucketedTable.readBuckets]]; a fresh
    * partitioned read would list every `bucket=…/batch_id=…` leaf per
    * probe, BENCH_NOTES r10).
    *
    * Per-probe cluster work is O(delta banding + candidate
    * verification): the delta is banded (micro-batch-sized), joined
    * against the stored band rows, and shingle sets are fetched for
    * CANDIDATE ids only. Measured against [[minhashLshProbeSets]] on
    * the same 5M-doc corpus / 2k delta: 8,831 MB → single-digit MB of
    * shuffle (d44b vs d44c, BENCH_NOTES r9).
    *
    * Output and recall are IDENTICAL to [[minhashLshProbeSets]] with
    * the same k/bands/seed over the same stored rows (spec-pinned):
    * same banding expression, same latest-wins delta-supersedes rule,
    * same intra-batch canonicalization, same exact-Jaccard
    * verification.
    *
    * Provider contract: `corpusBandsFor(bk)` must return EVERY stored
    * band row whose [[bandBucket]] (modulus `bandBuckets`) is in `bk`,
    * as (id, band, key); `corpusSetsFor(ib)` every stored set row
    * whose [[idBucket]] (modulus `setsBuckets`) is in `ib`, as
    * (id, sh). A superset is semantics-preserving (the joins match
    * exactly); a SUBSET loses true duplicates silently — so each
    * modulus must be exactly the one its table's rows were WRITTEN
    * with ([[graft.streaming.StreamNearDedup]] validates its modulus
    * against both tables' layout markers every batch). Both
    * providers are called with values collected from PERSISTED
    * delta-/candidate-sized frames. */
  def minhashLshProbeBandsPruned(corpusBandsFor: Seq[Int] => DataFrame,
                                 corpusSetsFor: Seq[Int] => DataFrame,
                                 deltaSets: DataFrame,
                                 k: Int, bands: Int, threshold: Double,
                                 seed: Long, bandBuckets: Int,
                                 setsBuckets: Int)
      : DataFrame = {
    val shNew = CacheTracker.persistTracked(deltaSets)
    // delta ids are micro-batch-sized by contract — broadcast them
    // into both latest-wins anti-joins so neither side table shuffles
    val newIds = broadcast(shNew.select("id"))
    val bNew = CacheTracker.persistTracked(
      minhashBandRows(shNew, k, bands, seed))
    val deltaBandBuckets = bNew
      .select(bandBucket(col("band"), col("key"), bandBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val bOld = corpusBandsFor(deltaBandBuckets)
      .join(newIds, Seq("id"), "left_anti")
    val bAll = bOld.withColumn("was_new", lit(false))
      .unionByName(bNew.withColumn("was_new", lit(true)))
    val cand = bNew.select(col("band"), col("key"),
        col("id").as("new_id"))
      .join(bAll.select(col("band"), col("key"),
          col("id").as("old_id"), col("was_new")),
        Seq("band", "key"))
      .filter(col("new_id") =!= col("old_id") &&
        (!col("was_new") || col("new_id") < col("old_id")))
      .select(col("new_id"), col("old_id"))
      .distinct()
    // candidate-bounded verification in ONE streamed pass over the
    // sets table: fetch the shingle sets of candidate ids (broadcast
    // id probe over the candidates' id buckets), then both pair
    // joins run small-vs-small on the fetched frame — the corpus is
    // never shuffled and never scanned twice
    val candP = CacheTracker.persistTracked(cand)
    val candIds = candP.select(col("new_id").as("id"))
      .unionByName(candP.select(col("old_id").as("id"))).distinct()
    // the bucket discovery collect rides candP's cache
    val candIdBuckets = candIds
      .select(idBucket(col("id"), setsBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val shAll = corpusSetsFor(candIdBuckets)
      .join(newIds, Seq("id"), "left_anti")
      .unionByName(shNew)
    val fetched = CacheTracker.persistTracked(
      shAll.join(broadcast(candIds), Seq("id")))
    candP
      .join(fetched.select(col("id").as("new_id"), col("sh").as("sh_a")),
        "new_id")
      .join(fetched.select(col("id").as("old_id"), col("sh").as("sh_b")),
        "old_id")
      .withColumn("__da", array_distinct(col("sh_a")))
      .withColumn("__db", array_distinct(col("sh_b")))
      .withColumn("n_inter",
        size(array_intersect(col("__da"), col("__db"))).cast("long"))
      .withColumn("n_union",
        (size(col("__da")) + size(col("__db")) - col("n_inter"))
          .cast("long"))
      .filter(col("n_union") > 0 &&
        col("n_inter").cast("double") / col("n_union") >= threshold)
      .select(col("new_id"), col("old_id"), col("n_inter"),
        col("n_union"))
  }

  /** Sorted-neighborhood near-dup (Hernández & Stolfo 1995): sort
    * the corpus by a domain sort key (here a normalized text
    * prefix), slide a window of `w` over the sorted order, verify
    * every in-window pair by exact Jaccard. The third blocking
    * family next to hash blocking (d39 — equal block key required)
    * and MinHash-LSH (m01 — probabilistic): candidates are
    * RANK-ADJACENT, so near-dups with *similar but unequal* keys
    * still pair, and the candidate count is exactly N·w — linear,
    * tunable, skew-immune (a hot block key can explode hash
    * blocking; the window cannot). Multi-pass = union over keys.
    *
    * Scale shape: the global order comes from the q11 distributed
    * rank (range repartition + partition offsets — no unpartitioned
    * window); candidates are an equi-join of rank against an
    * exploded rank+1..rank+w probe column; verification joins pull
    * shingle sets by id for in-window pairs only. */
  def sortedNeighborhoodPairs(docs: DataFrame, textCol: String,
                              idCol: String, keyChars: Int = 16,
                              w: Int = 5, shingleN: Int = 3,
                              threshold: Double = 0.5): DataFrame = {
    val sh = CacheTracker.persistTracked(docs
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .select(col("id"), array_distinct(
        Text.wordShingles(col("toks"), shingleN)).as("sh")))
    val keyed = docs.select(col(idCol).as("id"),
      substring(lower(col(textCol)), 1, keyChars).as("k"))
    val ranked = CacheTracker.persistTracked(
      graft.query.Rank.globalRowNumber(keyed,
        Seq(col("k").asc, col("id").asc)))
    val cand = ranked.select(col("id").as("id_x"),
        explode(sequence(col("rank") + 1, col("rank") + w))
          .as("probe"))
      .join(ranked.select(col("rank").as("probe"),
        col("id").as("id_y")), "probe")
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")),
        "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")),
        "id_b")
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union",
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))
          .cast("long"))
      .filter(col("n_union") > 0 &&
        col("n_inter").cast("double") / col("n_union") >= threshold)
      .select("id_a", "id_b", "n_inter", "n_union")
  }

  /** CCNet-style inter-document SEGMENT dedup: drop every segment
    * (fixed non-overlapping token window — the role newlines play in
    * CCNet's line dedup; this corpus has none) that appears verbatim
    * in ≥ `minDocs` DISTINCT documents, and rebuild each document
    * from its surviving segments. This removes boilerplate
    * (headers, navigation, license blurbs) that document-level dedup
    * can never touch because the surrounding text differs.
    *
    * Scale: one explode → one (fingerprint → distinct-doc count)
    * aggregate → one join back. The aggregate shuffles md5 strings
    * here for oracle portability; the production key is xxhash64
    * (8 bytes). Reconstruction is a per-doc collect_list over that
    * doc's own segments — bounded by document size, no global sort. */
  def segmentDedup(docs: DataFrame, textCol: String, idCol: String,
                   segTokens: Int = 16, minDocs: Int = 2): DataFrame = {
    // posexplode_OUTER: a zero-token doc still yields one (null seg)
    // row, so it appears in the output with n_segments = 0 and empty
    // clean_text — a rebuild op must return EVERY input doc, not
    // silently drop the empty ones
    val segs = CacheTracker.persistTracked(docs
      .withColumn("__toks", Text.tokens(col(textCol)))
      .select(col(idCol).as("id"),
        posexplode_outer(Text.tokenChunks(col("__toks"), segTokens,
          segTokens)))
      .select(col("id"), col("pos"),
        when(col("col").isNotNull, concat_ws(" ", col("col")))
          .as("seg"))
      .withColumn("fp", md5(col("seg"))))
    val dupFps = segs.filter(col("fp").isNotNull).groupBy("fp")
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("fp"), lit(true).as("dup"))
    segs.join(dupFps, Seq("fp"), "left")
      .withColumn("keep", col("dup").isNull)
      .groupBy(col("id"))
      .agg(
        count(col("seg")).as("n_segments"),
        count(when(!col("keep"), 1)).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("keep") && col("seg").isNotNull,
              struct(col("pos"), col("seg"))))),
          s => s.getField("seg"))).as("clean_text"))
  }
}
