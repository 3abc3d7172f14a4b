package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-vector similarity operators (training-data pipeline,
  * SURVEY.md §7.5): brute-force cosine top-k as the exact baseline and
  * an IVF (inverted-file) variant as the 100 TB scale path.
  *
  * Vectors are `array<float>` columns; arithmetic happens in double via
  * `zip_with`/`aggregate` builtins — inside whole-stage codegen, no UDF.
  */
object Vectors {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Johnson-Lindenstrauss ±1 random projection (Achlioptas 2003:
    * the database-friendly sign matrix): inDim → outDim, entry
    * sign(j,i) derived from the parity of md5("s:j:i") — a
    * plan-literal constant matrix both engines re-derive exactly, so
    * projected values are oracle-reproducible (each slot is the same
    * left-to-right IEEE dot the cosine rows already rely on).
    *
    * Scale shape: outDim dots per row, pure codegen, no shuffle —
    * the preprocessing step that shrinks every downstream ANN/pair
    * shuffle by inDim/outDim while preserving distances to (1±ε). */
  def jlProject(vec: Column, inDim: Int, outDim: Int): Column = {
    val signs = (0 until outDim).map(j => (1 to inDim).map(i =>
      if (Text.portableHashLocal(s"s:$j:$i") % 2 == 0) 1.0 else -1.0))
    array(signs.map(sj => dot(vec, typedLit(sj))): _*)
  }

  /** Exact top-k by cosine similarity against one query vector.
    * The query vector is inlined as a literal → shipped with the plan
    * (broadcast), so this is a single scan + TakeOrderedAndProject:
    * embarrassingly parallel, no shuffle. The right baseline even at
    * 100 TB when k is small.
    */
  def topKCosine(vectors: DataFrame, vecCol: String, query: Seq[Float],
                 k: Int, idCol: String = "vec_id",
                 simName: String = "sim"): DataFrame = {
    val q = array(query.map(lit): _*)
    vectors
      .withColumn(simName, cosine(col(vecCol), q))
      .orderBy(col(simName).desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch ANN: exact top-k per QUERY over a query-set table — the
    * many-queries analog of [[topKCosine]]. Two-phase distributed
    * top-k: queries broadcast; scores are projected down to slim
    * (q_id, id, sim) rows BEFORE any shuffle; phase 1 takes the
    * per-(query, input-partition) top-k (the shuffle key (q_id, pid)
    * is well-spread by construction — no per-query hot partition),
    * phase 2 ranks the |Q|·partitions·k survivors per query. Brute
    * force is the right baseline for small |Q|; large query sets
    * route through IVF ([[ivfTopK]]) instead. */
  def batchTopKCosine(vectors: DataFrame, vecCol: String,
                      queries: DataFrame, queryVecCol: String,
                      queryIdCol: String, k: Int,
                      idCol: String = "vec_id",
                      simName: String = "sim"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(queryIdCol).as("q_id"),
      col(queryVecCol).as("__qv")))
    val scored = vectors.crossJoin(q)
      .select(col("q_id"), col(idCol),
        cosine(col(vecCol), col("__qv")).as(simName),
        spark_partition_id().as("__pid"))
    val w1 = Window.partitionBy(col("q_id"), col("__pid"))
      .orderBy(col(simName).desc, col(idCol).asc)
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col(simName).desc, col(idCol).asc)
    scored.withColumn("__r", row_number().over(w1))
      .filter(col("__r") <= k)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol), col(simName))
  }

  /** Random-hyperplane (signed random projection) bit signature: bit
    * i = sign(v · r_i) for `bits` seeded hyperplanes. Hamming distance
    * between signatures estimates angular distance — the LSH family
    * for cosine similarity. Deterministic in `seed`; planes ship as
    * plan literals. */
  def hyperplaneSig(vec: Column, dim: Int, bits: Int,
                    seed: Long = 42L): Column = {
    val rng = new scala.util.Random(seed)
    val planes = Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian()))
    val bitCols = planes.zipWithIndex.map { case (p, i) =>
      val proj = dot(vec, array(p.map(lit): _*))
      when(proj > 0, call_function("shiftleft", lit(1L), lit(i)))
        .otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Embedding-cosine near-dup candidate pairs: hyperplane signature
    * → band on 16-bit signature slices → equi-join on (band, key) →
    * verify exact cosine ≥ threshold. Same slim-shuffle shape as the
    * MinHash pipeline: the banding join moves 24 bytes/row; vectors
    * join back by id only for the candidate set. */
  def cosinePairs(vectors: DataFrame, vecCol: String, idCol: String,
                  dim: Int, threshold: Double = 0.9,
                  bits: Int = 64, seed: Long = 42L): DataFrame = {
    val base = graft.CacheTracker.persistTracked(
      vectors.select(col(idCol).as("id"), col(vecCol).as("v")))
    // native codegen signature: one bits×dim primitive loop per row
    // (the composed hyperplaneSig runs `bits` separate aggregate/
    // zip_with traversals of the vector)
    val sigd = graft.CacheTracker.persistTracked(base.select(col("id"),
      SigExprs.hyperplaneSig(col("v"), dim, bits, seed).as("sig")))
    val nBands = bits / 16
    val banded = sigd.select(col("id"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          call_function("shiftright", col("sig"), lit(b * 16))
            .bitwiseAND(0xFFFF).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val cand = banded.select(col("band"), col("key"),
        col("id").as("id_a"))
      .join(banded.select(col("band"), col("key"), col("id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val verified = cand
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
    verified
  }

  /** Per-vector max-abs — the scalar-quantization scale denominator.
    * Materialize this as its OWN column before calling
    * [[quantizeInt8]]: the quantizer's lambda references it per
    * element, and an inlined max-abs would re-run the array scan once
    * per element (no CSE into HOF lambdas). */
  def maxAbs(v: Column): Column =
    array_max(transform(v, x => abs(x.cast("double"))))

  /** Symmetric scalar int8 quantization: q_i = floor(x_i · 127/max|x|
    * + 0.5), stored as `array<tinyint>` — 4× smaller than float32,
    * the standard memory/shuffle-side compression for ANN at scale.
    * All-zero vectors quantize to zeros (no divide-by-zero). Chosen
    * over round() because floor(x+0.5) is bit-identical across
    * engines (the DuckDB oracle runs the same formula). */
  def quantizeInt8(v: Column, maxAbsCol: Column): Column =
    when(maxAbsCol === 0,
      transform(v, _ => lit(0).cast("tinyint")))
      .otherwise(transform(v, x =>
        floor(x.cast("double") * (lit(127.0) / maxAbsCol) + lit(0.5))
          .cast("tinyint")))

  /** Integer dot product of two quantized vectors, accumulated in
    * long (exact — no float rounding, engine-portable). */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Quantized ANN with exact rerank: phase 1 scores every row by the
    * integer dot product against the quantized query (cheap: int8
    * reads, no float math) and keeps the top `candidates`; phase 2
    * reranks only those by exact float cosine and returns top `k`.
    *
    * Scale: the int8 table is 4× smaller than the float32 one, phase 1
    * is scan + TakeOrderedAndProject (no shuffle), and the float
    * vectors are touched for `candidates` rows only — at 100 TB the
    * quantized copy is the hot compact index and the full-precision
    * table is random-access by id. `candidates` ≥ 4k absorbs
    * quantization rank noise near the cut. */
  def quantizedTopK(emb: DataFrame, vecCol: String, anchorPred: Column,
                    k: Int, candidates: Int,
                    idCol: String = "vec_id",
                    simName: String = "sim"): DataFrame = {
    val q = emb
      .withColumn("__ma", maxAbs(col(vecCol)))
      .withColumn("__q", quantizeInt8(col(vecCol), col("__ma")))
    val anchor = q.filter(anchorPred)
      .select(col("__q").as("a_q"), col(vecCol).as("a_v"))
    // >1 anchors would interleave integer dots against different
    // query vectors through the shared top-k (same hazard as
    // matryoshkaTopK); bounded probe, fail loudly
    require(anchor.limit(2).count() == 1,
      "quantizedTopK: anchorPred must select exactly one row")
    val cand = q.crossJoin(broadcast(anchor))
      .select(col(idCol), col(vecCol), col("a_v"),
        qdot(col("__q"), col("a_q")).as("qdot"))
      .orderBy(col("qdot").desc, col(idCol).asc)
      .limit(candidates)
    cand
      .select(col(idCol), col("qdot"),
        round(cosine(col(vecCol), col("a_v")), 4).as(simName))
      .orderBy(col(simName).desc, col(idCol).asc)
      .limit(k)
  }

  /** Matryoshka-style two-stage retrieval (Kusupati et al. 2022:
    * MRL embeddings order information by dimension prefix): rank
    * candidates on the FIRST `prefixDims` dims only — cosine
    * renormalizes, so truncation needs no re-embedding — then rerank
    * the survivors with the full vector. Same two-stage shape as
    * [[quantizedTopK]], trading dims instead of bits: the candidate
    * scan reads dim/prefixDims× fewer floats, and a stored
    * prefix-only column (or PQ over the prefix) shrinks the hot index
    * the same factor at 100 TB. */
  def matryoshkaTopK(emb: DataFrame, vecCol: String, anchorPred: Column,
                     prefixDims: Int, k: Int, candidates: Int,
                     idCol: String = "vec_id",
                     simName: String = "sim"): DataFrame = {
    val anchor = emb.filter(anchorPred)
      .select(slice(col(vecCol), 1, prefixDims).as("a_p"),
        col(vecCol).as("a_v"))
    // >1 anchors would silently interleave sims against different
    // query vectors through the shared top-k; fail loudly instead
    // (bounded probe: stops at 2 rows)
    require(anchor.limit(2).count() == 1,
      "matryoshkaTopK: anchorPred must select exactly one row")
    val cand = emb.crossJoin(broadcast(anchor))
      .select(col(idCol), col(vecCol), col("a_v"),
        round(cosine(slice(col(vecCol), 1, prefixDims), col("a_p")), 4)
          .as("psim"))
      .orderBy(col("psim").desc, col(idCol).asc)
      .limit(candidates)
    cand
      .select(col(idCol), col("psim"),
        round(cosine(col(vecCol), col("a_v")), 4).as(simName))
      .orderBy(col(simName).desc, col(idCol).asc)
      .limit(k)
  }

  /** Product-quantization codebooks sampled from the table itself:
    * codeword j of every subspace = the sub-vector of the row with
    * `idCol == j` (j < k). A bounded driver collect (k rows — same
    * class as IVF centroids), documented stand-in for per-subspace
    * k-means training ([[kmeansFit]] is the trained path); the PQ
    * ENCODE/ADC machinery downstream is identical either way, which
    * is what the catalog row verifies. Returned as
    * m × k × (dim/m) doubles. */
  def pqCodebooksFrom(emb: DataFrame, vecCol: String, idCol: String,
                      dim: Int, m: Int, k: Int): Seq[Seq[Seq[Double]]] = {
    val subDim = dim / m
    val rows = emb.filter(col(idCol) < k)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .toMap
    (0 until m).map { s =>
      (0 until k).map { j =>
        rows(j.toLong).slice(s * subDim, (s + 1) * subDim)
      }
    }
  }

  /** PQ encode (Jégou et al. 2011): split the vector into m
    * subspaces, replace each sub-vector by the index of its nearest
    * codeword (L2², argmin, ties → lowest index). Codebooks are plan
    * literals → one codegen'd scan per row, no shuffle; the output
    * `array<int>` of m byte-sized codes is the 4·dim/m ×-smaller
    * representation that ships through shuffles instead of floats. */
  def pqCodes(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebooks.size
    val subDim = codebooks.head.head.size
    array((0 until m).map { s =>
      val sub = slice(vec, s * subDim + 1, subDim)
      val best = array_min(array(codebooks(s).zipWithIndex.map {
        case (cw, j) =>
          val diff = zip_with(sub, lit(cw.toArray),
            (x, c) => x.cast("double") - c)
          struct(dot(diff, diff).as("d"), lit(j).as("j"))
      }: _*))
      best.getField("j")
    }: _*)
  }

  /** Asymmetric distance computation against a driver-side query:
    * the per-subspace L2² tables `dt[s][j] = ‖q_s − codeword‖²` are
    * computed ONCE on the driver, quantized to integer micro-units
    * (the d28 determinism trick — per-cell rounding BEFORE the sum
    * keeps the aggregate exact integer math), and shipped as m
    * k-entry literal arrays. Per row the approximate distance is m
    * array lookups + an integer chain — no float math touches the
    * scan, and the full-precision vectors are never read. */
  def pqAdcMicro(codes: Column, query: Seq[Double],
                 codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val subDim = codebooks.head.head.size
    val tables = codebooks.zipWithIndex.map { case (cws, s) =>
      val qSub = query.slice(s * subDim, (s + 1) * subDim)
      cws.map { cw =>
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val x = qSub(i) - cw(i); d += x * x; i += 1
        }
        math.round(1e6 * d)
      }
    }
    tables.zipWithIndex.map { case (dt, s) =>
      element_at(lit(dt.toArray), element_at(codes, s + 1) + 1)
    }.reduce(_ + _)
  }

  /** Assign each vector to its nearest centroid (argmax cosine).
    * `centroids` are plan literals (small, like IVF nlist ≤ 64k);
    * at scale the assignment is one codegen'd scan. Returns the input
    * plus a `cluster` column — write partitioned by it and ANN probes
    * read only `nprobe` partitions (partition pruning = the IVF index).
    */
  def ivfAssign(vectors: DataFrame, vecCol: String,
                centroids: Seq[(Int, Seq[Float])]): DataFrame =
    // native argmax-cosine: one ‖v‖ pass + one fused dot loop per
    // centroid (the composed greatest(struct(cosine…)) form
    // re-traversed the vector 3×nlist times per row); parity
    // spec-tested incl. zero-vector and duplicate-centroid ties
    vectors.withColumn("cluster",
      SigExprs.centroidArgmax(col(vecCol), centroids))

  /** The composed formulation, kept as the parity reference. */
  private[graft] def ivfAssignComposed(
      vectors: DataFrame, vecCol: String,
      centroids: Seq[(Int, Seq[Float])]): DataFrame = {
    val scored = centroids.map { case (cid, c) =>
      struct(cosine(col(vecCol), array(c.map(lit): _*)).as("sim"),
        lit(cid).as("cid"))
    }
    vectors.withColumn("cluster", greatest(scored: _*).getField("cid"))
  }

  /** Train IVF centroids in-engine: Lloyd's k-means with the native
    * [[ivfAssign]] assignment (one codegen scan per iteration) and a
    * posexplode-per-dimension mean update (compact (cluster, dim)
    * partial sums with map-side combine — the shuffle moves
    * k·dim doubles per partition, never vectors). Completes the IVF
    * story: [[ivfAssign]]/[[ivfTopK]] consume exactly this output.
    *
    * Init is a deterministic, layout-independent sample (k smallest
    * md5(seed, id) — the relatedFeed draw). The loop is
    * driver-coordinated like the gate fixpoint: `iters` is small and
    * each step is one distributed pass; only k·dim floats ever reach
    * the driver. Empty clusters keep their previous centroid.
    *
    * NOT oracle-gated: distributed float-mean association order makes
    * the low bits engine- and partitioning-dependent (the documented
    * reason d18-style rounding tricks don't apply to an ITERATED
    * computation — rounding between iterations would change the
    * trajectory). Convergence and separation are spec-asserted
    * instead; v02 remains the oracle-gated consumer of fixed
    * centroids. */
  def kmeansFit(vectors: DataFrame, vecCol: String, idCol: String,
                k: Int, iters: Int = 5,
                seed: Long = 42L): Seq[(Int, Seq[Float])] = {
    require(k >= 1 && iters >= 1, "kmeansFit: k, iters >= 1")
    var cents: Seq[(Int, Seq[Float])] = vectors
      .select(col(idCol).cast("string").as("__id"), col(vecCol).as("v"))
      .orderBy(md5(concat_ws("#", lit(seed.toString), col("__id"))),
        col("__id"))
      .limit(k).collect().zipWithIndex
      .map { case (r, i) =>
        (i, r.getAs[scala.collection.Seq[Float]]("v").toSeq) }
      .toSeq
    for (_ <- 0 until iters) {
      val means = ivfAssign(vectors, vecCol, cents)
        .select(col("cluster"),
          posexplode(col(vecCol)).as(Seq("__d", "__x")))
        .groupBy("cluster", "__d")
        .agg(avg(col("__x").cast("double")).as("__m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
            .toSeq }
      cents = cents.map { case (cid, old) =>
        (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  /** IVF probe: search only the `nprobe` clusters whose centroids are
    * closest to the query, then exact top-k within them. With the
    * table partitioned by `cluster`, the filter prunes partitions at
    * the source — the scan touches nprobe/nlist of the data.
    */
  /** SemDeDup-style semantic dedup (Abbas et al. 2023): WITHIN each
    * group — an IVF cluster from [[ivfAssign]], or any
    * curation-domain key — drop a vector when any SMALLER-id vector
    * in the same group is more cosine-similar than `threshold`; the
    * survivor of every near-duplicate neighborhood is its first
    * (min-id) member. Returns the kept rows unchanged.
    *
    * Shape at 100 TB: the pairwise pass is the SemDeDup premise —
    * all-pairs is only ever run per cluster, so the self-join
    * equi-shuffles on the group key and each task is |cluster|²
    * bounded (nlist controls it; re-cluster hotspots before running).
    * The drop set is distinct ids (slim), removed with a left-anti
    * join on id. No window, no driver collection.
    */
  def semdedupKeep(vectors: DataFrame, vecCol: String, idCol: String,
                   groupCol: String, threshold: Double): DataFrame = {
    // Norms are computed ONCE per input row (projection below sits
    // before the join), so each of the |cluster|² candidate pairs
    // costs a single dot: cos(a,b) ≥ t ⟺ dot ≥ t·|a|·|b| (guarded
    // for zero vectors, whose cosine is defined as 0 — never dropped
    // by a positive threshold). Rearrangement error ~1e-15 — only a
    // pair sitting exactly on the threshold could flip.
    val slim = vectors.select(col(groupCol).as("__g"),
      col(idCol).as("__i"), col(vecCol).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val dropped = slim
      .toDF("__g", "__ia", "__va", "__na")
      .join(slim.toDF("__g", "__ib", "__vb", "__nb"), "__g")
      .filter(col("__ib") < col("__ia") &&
        col("__na") * col("__nb") > 0 &&
        dot(col("__va"), col("__vb")) >=
          lit(threshold) * (col("__na") * col("__nb")))
      .select(col("__ia")).distinct()
    vectors.join(dropped, col(idCol) === col("__ia"), "left_anti")
  }

  /** Prototypicality pruning (the other half of cluster-based
    * curation, à la SemDeDup/SSL-prototypes): per-group MEAN centroid,
    * each member's cosine to its centroid, and the k LEAST
    * prototypical members per group (rank ties → min id). Returns
    * (group, id, sim) for the outliers — the rows a curation pass
    * reviews or drops.
    *
    * Shape at 100 TB: centroids are a (group, dim)-key hash aggregate
    * (map-side combined, like [[kmeansFit]]'s mean step) re-assembled
    * to one array row per group — #groups·dim rows, broadcast back.
    * The bottom-k filter is a group-partitioned `row_number` ≤ k:
    * Spark plants partial `WindowGroupLimit` before the shuffle, so
    * each map task forwards at most k rows per group. */
  def centroidOutliers(vectors: DataFrame, vecCol: String,
                       idCol: String, groupCol: String,
                       k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = vectors
      .select(col(groupCol).as("__g"),
        posexplode(col(vecCol).cast("array<double>"))
          .as(Seq("__p", "__x")))
      .groupBy("__g", "__p").agg(avg(col("__x")).as("__m"))
      .groupBy("__g")
      .agg(transform(
        array_sort(collect_list(struct(col("__p"), col("__m")))),
        s => s.getField("__m")).as("__cen"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__sim").asc, col(idCol).asc)
    vectors.join(broadcast(cents), col(groupCol) === col("__g"))
      .withColumn("__sim", cosine(col(vecCol), col("__cen")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(groupCol), col(idCol), round(col("__sim"), 4).as("sim"))
  }

  def ivfTopK(assigned: DataFrame, vecCol: String,
              centroids: Seq[(Int, Seq[Float])], query: Seq[Float],
              k: Int, nprobe: Int, idCol: String = "vec_id",
              simName: String = "sim"): DataFrame = {
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na == 0 || nb == 0) 0.0 else d / (na * nb)
    }
    // cid tie-break: under an exact cosine tie (duplicate or
    // proportional centroids) a sim-only stable sort would resolve
    // the nprobe cutoff by the caller's collect order — scan-order-
    // dependent and diverging from the oracle's ORDER BY sim DESC, cid
    val probe = centroids.sortBy { case (cid, c) => (-cos(c, query), cid) }
      .take(nprobe).map(_._1)
    topKCosine(assigned.filter(col("cluster").isin(probe: _*)),
      vecCol, query, k, idCol, simName)
  }

  /** kNN label propagation: predict each query vector's label by
    * MAJORITY VOTE over its k cosine-nearest LABELED vectors — the
    * semi-supervised label-transfer step pipelines use to spread a
    * small human-annotated quality/topic/language set across an
    * unlabeled corpus.
    *
    * Plan: queries broadcast into the scan's crossJoin, then the
    * neighbor selection is ONE [[TopKAgg]] aggregation — partial
    * aggregation bounds per-partition state at k rows per query, so
    * the shuffle carries |Q|·partitions·k heap entries, never the
    * |corpus|·|Q| scored rows (the window-rank formulation shuffled
    * all of them and re-evaluated the HOF cosine per window stage —
    * measured 32 s vs ~2 s at sf0.1). Labels join back on the
    * (|Q|·k)-row neighbor table (auto-broadcast), and the vote is an
    * argmax-by-min-struct — no window anywhere. Neighbor ranking
    * rounds sim at 1e-9 with id tie-break so the k-th-neighbor
    * boundary is engine-reproducible. At corpus scale the candidate
    * stage swaps to [[ivfTopK]] per the ANN rows; the vote is
    * unchanged.
    *
    * Output: (q_id, pred_label, votes); vote ties break to the
    * smallest label. */
  def knnLabelVote(labeled: DataFrame, queries: DataFrame,
                   vecCol: String, idCol: String, labelCol: String,
                   k: Int): DataFrame = {
    // squared norms are per-ROW facts — hoist them out of the
    // crossJoin so each pair pays ONE array fold (dot(a,b)), not the
    // five a naive cosine() expands to (norms per pair, duplicated
    // again through the when-guard): measured 22 s → ~4 s at sf0.1.
    // float vectors take the native fused loop (VecDotF — same
    // left-to-right sum, zero per-pair allocation) for another ~2×.
    val isFloat = labeled.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    def d(a: Column, b: Column): Column =
      if (isFloat) SigExprs.vecDotF(a, b) else dot(a, b)
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).as("__qv"), d(col(vecCol), col(vecCol)).as("__qn2")))
    val l = labeled.select(col(idCol).as("n_id"),
      col(vecCol).as("__lv"), d(col(vecCol), col(vecCol)).as("__ln2"))
    val top = l.crossJoin(q)
      .select(col("q_id"), col("n_id"),
        when(col("__qn2") === 0 || col("__ln2") === 0, lit(0.0))
          .otherwise(round(d(col("__lv"), col("__qv")) /
            sqrt(col("__qn2") * col("__ln2")), 9)).as("__sim"))
      // null sims (null/ragged embeddings — the dot's null-poisoning
      // falls through the zero-norm guard) would crash TopKAgg's
      // non-nullable Double encoder; such pairs are skipped, not fatal
      .filter(col("__sim").isNotNull)
      .groupBy(col("q_id"))
      .agg(TopKAgg.topK(k)(col("__sim"), col("n_id")).as("__top"))
      .select(col("q_id"), explode(col("__top._2")).as("n_id"))
    top
      .join(labeled.select(col(idCol).as("n_id"),
        col(labelCol).as("lbl")), "n_id")
      .groupBy(col("q_id"), col("lbl"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("q_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("lbl").as("lbl")))
        .as("__w"))
      .select(col("q_id"), col("__w.lbl").as("pred_label"),
        (-col("__w.nv")).cast("long").as("votes"))
  }

  /** Margin-based cross-collection pair mining (Artetxe & Schwenk
    * 2019, "ratio" margin) — the bitext-mining / cross-modal-alignment
    * scorer (LASER/CCMatrix): raw cosine over-pairs hub vectors that
    * are close to EVERYTHING, so each candidate is scored relative to
    * its two k-NN neighborhoods:
    *
    *   margin(x,y) = cos(x,y) / ((avgNN_k(x) + avgNN_k(y)) / 2)
    *
    * and each x ∈ A is paired with its best y ∈ B by margin.
    *
    * Determinism: cosines are quantized to integer micro-units BEFORE
    * any sum; the neighborhood sums are exact integer folds over
    * TopKAgg's (value desc, id asc) bounded heaps; the margin is ONE
    * integer-ratio division replayed identically in the oracle; the
    * best-y pick is an argmax-by-min-struct with id tie-break — no
    * unpartitioned window anywhere.
    *
    * Scale shape: norms hoisted per row, native VecDotF per pair
    * (the v14 lesson); both neighborhood passes are TopKAgg over the
    * SAME persisted pair table — map-side-combined, k-bounded partial
    * state, shuffle = |ids|·partitions·k heap entries. The crossJoin
    * candidate stage swaps to IVF probes (v02) or hyperplane-LSH
    * banding (v03) at corpus scale; neighborhood sums and margin are
    * unchanged. */
  def marginMining(a: DataFrame, b: DataFrame, vecCol: String,
                   idCol: String, k: Int,
                   allowExact: Boolean = false,
                   maxExactPairs: Long = 50000000L): DataFrame = {
    // The A×B candidate stage is the engine's one DOCUMENTED quadratic
    // (110 M materialized pairs / 247.8 s at the measured 100× point —
    // BENCH_NOTES): it exists as the oracle gate and the small-corpus
    // fast path, NOT the corpus-scale form. Refuse past the pair
    // threshold unless the caller opts in deliberately; the scale
    // route is [[marginMiningIvf]] (cluster-keyed candidates, 21×
    // faster at the same 100× point, 11× less shuffle).
    if (!allowExact) {
      // Catalyst stats first: when the optimizer already knows the
      // row count the guard is free; count() is only the fallback,
      // because each count is a full job re-running the uncached
      // upstream lineage before the mining job even starts (ADVICE
      // r5). rowCount is trusted ONLY for leaf shapes where it is
      // exact by construction (local data, range, a materialized
      // cache) — under CBO a Filter/Join rowCount is a selectivity
      // ESTIMATE (or a stale ANALYZE-time count), and an
      // underestimate there would wave a quadratic blow-up past the
      // very guard built to refuse it. BigInt product so two
      // >3B-row inputs can't overflow Long past the guard.
      def rows(df: DataFrame): BigInt = {
        import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Range => LRange}
        import org.apache.spark.sql.execution.columnar.InMemoryRelation
        val p = df.queryExecution.optimizedPlan
        val exactLeaf = p match {
          case _: LocalRelation | _: LRange => true
          // A cache is exact only once its buffers are materialized;
          // before that, stats come from statsOfPlanToCache — under
          // CBO that is the child plan's selectivity ESTIMATE, the
          // very number this guard exists to distrust (ADVICE r6).
          case r: InMemoryRelation =>
            r.cacheBuilder.isCachedColumnBuffersLoaded
          case _ => false
        }
        (if (exactLeaf) p.stats.rowCount else None)
          .getOrElse(BigInt(df.count()))
      }
      val nPairs = rows(a) * rows(b)
      require(nPairs <= BigInt(maxExactPairs),
        s"marginMining's exact form would materialize $nPairs " +
          s"candidate pairs (> $maxExactPairs). Use marginMiningIvf " +
          "(IVF-probed candidates — the corpus-scale form) or pass " +
          "allowExact = true deliberately.")
    }
    val isFloat = a.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    def d(x: Column, y: Column): Column =
      if (isFloat) SigExprs.vecDotF(x, y) else dot(x, y)
    val av = a.select(col(idCol).as("a_id"), col(vecCol).as("__av"),
      d(col(vecCol), col(vecCol)).as("__an2"))
    val bv = b.select(col(idCol).as("b_id"), col(vecCol).as("__bv"),
      d(col(vecCol), col(vecCol)).as("__bn2"))
    val pairs = graft.CacheTracker.persistTracked(
      av.crossJoin(bv).select(col("a_id"), col("b_id"),
        when(col("__an2") === 0 || col("__bn2") === 0, lit(0L))
          .otherwise(round(lit(1e6) * d(col("__av"), col("__bv")) /
            sqrt(col("__an2") * col("__bn2"))).cast("long")).as("c"))
        .filter(col("c").isNotNull)) // null/ragged vecs: skip the pair
    marginBest(pairs, k)
      .select(col("src_id"), col("dst_id"), col("cos_sim"),
        col("margin"))
  }

  /** Neighborhood sums + ratio margin + best-y-per-x over an already-
    * built (a_id, b_id, c) candidate table — the stage shared by the
    * exact ([[marginMining]]) and IVF-probed ([[marginMiningIvf]])
    * forms. `c` is the micro-quantized cosine.
    *
    * The margin is the paper's mean-of-means,
    * cos / ((avgNN_k(x) + avgNN_k(y)) / 2), restated over integers as
    * 2·c·n_a·n_b / (s_a·n_b + s_b·n_a) — NOT the pooled mean
    * (n_a+n_b)/(s_a+s_b), which silently diverges whenever the two
    * neighborhoods have different sizes (routine under IVF probing,
    * where sparse clusters yield n < k). One double division of two
    * exact integers, replayed verbatim in the oracle. */
  private def marginBest(pairs: DataFrame, k: Int): DataFrame = {
    def nbh(key: String, other: String) = pairs.groupBy(key)
      .agg(TopKAgg.topK(k)(col("c").cast("double"), col(other))
        .as("__t"))
      .select(col(key),
        aggregate(col("__t._1"), lit(0.0), _ + _).cast("long")
          .as(s"s_$key"),
        size(col("__t")).cast("long").as(s"n_$key"))
    pairs
      .join(nbh("a_id", "b_id"), "a_id")
      .join(nbh("b_id", "a_id"), "b_id")
      // zero denominator (both neighborhoods' quantized cosine sums
      // cancel — zero-norm / orthogonal corners): Spark's Divide
      // returns NULL where IEEE division gives inf/nan, and a bare
      // min-struct would sort that NULL-margin candidate FIRST and
      // crown it. Guard the division and exclude null margins from
      // the argmax (house when(isNotNull, struct) convention); the
      // oracle mirrors with `den <> 0`.
      .withColumn("__den",
        (col("s_a_id") * col("n_b_id") +
          col("s_b_id") * col("n_a_id")).cast("double"))
      .withColumn("__margin",
        when(col("__den") =!= 0.0,
          (lit(2L) * col("c") * col("n_a_id") * col("n_b_id"))
            .cast("double") / col("__den")))
      .groupBy("a_id")
      .agg(min(when(col("__margin").isNotNull,
        struct((-col("__margin")).as("nm"),
          col("b_id").as("b"), col("c").as("c")))).as("__w"),
        count(lit(1)).cast("long").as("n_cand"))
      // an id whose EVERY margin is undefined yields no row (matches
      // the oracle, whose den<>0 filter empties its partition)
      .filter(col("__w").isNotNull)
      .select(col("a_id").as("src_id"), col("__w.b").as("dst_id"),
        (col("__w.c") / lit(1e6)).as("cos_sim"),
        (-col("__w.nm")).as("margin"), col("n_cand"))
  }

  /** IVF-probed margin mining — the 100 TB form of [[marginMining]],
    * and how CCMatrix actually runs: candidates come from an ANN
    * index (each B vector assigned to its [[ivfAssign]] cluster; each
    * query probes its `nprobe` closest centroids), and the k-NN
    * neighborhoods in the margin are computed over the RETRIEVED
    * candidate set — the index's view of the space, exactly the
    * approximation the mining pipelines make.
    *
    * Candidate generation is a cluster-keyed equi-join (the v02
    * partition-pruning story): |pairs| ≈ |A| · nprobe/nlist · |B| —
    * the measured 100× boundary of the exact form (110 M materialized
    * pairs, BENCH_NOTES) drops by nlist/nprobe, tunable to the
    * cluster's memory. Probe selection rides the same plan-literal
    * centroid array as [[semanticDecontamFlags]] (transform +
    * array_sort slice — map-only). Neighborhood sums, margin and the
    * best-y pick are [[marginBest]], unchanged from the exact form.
    *
    * Output adds `n_cand` (candidates scored per query) — the
    * recall-vs-cost knob made visible. */
  def marginMiningIvf(a: DataFrame, b: DataFrame, vecCol: String,
                      idCol: String, k: Int,
                      centroids: Seq[(Int, Seq[Float])],
                      nprobe: Int): DataFrame = {
    val isFloat = a.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    def d(x: Column, y: Column): Column =
      if (isFloat) SigExprs.vecDotF(x, y) else dot(x, y)
    val centArr = array(centroids.map { case (cid, v) =>
      struct(lit(cid).as("cid"), typedLit(v).as("v"),
        lit(math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))
          .as("nrm"))
    }: _*)
    val bAssigned = ivfAssign(
      b.select(col(idCol).as("b_id"), col(vecCol).as("__bv"),
        d(col(vecCol), col(vecCol)).as("__bn2")), "__bv", centroids)
    val probes = a
      .select(col(idCol).as("a_id"), col(vecCol).as("__av"),
        d(col(vecCol), col(vecCol)).as("__an2"))
      .withColumn("__probe", explode(slice(array_sort(
        Text.let(sqrt(col("__an2"))) { nrm =>
          transform(centArr, cent => struct(
            (-when(nrm === 0 || cent("nrm") === 0, lit(0L))
              .otherwise(round(lit(1e6) * d(col("__av"), cent("v")) /
                (nrm * cent("nrm"))).cast("long"))).as("ns"),
            cent("cid").as("cid")))
        }), 1, nprobe)))
      .select(col("a_id"), col("__av"), col("__an2"),
        col("__probe.cid").as("cluster"))
    // Hot-key fan-out (guide §2.5 salting): the candidate join's key
    // space is |clusters| = nlist, so with a small fixed seed-centroid
    // list (this catalog: 8) the per-pair cosine work lands on ≤nlist
    // partitions however many cores exist. Salt the probe side with
    // a deterministic pmod(xxhash64(a_id), k) and replicate the
    // assigned side k ways so the join spreads over nlist·k
    // partitions. k = cores/nlist rounds to 1 as nlist grows past the
    // core count — at corpus scale (nlist ≈ √N ≫ cores) this is
    // exactly the unsalted join, zero replication. Results identical:
    // each probe row still meets each same-cluster b row exactly once
    // (its own salt's copy).
    val saltK = math.max(1, a.sparkSession.sparkContext.defaultParallelism /
      math.max(centroids.size, 1))
    val probesSalted = probes.withColumn("__salt",
      pmod(xxhash64(col("a_id")), lit(saltK.toLong)).cast("int"))
    val bSalted = bAssigned.withColumn("__salt",
      explode(array((0 until saltK).map(lit): _*)))
    val pairs = graft.CacheTracker.persistTracked(
      probesSalted.join(bSalted, Seq("cluster", "__salt"))
        .select(col("a_id"), col("b_id"),
          when(col("__an2") === 0 || col("__bn2") === 0, lit(0L))
            .otherwise(round(lit(1e6) * d(col("__av"), col("__bv")) /
              sqrt(col("__an2") * col("__bn2"))).cast("long"))
            .as("c"))
        .filter(col("c").isNotNull)) // null/ragged vecs: skip the pair
    marginBest(pairs, k)
  }

  /** Semantic decontamination against a benchmark set — flag every
    * corpus vector whose max cosine to ANY eval vector reaches the
    * threshold (the embedding-space analogue of d14/d22's n-gram
    * decontamination: paraphrased eval leakage that exact n-grams
    * miss).
    *
    * Scale design: an eval set is SMALL by nature (a benchmark is
    * thousands of rows, the corpus is billions), so it ships as a
    * PLAN-LITERAL array of (id, vec, norm) structs — the v02
    * centroid-collect rationale — and the whole operator is a MAP
    * over the corpus scan: `transform` computes each eval sim exactly
    * once (no CSE trap — one lambda site), `array_max` reduces to the
    * best (sim, id) pair, the threshold filter drops in the same
    * stage. ZERO shuffles, no join, nothing but the corpus scan
    * itself; at larger eval sets the literal becomes a broadcast and
    * the map is unchanged.
    *
    * Determinism: sims quantized to integer micro-units inside the
    * transform; `array_max` on (sim_micro, −eval_id) structs gives
    * max-sim with smallest-id tie-break. Zero-norm vectors score 0.
    *
    * Output: (corpus_id, eval_id, sim_micro) for flagged rows only —
    * the drop list an anti join consumes downstream. */
  def semanticDecontamFlags(corpus: DataFrame, evalSet: DataFrame,
                            vecCol: String, idCol: String,
                            simMicroThreshold: Long): DataFrame = {
    val isFloat = corpus.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    def d(x: Column, y: Column): Column =
      if (isFloat) SigExprs.vecDotF(x, y) else dot(x, y)
    // benchmark-bounded driver collect (never corpus data); element
    // type follows the column (float vs double) so both vector
    // families literalize correctly
    val evals: Array[(Long, Seq[Double], Double)] = evalSet
      .select(col(idCol).cast("long"), col(vecCol))
      .collect().map { r =>
        val v: Seq[Double] =
          if (isFloat) r.getSeq[Float](1).map(_.toDouble)
          else r.getSeq[Double](1)
        (r.getLong(0), v, math.sqrt(v.map(x => x * x).sum))
      }.sortBy(_._1)
    require(evals.nonEmpty, "eval set is empty")
    val evalArr = array(evals.map { case (eid, v, nrm) =>
      val vLit = if (isFloat) typedLit(v.map(_.toFloat))
                 else typedLit(v)
      struct(lit(eid).as("id"), vLit.as("v"), lit(nrm).as("nrm"))
    }: _*)
    corpus.select(col(idCol).as("corpus_id"),
      Text.let(sqrt(d(col(vecCol), col(vecCol)))) { nrm =>
        array_max(transform(evalArr, e => struct(
          when(nrm === 0 || e("nrm") === 0, lit(0L))
            .otherwise(round(lit(1e6) * d(col(vecCol), e("v")) /
              (nrm * e("nrm"))).cast("long")).as("s"),
          (-e("id")).as("nid"))))
      }.as("__best"))
      .filter(col("__best.s") >= simMicroThreshold)
      .select(col("corpus_id"), (-col("__best.nid")).as("eval_id"),
        col("__best.s").as("sim_micro"))
  }
}
