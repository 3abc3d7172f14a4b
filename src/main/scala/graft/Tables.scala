package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All loads are plain `spark.read.parquet` so Catalyst keeps full
  * pushdown/pruning freedom — no caching, no materialization here. At
  * cluster scale these would be catalog tables partitioned per
  * SURVEY.md §4.3; the loader is the single seam where that changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Document ids spread across the session's cores — the id column
    * feeding synthetic-media generation. The sf-dir parquet reads as
    * ONE split at small SFs, and media encode/decode is partition-
    * local heavy work: on a single core the mm rows ran 10-20x their
    * 32-way cost (mm10 measured 52 s serial vs 3.9 s spread). The
    * shuffle moves slim longs; the codec loops it unlocks dwarf it. */
  def mediaIds(s: SparkSession, d: String): DataFrame =
    documents(s, d).select("doc_id")
      .repartition(s.sparkContext.defaultParallelism)

  /** [[documents]] spread across the session's cores — the mediaIds
    * fix generalized (r13; opt guide §2.5 "input skew: one huge
    * unsplittable file … repartition immediately after the read").
    * Each sf parquet file holds ONE row group, so every scan plans
    * as a single task no matter what maxPartitionBytes says, and the
    * per-row-heavy operators (tokenize + shingle, LM scoring, regex
    * extraction, per-row vector math) ran on 1 of 32 cores — the r13
    * profile measured wall ≈ summed-task on ~25 queries (~25 s of
    * serialized compute across the catalog). Hash-partition on the
    * unique id: even spread, deterministic under task retry (§2.5
    * warns off rand-derived keys), and Catalyst still pushes query
    * filters through the repartition to the scan. Keep plain
    * [[documents]] for metadata-only/id-hash rows — the exchange
    * moves the text bytes once, so it is only bought where per-row
    * compute dominates. */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** [[embeddings]] spread across the session's cores — same
    * single-row-group rationale as [[documentsSpread]] for the
    * per-row vector math (dot products, signatures, PQ distance
    * tables) the v-rows run in their scan stage. */
  def embeddingsSpread(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))

  /** `events.ts` normalization — schema-adaptive because the driver
    * has shipped the column two ways across data generations:
    *
    *   - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects
    *     it ([PARQUET_TYPE_ILLEGAL]); sessions set
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (see [[conf]])
    *     so it arrives as Long nanoseconds → integer-`div` to
    *     microseconds (a double division would lose precision above
    *     2^53 ns);
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *     TIMESTAMP_NTZ → cast to session-zone TimestampType (UTC
    *     session, so the wall-clock value is unchanged).
    *
    * Either way downstream sees microsecond TimestampType.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Session configs the engine requires; [[graft.Session]] applies
    * them to every session it builds. */
  val conf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** Performance configs (opt guide §2.2) — size-adaptive, not tuned
    * to local[32].
    *
    * canChangeCachedPlanOutputPartitioning=true: by default a cached
    * plan PINS spark.sql.shuffle.partitions partitions (AQE is
    * bypassed so the cache stays reusable under any consumer
    * partitioning); every CacheTracker intermediate then forced
    * KB-sized 32-partition layouts on all downstream stages (r13
    * profile: q29 ran 911 tasks / 33 stages over ~40 MB). true lets
    * AQE apply its normal byte-based sizing to cached plans too
    * (SPARK-38389) — a no-op where caches are already advisory-sized,
    * i.e. at cluster scale.
    *
    * Measured and REJECTED (r13, numbers in OPTIMIZATION_r13.md):
    *   - coalescePartitions.parallelismFirst=false — the Spark-docs-
    *     recommended byte-based target serialized this catalog's
    *     KB-sized/CPU-heavy verification stages (d47 1.3→11.2 s,
    *     d42 4.4→9.7 s): AQE sizes by bytes and cannot see per-row
    *     CPU cost.
    *   - adaptive.maxShuffledHashJoinLocalMapThreshold=64m (runtime
    *     SMJ→SHJ conversion) — flat to slightly worse on the
    *     join-heavy subset (24.4 → 25.0 s); the surviving SMJs here
    *     sort tiny slim-key tables, so the sort is not the cost.
    */
  val perfConf: Map[String, String] = Map(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // Never take the bypass-merge shuffle writer. Bypass opens
    // numPartitions FILES PER MAP TASK (M·R creates+deletes per
    // shuffle; thread dumps showed FileOutputStream.open0 /
    // FileChannel map0/unmap0 as the TOP executor frames at 32
    // cores), where the serialized sort writer spills ONE file per
    // map task whatever R is. Bypass is only eligible at
    // numPartitions ≤ 200 and no map-side combine, so at cluster
    // scale (R ≫ 200) this flag is a no-op; it changes exactly the
    // small-R shuffles, where file-creation syscalls dominate the
    // write itself. Measured on the shuffle-heavy subset
    // (d20/d31/d41/d42/m02/q49/d05, sf0.1, QueryProfile walls):
    //   - 32 cores, paired: 13.0 → 10.0 s with the flag; q49's
    //     shuffle stages alone 11.0 → 1.8 task-s.
    //   - 4 cores, paired min-of-3: 6.90 → 6.22 s with the flag, all
    //     of it d42 (2.42 → 1.68 s); q49 0.37 → 0.41 and d41
    //     1.22 → 1.31 s go the other way, the rest within ±4%. The
    //     perfbench `catalog` and `serve` workloads (3 seeds each)
    //     move by under 1.5% either way.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1")
}
