package graft.state

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout + skew tooling (SURVEY.md §4.3) — the piece that
  * replaces the reference's 14 Mongo secondary indexes at 100 TB.
  *
  * The declared indexes tell us the access patterns:
  * feeds are time-descending (`created_at` desc), entity lookups are
  * by `(author, permlink)`, trending sorts by stat columns within a
  * community. So: partition the posts table by a date bucket of
  * `created_at` (feed/trending windows prune partitions), and sort
  * within files by `(author, permlink)` (point lookups and the J4
  * self-join hit clustered row groups via parquet min/max).
  */
object Layout {

  /** Month bucket — coarse enough for small partitions counts, fine
    * enough that a 3-day trending window reads ≤ 2 partitions. */
  def monthBucket(ts: Column): Column =
    date_format(ts, "yyyy-MM")

  /** Hash bucket of a composite key: `xxhash64(author, permlink) mod
    * n`. The reply index buckets its rows by their PARENT key with it
    * ([[replyIndexRows]]), so a `children(of: key)` probe prunes to
    * the bucket of that one key. The posts store does not use it: its
    * rows bucket by [[authorBucket]]. */
  def keyBucket(author: Column, permlink: Column, n: Int): Column =
    pmod(xxhash64(author, permlink), lit(n.toLong)).cast("int")

  /** The posts store's bucket (`created_month=…/key_bucket=…`, the
    * layout the streaming merge writes): `xxhash64(author) mod n`.
    * All of one author's posts share one bucket per month, so both
    * access paths with a known author prune to it:
    *   - a point read or a merge seed with a known (author, permlink)
    *     key reads 1 bucket of n;
    *   - an author's feed page (`byCreator` `_eq`/`_in`) reads one
    *     bucket per author instead of all n
    *     ([[graft.query.PostQueries.creatorPruned]]).
    * The bucket is a partition column, so partition pruning works on
    * any literal predicate over it. It composes with dynamic partition
    * overwrite on a plain parquet path (no metastore), and it scopes
    * the write: a micro-batch rewrites only the (month, bucket) pairs
    * it touches.
    *
    * The price is skew: a prolific author's bucket is larger than the
    * mean (a generated 30,080-post store at n = 64: 3,694 rows in the
    * largest bucket, against a mean of 470 and a largest of 509 under
    * the old `(author, permlink)` hash).
    * The marker records the hash key ([[PostsKeyHash]]); a table
    * written under the old hash is refused ([[postsKeyBuckets]]).
    *
    * Sizing at 100 TB: choose n so table_size/n ≈ a few GB (e.g.
    * n=4096) — a micro-batch touching K authors then reads ≤ K buckets
    * ≈ K·(table/n), independent of how the other buckets grow. */
  def authorBucket(author: Column, n: Int): Column =
    pmod(xxhash64(author), lit(n.toLong)).cast("int")

  /** The reply-tree access path's OWN layout — the secondary-index
    * analogue of the reference's `{parent_permlink, parent_author}`
    * Mongo index (it declares one for exactly this query). The posts
    * store buckets rows by their own author, so a `children(of: key)`
    * probe cannot prune there; this slim projection (parent key,
    * child key, the child-page ordering column) is bucketed by the
    * PARENT key instead: a children page then reads ≤|page keys|
    * buckets of a table that is a few % of the store's width, ranks
    * on it, and fetches only the ≤ page×limit surviving child rows
    * from the main store (key-bucket pruned in turn). This is the
    * full-rebuild form; the streaming merge maintains the same index
    * incrementally per micro-batch
    * ([[graft.streaming.StreamIngest.refreshReplyIndex]] — the delta
    * is the batch's own replies, so the refresh is batch-sized). */
  def writeReplyIndex(posts: DataFrame, dir: String, n: Int): Unit =
    // full rebuild under the shared marker-before-data protocol
    // ([[rebuildWithMarker]]); dynamic-mode write so the fresh marker
    // survives the overwrite
    rebuildWithMarker(posts.sparkSession, dir, "reply_buckets", n) {
      writeReplyIndexRows(replyIndexRows(posts, n), dir)
    }

  /** The index's row projection — shared by the full rebuild above
    * and the incremental per-batch refresh
    * ([[graft.streaming.StreamIngest.refreshReplyIndex]]) so the two
    * forms cannot drift. */
  def replyIndexRows(posts: DataFrame, n: Int): DataFrame =
    posts
      .filter(col("parent_author") =!= "" &&
        col("parent_author").isNotNull)
      .select(col("parent_author"), col("parent_permlink"),
        col("author"), col("permlink"), col("created_at"))
      .withColumn("reply_bucket",
        keyBucket(col("parent_author"), col("parent_permlink"), n))

  /** An EMPTY frame with the reply index's exact row schema, routed
    * THROUGH [[replyIndexRows]] (the one projection) so a column or
    * type change there breaks this loudly at analysis time instead
    * of letting a hand-copied schema drift (it feeds the
    * no-index-leaves short-circuit of the leaf-enumerated children
    * probe). */
  def emptyReplyIndexRows(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val posts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("parent_author", StringType),
        StructField("parent_permlink", StringType),
        StructField("author", StringType),
        StructField("permlink", StringType),
        StructField("created_at", TimestampType))))
    replyIndexRows(posts, 1)
  }

  /** Shared physical write: bucket-partitioned, parent-key sorted,
    * dynamic overwrite (replaces only the buckets present in `rows` —
    * everything for a rebuild, the touched set for a refresh — and
    * never deletes the layout marker). */
  def writeReplyIndexRows(rows: DataFrame, dir: String): Unit =
    rows
      .repartition(col("reply_bucket"))
      .sortWithinPartitions("parent_author", "parent_permlink",
        "created_at")
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("reply_bucket")
      .parquet(dir)

  /** The crash-window-sensitive REBUILD protocol, shared by every
    * bucketed layout (reply index, dedup band/sets side tables):
    * clear any previous generation, write the modulus marker BEFORE
    * data (data without its modulus wedges every strict consumer; a
    * marker-only dir reads as a crashed create), then run the
    * caller's dynamic-mode write (which never deletes the marker).
    * One definition so a protocol fix cannot diverge per layout. */
  def rebuildWithMarker(spark: SparkSession, dir: String,
                        markerKey: String, n: Int)
                       (write: => Unit): Unit = {
    val table = new org.apache.hadoop.fs.Path(dir)
    val fs = table.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(table, true)
    writeLayoutMarker(fs, table, markerKey, n)
    write
  }

  /** A bucketed table's modulus from its layout marker. None = no
    * marker (consumers scan, not prune); a present but corrupt marker
    * throws with its path, because serving around it would silently
    * drop the index it describes. */
  def markedBuckets(spark: SparkSession, dir: String,
                    markerKey: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    layoutMarker(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p, markerKey, strict = true)
  }

  /** Does the table dir hold DATA (any non-underscore/dot entry)? A
    * dir holding only a layout marker is a crashed create. */
  def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                   table: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(table) && fs.listStatus(table).exists { st =>
      val nm = st.getPath.getName
      !nm.startsWith("_") && !nm.startsWith(".")
    }

  /** The reply index's bucket modulus from its layout marker (None =
    * no marker → treat the table as un-indexed; corrupt → throws). */
  def replyIndexBuckets(spark: SparkSession, dir: String)
      : Option[Int] =
    markedBuckets(spark, dir, "reply_buckets")

  /** ONE bucketed graft layout as a value — the single home of the
    * (bucketCol, markerKey) pairing that the reply index, the dedup
    * band table, the dedup sets table and the posts store each
    * instantiate. Every primitive delegates to the shared
    * implementations ([[layoutMarker]], [[readBucketLeavesStrict]]),
    * so the instances cannot re-spell the pairing or drift on marker
    * file names, and ONE spec (LifecycleSpec) exercises the marker
    * and read protocol against every layout by construction. */
  final case class BucketedTable(dir: String, bucketCol: String,
                                 markerKey: String) {
    private def fsPath(spark: SparkSession) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    def modulus(spark: SparkSession, strict: Boolean = false)
        : Option[Int] = {
      val (fs, p) = fsPath(spark)
      layoutMarker(fs, p, markerKey, strict)
    }
    /** Marker only when absent — the incremental-create rule (a
      * truncating re-write every batch would open a recurring
      * zero-byte-marker crash window; strict: present-but-corrupt
      * refuses rather than silently re-arming). */
    def ensureMarker(spark: SparkSession, n: Int): Unit =
      if (modulus(spark, strict = true).isEmpty) {
        val (fs, p) = fsPath(spark)
        fs.mkdirs(p)
        writeLayoutMarker(fs, p, markerKey, n)
      }
    /** Leaf-enumerated read of `values`' buckets — STRICT
      * ([[readBucketLeavesStrict]]): this facade is only ever built
      * for marked layouts, where data without bucket dirs is a
      * marker/layout mismatch that must refuse, not serve an empty
      * corpus. */
    def readBuckets(spark: SparkSession, values: Seq[Int])
        : Option[DataFrame] =
      readBucketLeavesStrict(spark, dir, bucketCol, values)
  }

  /** The three streaming-maintained instances + the store's marker
    * pairing — the one place the (bucketCol, markerKey) names live. */
  def replyIndexTable(dir: String): BucketedTable =
    BucketedTable(dir, "reply_bucket", "reply_buckets")
  def bandSideTable(dir: String): BucketedTable =
    BucketedTable(dir, "band_bucket", "band_buckets")
  def setsSideTable(dir: String): BucketedTable =
    BucketedTable(dir, "id_bucket", "sets_buckets")
  def postsStoreTable(dir: String): BucketedTable =
    BucketedTable(dir, "key_bucket", "key_buckets")

  private val EmptyIndexMarkerFile = "_graft_empty_index"

  /** A reply-index bootstrap that completed with ZERO rows (the store
    * had no replies yet) leaves a marker-only dir, on-disk identical
    * to a crashed create. This sentinel — written only AFTER such a
    * bootstrap finishes — records the successful empty generation, so
    * later micro-batches take the incremental path instead of
    * re-running the full-store bootstrap every trigger. Underscore
    * prefix keeps it invisible to [[hasDataFiles]] and parquet
    * readers; a full [[writeReplyIndex]] rebuild clears it with the
    * rest of the dir. */
  def hasEmptyIndexMarker(fs: org.apache.hadoop.fs.FileSystem,
                          table: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(table, EmptyIndexMarkerFile))

  def writeEmptyIndexMarker(fs: org.apache.hadoop.fs.FileSystem,
                            table: org.apache.hadoop.fs.Path): Unit =
    fs.create(new org.apache.hadoop.fs.Path(table, EmptyIndexMarkerFile),
      true).close()

  private val LayoutMarkerFile = "_graft_layout.json"

  /** Read `"<key>": n` from `<table>/_graft_layout.json` — the ONE
    * marker reader every layout shares (reply indexes carry
    * `reply_buckets`, dedup side tables `band_buckets`/`sets_buckets`;
    * the posts store's marker is read by [[postsKeyBuckets]]). None =
    * no marker. `strict` = a PRESENT but unparseable marker throws
    * instead of answering None: a write must refuse rather than prune
    * with a guessed modulus (that silently splits keys), and a reader
    * must not silently drop the index ([[markedBuckets]]). */
  def layoutMarker(fs: org.apache.hadoop.fs.FileSystem,
                   table: org.apache.hadoop.fs.Path, key: String,
                   strict: Boolean = false): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(table, LayoutMarkerFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val n = ("\"" + key + "\"\\s*:\\s*(\\d+)").r
        .findFirstMatchIn(s).map(_.group(1).toInt)
      if (n.isEmpty && strict) throw new IllegalStateException(
        s"corrupt layout marker at $p: $s")
      n
    }
  }

  /** The marker file's RAW contents (None = absent) — for guards that
    * must refuse on ANY marker, ours or foreign, with the found
    * contents in the diagnosis instead of a key-specific parse error
    * (the near-dup stream's pairs-table guard, the posts marker). */
  def layoutMarkerRaw(fs: org.apache.hadoop.fs.FileSystem,
                      table: org.apache.hadoop.fs.Path)
      : Option[String] = {
    val p = new org.apache.hadoop.fs.Path(table, LayoutMarkerFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  def writeLayoutMarker(fs: org.apache.hadoop.fs.FileSystem,
                        table: org.apache.hadoop.fs.Path, key: String,
                        n: Int): Unit =
    writeMarker(fs, table, s"""{"$key": $n}""")

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
                          table: org.apache.hadoop.fs.Path,
                          body: String): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(table, LayoutMarkerFile), true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The hash key the posts store's `key_bucket` is computed from
    * ([[authorBucket]]), recorded in its marker as `"key_hash"`. */
  val PostsKeyHash = "author"

  /** The posts store's marker: `{"key_buckets": n, "key_hash":
    * "author"}`. */
  def writePostsMarker(fs: org.apache.hadoop.fs.FileSystem,
                       table: org.apache.hadoop.fs.Path, n: Int): Unit =
    writeMarker(fs, table,
      s"""{"key_buckets": $n, "key_hash": "$PostsKeyHash"}""")

  /** The posts store's bucket modulus from its marker. None = no
    * marker. A corrupt marker throws, and so does a marker without
    * `"key_hash": "author"`: that table was bucketed by
    * `(author, permlink)` ([[keyBucket]]), and pruning it by
    * [[authorBucket]] would silently drop rows. Both errors name the
    * marker's path. */
  def postsKeyBuckets(fs: org.apache.hadoop.fs.FileSystem,
                      table: org.apache.hadoop.fs.Path): Option[Int] =
    layoutMarkerRaw(fs, table).map { raw =>
      val marker = new org.apache.hadoop.fs.Path(table, LayoutMarkerFile)
      val n = """"key_buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(raw)
        .getOrElse(throw new IllegalStateException(
          s"corrupt layout marker at $marker: $raw")).group(1).toInt
      if ((""""key_hash"\s*:\s*"""" + PostsKeyHash + "\"").r
          .findFirstIn(raw).isEmpty)
        throw new IllegalStateException(
          s"posts table at $table was bucketed by (author, permlink): " +
            s"its marker $marker reads $raw, without " +
            s""""key_hash": "$PostsKeyHash". The store now buckets """ +
            "posts by author; rebuild the table with " +
            "StreamIngest.mergeBlocksBatch into an empty dir")
      n
    }

  /** [[postsKeyBuckets]] of the table at `dir`. */
  def postsKeyBuckets(spark: SparkSession, dir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    postsKeyBuckets(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p)
  }

  // ── Leaf-pruned reads: the layout IS the manifest ─────────────────
  //
  // A fresh `spark.read.parquet(dir)` builds its file index by
  // listing EVERY partition directory — at a production modulus
  // (n=4096 × months) that driver listing dwarfs a point probe's
  // task time (measured: 1.5 s of task under a 43 s wall,
  // BENCH_NOTES r9 modulus sweep #4). But a bucketed graft layout
  // needs no stored manifest to avoid that: bucket value → directory
  // is computable, so a probe that knows its K bucket values can
  // enumerate exactly those leaf dirs — 1 root listing (+ one per
  // month for the two-level store) instead of n×months — and hand
  // Spark only the leaves it will read. No staleness window exists
  // by construction: the listing that prices the read IS the read's
  // file source (unlike a manifest file, which can lag a crashed
  // refresh and silently drop a bucket).

  /** The leaf directories holding `bucketCol ∈ values`, enumerated
    * without listing any other partition. Handles both layout
    * shapes: one-level `bucketCol=V` at the root (reply index, dedup
    * side tables) and two-level `parent=…/bucketCol=V` (the posts
    * store's `created_month/key_bucket`) — shape is detected from
    * the single root listing. Missing buckets simply don't appear
    * (hash buckets with no rows are never written). Returns
    * (matching leaf dirs, whether ANY `bucketCol=` dir exists at
    * either level, first UNBUCKETED data location or None). The second element distinguishes "the
    * requested buckets hold no rows" (normal: empty hash buckets are
    * never written) from "the table's data is not bucketed by
    * `bucketCol` at all"; the third catches the PARTIAL mix the
    * all-or-nothing signal can't — some parents bucketed, one parent
    * (or the root itself) holding raw data outside any `bucketCol=`
    * dir, e.g. a partially migrated legacy store — whose rows an
    * enumerated read would silently omit. Both are marker/layout
    * mismatches that make enumeration lossy; [[readBucketLeavesStrict]]
    * refuses on either. */
  private def bucketLeafScan(spark: SparkSession, dir: String,
                             bucketCol: String, values: Seq[Int])
      : (Seq[String], Boolean, Option[String]) = {
    // no requested buckets ⇒ no read and no corruption question —
    // skip the listing entirely (vacuously "bucketed")
    if (values.isEmpty) return (Nil, true, None)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (Nil, false, None)
    val wanted = values.map(v => s"$bucketCol=$v").toSet
    val all = fs.listStatus(root).filterNot { st =>
      val nm = st.getPath.getName
      nm.startsWith(".") || nm.startsWith("_")
    }
    // data FILES directly at the root sit outside every bucket dir in
    // either shape — lossy alongside any bucket dir
    val rootFile = all.find(!_.isDirectory).map(_.getPath.toString)
    val top = all.filter(_.isDirectory)
    val oneLevel = top.exists(_.getPath.getName.startsWith(bucketCol + "="))
    if (oneLevel) {
      // a non-bucketCol sibling DIR next to the bucket dirs (a
      // different partition column, a raw subdir) is unbucketed data
      // at this level too
      val strayDir = top.find(
        !_.getPath.getName.startsWith(bucketCol + "="))
        .map(_.getPath.toString)
      (top.filter(st => wanted(st.getPath.getName))
        .map(_.getPath.toString).toSeq, true, rootFile.orElse(strayDir))
    } else {
      var sawBucketDir = false
      var stray: Option[String] = rootFile
      val dirs = top.toSeq.flatMap { parent =>
        val children = fs.listStatus(parent.getPath).filterNot { c =>
          val nm = c.getPath.getName
          nm.startsWith(".") || nm.startsWith("_")
        }
        if (children.exists(c => c.isDirectory &&
            c.getPath.getName.startsWith(bucketCol + "=")))
          sawBucketDir = true
        // any child that is NOT a bucketCol= dir — a raw data file,
        // or a subdir partitioned by something else — is data outside
        // every enumerable leaf, whether or not this parent also has
        // bucketed children
        if (stray.isEmpty)
          stray = children.find(c => !(c.isDirectory &&
              c.getPath.getName.startsWith(bucketCol + "=")))
            .map(_.getPath.toString)
        children.filter(c => c.isDirectory &&
          wanted(c.getPath.getName)).map(_.getPath.toString)
      }
      (dirs, sawBucketDir, stray)
    }
  }

  /** Bucket-pruned parquet read of a table KNOWN to be bucketed (a
    * marked layout) via [[bucketLeafScan]]: Spark's file index is
    * built over ONLY the requested leaves (`basePath` keeps the
    * partition columns) — semantics-preserving exactly when the
    * caller's predicate implies `bucketCol ∈ values`. FAILS LOUD
    * when the table holds data outside the `bucketCol=` partition
    * tree — either NO bucket dir
    * exists anywhere (all-or-nothing mismatch) or SOME data sits
    * outside the bucket dirs (partial mix: a parent with raw files
    * and no `bucketCol=` children, a stray file at the root — e.g. a
    * partially migrated legacy store). Enumerating either would
    * silently serve an empty/partial view of rows that exist (lost
    * corpus rows, no error: the exact silent-lossiness the modulus
    * handshake exists to prevent). None still means "the requested
    * buckets hold no rows" — normal, callers short-circuit with their
    * empty frame. */
  def readBucketLeavesStrict(spark: SparkSession, dir: String,
                             bucketCol: String, values: Seq[Int])
      : Option[DataFrame] = {
    val (dirs, sawBucketDirs, stray) = bucketLeafScan(spark, dir,
      bucketCol, values)
    stray.foreach { s =>
      throw new IllegalStateException(
        s"$dir holds data outside the $bucketCol= partition tree " +
          s"(e.g. $s) — an enumerated read would silently omit those " +
          "rows; the layout does not match its marker, rebuild the " +
          "table")
    }
    if (dirs.nonEmpty)
      Some(spark.read.option("basePath", dir).parquet(dirs: _*))
    else {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!sawBucketDirs && hasDataFiles(fs, root))
        throw new IllegalStateException(
          s"$dir holds data but no $bucketCol= partition dirs — the " +
            "layout does not match its marker; rebuild the table")
      None
    }
  }

  /** Write an entity table with the feed-serving layout
    * (month-partitioned, no key buckets, no layout marker). The
    * stream merge does not accept such a table: build a mergeable
    * posts table with `StreamIngest.mergeBlocksBatch` instead. */
  def writePosts(posts: DataFrame, dir: String): Unit =
    posts
      .withColumn("created_month", monthBucket(col("created_at")))
      .repartition(col("created_month"))
      .sortWithinPartitions("author", "permlink")
      .write
      .partitionBy("created_month")
      .mode("overwrite")
      .parquet(dir)

  /** Read back; time predicates on created_at/created_month prune
    * partitions at the source. */
  def readPosts(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Time-window read with EXPLICIT month-partition pruning: Catalyst
    * does not infer `created_month ∈ [...]` from a `created_at`
    * range, so the window query must carry both predicates — the
    * month list goes into PartitionFilters (source-level pruning, the
    * point of the layout), the timestamp range into PushedFilters.
    * A q04-style 3-day window therefore reads ≤ 2 month partitions
    * regardless of table size. */
  def monthWindow(posts: DataFrame, from: java.sql.Timestamp,
                  to: java.sql.Timestamp): DataFrame = {
    require(!to.before(from), "monthWindow: to < from")
    // derive months in UTC — created_month was written under the
    // engine's session timezone (UTC, Tables.conf); using the JVM
    // default zone here would prune the WRONG partitions on a
    // non-UTC driver and silently drop rows
    def ym(ts: java.sql.Timestamp) = java.time.YearMonth.from(
      ts.toInstant.atZone(java.time.ZoneOffset.UTC))
    val f = ym(from)
    val t = ym(to)
    val months = Iterator.iterate(f)(_.plusMonths(1))
      .takeWhile(!_.isAfter(t)).map(_.toString).toSeq
    posts.filter(col("created_month").isin(months: _*) &&
      col("created_at") >= lit(from) && col("created_at") <= lit(to))
  }

  /** Skew-aware join (SURVEY §4.2 "AQE skew handling" + manual path):
    * salt the skewed (left) side into `buckets` sub-keys and explode
    * the build (right) side once per bucket, so one hot key spreads
    * over `buckets` tasks. Use when AQE's skew split can't help (e.g.
    * a single massive build-side key). Equi-join on `keys` only.
    */
  def saltedJoin(skewed: DataFrame, build: DataFrame,
                 keys: Seq[String], buckets: Int,
                 joinType: String = "inner"): DataFrame = {
    // join types preserving unmatched BUILD rows would emit them once
    // per salt replica — only skewed-side-preserving types are sound
    require(Set("inner", "left", "left_outer", "left_semi", "left_anti",
      "cross").contains(joinType.toLowerCase),
      s"saltedJoin: unsupported joinType '$joinType' (build side is " +
        "replicated per salt bucket)")
    val salted = skewed.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(buckets)).cast("int"))
    val exploded = build.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    salted.join(exploded, keys :+ "__salt", joinType).drop("__salt")
  }

  /** [[saltedJoin]] variant for differently-named key columns and a
    * DETERMINISTIC salt: `pmod(xxhash64(saltSource), salts)` over a
    * caller-provided unique column, so replays/retries route each
    * fact row identically regardless of partition layout (the
    * [[saltedJoin]] salt is layout-dependent — harmless for routing,
    * but an oracle-compared query wants layout independence
    * end-to-end; catalog q24 proves output ≡ the plain inner join).
    * The dimension side is exploded ×`salts` — sized for dimension
    * tables; for fact-fact skew, salt only the known hot keys and
    * union with an unsalted join of the rest. */
  def saltedEquiJoin(facts: DataFrame, dim: DataFrame,
                     factKey: Column, dimKey: Column,
                     saltSource: Column, salts: Int): DataFrame = {
    require(salts >= 1, "salts >= 1")
    val salted = facts.withColumn("__fsalt",
      pmod(xxhash64(saltSource), lit(salts.toLong)).cast("int"))
    val dimX = dim.withColumn("__dsalt",
      explode(array((0 until salts).map(lit): _*)))
    salted
      .join(dimX, factKey === dimKey && col("__fsalt") === col("__dsalt"))
      .drop("__fsalt", "__dsalt")
  }

  // ── Z-order layout ────────────────────────────────────────────────
  //
  // One sort key can only cluster one dimension; a Z-order (Morton)
  // curve clusters TWO at once, so range filters on EITHER dimension
  // prune ~√(selectivity) of the layout instead of pruning on one
  // dimension and scanning the other. This is the multi-dimensional
  // layout trick behind Delta/Iceberg OPTIMIZE ZORDER, expressed with
  // nothing but a codegen bit-interleave expression + partitionBy.

  /** Morton z-value of two `bits`-bit non-negative coordinates:
    * bit i of x → bit 2i, bit i of y → bit 2i+1. Callers quantize
    * raw values into the 0..2^bits-1 grid first. Unrolled bitwise
    * expression — whole-stage codegen, no UDF. */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "zValue: 1 <= bits <= 31")
    val terms = (0 until bits).flatMap { i =>
      Seq(
        call_function("shiftleft",
          call_function("shiftright", x.cast("long"), lit(i))
            .bitwiseAND(1L), lit(2 * i)),
        call_function("shiftleft",
          call_function("shiftright", y.cast("long"), lit(i))
            .bitwiseAND(1L), lit(2 * i + 1)))
    }
    terms.reduce(_ bitwiseOR _)
  }

  /** Coarse z-cell: the z-value of the TOP `p` bits of each
    * coordinate — a 2^(2p)-cell grid usable as a partition column
    * (the z-prefix property: a cell is exactly a contiguous z-value
    * range). */
  def zCell(x: Column, y: Column, bits: Int, p: Int): Column = {
    require(p >= 1 && p <= bits, "zCell: 1 <= p <= bits")
    zValue(call_function("shiftright", x.cast("long"), lit(bits - p)),
      call_function("shiftright", y.cast("long"), lit(bits - p)), p)
  }

  /** Driver-side twin of [[zValue]] for cell enumeration. */
  def zValueLocal(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  /** The z-cells intersecting the query box [x1,x2]×[y1,y2] (grid
    * coords, inclusive) — the pruning list for a filter on either or
    * both dimensions. Enumeration is over the ≤2^(2p) COARSE cells
    * (p is chosen small: 3-6 ⇒ 64-4096 cells), a driver-trivial
    * bound independent of data size; this is the plain-enumeration
    * form of the BIGMIN z-range decomposition. */
  def zCellsFor(x1: Long, x2: Long, y1: Long, y2: Long,
                bits: Int, p: Int): Seq[Long] = {
    val shift = bits - p
    for {
      cx <- (x1 >> shift) to (x2 >> shift)
      cy <- (y1 >> shift) to (y2 >> shift)
    } yield zValueLocal(cx, cy, p)
  }

  /** Write `df` z-ordered on (`xCol`, `yCol`): partitioned by the
    * coarse `z_cell`, rows sorted by the fine z-value within each
    * partition (parquet min/max row-group stats then cluster both
    * dimensions inside files too). Read back with a
    * `z_cell isin zCellsFor(...)` filter for partition pruning —
    * metric-proven in LayoutSpec. */
  def writeZOrdered(df: DataFrame, dir: String, xCol: Column,
                    yCol: Column, bits: Int, p: Int): Unit =
    df.withColumn("z_cell", zCell(xCol, yCol, bits, p))
      .withColumn("__z", zValue(xCol, yCol, bits))
      .repartition(col("z_cell"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").partitionBy("z_cell").parquet(dir)

  // ── Small-file compaction ─────────────────────────────────────────

  /** Bin-pack a parquet table's files toward `targetBytes` per file —
    * the maintenance op that keeps a streaming-merged table healthy
    * (each micro-batch overwrite leaves per-trigger files; thousands
    * of tiny files turn every scan's file listing + task scheduling
    * into the bottleneck long before bytes do).
    *
    * Works per LEAF DIRECTORY (= per partition for a partitioned
    * table, the root for an unpartitioned one): a dir whose file
    * count exceeds `ceil(dirBytes / targetBytes)` is re-read,
    * coalesced to exactly that count, staged under a DOT-PREFIXED
    * sibling (partition discovery and parquet reads ignore `.`/`_`
    * dirs, so in-flight staging is invisible to readers) and swapped
    * in by two renames. Partition values live in the dir path and
    * are preserved untouched; content is the same rows
    * (spec-asserted by fingerprint). Dirs already at or under their
    * target are left alone (no write amplification on healthy
    * partitions).
    *
    * Concurrency contract — SINGLE-WRITER MAINTENANCE op: the swap
    * window is two renames, and between them the partition dir is
    * briefly absent, so a reader racing the swap can miss that
    * partition. Run it when the table has no concurrent readers (or
    * behind a table lock); true snapshot-atomic compaction requires a
    * manifest table format (Delta/Iceberg OPTIMIZE), which is the
    * stated production path for this layout, not raw dir swaps. A
    * crash between the renames leaves the data safe in the dot-dir;
    * the next [[compact]] run restores it before doing new work.
    *
    * The driver loop is over partition dirs — bounded by the layout,
    * not the data; at real scale the dirs compact independently,
    * exactly like Delta OPTIMIZE's per-partition bin-packing.
    * Returns (files before, files after). */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery FIRST: a `.X__old` left by a crashed swap is the
    // authoritative copy iff `X` is missing — restore it; stale
    // `.X__compact` staging is simply discarded. The root's own
    // staging dirs live in its PARENT (the unpartitioned case).
    val rootOld = new org.apache.hadoop.fs.Path(
      root.getParent, "." + root.getName + "__old")
    if (!fs.exists(root) && fs.exists(rootOld)) fs.rename(rootOld, root)
    else if (fs.exists(rootOld)) fs.delete(rootOld, true)
    val rootTmp = new org.apache.hadoop.fs.Path(
      root.getParent, "." + root.getName + "__compact")
    if (fs.exists(rootTmp)) fs.delete(rootTmp, true)
    // recovery must RECURSE: in a multi-level layout (e.g. the
    // streaming table's created_month=/key_bucket=) a crashed swap
    // leaves `.key_bucket=B__old` INSIDE a month dir — a root-only
    // scan would never restore it (the partition's rows stay
    // invisible forever), and the recursive listFiles below would
    // treat the orphaned staging dirs as compactable data
    def recover(dir: org.apache.hadoop.fs.Path): Unit = {
      val it = fs.listStatusIterator(dir)
      while (it.hasNext) {
        val st = it.next()
        val nm = st.getPath.getName
        if (st.isDirectory) {
          if (nm.startsWith(".") && nm.endsWith("__old")) {
            val orig = new org.apache.hadoop.fs.Path(dir,
              nm.stripPrefix(".").stripSuffix("__old"))
            if (!fs.exists(orig)) fs.rename(st.getPath, orig)
            else fs.delete(st.getPath, true)
          } else if (nm.startsWith(".") && nm.endsWith("__compact")) {
            fs.delete(st.getPath, true)
          } else if (!nm.startsWith(".") && !nm.startsWith("_")) {
            recover(st.getPath)
          }
        }
      }
    }
    recover(root)
    val it = fs.listFiles(root, true)
    val byDir = scala.collection.mutable.Map
      .empty[org.apache.hadoop.fs.Path, (Long, Long)] // files, bytes
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val d = f.getPath.getParent
        val (n, b) = byDir.getOrElse(d, (0L, 0L))
        byDir(d) = (n + 1, b + f.getLen)
      }
    }
    val before = byDir.values.map(_._1).sum
    var after = 0L
    byDir.toSeq.sortBy(_._1.toString).foreach { case (d, (n, bytes)) =>
      val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
      if (n <= target) after += n
      else {
        val tmp = new org.apache.hadoop.fs.Path(
          d.getParent, "." + d.getName + "__compact")
        spark.read.parquet(d.toString)
          .coalesce(target.toInt)
          .write.mode("overwrite").parquet(tmp.toString)
        val bak = new org.apache.hadoop.fs.Path(
          d.getParent, "." + d.getName + "__old")
        if (!fs.rename(d, bak))
          throw new IllegalStateException(s"compact: cannot move $d")
        if (!fs.rename(tmp, d)) {
          fs.rename(bak, d) // roll back
          throw new IllegalStateException(s"compact: cannot swap $tmp")
        }
        fs.delete(bak, true)
        val it2 = fs.listFiles(d, false)
        var cnt = 0L
        while (it2.hasNext) {
          if (it2.next().getPath.getName.endsWith(".parquet")) cnt += 1
        }
        after += cnt
      }
    }
    (before, after)
  }
}
