package graft.state

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Generation lifecycle for batch-appended bucketed layouts — the
  * compaction half of owning your own storage layouts (the reference
  * delegates this to MongoDB's own compaction; an engine that writes
  * raw `bucket=…/batch_id=…` parquet must age those leaves itself).
  *
  * The streaming near-dup side tables
  * ([[graft.streaming.StreamNearDedup.probeAndAppend]]) append one
  * small `batch_id=N` leaf per touched bucket per trigger; replay
  * idempotence is "delete my own `batch_id=N` leaves, rewrite them".
  * Unbounded triggers therefore mean unbounded leaf files — the
  * listing/scheduling tax grows forever. This object folds every leaf
  * OLDER than the replay horizon into a single per-bucket BASE
  * generation at `batch_id = -1`:
  *
  *   - foreachBatch replays only the batch whose checkpoint commit is
  *     missing, i.e. only ids ≥ the current batch id can ever be
  *     re-delivered — so `horizon = <current batch id>` (or the last
  *     committed id) is safe: folded leaves are exactly the ones no
  *     replay will ever target;
  *   - the replay-clear contract (delete every bucket's
  *     `batch_id=N` leaf, N ≥ 0) and
  *     the probe's self-exclusion (`batch_id =!= N`) are both
  *     untouched by a base at −1, so pair history is bit-identical
  *     before and after a fold (spec-pinned);
  *   - folding a leaf the source could still re-deliver WOULD break
  *     idempotence (the replay-clear would miss the folded copy) —
  *     that is the one contract the caller owes this method.
  *
  * Crash safety — staged write + commit record:
  *   1. all foldable leaves (plus each affected bucket's existing
  *      base) are re-read and rewritten, one file per bucket, into a
  *      dot-prefixed staging dir (invisible to readers: parquet and
  *      [[Layout.hasDataFiles]] both skip `.`/`_` entries);
  *   2. a `_commit.json` naming the folded leaves is written into the
  *      staging dir — THE commit point;
  *   3. per bucket: swap the staged base in (delete old base, rename),
  *      then delete that bucket's folded leaves.
  * A crash before (2) discards staging on the next [[recover]] — the
  * table never changed. A crash after (2) replays step (3), which is
  * idempotent: a staged dir still present means its target is the OLD
  * base (safe to delete); absent means the swap already happened.
  * Between a bucket's swap and its leaf deletes a reader sees that
  * bucket's folded rows twice — this is a SINGLE-WRITER maintenance
  * op, same contract as [[Layout.compact]]: run it from the stream's
  * own foreachBatch loop (between probes) or with the stream stopped,
  * and call [[recover]] before reading a table whose folder may have
  * crashed ([[graft.streaming.StreamNearDedup.probeAndAppend]] does).
  *
  * Works on the two-level `bucket=X/batch_id=N` shape (the band and
  * sets side tables); a table with `batch_id=N` leaves at its root
  * is refused (folding it would rewrite the whole table through one
  * task).
  */
object Generations {

  /** The base generation's batch id — a value foreachBatch can never
    * assign (Spark batch ids start at 0), so replay-clear globs and
    * the probe's self-exclusion can never touch a folded base. */
  val BaseBatchId: Long = -1L

  private val StagingDirName = ".graft_fold"
  private val CommitFileName = "_commit.json"

  /** What a fold did: leaves folded away, their file count/bytes, and
    * the file count of the bases that replaced them (the before/after
    * of the listing tax the fold exists to bound). */
  case class FoldStats(foldedLeaves: Int, foldedFiles: Long,
                       foldedBytes: Long, baseFilesAfter: Long)

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Batch-id leaves of the table: `(parentDirRelativeToRoot, id)` —
    * parent is "" for a leaf at the root (the refused one-level
    * shape). Staging/marker entries (`.`/`_`) are skipped at both
    * levels. */
  private def batchLeaves(fs: FileSystem, root: Path)
      : Seq[(String, Long)] = {
    if (!fs.exists(root)) return Nil
    def idOf(name: String): Option[Long] =
      if (name.startsWith("batch_id="))
        scala.util.Try(name.stripPrefix("batch_id=").toLong).toOption
      else None
    fs.listStatus(root).toSeq.flatMap { st =>
      val nm = st.getPath.getName
      if (!st.isDirectory || nm.startsWith(".") || nm.startsWith("_"))
        Nil
      else idOf(nm) match {
        case Some(id) => Seq("" -> id)
        case None =>
          fs.listStatus(st.getPath).toSeq.flatMap { c =>
            if (c.isDirectory) idOf(c.getPath.getName).map(nm -> _)
            else None
          }
      }
    }
  }

  private def leafPath(root: Path, parent: String, id: Long): Path =
    new Path(new Path(root, parent), s"batch_id=$id")

  /** Complete (or discard) a crashed fold. Cheap when clean: one
    * existence probe. MUST run before trusting a table whose folder
    * may have died mid-commit — a committed-but-unfinished fold
    * leaves some buckets' rows present in both the new base and the
    * old leaves until step (3) finishes. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val staging = new Path(root, StagingDirName)
    if (!fs.exists(staging)) return
    val commit = new Path(staging, CommitFileName)
    if (!fs.exists(commit)) { fs.delete(staging, true); return }
    val in = fs.open(commit)
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    completeFold(fs, root, staging, parseCommit(txt))
  }

  /** Fold every `batch_id=N` leaf with `0 <= N < horizon` into the
    * per-bucket `batch_id=-1` base generation. `horizon` must be ≤
    * the smallest batch id the stream's source could still
    * re-deliver (for foreachBatch: the current batch id). Returns
    * what was folded; a no-op (nothing old enough) folds nothing and
    * runs no Spark job.
    *
    * `batch_id` is the LAYOUT column: folded rows read back with
    * `batch_id = -1`. For the near-dup side tables that is invisible
    * (the probe only ever compares batch_id against the CURRENT
    * batch, which is ≥ horizon by contract). */
  def foldBatches(spark: SparkSession, dir: String, horizon: Long)
      : FoldStats = {
    recover(spark, dir)
    val (fs, root) = fsOf(spark, dir)
    val leaves = batchLeaves(fs, root)
    val foldable = leaves.filter { case (_, id) =>
      id >= 0 && id < horizon }
    if (foldable.isEmpty) return FoldStats(0, 0L, 0L, 0L)
    require(leaves.forall(_._1.nonEmpty),
      s"$dir has batch_id leaves at its root: only the bucketed " +
        "bucket=…/batch_id=… shape folds")
    val parents = foldable.map(_._1).distinct.sorted
    // merge each affected bucket's EXISTING base into the new one;
    // untouched buckets (base-only, or leaves all ≥ horizon) are
    // never read or rewritten
    val bases = leaves.filter { case (p, id) =>
      id == BaseBatchId && parents.contains(p) }
    val readPaths = (foldable ++ bases).map { case (p, id) =>
      leafPath(root, p, id).toString }
    val (foldedFiles, foldedBytes) = {
      // serial driver loop, O(foldable leaves) listing RPCs — bounded
      // by the very leaf count the fold is about to rewrite (the fold
      // itself reads every one of these dirs), so the accounting can
      // never dominate the fold it prices; runs at maintenance
      // cadence, not per trigger
      var n = 0L; var b = 0L
      foldable.foreach { case (p, id) =>
        fs.listStatus(leafPath(root, p, id)).foreach { st =>
          if (st.getPath.getName.endsWith(".parquet")) {
            n += 1; b += st.getLen
          }
        }
      }
      (n, b)
    }
    val bucketCol = parents.head.takeWhile(_ != '=')
    val staging = new Path(root, StagingDirName)
    fs.delete(staging, true)
    val dataDir = new Path(staging, "data")
    // basePath-anchored read re-infers the partition columns from the
    // leaf paths; the rewrite drops batch_id (the base carries it in
    // its own dir name) and lands one file per bucket
    spark.read.option("basePath", root.toString)
      .parquet(readPaths: _*).drop("batch_id")
      .repartition(col(bucketCol))
      .write.partitionBy(bucketCol).parquet(dataDir.toString)
    // THE commit point: fold visible to recovery only from here on.
    // Written to a dot-temp name and RENAMED into place — a crash
    // mid-write must leave either no commit record (recovery
    // discards staging) or a complete one (recovery replays); a
    // truncated record would wedge recover() forever
    val commitTmp = new Path(staging, "." + CommitFileName + ".tmp")
    val out = fs.create(commitTmp, true)
    try out.write(renderCommit(parents, foldable)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(commitTmp, new Path(staging, CommitFileName)))
      throw new IllegalStateException(
        s"fold: cannot commit record in $staging")
    completeFold(fs, root, staging,
      Commit(parents, foldable.map { case (p, id) => s"$p|$id" }))
    val baseFiles = parents.map { p =>
      val b = leafPath(root, p, BaseBatchId)
      if (!fs.exists(b)) 0L
      else fs.listStatus(b)
        .count(_.getPath.getName.endsWith(".parquet")).toLong
    }.sum
    FoldStats(foldable.size, foldedFiles, foldedBytes, baseFiles)
  }

  /** Mean `batch_id=` leaves per bucket dir, SAMPLED over the first
    * `sample` bucket dirs (name-sorted, so the estimate is
    * deterministic) — the aging-health metric behind the AUTO fold
    * cadence ([[graft.streaming.StreamNearDedup.maybeAutoFold]]).
    * Hash bucketing spreads every trigger's rows ~uniformly, so
    * leaves accumulate at the same rate in every bucket and a small
    * sample estimates the table-wide mean; cost is 1 + min(sample,
    * buckets) listing RPCs — safe to pay EVERY trigger, unlike the
    * full [[foldBatches]] enumeration (O(buckets)) which runs only
    * when the decision fires. The base generation counts as one leaf
    * (it is one listed dir like any other). 0.0 for a missing table
    * or a layout with no bucket dirs (`batch_id=` leaves at the root
    * have no bucket denominator, and [[foldBatches]] refuses that
    * shape). */
  def sampleLeavesPerBucket(spark: SparkSession, dir: String,
                            sample: Int = 16): Double = {
    require(sample >= 1, "sample >= 1")
    val (fs, root) = fsOf(spark, dir)
    if (!fs.exists(root)) return 0.0
    val buckets = fs.listStatus(root).iterator.filter { st =>
      val nm = st.getPath.getName
      st.isDirectory && !nm.startsWith(".") && !nm.startsWith("_") &&
        nm.contains('=') && !nm.startsWith("batch_id=")
    }.map(_.getPath).toSeq.sortBy(_.getName).take(sample)
    if (buckets.isEmpty) return 0.0
    val leaves = buckets.map { b =>
      fs.listStatus(b).count(c => c.isDirectory &&
        c.getPath.getName.startsWith("batch_id="))
    }.sum
    leaves.toDouble / buckets.size
  }

  private val WatermarkFile = "_graft_last_batch.json"

  /** The highest batch id whose writes were ever STARTED against the
    * table (advanced marker-before-data by the streaming writer).
    * `batchId <= watermark` ⇒ a prior attempt of that batch may have
    * left leaves (replay: clear them); `>` ⇒ provably none did (the
    * first-run fast path that skips the per-batch ghost glob).
    *
    * ABSENCE CONTRACT (binding on every consumer): None on a table
    * that already holds data means "possible replay", NEVER "first
    * run" — the install below is rename-based but a crash (or a
    * non-overwriting FS falling back to delete+rename) can leave the
    * file absent for an instant, and a pre-watermark table has no
    * file at all. A reader treating absence as first-run would skip
    * the ghost clears and silently re-admit drifted-replay ghosts
    * ([[graft.streaming.StreamNearDedup.probeAndAppend]] honors this;
    * spec-pinned). */
  def lastBatchWatermark(fs: FileSystem, table: Path): Option[Long] = {
    val p = new Path(table, WatermarkFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      "\"last_batch\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toLong)
        .orElse(throw new IllegalStateException(
          s"corrupt last-batch watermark at $p: $s"))
    }
  }

  /** Advance the watermark WITHOUT a truncating rewrite of the live
    * file (the ensureMarker rule: a per-batch truncate-then-write
    * would re-open a zero-byte-corruption crash window every
    * trigger): write a dot-temp, swap it in. The swap TRIES the
    * direct rename first — on POSIX-semantics filesystems rename
    * overwrites atomically, so no absent-watermark instant exists at
    * all — and only falls back to delete+rename where the FS refuses
    * an occupied destination. Even there the worst case is an ABSENT
    * watermark for a crash instant, which the absence contract on
    * [[lastBatchWatermark]] makes safe ("possible replay", never
    * proof of a first run). */
  def writeLastBatchWatermark(fs: FileSystem, table: Path,
                              batchId: Long): Unit = {
    val tmp = new Path(table, "." + WatermarkFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"last_batch": $batchId}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(table, WatermarkFile)
    // rename's occupied-destination behavior is implementation-
    // defined: POSIX-semantics FS overwrite, HDFS returns false, and
    // some (e.g. FileAlreadyExistsException throwers) THROW — treat
    // any exception like a false return so the delete+rename fallback
    // runs instead of failing every trigger's watermark install. The
    // swallowed exception is kept: if the failure was UNRELATED to an
    // occupied destination the fallback fails too, and the terminal
    // error must carry the root cause, not just "cannot install"
    // (the worst case either way is an ABSENT watermark, which the
    // absence contract on [[lastBatchWatermark]] makes safe)
    var firstFailure: Option[Throwable] = None
    val direct =
      try fs.rename(tmp, dst)
      catch { case scala.util.control.NonFatal(e) =>
        firstFailure = Some(e); false }
    if (!direct) {
      // the fallback itself can throw (permissions, FS quirks) —
      // every exit from it must carry the captured firstFailure, or
      // the root cause of the original rename refusal is lost exactly
      // when the diagnosis needs it most
      val installed =
        try {
          fs.delete(dst, false)
          fs.rename(tmp, dst)
        } catch { case scala.util.control.NonFatal(e) =>
          firstFailure.foreach(f => if (f ne e) e.addSuppressed(f))
          throw e
        }
      if (!installed) {
        val ex = new IllegalStateException(
          s"cannot install watermark at $dst")
        firstFailure.foreach(ex.initCause)
        throw ex
      }
    }
  }

  private case class Commit(parents: Seq[String], folded: Seq[String])

  // dir names here are `col=int` / `batch_id=long` — no escaping
  // needed; the format is a private crash-recovery record, not an API
  private def renderCommit(parents: Seq[String],
                           folded: Seq[(String, Long)]): String = {
    def arr(xs: Seq[String]) =
      xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    s"""{"parents": ${arr(parents)}, "folded": ${
      arr(folded.map { case (p, id) => s"$p|$id" })}}"""
  }

  private def parseCommit(txt: String): Commit = {
    def arr(key: String): Seq[String] = {
      val m = ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
        .findFirstMatchIn(txt).getOrElse(throw new IllegalStateException(
          s"corrupt fold commit record: $txt"))
      val body = m.group(1).trim
      if (body.isEmpty) Nil
      else body.split(",").toSeq.map(_.trim.stripPrefix("\"")
        .stripSuffix("\""))
    }
    Commit(arr("parents"), arr("folded"))
  }

  /** Step (3), idempotent: per bucket, swap the staged base in, then
    * delete the bucket's folded leaves; finally drop staging. A
    * staged dir still present ⇒ its target is the OLD base (crashed
    * before the swap) — delete target, rename. Absent ⇒ the swap
    * already ran — the target is the NEW base, keep it. */
  private def completeFold(fs: FileSystem, root: Path, staging: Path,
                           c: Commit): Unit = {
    val dataDir = new Path(staging, "data")
    val byParent = c.folded.map { s =>
      val i = s.lastIndexOf('|')
      (s.substring(0, i), s.substring(i + 1).toLong)
    }.groupBy(_._1)
    c.parents.foreach { p =>
      val staged = new Path(dataDir, p)
      val target = leafPath(root, p, BaseBatchId)
      if (fs.exists(staged)) {
        fs.delete(target, true)
        if (!fs.exists(target.getParent)) fs.mkdirs(target.getParent)
        if (!fs.rename(staged, target))
          throw new IllegalStateException(
            s"fold: cannot install base $target")
      }
      byParent.getOrElse(p, Nil).foreach { case (_, id) =>
        fs.delete(leafPath(root, p, id), true)
      }
    }
    fs.delete(staging, true)
  }
}
