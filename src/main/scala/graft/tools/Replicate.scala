package graft.tools

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** `Replicate <sfDir> <reps> <outDir>` writes an sf directory holding
  * `reps` copies of `sfDir`'s ten tables, so the catalog rows run at
  * reps× scale with the existing tools (`SPARK_GRAFT_SF_DIR=<outDir>
  * graft.Bench`, `QueryProfile <outDir>`, `graft.Verify <outDir> ...`
  * plus `tools/check.py <outDir> ...`).
  *
  * The rules keep the DuckDB oracle comparing like with like:
  *   - `region` and `nation` are copied once: a copy per replica
  *     would duplicate nation keys and multiply every join.
  *   - Each key family ([[Families]]) is offset per replica by one
  *     stride in every column that holds it, so every foreign-key join
  *     matches reps× rows. The stride is the family's max key + 1,
  *     read from the data (the owning table's max on consistent data).
  *   - Replica 0 holds the source values. Replicas ≥ 1 salt each
  *     `documents.text` token with a replica prefix (`r<i>_`), so
  *     cross-replica documents share no token or shingle and the
  *     near-dup structure grows exactly reps×; `n_chars` is recomputed
  *     as `length(text)`.
  *   - Replicas ≥ 1 jitter each embedding deterministically and
  *     re-normalize it to unit length: exact copies would put reps-way
  *     distance ties into every kNN and top-k row.
  *   - Tables are read raw ([[graft.Tables.load]]) and each output
  *     column keeps its source parquet type; a written file whose
  *     column types or row count differ from the source's fails the run.
  *   - Each table is one file, `<outDir>/<t>.parquet`, as in the sf
  *     directories (`tools/check.py` opens that path as a file).
  *
  * `events.props` (`{"k": n}`) is copied as is: its `k` is not one of
  * the offset families, so replicas share the rows' `k` values. */
object Replicate {

  /** Key families: every (table, column) holding one family's keys. */
  private val Families: Seq[Seq[(String, String)]] = Seq(
    Seq("customer" -> "c_custkey", "orders" -> "o_custkey",
      "events" -> "user_id"),
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"),
    Seq("part" -> "p_partkey", "lineitem" -> "l_partkey"),
    Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey"),
    Seq("events" -> "event_id"),
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id"))

  /** Tables written once, not per replica. */
  private val CopiedOnce: Set[String] = Set("region", "nation")

  /** Per-element embedding jitter amplitude before re-normalizing
    * (elements of the unit 64-d vectors are ~0.12 in magnitude). */
  private val Jitter = 0.01

  /** Writes `reps` replicas of `src` into `out`; returns the rows
    * written per table. */
  def run(spark: SparkSession, src: String, reps: Int,
          out: String): Map[String, Long] = {
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(out).getFileSystem(conf)
    val missing = graft.Tables.names.filterNot(t =>
      fs.exists(new Path(s"$src/$t.parquet")))
    require(missing.isEmpty,
      s"source $src lacks table(s): ${missing.mkString(", ")}")
    val raw = graft.Tables.names.map(t =>
      t -> graft.Tables.load(spark, src, t)).toMap
    val strides: Map[(String, String), Long] = Families.flatMap { fam =>
      val stride = fam.map { case (t, c) =>
        raw(t).agg(max(col(c))).head().getAs[Number](0).longValue
      }.max + 1
      fam.map(_ -> stride)
    }.toMap

    def replica(t: String, i: Int): DataFrame = {
      val df = raw(t)
      df.select(df.columns.toSeq.map { c =>
        val v = (t, c) match {
          case _ if i == 0 => col(c)
          case k if strides.contains(k) => col(c) + lit(i * strides(k))
          case ("documents", "text") => salted(i)
          case ("documents", "n_chars") => length(salted(i)).cast("long")
          case ("embeddings", "embedding") => jittered(i)
          case _ => col(c)
        }
        v.as(c)
      }: _*)
    }

    graft.Tables.names.map { t =>
      val copies = if (CopiedOnce(t)) 1 else reps
      val expected = raw(t).count() * copies
      val dst = new Path(s"$out/$t.parquet")
      val tmp = new Path(s"$out/_$t.tmp")
      fs.delete(tmp, true)
      (0 until copies).map(replica(t, _)).reduce(_ unionByName _)
        .coalesce(1).write.parquet(tmp.toString)
      val parts = fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1,
        s"$t: expected one part file in $tmp, found ${parts.length}")
      fs.delete(dst, true)
      require(fs.rename(parts.head, dst), s"$t: rename to $dst failed")
      fs.delete(tmp, true)
      val written = spark.read.parquet(dst.toString).count()
      require(written == expected,
        s"$t: wrote $written rows, expected $expected")
      val (want, got) = (columnTypes(new Path(s"$src/$t.parquet"), fs),
        columnTypes(dst, fs))
      require(want == got,
        s"$t: column types $got differ from the source's $want")
      t -> written
    }.toMap
  }

  private def salted(i: Int): Column =
    regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")

  private def jittered(i: Int): Column = {
    val noisy = transform(col("embedding"), (x, j) =>
      x + lit(Jitter) * (pmod(xxhash64(lit(i), col("vec_id"), j),
        lit(2001L)) - 1000) / 1000)
    val norm = sqrt(aggregate(noisy, lit(0.0), (a, y) => a + y * y))
    transform(noisy, y => (y / norm).cast("float"))
  }

  /** Leaf column path → "primitive type logical type", from the
    * parquet footer. */
  private def columnTypes(file: Path, fs: FileSystem): Map[String, String] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, fs.getConf))
    try reader.getFooter.getFileMetaData.getSchema.getColumns.asScala
      .map { c =>
        val p = c.getPrimitiveType
        c.getPath.mkString(".") ->
          s"${p.getPrimitiveTypeName} ${p.getLogicalTypeAnnotation}"
      }.toMap
    finally reader.close()
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Replicate <sfDir> <reps> <outDir>")
    val Array(src, repsArg, out) = args
    val reps = repsArg.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"reps must be an integer: $repsArg"))
    val spark = graft.Session.build()
    val t0 = System.nanoTime()
    val rows = run(spark, src, reps, out)
    graft.Tables.names.foreach(t => println(f"$t%-11s ${rows(t)}%,12d rows"))
    println(f"replicated $src x$reps into $out in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
