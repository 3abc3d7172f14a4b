package graft.tools

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.sys.process._

/** `Replicate` at sf0.001 × 3: the written directory is an sf
  * directory the catalog, Spark and the DuckDB oracle read like the
  * source, with every key family offset so joins grow exactly ×3. */
class ReplicateSpec extends SparkSpec {
  private val src = "/root/testdata/sf0.001"
  private val reps = 3
  private lazy val out = {
    val dir = Files.createTempDirectory("graft-replicate").toString
    Replicate.run(spark, src, reps, dir)
    dir
  }
  private def in(t: String) = Tables.load(spark, src, t)
  private def rep(t: String) = Tables.load(spark, out, t)

  test("row counts: region and nation once, every other table ×3") {
    Tables.names.foreach { t =>
      val copies = if (Set("region", "nation")(t)) 1 else reps
      assert(rep(t).count() == in(t).count() * copies, t)
    }
  }

  test("each owning table's key is unique and replica 0 holds the source rows") {
    Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
      "part" -> "p_partkey", "supplier" -> "s_suppkey",
      "events" -> "event_id", "documents" -> "doc_id",
      "embeddings" -> "vec_id", "nation" -> "n_nationkey",
      "region" -> "r_regionkey").foreach { case (t, key) =>
      val df = rep(t)
      assert(df.select(key).distinct().count() == df.count(), t)
    }
    Tables.names.foreach(t =>
      assert(in(t).exceptAll(rep(t)).isEmpty, s"$t: replica 0 lost source rows"))
  }

  test("every foreign-key join matches ×3 the source's rows") {
    def joins(load: String => org.apache.spark.sql.DataFrame) = Seq(
      load("events").join(load("customer"), col("user_id") === col("c_custkey")),
      load("orders").join(load("customer"), col("o_custkey") === col("c_custkey")),
      load("lineitem").join(load("orders"), col("l_orderkey") === col("o_orderkey")),
      load("lineitem").join(load("part"), col("l_partkey") === col("p_partkey")),
      load("lineitem").join(load("supplier"), col("l_suppkey") === col("s_suppkey")),
      load("documents").join(load("embeddings"), col("doc_id") === col("vec_id")),
      load("customer").join(load("nation"), col("c_nationkey") === col("n_nationkey")))
      .map(_.count())
    val before = joins(in)
    assert(before.forall(_ > 0), before)
    assert(joins(rep) == before.map(_ * reps))
  }

  test("salted text keeps n_chars = length(text); jittered embeddings stay unit") {
    val docs = rep("documents")
    assert(docs.filter(col("n_chars") =!= length(col("text"))).isEmpty)
    // replicas share no token with replica 0
    val stride = in("documents").agg(max("doc_id")).head().getLong(0) + 1
    val tokens = docs.select((col("doc_id") / stride).cast("long").as("r"),
      explode(split(col("text"), " ")).as("tok")).distinct()
    assert(tokens.groupBy("tok").count().filter(col("count") > 1).isEmpty)
    val emb = rep("embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x * x)).as("norm"))
    assert(emb.filter(abs(col("norm") - 1) > 1e-5).isEmpty)
    assert(emb.select("embedding").distinct().count() == emb.count())
  }

  test("DuckDB reads every <out>/<t>.parquet with the source's column types") {
    val duck = "import duckdb; duckdb.connect()"
    assume(Seq("python3", "-c", duck).!(ProcessLogger(_ => ())) == 0,
      "python3 with duckdb is not installed")
    val script =
      s"""import duckdb
         |c = duckdb.connect()
         |def types(f):  # every node but the root, whose name is the writer's
         |    return c.execute("SELECT name, type, converted_type, "
         |        "logical_type FROM parquet_schema(?)", [f]).fetchall()[1:]
         |for t in ${Tables.names.map("'" + _ + "'").mkString("[", ", ", "]")}:
         |    a, b = '$src/%s.parquet' % t, '$out/%s.parquet' % t
         |    n = c.execute("SELECT count(*) FROM read_parquet(?)", [b]).fetchone()[0]
         |    print(t, n, types(a) == types(b))
         |""".stripMargin
    val lines = Seq("python3", "-c", script).!!.trim.split("\n").toSeq
    assert(lines.size == Tables.names.size)
    lines.map(_.split(" ")).foreach { case Array(t, n, same) =>
      assert(n.toLong == rep(t).count(), t)
      assert(same == "True", s"$t: parquet column types differ")
    }
  }

  test("refuses reps < 1 and a source without all ten tables") {
    val dir = Files.createTempDirectory("graft-replicate-bad").toString
    assert(intercept[IllegalArgumentException](
      Replicate.run(spark, src, 0, dir)).getMessage.contains("reps"))
    val partial = Files.createTempDirectory("graft-sf-partial").toString
    Files.copy(java.nio.file.Paths.get(s"$src/region.parquet"),
      java.nio.file.Paths.get(s"$partial/region.parquet"))
    val e = intercept[IllegalArgumentException](
      Replicate.run(spark, partial, 2, dir))
    assert(e.getMessage.contains("nation"), e.getMessage)
    assert(new java.io.File(dir).list().isEmpty)
  }
}
