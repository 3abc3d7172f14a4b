package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feed-shaped read pipelines.
  *
  * Re-expresses the reference's GraphQL feed resolvers
  * (src/modules/api/graphql-v2/resolvers/index.ts:165-307, 363-405) as
  * declarative DataFrame pipelines. Each shape compiles to a plan
  * Catalyst turns into `TakeOrderedAndProject` (sort+limit fused, no
  * global sort) — the scale-safe equivalent of Mongo's index-backed
  * sort+skip+limit.
  *
  * Determinism note: every sort takes explicit tie-break columns so a
  * page is a well-defined row set on any cluster layout — the reference
  * inherits whatever order Mongo's index walk yields; we make it exact.
  */
object Feeds {

  /** socialFeed (resolvers/index.ts:165-192): filter → sort desc →
    * skip → limit. Executes as one TakeOrderedAndProject(skip+limit)
    * followed by a driver-side offset — no global sort, no full shuffle.
    */
  def page(df: DataFrame, pred: Column, sort: Seq[Column],
           skip: Int, limit: Int): DataFrame =
    df.filter(pred).orderBy(sort: _*).offset(skip).limit(limit)

  /** trendingFeed (resolvers/index.ts:224-267): anchor = newest
    * matching row; keep rows within `windowExpr` of the anchor; order
    * by the trending metric. The anchor is a scalar aggregate
    * (one-row broadcast), not a per-row window — at 100 TB the anchor
    * agg is a cheap column-pruned scan with partial max pushdown.
    */
  def trending(df: DataFrame, pred: Column, timeCol: Column,
               windowExpr: Column, metric: Seq[Column],
               limit: Int, skip: Int = 0): DataFrame = {
    val filtered = df.filter(pred)
    val anchor = filtered.agg(max(timeCol).as("latest"))
    filtered
      .join(anchor)           // 1-row cross join → broadcast, no shuffle
      .filter(timeCol > col("latest") - windowExpr)
      .orderBy(metric: _*)
      // Mongo applies sort → skip → limit regardless of option order,
      // so page 2 is ranks skip+1..skip+limit — offset BEFORE limit
      .offset(skip)
      .limit(limit)
      .drop("latest")
  }

  /** trendingTags (resolvers/index.ts:363-405): recent window →
    * unwind tags → count per tag → top-k. explode+hashAgg with
    * map-side partial aggregation; top-k via TakeOrderedAndProject.
    */
  def topTags(df: DataFrame, pred: Column, tagsCol: Column,
              k: Int, tieAsc: Boolean = true): DataFrame = {
    val sorted =
      if (tieAsc) Seq(col("score").desc, col("tag").asc)
      else Seq(col("score").desc)
    df.filter(pred)
      .select(explode(tagsCol).as("tag"))
      .groupBy("tag")
      .agg(count(lit(1)).as("score"))
      .orderBy(sorted: _*)
      .limit(k)
  }

  /** relatedFeed (resolvers/index.ts:268-307): rows related to an
    * anchor (overlapping tags, or same parent for top-level anchors),
    * then a uniform random sample of size k. The reference uses Mongo
    * `$sample`; we take the k smallest values of a seeded per-row
    * hash over `idCols`.
    *
    * Why a hash and not `rand(seed)`: seeded rand is per-PARTITION
    * deterministic, so the "deterministic" sample would silently
    * change with layout/parallelism. md5 over (seed, id) is layout-
    * independent, engine-portable (identical in DuckDB, so the
    * catalog query is oracle-verifiable), and still a uniform draw.
    */
  def relatedSample(df: DataFrame, relatedPred: Column, k: Int,
                    seed: Long, idCols: Seq[Column]): DataFrame = {
    val key = md5(concat_ws("#", lit(seed.toString) +: idCols: _*))
    df.filter(relatedPred)
      .orderBy(key +: idCols.map(_.asc): _*)
      .limit(k)
  }

  /** searchFeed (resolvers/index.ts:193-223; Mongo $text index
    * db.ts:61-63): token match with a term-frequency score. Mongo's
    * $text matches documents containing ANY search term
    * (`requireAll = false`, the reference-parity mode); `requireAll =
    * true` gives the stricter conjunctive contract some catalog
    * queries declare. Pure builtins ⇒ whole-stage codegen.
    *
    * `stem = true` is the Mongo-analyzer parity mode: the Porter
    * stemmer ([[graft.functions.PorterStem]], one native codegen pass
    * over the token array) applies to BOTH the corpus tokens and the
    * query terms, so "running" matches a document containing "run" —
    * the reference's $text behavior. Default FALSE: the token-exact
    * contract is what the DuckDB oracle verifies (stemming is not
    * SQL-expressible there), and the two modes must not silently mix
    * with a differently-built index (build and query the inverted
    * index with the same flag).
    *
    * score = Σ_t (occurrences of t in text).
    */
  def search(df: DataFrame, textCol: Column, terms: Seq[String],
             scoreName: String = "score",
             requireAll: Boolean = true,
             stem: Boolean = false): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    // normalize exactly like InvertedIndex.search (lowercase +
    // distinct) so the brute-force and index paths are one contract
    val uniq0 = terms.map(_.toLowerCase).distinct
    val uniq =
      if (stem) uniq0.map(graft.functions.PorterStem.stem).distinct
      else uniq0
    // Two-phase cost shape, measured deliberately (q06, BENCH_NOTES):
    //  - the FILTER runs on every row, so it stays the composed
    //    short-circuiting array_contains chain (codegen'd; a
    //    non-matching row exits at its first missing term) — swapping
    //    it for a counting pass made q06 ~25% SLOWER because every
    //    row then paid full-array counting;
    //  - the TF count runs only on survivors, so the k interpreted
    //    filter lambdas (ArrayFilter is CodegenFallback) are replaced
    //    by ONE native WordSetHits pass (the d03 pattern).
    val toks = col("__toks")
    // WordSetHits carries at most 64 lists per expression; a user
    // query with more distinct terms (PostQueries passes raw search
    // strings) chunks into several one-pass expressions, summed
    val tf: Column = uniq.grouped(64).map { chunk =>
      aggregate(graft.functions.WordSetHits.wordSetHits(
        toks, chunk.map(Seq(_))), lit(0L), _ + _)
    }.reduce(_ + _)
    val combine: (Column, Column) => Column =
      if (requireAll) _ && _ else _ || _
    val matches: Column = uniq.map { t =>
      array_contains(toks, t)
    }.reduce(combine)
    // the SHARED tokenizer (Text.tokens): brute-force, inverted-index
    // and oracle tokenizations are literally one expression; the stem
    // mode wraps it in the same one expression both paths share
    val tokenized = graft.functions.Text.tokens(textCol)
    val tokExpr =
      if (stem) graft.functions.PorterStem.stemTokens(tokenized)
      else tokenized
    df.withColumn("__toks", tokExpr)
      .filter(matches).withColumn(scoreName, tf)
      .drop("__toks")
  }
}
