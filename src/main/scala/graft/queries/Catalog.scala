package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.functions.{Text, Vectors}
import graft.query.{Feeds, Predicates, Where}
import graft.state.Merge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One entry per operator in SURVEY.md §2 (+ the training-data
  * extensions, §7.5), each expressed over the driver testdata tables
  * with an equivalent DuckDB oracle where SQL can express it.
  *
  * Determinism rules (driver hash-compares against DuckDB):
  *   - every sort carries a unique tie-break column;
  *   - no raw timestamps in outputs (parquet NANOS vs MICROS don't
  *     round-trip identically) — format to strings instead; oracle SQL
  *     sorts/filters on `CAST(ts AS TIMESTAMP)` to match Spark's
  *     microsecond truncation;
  *   - double aggregations either rounded or restated in exact integer
  *     arithmetic (cents, hit counts, set sizes);
  *   - DuckDB `sum(BIGINT)` returns HUGEINT → always `CAST` in oracle;
  *     Spark `row_number` is INT → always `.cast("long")` in Spark.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Catalog {

  // Presentation sort WITHOUT the double execution: a global orderBy
  // runs its child TWICE — the range partitioner's sample job, then
  // the shuffle pass — and under AQE the rerun reaches back to the
  // last materialized exchange, i.e. it repeats the sort's TOP STAGE
  // (the operators between the sort and the nearest node below it
  // that plans an exchange). Persisting the sort's child makes the
  // sample pass populate the cache and the shuffle pass read it; the
  // harness releases it after each query (CacheTracker contract).
  // That pays only when the top stage holds per-row work Catalyst
  // cannot cost — a graft.functions native expression, a ScalaUDF, an
  // array set operation (array_intersect and kin: cost grows with the
  // arrays' length, the near-dup verify stages) or a typed-object
  // operator (the codec rows); over other built-in expressions the
  // cache build and block-manager round trip cost more than running
  // the stage twice. A subtree the cache manager already holds is
  // computed once either way, so it ends the stage too. Decided on
  // the analyzed plan, so the cache is registered before the row's
  // own plan is optimized and is substituted there; the returned
  // DataFrame is the SAME object — plan, schema, rows and row order
  // are untouched. A sort + limit plans as TakeOrderedAndProject (no
  // range exchange) and matches nothing.
  private[queries] def singleExecuteFinalSort(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{ArraySetLike,
      Expression, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      BinaryNode, Deduplicate, DeserializeToObject, Distinct,
      GlobalLimit, LogicalPlan, MapElements, MapPartitions, Project,
      RepartitionOperation, Sort, Window}
    import org.apache.spark.sql.graftbridge.GraftBridge
    def sortChild(p: LogicalPlan): Option[LogicalPlan] = p match {
      case Project(_, c) => sortChild(c)
      case Sort(_, true, c, _) => Some(c)
      case _ => None
    }
    def opaque(e: Expression): Boolean = e.exists {
      case _: ScalaUDF | _: ArraySetLike => true
      case x => x.getClass.getName.startsWith("graft.functions.")
    }
    def topStageOpaque(p: LogicalPlan): Boolean = p match {
      case _: BinaryNode | _: Aggregate | _: Window | _: Distinct |
           _: Deduplicate | _: RepartitionOperation | _: GlobalLimit |
           Sort(_, true, _, _) => false
      case _ if GraftBridge.isCached(df.sparkSession, p) => false
      case _: MapPartitions | _: MapElements | _: DeserializeToObject =>
        true
      case _ => p.expressions.exists(opaque) ||
        p.children.exists(topStageOpaque)
    }
    sortChild(GraftBridge.analyzed(df)).filter(topStageOpaque).foreach(c =>
      graft.CacheTracker.persistTracked(GraftBridge.ofRows(df.sparkSession, c)))
    df
  }

  // Shared tokenizer fragment for oracle SQL (must match Text.tokens:
  // lowercase, split on \s+, drop empties).
  private val sqlToks =
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

  // Ground-truth near-dup pairs (exact 3-shingle Jaccard >= 0.2 via a
  // shingle self-join; integer threshold i*5 >= u). Shared by the m01
  // oracle and d09's cluster oracle.
  private val sqlTruthPairs =
    s"""toks AS (SELECT doc_id, $sqlToks AS t FROM documents),
      shing AS (SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, greatest(len(t) - 2, 0) + 1),
          i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
        FROM toks),
      sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1),
      inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (SELECT ia, ib, i, na.n + nb.n - i AS u
        FROM inter
        JOIN sizes na ON na.doc_id = ia
        JOIN sizes nb ON nb.doc_id = ib
        WHERE i * 5 >= na.n + nb.n - i)"""

  // Language-ID oracle fragments shared by d03/d10: per-language
  // marker hit counts + the argmax CASE (tie-break = lexicographically
  // LARGEST lang — matches Spark's greatest() over (score, lang)
  // structs).
  private def sqlLangHits = {
    val m = Text.langMarkers
    def h(lang: String, ws: Seq[String]) =
      s"CAST(len(list_filter($sqlToks, x -> list_contains(" +
        ws.map(w => s"'$w'").mkString("[", ",", "]") +
        s", x))) AS BIGINT) AS hits_$lang"
    s"${h("en", m("en"))}, ${h("es", m("es"))}, " +
      s"${h("de", m("de"))}, ${h("fr", m("fr"))}"
  }

  private val sqlLangCase =
    """CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0
         THEN 'und'
         WHEN hits_fr >= hits_es AND hits_fr >= hits_en
          AND hits_fr >= hits_de THEN 'fr'
         WHEN hits_es >= hits_en AND hits_es >= hits_de THEN 'es'
         WHEN hits_en >= hits_de THEN 'en'
         ELSE 'de' END"""

  // Quality formula shared by d04/d10 — mirrors Text.qualityScore
  // term-for-term, same association order; Java \p{Punct} == RE2
  // [[:punct:]] (ASCII set).
  private val sqlQuality = {
    val stop = Text.langMarkers.values.flatten.toSeq
      .map(w => s"'$w'").mkString("[", ",", "]")
    s"""round(
        least(len($sqlToks) / CAST(20 AS DOUBLE), CAST(1.0 AS DOUBLE))
          * CAST(0.4 AS DOUBLE)
      + (CAST(1.0 AS DOUBLE)
          - length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
            / CAST(greatest(length(text), 1) AS DOUBLE))
          * CAST(0.2 AS DOUBLE)
      + (CAST(1.0 AS DOUBLE)
          - length(regexp_replace(text, '[^0-9]', '', 'g'))
            / CAST(greatest(length(text), 1) AS DOUBLE))
          * CAST(0.2 AS DOUBLE)
      + least(len(list_filter($sqlToks,
            x -> list_contains($stop, x)))
            / CAST(greatest(len($sqlToks), 1) AS DOUBLE)
            * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
          * CAST(0.2 AS DOUBLE), 4)"""
  }

  private val raw: Seq[Q] = Seq(

    // ── §2.2 predicate algebra ────────────────────────────────────────
    Q("q01_where_algebra",
      (s, d) => {
        val o = Tables.orders(s, d)
        val pred = Predicates.all(
          Where(eq = Some("O")).compile(col("o_orderstatus")),
          Where(nin = Some(Seq("5-LOW"))).compile(col("o_orderpriority")),
          Where(gt = Some(10000.0), lte = Some(400000.0))
            .compile(col("o_totalprice")),
          Where(ne = Some(1L)).compile(col("o_custkey")),
          Where(regex = Some("^[12]-")).compile(col("o_orderpriority")),
          Where(in = Some(Nil)).compile(col("o_orderstatus")) // empty _in ⇒ skipped
        )
        o.filter(pred)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE o_orderstatus = 'O' AND o_orderpriority NOT IN ('5-LOW')
          AND o_totalprice > 10000 AND o_totalprice <= 400000
          AND o_custkey <> 1 AND regexp_matches(o_orderpriority, '^[12]-')
        ORDER BY o_orderkey""")),

    // ── Q1 point lookup ───────────────────────────────────────────────
    Q("q02_point_lookup",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderkey") === 7L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
        .limit(1),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          strftime(o_orderdate, '%Y-%m-%d') AS o_date
        FROM orders WHERE o_orderkey = 7 LIMIT 1""")),

    // ── Q8 socialFeed: filter → sort → skip → limit ───────────────────
    Q("q03_feed_page",
      (s, d) => Feeds.page(
        Tables.events(s, d), col("event_type") === "view",
        Seq(col("ts").desc, col("event_id").desc), skip = 10, limit = 100)
        .select(col("event_id"), col("user_id"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s")),
      Some("""SELECT event_id, user_id, value,
          strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        FROM events WHERE event_type = 'view'
        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
        LIMIT 100 OFFSET 10""")),

    // ── Q10 trendingFeed: anchor max → window → metric sort ──────────
    Q("q04_trending",
      (s, d) => Feeds.trending(
        Tables.events(s, d), col("event_type") === "purchase",
        col("ts"), expr("INTERVAL 3 DAYS"),
        Seq(col("value").desc, col("event_id").asc), limit = 50)
        .select("event_id", "user_id", "value"),
      Some("""SELECT event_id, user_id, value FROM events
        WHERE event_type = 'purchase'
          AND CAST(ts AS TIMESTAMP) >
            (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
             WHERE event_type = 'purchase') - INTERVAL 3 DAY
        ORDER BY value DESC, event_id LIMIT 50""")),

    // ── A1 trendingTags: explode → count → top-k ─────────────────────
    Q("q05_trending_tags",
      (s, d) => Feeds.topTags(Tables.documents(s, d),
        col("lang") === "en", Text.tokens(col("text")), k = 10),
      Some(s"""SELECT tag, CAST(count(*) AS BIGINT) AS score
        FROM (SELECT unnest($sqlToks) AS tag FROM documents
              WHERE lang = 'en')
        GROUP BY tag ORDER BY score DESC, tag LIMIT 10""")),

    // ── Q9 searchFeed: conjunctive token match + tf score ────────────
    Q("q06_search",
      (s, d) => Feeds.search(Tables.documents(s, d), col("text"),
        Seq("spark", "join"))
        .select("doc_id", "score")
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20),
      Some(s"""SELECT doc_id,
          CAST(len(list_filter(toks, x -> x = 'spark'))
             + len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS score
        FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
        WHERE list_contains(toks, 'spark') AND list_contains(toks, 'join')
        ORDER BY score DESC, doc_id LIMIT 20""")),

    // ── Q9 v2: inverted-index search — same contract/oracle as the
    //    brute-force scan, O(posting lists) instead of O(corpus) ─────
    Q("q21_inverted_search",
      (s, d) => {
        val idx = graft.text.InvertedIndex.build(
          Tables.documentsSpread(s, d), "text", "doc_id")
        graft.text.InvertedIndex.search(idx, Seq("spark", "join"), 20)
          .withColumnRenamed("id", "doc_id")
      },
      Some(s"""SELECT doc_id,
          CAST(len(list_filter(toks, x -> x = 'spark'))
             + len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS score
        FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
        WHERE list_contains(toks, 'spark') AND list_contains(toks, 'join')
        ORDER BY score DESC, doc_id LIMIT 20""")),

    // ── J1/F13 byFollower: left semi join ────────────────────────────
    Q("q07_semi_join",
      (s, d) => {
        val dim = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
        Tables.orders(s, d)
          .join(broadcast(dim), col("o_custkey") === col("c_custkey"),
            "left_semi")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
        ORDER BY o_orderkey""")),

    // ── J7 missing-profile discovery: left anti join ─────────────────
    Q("q08_anti_join",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'O')
        ORDER BY c_custkey""")),

    // ── J5/J6 profile hydration: broadcast left outer join ───────────
    Q("q09_left_join",
      (s, d) => Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"),
          coalesce(col("c_mktsegment"), lit("?")).as("segment")),
      // no ORDER BY: the hydration join has no ordering semantics and
      // the driver compare is order-insensitive — a global sort here
      // is a pure range-shuffle tax on the table-sized output
      Some("""SELECT o_orderkey, o_totalprice, c_name,
          COALESCE(c_mktsegment, '?') AS segment
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey""")),

    // ── A2/J4 num_comments: set-based child count joined back ────────
    Q("q10_children_count",
      (s, d) => {
        val counts = Tables.lineitem(s, d)
          .groupBy("l_orderkey").agg(count(lit(1)).as("n_items"))
        Tables.orders(s, d)
          .join(counts, col("o_orderkey") === col("l_orderkey"), "left")
          .select(col("o_orderkey"),
            coalesce(col("n_items"), lit(0L)).as("n_items"))
        // no ORDER BY (see q09) — the count join is the operator
      },
      Some("""SELECT o_orderkey,
          CAST(COALESCE(n_items, 0) AS BIGINT) AS n_items
        FROM orders LEFT JOIN
          (SELECT l_orderkey, count(*) AS n_items FROM lineitem
           GROUP BY l_orderkey) ON o_orderkey = l_orderkey""")),

    // ── Q13 leaderBoard: global rank — distributed (range sort +
    //    partition offsets, Rank.globalRowNumber), identical output
    //    to the single-partition window the reference implies ───────
    Q("q11_leaderboard",
      (s, d) => graft.query.Rank.globalRowNumber(
        Tables.customer(s, d).filter(col("c_acctbal") > 0),
        Seq(col("c_acctbal").desc, col("c_custkey").asc))
        .select("rank", "c_custkey", "c_name", "c_acctbal")
        .orderBy("rank"),
      Some("""SELECT CAST(row_number() OVER
            (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rank,
          c_custkey, c_name, c_acctbal
        FROM customer WHERE c_acctbal > 0
        ORDER BY rank""")),

    // ── J8 first_upload: first event per key ─────────────────────────
    Q("q12_first_event",
      (s, d) => Merge.firstPerKey(Tables.events(s, d), Seq("user_id"),
        col("ts"), Seq(col("event_id")))
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id"),
      Some("""SELECT user_id, event_id, event_type FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id
          ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1
        ORDER BY user_id""")),

    // ── J3/S8 latest-wins upsert compaction ──────────────────────────
    Q("q13_latest_wins",
      (s, d) => Merge.latestWins(Tables.events(s, d), Seq("user_id"),
        col("ts"), Seq(col("event_id")))
        .select("user_id", "event_id", "value")
        .orderBy("user_id"),
      Some("""SELECT user_id, event_id, value FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id
          ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) = 1
        ORDER BY user_id""")),

    // ── A5/A8 distinct ───────────────────────────────────────────────
    Q("q14_distinct",
      (s, d) => Tables.events(s, d)
        .select("user_id", "event_type").distinct()
        .orderBy("user_id", "event_type"),
      Some("""SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type""")),

    // ── §2.9 set ops: EXCEPT (J11 reconcile) ─────────────────────────
    Q("q15_except",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .except(o.filter(col("o_orderstatus") === "O")
            .select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        ORDER BY o_custkey""")),

    // ── §2.9 set ops: UNION of two sources ───────────────────────────
    Q("q16_union",
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.filter(col("event_type") === "view")
          .select("event_id", "user_id", "event_type")
          .unionByName(ev.filter(col("event_type") === "error")
            .select("event_id", "user_id", "event_type"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type FROM events
        WHERE event_type = 'view'
        UNION ALL
        SELECT event_id, user_id, event_type FROM events
        WHERE event_type = 'error'
        ORDER BY event_id""")),

    // ── A6 channel score: multi-agg + score formula ──────────────────
    Q("q17_score_agg",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("purchases"),
          count(when(col("event_type") === "click", 1)).as("clicks"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100, 0).cast("long")).otherwise(0L))
            .as("spend_cents"))
        .filter(col("purchases") + col("clicks") > 0)
        .withColumn("score",
          round(col("purchases") * 3 + col("clicks") * 0.1, 1))
        .select("user_id", "purchases", "clicks", "spend_cents", "score")
        .orderBy(col("score").desc, col("user_id").asc),
      Some("""SELECT user_id, purchases, clicks, spend_cents,
          round(purchases * 3 + clicks * CAST(0.1 AS DOUBLE), 1) AS score
        FROM (SELECT user_id,
            CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
              AS BIGINT) AS purchases,
            CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
              AS BIGINT) AS clicks,
            CAST(sum(CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100, 0) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS spend_cents
          FROM events GROUP BY user_id)
        WHERE purchases + clicks > 0
        ORDER BY score DESC, user_id""")),

    // ── §2.10 scalar functions: JSON / date / string / math ──────────
    Q("q18_scalar_funcs",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          format_string("%.2f HBD", col("value")).as("money"))
        .withColumn("parsed",
          element_at(split(col("money"), " "), 1).cast("double"))
        .withColumn("k_mod", pmod(col("k"), lit(7))),
      // no ORDER BY (see q09) — scalar functions are the operator
      Some("""SELECT event_id,
          CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
          strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          printf('%.2f HBD', value) AS money,
          CAST(split_part(printf('%.2f HBD', value), ' ', 1) AS DOUBLE)
            AS parsed,
          CAST(json_extract_string(props, '$.k') AS INTEGER) % 7 AS k_mod
        FROM events""")),

    // ── top-k per group (window + filter) ────────────────────────────
    Q("q19_group_topk",
      (s, d) => Tables.orders(s, d)
        .withColumn("rk", row_number().over(
          Window.partitionBy("o_orderstatus")
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc))
          .cast("long"))
        .filter(col("rk") <= 3)
        .select("o_orderstatus", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderstatus", "rk"),
      Some("""SELECT o_orderstatus, CAST(rk AS BIGINT) AS rk,
          o_orderkey, o_totalprice
        FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders)
        WHERE rk <= 3 ORDER BY o_orderstatus, rk""")),

    // ── Q11 relatedFeed $sample: seeded deterministic sample — the
    //    md5-over-(seed,id) draw is layout-independent AND portable,
    //    so DuckDB replays the identical row set ────────────────────
    Q("q20_related_sample",
      (s, d) => Feeds.relatedSample(Tables.documents(s, d),
        col("lang") === "en", k = 25, seed = 42L,
        idCols = Seq(col("doc_id")))
        .select("doc_id", "lang", "source"),
      Some("""SELECT doc_id, lang, source FROM documents
        WHERE lang = 'en'
        ORDER BY md5(concat('42', '#', doc_id)), doc_id
        LIMIT 25""")),

    // ── §7.5 exact dedup groups ──────────────────────────────────────
    Q("d01_dedup_exact",
      (s, d) => Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id")
        .orderBy("fp"),
      Some(s"""SELECT md5(array_to_string($sqlToks, ' ')) AS fp,
          CAST(count(*) AS BIGINT) AS n_dups,
          CAST(min(doc_id) AS BIGINT) AS keep_id
        FROM documents
        GROUP BY 1 ORDER BY fp""")),

    // ── §7.5 token stats / fingerprint ───────────────────────────────
    Q("d02_token_stats",
      (s, d) => {
        // toks materialized once — count, distinct-count and the md5
        // fingerprint would otherwise each re-run the tokenizer
        val toks = col("__toks")
        Tables.documents(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            size(array_distinct(toks)).cast("long").as("n_uniq"),
            Text.fingerprintFromToks(toks).as("fp"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
          CAST(len($sqlToks) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct($sqlToks)) AS BIGINT) AS n_uniq,
          md5(array_to_string($sqlToks, ' ')) AS fp
        FROM documents ORDER BY doc_id""")),

    // ── §7.5 language ID (n-gram/function-word heuristic) ────────────
    Q("d03_lang_id",
      (s, d) => {
        // ONE native WordSetHits pass (evalOnce barrier: the count
        // array feeds five output columns — without the Generate,
        // CollapseProject would inline the pass per reference) and
        // pred_lang derives FROM the materialized counts: the ratio
        // comparison langId makes equals the count comparison (same
        // size(toks) denominator for every language). The r02→r04
        // drift was the interpreted `let` wrapper + langId
        // re-scanning what hits_* had already counted — both gone.
        // Tie-break = greatest over (hits, lang) structs with an
        // "und" sentinel — bitwise the oracle's CASE.
        val langs = Seq("en", "es", "de", "fr")
        graft.query.Predicates.evalOnce(
          Tables.documents(s, d)
            .withColumn("__toks", Text.tokens(col("text"))),
          Seq(col("doc_id")),
          "__h" -> graft.functions.WordSetHits.wordSetHits(
            col("__toks"), langs.map(Text.langMarkers)))
          .select(col("doc_id") +:
            greatest(langs.zipWithIndex.map { case (l, i) =>
              struct(element_at(col("__h"), i + 1).as("h"),
                lit(l).as("lang")) } :+
              struct(lit(0L).as("h"), lit("und").as("lang")): _*)
              .getField("lang").as("pred_lang") +:
            langs.zipWithIndex.map { case (l, i) =>
              element_at(col("__h"), i + 1).as(s"hits_$l") }: _*)
          .orderBy("doc_id")
      },
      Some {
        s"""SELECT doc_id, $sqlLangCase AS pred_lang,
          hits_en, hits_es, hits_de, hits_fr
        FROM (SELECT doc_id, $sqlLangHits FROM documents)
        ORDER BY doc_id"""
      }),

    // ── §7.5 quality score ───────────────────────────────────────────
    Q("d04_quality",
      (s, d) => Tables.documents(s, d)
        .withColumn("__toks", Text.tokens(col("text")))
        .select(col("doc_id"),
          Text.qualityScoreFromToks(col("text"), col("__toks")).as("q"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, $sqlQuality AS q
        FROM documents ORDER BY doc_id""")),

    // ── §7.5 n-gram Jaccard similarity vs anchor doc ─────────────────
    Q("d05_jaccard_anchor",
      (s, d) => {
        val docs = Tables.documentsSpread(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          .withColumn("sh", Text.wordShingles(col("__toks"), 3))
        // anchor = one document's shingle set, collected once (like
        // v02's centroids: bounded by a single doc, by design) and
        // carried with the plan as a prebuilt hash set — the previous
        // broadcast-crossJoin form made array_intersect rebuild the
        // anchor set per ROW
        val anchorRow = docs.filter(col("doc_id") === 0)
          .select(array_distinct(col("sh"))).take(1)
        val base = docs
          .select(col("doc_id"),
            anchorRow.headOption.fold(
              // anchor doc absent ⇒ empty result, matching the old
              // crossJoin-with-empty form AND the SQL oracle's
              // CROSS JOIN against an empty subquery
              lit(null).cast("struct<n_inter:int,n_union:int>"))(r =>
              graft.functions.SigExprs.anchorOverlap(col("sh"),
                r.getAs[scala.collection.Seq[String]](0).toSeq))
              .as("o"))
        (if (anchorRow.isEmpty) base.limit(0) else base)
          .select(col("doc_id"),
            col("o.n_inter").cast("long").as("n_inter"),
            col("o.n_union").cast("long").as("n_union"))
          .orderBy("doc_id")
      },
      Some {
        val shSql = s"list_distinct(list_transform(" +
          s"range(1, greatest(len($sqlToks) - 2, 0) + 1), " +
          s"i -> array_to_string(list_slice($sqlToks, i, i + 2), ' ')))"
        s"""SELECT doc_id,
          CAST(len(list_filter(sh, x -> list_contains(a_sh, x)))
            AS BIGINT) AS n_inter,
          CAST(len(sh) + len(a_sh)
            - len(list_filter(sh, x -> list_contains(a_sh, x)))
            AS BIGINT) AS n_union
        FROM (SELECT doc_id, $shSql AS sh FROM documents)
        CROSS JOIN (SELECT $shSql AS a_sh FROM documents WHERE doc_id = 0)
        ORDER BY doc_id"""
      }),

    // ── §7.5 MinHash-LSH near-dup pairs — GROUND-TRUTH oracle: the
    //    emitted set is always ⊆ {pairs with exact Jaccard ≥ t}
    //    (candidates are exact-verified), and at the gate SF the LSH
    //    parameters recover every truth pair, so the row hash-matches
    //    DuckDB's all-pairs exact enumeration: equality here proves
    //    containment AND recall = 1 on this corpus. Output columns
    //    are the exact set sizes (n_inter, n_union), not the float
    //    ratio — integer compare, no rounding-parity risk. The
    //    threshold i/u ≥ 0.2 is the integer predicate i*5 ≥ u in the
    //    oracle (identical to the double compare off the boundary,
    //    exact on it). ──────────────────────────────────────────────
    Q("m01_minhash_pairs",
      (s, d) => Dedup.minhashLshPairs(Tables.documentsSpread(s, d),
        "text", "doc_id", shingleN = 3, k = 32, bands = 8,
        threshold = 0.2, seed = 42L)
        .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $sqlTruthPairs
        SELECT ia AS id_a, ib AS id_b, CAST(i AS BIGINT) AS n_inter,
          CAST(u AS BIGINT) AS n_union
        FROM truth ORDER BY 1, 2""")),

    // ── §7.5 near-dup CLUSTERS: connected components over the
    //    verified pair set (min-label propagation; oracle = recursive
    //    CTE transitive closure over the same truth pairs). cluster =
    //    component min id — `doc_id = cluster_id` is the survivor. ──
    Q("d09_neardup_clusters",
      (s, d) => Dedup.neardupClusters(
        Dedup.minhashLshPairs(Tables.documentsSpread(s, d),
          "text", "doc_id", shingleN = 3, k = 32, bands = 8,
          threshold = 0.2, seed = 42L))
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $sqlTruthPairs,
        edges AS (SELECT ia AS src, ib AS dst FROM truth
          UNION SELECT ib, ia FROM truth),
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst)
        SELECT id AS doc_id, min(lbl) AS cluster_id
        FROM walk GROUP BY 1 ORDER BY 1""")),

    // ── §7.5 cluster retention policy: ONE survivor per near-dup
    //    cluster by QUALITY argmax (ties → smallest id) — the actual
    //    keep/drop decision after d09's structural clustering. Argmax
    //    = min(struct(-q, id)): partial-aggregatable, no window. ─────
    Q("d26_cluster_survivors",
      (s, d) => {
        val toks = col("__toks")
        val scored = Tables.documents(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          .select(col("doc_id"),
            Text.qualityScoreFromToks(col("text"), toks).as("q"))
        Dedup.clusterSurvivors(
          Dedup.neardupClusters(
            Dedup.minhashLshPairs(Tables.documentsSpread(s, d),
              "text", "doc_id", shingleN = 3, k = 32, bands = 8,
              threshold = 0.2, seed = 42L)),
          scored, "doc_id", "q")
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE $sqlTruthPairs,
        edges AS (SELECT ia AS src, ib AS dst FROM truth
          UNION SELECT ib, ia FROM truth),
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        clus AS (SELECT id, min(lbl) AS cluster_id
          FROM walk GROUP BY 1),
        scored AS (SELECT doc_id, $sqlQuality AS q FROM documents),
        r AS (SELECT c.cluster_id, c.id, s.q,
            row_number() OVER (PARTITION BY c.cluster_id
              ORDER BY s.q DESC, c.id) AS rn,
            count(*) OVER (PARTITION BY c.cluster_id) AS n
          FROM clus c JOIN scored s ON s.doc_id = c.id)
        SELECT cluster_id, CAST(n AS BIGINT) AS n_members,
          id AS keep_id
        FROM r WHERE rn = 1 ORDER BY cluster_id""")),

    // ── §7.5 sequence packing (pretraining concat-and-chunk): docs
    //    concatenated in doc_id order, split into 256-token windows;
    //    a doc's pack = the window holding its START offset. The
    //    global cumulative token count is Rank.globalRunningSum —
    //    range sort + driver partition offsets + one streaming pass
    //    per partition; no unpartitioned window, no re-shuffle.
    //    Integer DIV/% both sides. ─────────────────────────────────
    Q("d27_pack_sequences",
      (s, d) => graft.query.Rank.globalRunningSum(
        Tables.documents(s, d)
          .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens")),
        Seq(col("doc_id").asc), col("n_tokens"), "__cum")
        .select(col("doc_id"), col("n_tokens"),
          expr("(__cum - n_tokens) DIV 256").as("pack_id"),
          pmod(col("__cum") - col("n_tokens"), lit(256L)).as("pack_off"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id,
            CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents),
          c AS (SELECT doc_id, n_tokens,
            CAST(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
        SELECT doc_id, n_tokens,
          (cum - n_tokens) // 256 AS pack_id,
          (cum - n_tokens) % 256 AS pack_off
        FROM c ORDER BY doc_id""")),

    // ── §7.5 composed corpus filter (the C4/Gopher-style keep
    //    decision a training pipeline actually applies): language =
    //    en AND token budget in range; emits the quality score. One
    //    scan, one tokenize, everything codegen — composition of
    //    d02/d03/d04 proving the pieces pipeline without re-runs. ───
    Q("d10_corpus_filter",
      (s, d) => {
        // ALL derived columns built inside ONE Text.let binding: the
        // pre-fix withColumn formulation re-ran the tokenizer at
        // every HOF site once predicate pushdown substituted the
        // alias (measured 20 occurrences in the physical plan; the
        // let cut it to 2 — pushed filter + projection — and the
        // evalOnce Generate barrier cuts it to exactly 1).
        val m = Text.let(Text.tokens(col("text"))) { toks =>
          struct(
            size(toks).cast("long").as("n_tokens"),
            Text.langId(toks).getField("lang").as("pred_lang"),
            Text.qualityScoreFromToks(col("text"), toks).as("q"))
        }
        graft.query.Predicates.evalOnce(Tables.documentsSpread(s, d),
          Seq(col("doc_id")), "__m" -> m)
          .filter(col("__m.pred_lang") === "en" &&
            col("__m.n_tokens").between(20, 10000))
          .select(col("doc_id"), col("__m.n_tokens").as("n_tokens"),
            col("__m.q").as("q"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, n_tokens, q
        FROM (SELECT doc_id,
            CAST(len($sqlToks) AS BIGINT) AS n_tokens,
            $sqlLangHits, $sqlQuality AS q
          FROM documents)
        WHERE $sqlLangCase = 'en' AND n_tokens BETWEEN 20 AND 10000
        ORDER BY doc_id""")),

    // ── §7.5 SimHash near-dup pairs — oracle-verified via the
    //    PORTABLE md5-derived token hash (Text.portableTokenHash):
    //    the 4×16-bit banding finds every Hamming≤3 pair by
    //    pigeonhole (recall guaranteed, not probabilistic), so with a
    //    hash both engines can compute, output == exact truth. The
    //    xxhash64 signature stays the scale path (spec + pinned
    //    regression). ───────────────────────────────────────────────
    Q("m02_simhash_pairs",
      (s, d) => Dedup.simhashPairs(Tables.documentsSpread(s, d),
        "text", "doc_id", maxHamming = 3,
        tokenHash = Text.portableTokenHash)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($sqlToks) AS tok
          FROM documents),
        h AS (SELECT doc_id,
            ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        bits AS (SELECT doc_id, r.b AS b,
            sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM h, range(60) r(b) GROUP BY 1, 2),
        sig0 AS (SELECT doc_id,
            CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b)
              ELSE 0 END) AS BIGINT) AS sig
          FROM bits GROUP BY 1),
        sig AS (SELECT d.doc_id, coalesce(s0.sig, 0) AS sig
          FROM documents d LEFT JOIN sig0 s0 USING (doc_id))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
        ORDER BY 1, 2""")),

    // ── §7.5 ANN: exact cosine top-k vs anchor vector ────────────────
    Q("v01_ann_cosine",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val anchor = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("a_emb"))
        emb.crossJoin(broadcast(anchor))
          .select(col("vec_id"),
            round(Vectors.cosine(col("embedding"), col("a_emb")), 4)
              .as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(20)
      },
      Some("""SELECT vec_id,
          round(list_dot_product(e, a) /
            (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(a, a))),
            4) AS sim
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings)
        CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS a
                    FROM embeddings WHERE vec_id = 0)
        ORDER BY sim DESC, vec_id LIMIT 20""")),

    // ── §7.5 hard-negative mining (contrastive-training data prep):
    //    top-10 most-similar vectors with a DIFFERENT label than the
    //    anchor — v01's scan with a label filter; the label predicate
    //    pushes to the parquet scan. ─────────────────────────────────
    Q("v06_hard_negatives",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val anchor = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("a_emb"),
            col("label").as("a_label"))
        emb.crossJoin(broadcast(anchor))
          .filter(col("label") =!= col("a_label"))
          .select(col("vec_id"), col("label"),
            round(Vectors.cosine(col("embedding"), col("a_emb")), 4)
              .as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some("""SELECT vec_id, label,
          round(list_dot_product(e, a) /
            (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(a, a))),
            4) AS sim
        FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings)
        CROSS JOIN (SELECT label AS a_label,
                      CAST(embedding AS DOUBLE[]) AS a
                    FROM embeddings WHERE vec_id = 0)
        WHERE label <> a_label
        ORDER BY sim DESC, vec_id LIMIT 10""")),

    // ── §7.5 JL ±1 random projection: 64 → 16 dims (Achlioptas sign
    //    matrix from md5 parity — plan-literal, oracle re-derives it),
    //    then v01's top-k over the PROJECTED vectors. The shape that
    //    shrinks every downstream pair/ANN shuffle 4×; rank quality
    //    vs the exact v01 ranking is visible in the output. ─────────
    Q("v09_jl_topk",
      (s, d) => {
        val proj = Tables.embeddings(s, d)
          .select(col("vec_id"),
            Vectors.jlProject(col("embedding"), 64, 16).as("pv"))
        val anchor = proj.filter(col("vec_id") === 0)
          .select(col("pv").as("apv"))
        proj.crossJoin(broadcast(anchor))
          .select(col("vec_id"),
            round(Vectors.cosine(col("pv"), col("apv")), 4).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(20)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
          sg AS (SELECT j, list(CASE WHEN
                ('0x' || substr(md5('s:' || j || ':' || i), 1, 15))
                  ::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END
              ORDER BY i) AS s
            FROM range(0, 16) t(j), range(1, 65) u(i) GROUP BY j),
          p AS (SELECT vec_id,
              list(list_dot_product(v, s) ORDER BY j) AS pv
            FROM e CROSS JOIN sg GROUP BY vec_id),
          a AS (SELECT pv AS apv FROM p WHERE vec_id = 0)
        SELECT vec_id,
          round(list_dot_product(pv, apv) /
            (sqrt(list_dot_product(pv, pv)) *
             sqrt(list_dot_product(apv, apv))), 4) AS sim
        FROM p CROSS JOIN a
        ORDER BY sim DESC, vec_id LIMIT 20""")),

    // ── §7.5 SemDeDup (Abbas et al. 2023): per-cluster semantic
    //    dedup — drop a vector when any smaller-id same-group vector
    //    has cosine ≥ 0.3 (survivor = first member of each
    //    neighborhood). All-pairs only within a group (the SemDeDup
    //    premise: cluster first, |cluster|² bounded), equi-shuffle on
    //    the group key, slim distinct drop set, anti join back.
    //    Nearest pair sits 1.9e-4 from the threshold — far beyond
    //    any cross-engine float gap. ─────────────────────────────────
    Q("v07_semdedup",
      (s, d) => Vectors.semdedupKeep(Tables.embeddingsSpread(s, d),
        "embedding", "vec_id", "label", threshold = 0.3)
        .select("vec_id", "label")
        .orderBy("vec_id"),
      Some("""WITH e AS (SELECT vec_id, label,
            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          dr AS (SELECT DISTINCT a.vec_id FROM e a JOIN e b
            ON a.label = b.label AND b.vec_id < a.vec_id
            WHERE list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))) >= 0.3)
        SELECT vec_id, label FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM dr)
        ORDER BY vec_id""")),

    // ── §7.5 prototypicality pruning: per-label mean centroid →
    //    cosine to centroid → 5 least-prototypical members per label
    //    (partial WindowGroupLimit caps map output at k per group;
    //    centroids broadcast). Rank-boundary gaps ≥ 1.9e-3 at this SF
    //    — far beyond aggregation-order float noise. ────────────────
    Q("v08_centroid_outliers",
      (s, d) => Vectors.centroidOutliers(Tables.embeddings(s, d),
        "embedding", "vec_id", "label", k = 5)
        .orderBy("label", "vec_id"),
      Some("""WITH e AS (SELECT vec_id, label,
            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          x AS (SELECT label, i, avg(v[i]) AS m
            FROM e, range(1, 65) t(i) GROUP BY 1, 2),
          c AS (SELECT label, list(m ORDER BY i) AS cen
            FROM x GROUP BY 1),
          s AS (SELECT e.vec_id, e.label,
              list_dot_product(e.v, c.cen) /
                (sqrt(list_dot_product(e.v, e.v)) *
                 sqrt(list_dot_product(c.cen, c.cen))) AS sim
            FROM e JOIN c USING (label)),
          r AS (SELECT *, row_number() OVER (PARTITION BY label
              ORDER BY sim, vec_id) AS rn FROM s)
        SELECT label, vec_id, round(sim, 4) AS sim
        FROM r WHERE rn <= 5 ORDER BY label, vec_id""")),

    // ── §7.5 BPE-ish token counting (budget accounting) ─────────────
    Q("d06_bpeish_count",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          Text.bpeishCount(col("text")).as("n_bpeish"))
        .orderBy("doc_id"),
      Some {
        // SQL-escape the pattern's leading apostrophe by doubling it
        val p = Text.bpeishPattern.replace("'", "''")
        s"""SELECT doc_id,
          CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_bpeish
        FROM documents ORDER BY doc_id"""
      }),

    // ── §7.5 order-sensitive rolling fingerprint: md5 chain over the
    //    first 64 tokens, seeded with token 1 — exactly DuckDB
    //    list_reduce semantics, so the row IS oracle-verifiable. The
    //    xxhash64 Text.rollingFingerprint stays the engine-specific
    //    scale-path variant (spec-tested; no portable oracle). ───────
    Q("d07_rolling_fp",
      (s, d) => Tables.documents(s, d)
        .withColumn("__toks", Text.tokens(col("text")))
        .withColumn("__tk", slice(col("__toks"), 1, 64))
        .select(col("doc_id"),
          Text.rollingFingerprintPortable(col("__tk")).as("fp"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
          CASE WHEN len(tk) = 0 THEN NULL
               ELSE list_reduce(tk, (acc, x) -> md5(concat(acc, x)))
          END AS fp
        FROM (SELECT doc_id, list_slice($sqlToks, 1, 64) AS tk
              FROM documents)
        ORDER BY doc_id""")),

    // ── X8/base-meta: hashtag + URL extraction from body text (the
    //    reference computes-and-discards this, base-meta.ts — here
    //    it's the corpus-filtering text op, oracle-verified by
    //    running the IDENTICAL RE2-safe regex in DuckDB) ─────────────
    Q("d08_base_meta",
      (s, d) => Tables.documents(s, d)
        .withColumn("__tags", Text.extractHashtags(col("text")))
        .withColumn("__urls", Text.extractUrls(col("text")))
        .select(col("doc_id"),
          size(col("__tags")).cast("long").as("n_tags"),
          size(col("__urls")).cast("long").as("n_urls"),
          concat_ws(",", col("__tags")).as("tags_csv"),
          // try_: ANSI element_at throws on an empty array
          try_element_at(col("__urls"), lit(1)).as("first_url"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
          CAST(len(regexp_extract_all(text,
            '${Text.hashtagPattern.replace("'", "''")}', 1)) AS BIGINT)
            AS n_tags,
          CAST(len(regexp_extract_all(text,
            '${Text.urlPattern.replace("'", "''")}', 0)) AS BIGINT)
            AS n_urls,
          COALESCE(array_to_string(list_transform(
            regexp_extract_all(text,
              '${Text.hashtagPattern.replace("'", "''")}', 1),
            t -> lower(t)), ','), '') AS tags_csv,
          regexp_extract_all(text,
            '${Text.urlPattern.replace("'", "''")}', 0)[1] AS first_url
        FROM documents ORDER BY doc_id""")),

    // ── A5/Q13-at-scale: HLL approximate distinct. The sketch VALUE
    //    is engine-specific (no cross-engine oracle — kept as a
    //    pinned regression in SigExprsSpec), but its published error
    //    bound is not: the row asserts |approx−exact| ≤ 3·rsd·exact
    //    (rsd = 0.05, Spark's default) as a boolean the oracle
    //    predicts `true`, and hash-verifies exact_users. ────────────
    Q("q22_approx_distinct",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct("user_id").as("approx_users"),
          countDistinct("user_id").as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            .cast("double") <= col("exact_users") * 0.15)
            .as("approx_within_3rsd"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
          CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
          true AS approx_within_3rsd
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ── Q6 syncState: the stats singleton computed relationally from
    //    the ingest log (blocks/s, lag, ETA — hive-stream.ts:96-127,
    //    served via resolvers/index.ts:352-362) ──────────────────────
    Q("q23_sync_state",
      (s, d) => graft.streaming.SyncMetrics.syncStateFromLog(
        Tables.events(s, d), col("event_id"), col("ts"),
        headAhead = 1000L, lastLag = 1200L),
      Some("""SELECT 'stats' AS key,
          CAST(max(event_id) AS BIGINT) AS block_height_current,
          CAST(count(*) AS DOUBLE) /
            date_diff('second', CAST(min(ts) AS TIMESTAMP),
              CAST(max(ts) AS TIMESTAMP)) AS blocks_per_sec,
          CAST(1000 AS BIGINT) AS block_lag,
          CAST(round(1000 / (CAST(count(*) AS DOUBLE) /
            date_diff('second', CAST(min(ts) AS TIMESTAMP),
              CAST(max(ts) AS TIMESTAMP))), 0) AS BIGINT)
            AS sync_eta_seconds,
          CAST(-200 AS BIGINT) AS block_lag_diff
        FROM events""")),

    // ── §7.5 multimodal: metadata-only pass over binary media ───────
    Q("mm01_media_meta",
      (s, d) => graft.multimodal.Multimodal
        .fakeMediaFromDocs(Tables.documents(s, d))
        .select(col("media_id"), col("kind"),
          length(col("bytes")).cast("long").as("n_bytes"),
          hex(substring(col("bytes"), 1, 4)).as("magic"),
          col("duration_ms"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id,
          CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               ELSE 'video' END AS kind,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          substring(hex(encode(text)), 1, 8) AS magic,
          CAST(length(text) * 10 AS BIGINT) AS duration_ms
        FROM documents ORDER BY media_id""")),

    // ── §7.5 multimodal: stubbed decode/feature-extract
    //    (mapPartitions batch shape; sha256-derived so oracle-able) ──
    Q("mm02_media_features",
      (s, d) => {
        import s.implicits._
        val media = graft.multimodal.Multimodal
          .fakeMediaFromDocs(Tables.documents(s, d))
          .as[graft.multimodal.MediaRow]
        graft.multimodal.Multimodal.extractFeatures(media)(s)
          .toDF()
          .select(col("media_id"), col("kind"), col("n_bytes"),
            col("sha_prefix"),
            col("frames_sampled").cast("long").as("frames_sampled"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
          CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               ELSE 'video' END AS kind,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          substring(sha256(text), 1, 8) AS sha_prefix,
          CAST(CASE WHEN doc_id % 3 = 2
               THEN greatest(1, octet_length(encode(text)) // 4096)
               ELSE 1 END AS BIGINT) AS frames_sampled
        FROM documents ORDER BY media_id""")),

    // ── §7.5 multimodal: REAL image decode roundtrip. The media rows
    //    carry genuine PNGs (encoded executor-side with the real PNG
    //    writer, dims a formula of the id); the query decodes the
    //    BYTES with javax.imageio and emits the extracted dimensions.
    //    The oracle predicts them from the id formula — equality
    //    proves the encode→decode roundtrip extracted true pixel
    //    metadata, not an echoed column. ─────────────────────────────
    Q("mm03_image_decode",
      (s, d) => {
        val media = graft.multimodal.Multimodal.syntheticPngMedia(
          Tables.mediaIds(s, d))(s)
        graft.multimodal.Multimodal.decodeImages(media)(s)
          .toDF()
          .select(col("media_id"), col("decoded"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, true AS decoded,
          CAST(16 + doc_id % 32 AS BIGINT) AS width,
          CAST(8 + doc_id % 16 AS BIGINT) AS height
        FROM documents ORDER BY media_id""")),

    // ── §7.5 multimodal: REAL audio decode roundtrip (WAV via
    //    javax.sound.sampled, JDK built-in) — same proof shape as
    //    mm03: genuine 8 kHz 16-bit WAVs with formula durations,
    //    decoded back; the oracle predicts rate/frames/duration. ────
    Q("mm04_audio_decode",
      (s, d) => {
        // NOT mediaIds: javax.sound's provider registry synchronizes
        // getAudioInputStream, so 32-way WAV decode CONTENDS — spread
        // measured 3.6 s vs 1.9 s serial (images/video scale fine;
        // ImageIO decoders don't share a lock on this path)
        val media = graft.multimodal.Multimodal.syntheticWavMedia(
          Tables.documents(s, d).select("doc_id"))(s)
        graft.multimodal.Multimodal.decodeAudios(media)(s)
          .toDF()
          .select(col("media_id"), col("decoded"),
            col("sample_rate").cast("long").as("sample_rate"),
            col("n_frames"), col("duration_ms"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, true AS decoded,
          CAST(8000 AS BIGINT) AS sample_rate,
          CAST(8 * (100 + doc_id % 400) AS BIGINT) AS n_frames,
          CAST(100 + doc_id % 400 AS BIGINT) AS duration_ms
        FROM documents ORDER BY media_id""")),

    // ── §7.5 embedding-cosine near-dup pairs: random-hyperplane LSH
    //    → banded candidates → exact-cosine verify. Duplicates are
    //    constructed from the table (ids +100000) so the answer is
    //    never empty; the oracle searches ALL pairs of the same
    //    union for cosine ≥ 0.99, so a pair the LSH misses is a
    //    recall failure, not a silently smaller answer. ───────────────
    Q("v03_cosine_pairs",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
        val dups = emb.filter(col("vec_id") < 10)
          .select((col("vec_id") + 100000L).as("vec_id"),
            col("embedding"))
        Vectors.cosinePairs(emb.unionByName(dups), "embedding",
          "vec_id", dim = 64, threshold = 0.99)
          .withColumn("cosine", round(col("cosine"), 4))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings
                UNION ALL
                SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
                  FROM embeddings WHERE vec_id < 10)),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
              ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
            END AS c
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        round(c, 4) AS cosine
      FROM p WHERE c >= 0.99
      ORDER BY id_a, id_b""")),

    // ── §7.5 batch ANN: exact top-k per QUERY (5 queries × top-3) —
    //    the many-queries retrieval shape, two-phase distributed
    //    top-k (per-(query, partition) prefilter → per-query rank) so
    //    no query ever concentrates the corpus on one partition. ────
    Q("v04_batch_ann",
      (s, d) => {
        val emb = Tables.embeddingsSpread(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        Vectors.batchTopKCosine(emb, "embedding", queries, "qv",
          "qid", k = 3)
          .select(col("q_id"), col("rank"), col("vec_id"),
            round(col("sim"), 4).as("sim"))
          .orderBy("q_id", "rank")
      },
      Some("""WITH base AS (SELECT vec_id,
            CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        q AS (SELECT vec_id AS q_id, e AS qe FROM base
              WHERE vec_id < 5),
        scored AS (SELECT q.q_id AS q_id, b.vec_id AS vec_id,
            list_dot_product(b.e, q.qe) /
              (sqrt(list_dot_product(b.e, b.e)) *
               sqrt(list_dot_product(q.qe, q.qe))) AS sim
          FROM base b CROSS JOIN q),
        ranked AS (SELECT q_id, vec_id, sim,
            row_number() OVER (PARTITION BY q_id
              ORDER BY sim DESC, vec_id) AS rank
          FROM scored)
        SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
          round(sim, 4) AS sim
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    // ── §7.5 ANN: IVF-partitioned variant. Centroids = vectors 0..7,
    //    query = centroid 1. Fully oracled: the SQL replays cluster
    //    assignment (argmax cosine, tie → max cid), probe-set
    //    selection (top-nprobe centroids for the query) and the
    //    within-probe top-k. ─────────────────────────────────────────
    Q("v02_ann_ivf",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val centroids = emb.filter(col("vec_id") < 8)
          .select("vec_id", "embedding")
          .collect()
          .map(r => (r.getLong(0).toInt,
            r.getSeq[Float](1).toSeq))
          .sortBy(_._1).toSeq // layout-independent centroid order
        val query = centroids.find(_._1 == 1).get._2
        val assigned = Vectors.ivfAssign(emb, "embedding", centroids)
        Vectors.ivfTopK(assigned, "embedding", centroids, query,
          k = 20, nprobe = 3)
          .select(col("vec_id"), round(col("sim"), 4).as("sim"),
            col("cluster"))
          .orderBy(col("sim").desc, col("vec_id").asc)
      },
      Some("""WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        q AS (SELECT cv AS qv FROM c WHERE cid = 1),
        cos AS (SELECT e.vec_id, e.v, c.cid,
            list_dot_product(e.v, c.cv) /
              (sqrt(list_dot_product(e.v, e.v)) *
               sqrt(list_dot_product(c.cv, c.cv))) AS sim
          FROM e CROSS JOIN c),
        assigned AS (SELECT vec_id, v, cid AS cluster FROM cos
          QUALIFY row_number() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, cid DESC) = 1),
        probe AS (SELECT c.cid FROM c CROSS JOIN q
          ORDER BY list_dot_product(c.cv, q.qv) /
              (sqrt(list_dot_product(c.cv, c.cv)) *
               sqrt(list_dot_product(q.qv, q.qv))) DESC, c.cid
          LIMIT 3)
        SELECT vec_id, round(sim_exact, 4) AS sim,
          CAST(cluster AS INTEGER) AS cluster
        FROM (
          -- top-k selected on UNROUNDED sim, matching ivfTopK's limit
          SELECT a.vec_id, a.cluster,
            list_dot_product(a.v, q.qv) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(q.qv, q.qv))) AS sim_exact
          FROM assigned a CROSS JOIN q
          WHERE a.cluster IN (SELECT cid FROM probe)
          ORDER BY sim_exact DESC, a.vec_id LIMIT 20)
        ORDER BY sim DESC, vec_id""")),

    // ── §7.5 document chunking: overlapping token windows (64-token
    //    chunks, stride 48) — the training-data shape that feeds
    //    context-bounded models. Pure codegen: tokenize once,
    //    posexplode the window starts; no shuffle, chunk count scales
    //    with tokens not documents. Tail chunks may be shorter than
    //    the window (starts run to the last token). ──────────────────
    Q("d11_chunking",
      (s, d) => {
        Tables.documents(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          // empty docs chunk to an empty array → posexplode drops them
          .select(col("doc_id"),
            posexplode(Text.tokenChunks(col("__toks"), 64, 48)))
          .select(col("doc_id"),
            col("pos").cast("long").as("chunk_idx"),
            size(col("col")).cast("long").as("n_tokens"),
            md5(concat_ws(" ", col("col"))).as("chunk_fp"))
        // no ORDER BY: compare is order-insensitive; the plan stays a
        // shuffle-free scan → generate → project
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          starts AS (SELECT doc_id, t,
            unnest(range(1, len(t) + 1, 48)) AS st
            FROM toks WHERE len(t) >= 1)
        SELECT doc_id, CAST((st - 1) // 48 AS BIGINT) AS chunk_idx,
          CAST(len(list_slice(t, st, st + 63)) AS BIGINT) AS n_tokens,
          md5(array_to_string(list_slice(t, st, st + 63), ' '))
            AS chunk_fp
        FROM starts ORDER BY doc_id, chunk_idx""")),

    // ── §7.5 stratified sampling: deterministic K-per-language draw
    //    (training-mix construction). Order inside each stratum is a
    //    portable md5 draw (layout-independent, same in DuckDB); the
    //    rank<=K filter compiles to WindowGroupLimit, so each
    //    partition keeps only its local top-K BEFORE the per-language
    //    shuffle — scale-safe even when a stratum is most of the
    //    corpus. ──────────────────────────────────────────────────────
    Q("d12_stratified_sample",
      (s, d) => {
        val k = 5
        val toks = col("__toks")
        val base = Tables.documents(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          .select(col("doc_id"),
            Text.langId(toks).getField("lang").as("lang"))
        val w = Window.partitionBy("lang")
          .orderBy(md5(concat(lit("strat#"),
            col("doc_id").cast("string"))), col("doc_id"))
        base.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= k)
          .select(col("lang"), col("rk"), col("doc_id"))
          .orderBy("lang", "rk")
      },
      Some(s"""WITH langs AS (
          SELECT doc_id, $sqlLangCase AS lang
          FROM (SELECT doc_id, $sqlLangHits FROM documents)),
        ranked AS (SELECT doc_id, lang,
          row_number() OVER (PARTITION BY lang
            ORDER BY md5(concat('strat#', CAST(doc_id AS VARCHAR))),
              doc_id) AS rk
          FROM langs)
        SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
        FROM ranked WHERE rk <= 5 ORDER BY lang, rk""")),

    // ── §7.5 quality-WEIGHTED sampling (FineWeb-style retention):
    //    keep a doc with probability ≈ its quality score, via the
    //    portable 60-bit md5 draw — deterministic, layout-independent,
    //    identical in DuckDB (keep ⇔ draw < q·2^60; long→double
    //    rounding is IEEE-identical in both engines, and the exact
    //    boundary has measure ~2^-60). Complements d12's K-per-stratum
    //    draw: this one thins by per-row WEIGHT, no window, no
    //    shuffle — pure codegen filter at any scale. ─────────────────
    Q("d23_quality_sample",
      (s, d) => {
        val toks = col("__toks")
        // evalOnce: the pushed-down keep-filter would otherwise
        // re-evaluate the whole quality dag as the scan predicate
        // (measured 2x — BENCH_NOTES)
        graft.query.Predicates.evalOnce(
          Tables.documentsSpread(s, d)
            .withColumn("__toks", Text.tokens(col("text"))),
          Seq(col("doc_id")),
          "q" -> Text.qualityScoreFromToks(col("text"), toks),
          "__draw" -> Text.portableTokenHash(
            concat(lit("qs#"), col("doc_id").cast("string"))))
          .filter(col("__draw").cast("double") <
            col("q") * lit(math.pow(2, 60)))
          .select(col("doc_id"), col("q"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, q FROM (
          SELECT doc_id, $sqlQuality AS q,
            ('0x' || substr(md5('qs#' || CAST(doc_id AS VARCHAR)), 1, 15))
              ::BIGINT AS draw
          FROM documents)
        WHERE CAST(draw AS DOUBLE) < q * 1152921504606846976.0
        ORDER BY doc_id""")),

    // ── §7.5 domain-mixture resampling (DoReMi-style rebalancing):
    //    downsample every language stratum to the SMALLEST one's
    //    share — keep-prob = min_count/count(lang), decided by the
    //    same portable 2^60 md5 draw as d23 (per-row codegen filter;
    //    the stratum counts are a broadcast 5-row aggregate). The
    //    third sampling shape: d12 = K per stratum, d23 = per-row
    //    weight, d29 = equalize strata. ───────────────────────────────
    Q("d29_mixture_resample",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cnts = docs.groupBy("lang").agg(count(lit(1)).as("__n"))
        val minc = cnts.agg(min("__n").as("__m"))
        docs.join(broadcast(cnts), "lang").crossJoin(broadcast(minc))
          .withColumn("__draw", Text.portableTokenHash(
            concat(lit("mix#"), col("doc_id").cast("string"))))
          .filter(col("__draw").cast("double") <
            col("__m").cast("double") / col("__n") *
              lit(math.pow(2, 60)))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY 1),
          m AS (SELECT min(n) AS mn FROM c)
        SELECT doc_id, lang
        FROM documents JOIN c USING (lang) CROSS JOIN m
        WHERE CAST(('0x' || substr(md5('mix#' ||
              CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
          < CAST(mn AS DOUBLE) / n * 1152921504606846976.0
        ORDER BY doc_id""")),

    // ── §7.5 deterministic train/val/test split + shard assignment:
    //    the fourth sampling shape (d12 = K per stratum, d23 = per-row
    //    weight, d29 = equalize strata, d30 = DISJOINT EXHAUSTIVE
    //    partition). Same portable 2^60 md5 draw; thresholds at
    //    0.8/0.9 give 80/10/10; shard = draw mod 16 spreads each
    //    split across output files. Pure per-row codegen — no
    //    shuffle, no window — so assignment is reproducible under
    //    any repartitioning at any scale (the property that matters:
    //    a doc's split NEVER changes when the corpus grows). ─────────
    Q("d30_split_assign",
      (s, d) => {
        val draw = Text.portableTokenHash(
          concat(lit("split#"), col("doc_id").cast("string")))
        val frac = draw.cast("double") / lit(math.pow(2, 60))
        Tables.documents(s, d)
          .withColumn("split",
            when(frac < 0.8, lit("train"))
              .when(frac < 0.9, lit("val"))
              .otherwise(lit("test")))
          .withColumn("shard", pmod(draw, lit(16L)).cast("long"))
          .select(col("doc_id"), col("split"), col("shard"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          CASE WHEN frac < 0.8 THEN 'train'
               WHEN frac < 0.9 THEN 'val'
               ELSE 'test' END AS split,
          CAST(draw % 16 AS BIGINT) AS shard
        FROM (SELECT doc_id,
            ('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)),
              1, 15))::BIGINT AS draw,
            CAST(('0x' || substr(md5('split#' ||
              CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
              / 1152921504606846976.0 AS frac
          FROM documents)
        ORDER BY doc_id""")),

    // ── §7.5 cross-doc duplicated-SPAN coverage (suffix-array-style
    //    exact-substring dedup, Lee et al. 2022): which token
    //    positions sit inside a 3-gram occurring in ≥2 docs, merged
    //    intervals, and the clean length a removal rewrite keeps.
    //    Shuffles: shingle-keyed doc-frequency + a positions join
    //    carrying (id, start) longs; coverage is one aggregate-HOF
    //    interval-merge pass per doc (no window, no per-token loop). ──
    Q("d31_dup_spans",
      (s, d) => Dedup.dupSpanStats(Tables.documentsSpread(s, d),
        "text", "doc_id", shingleN = 3, minDocs = 2)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("n_covered"), col("n_clean"))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t FROM documents),
          sh AS (SELECT doc_id,
              unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS start,
              unnest(list_transform(
                range(1, greatest(len(t) - 2, 0) + 1),
                i -> array_to_string(list_slice(t, i, i + 2), ' ')))
                AS s
            FROM toks),
          dup AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS c
              FROM sh GROUP BY 1) q WHERE c >= 2),
          ds AS (SELECT doc_id, CAST(start AS BIGINT) AS st,
              CAST(start + 2 AS BIGINT) AS e
            FROM sh JOIN dup USING (s)),
          m AS (SELECT doc_id, st, e, max(e) OVER (PARTITION BY doc_id
              ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING) AS pe FROM ds),
          cov AS (SELECT doc_id, CAST(sum(greatest(
              e - greatest(st, coalesce(pe, CAST(0 AS BIGINT)) + 1) + 1,
              0)) AS BIGINT) AS n_covered FROM m GROUP BY 1),
          base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
            FROM toks)
        SELECT doc_id, n_tokens,
          coalesce(n_covered, CAST(0 AS BIGINT)) AS n_covered,
          n_tokens - coalesce(n_covered, CAST(0 AS BIGINT)) AS n_clean
        FROM base LEFT JOIN cov USING (doc_id)
        ORDER BY doc_id""")),

    // ── §7.5 DSIR importance weights (Xie et al. 2023): hashed-
    //    unigram log-likelihood ratio target-LM vs raw-LM, target =
    //    the src0 domain sample. Both LMs are a fixed 4096-bucket
    //    table (broadcast at any corpus size); integer micro-nat
    //    quantization per BUCKET before the exact per-doc sum. ───────
    Q("d32_dsir_weight",
      (s, d) => graft.text.Dsir.importanceWeights(
        Tables.documents(s, d), "text", "doc_id",
        targetPred = col("source") === "src0", buckets = 4096)
        .orderBy("doc_id"),
      Some(s"""WITH tb AS (SELECT doc_id,
              ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096
                AS bucket,
              source
            FROM (SELECT doc_id, source, unnest($sqlToks) AS tok
              FROM documents)),
          cf AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cf_raw,
              CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                AS BIGINT) AS cf_tgt
            FROM tb GROUP BY 1),
          n AS (SELECT CAST(sum(cf_raw) AS BIGINT) AS n_raw,
              CAST(sum(cf_tgt) AS BIGINT) AS n_tgt FROM cf),
          r AS (SELECT bucket, CAST(round(1e6 * (
                ln(cf_tgt + 1.0) - ln(n_tgt + 4096.0)
                - ln(cf_raw + 1.0) + ln(n_raw + 4096.0)))
              AS BIGINT) AS lr
            FROM cf CROSS JOIN n),
          agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(lr) AS BIGINT) AS w_micro
            FROM tb JOIN r USING (bucket) GROUP BY 1)
        SELECT doc_id, n_tokens, w_micro,
          w_micro / 1e6 / n_tokens AS avg_lr
        FROM agg ORDER BY doc_id""")),

    // ── §7.5 hashed-feature linear quality classifier (fastText
    //    shape): score = Σ weight[md5-bucket(tok)] in exact milli
    //    units, keep = sign. Zero shuffle, zero joins — one aggregate
    //    HOF per row; weights are md5-derived stand-ins the oracle
    //    re-derives (a real model broadcasts trained weights, same
    //    plan). ──────────────────────────────────────────────────────
    Q("d33_hash_quality",
      (s, d) => Tables.documentsSpread(s, d)
        .withColumn("__toks", Text.tokens(col("text")))
        .withColumn("score_milli",
          Text.hashLinearScore(col("__toks"), buckets = 4096))
        .select(col("doc_id"),
          size(col("__toks")).cast("long").as("n_tokens"),
          col("score_milli"), (col("score_milli") > 0).as("keep"))
        .orderBy("doc_id"),
      Some(s"""WITH w AS (SELECT doc_id,
              ('0x' || substr(md5('w#' || CAST(
                ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096
                AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000 AS w
            FROM (SELECT doc_id, unnest($sqlToks) AS tok
              FROM documents)),
          agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(w) AS BIGINT) AS score_milli
            FROM w GROUP BY 1),
          base AS (SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS nt
            FROM documents)
        SELECT doc_id,
          coalesce(n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
          coalesce(score_milli, CAST(0 AS BIGINT)) AS score_milli,
          coalesce(score_milli, CAST(0 AS BIGINT)) > 0 AS keep
        FROM base LEFT JOIN agg USING (doc_id)
        ORDER BY doc_id""")),

    // ── §7.5 vocabulary induction: top-50 tokens by document
    //    frequency (tokenizer vocab / stopword discovery). One explode
    //    → distinct per doc → hash-agg with map-side combine → top-k
    //    via TakeOrderedAndProject; all-integer outputs, full tie
    //    chain (df, tf, token). ──────────────────────────────────────
    Q("d24_vocab_topk",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(Text.tokens(col("text")))
            .as("tok"))
        toks.groupBy("tok")
          .agg(countDistinct(col("doc_id")).as("df"),
            count(lit(1)).as("tf"))
          .select(col("tok"), col("df").cast("long").as("df"),
            col("tf").cast("long").as("tf"))
          .orderBy(col("df").desc, col("tf").desc, col("tok").asc)
          .limit(50)
      },
      Some(s"""SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
          CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest($sqlToks) AS tok FROM documents)
        GROUP BY tok ORDER BY df DESC, tf DESC, tok LIMIT 50""")),

    // ── §7.5 BPE-pair statistics: the first merge-candidate table of
    //    BPE tokenizer training — counts of ADJACENT token pairs
    //    corpus-wide. The pair array is a zip of the token array with
    //    its own tail (one codegen pass, no self-join); the count is
    //    one hash-agg. Iterating merge→recount is this same row in a
    //    driver loop. ────────────────────────────────────────────────
    Q("d25_bpe_pair_stats",
      (s, d) => {
        val toks = col("__toks")
        val pairs = Tables.documents(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          .filter(size(toks) >= 2)
          .select(explode(zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            // separator = the oracle's chr(1): unambiguous pair key
            (a, b) => concat_ws("\u0001", a, b))).as("pair"))
        pairs.groupBy("pair")
          .agg(count(lit(1)).cast("long").as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(20)
      },
      Some(s"""WITH t AS (SELECT $sqlToks AS tk FROM documents
            WHERE len($sqlToks) >= 2),
          p AS (SELECT unnest(list_transform(
              range(1, len(tk)),
              i -> tk[i] || chr(1) || tk[i + 1])) AS pair
            FROM t)
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""")),

    // ── §7.5 PII redaction: scrub emails/phones before training.
    //    RE2-safe patterns (char classes + bounded repeats — no
    //    lookaround), so Java regex and DuckDB RE2 agree exactly.
    //    Synthetic PII is appended from doc_id so the redaction is
    //    provably ACTIVE on every row (both engines derive the same
    //    augmented text); output is the redacted fingerprint + match
    //    counts. Pure codegen scalar pipeline, no shuffle. ───────────
    Q("d13_pii_redact",
      (s, d) => {
        Tables.documentsSpread(s, d)
          .withColumn("__aug", concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or call 555-123-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"),
              4, "0")))
          .select(col("doc_id"),
            size(regexp_extract_all(col("__aug"),
              lit(Text.emailPattern), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("__aug"),
              lit(Text.phonePattern), lit(0)))
              .cast("long").as("n_phones"),
            md5(Text.redactPii(col("__aug"))).as("redacted_fp"))
        // no ORDER BY: order-insensitive compare; zero-shuffle plan
      },
      Some("""WITH aug AS (SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call 555-123-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(s,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0))
            AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(s,
            '[0-9]{3}-[0-9]{3}-[0-9]{4}', 0)) AS BIGINT) AS n_phones,
          md5(regexp_replace(regexp_replace(s,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
            '[EMAIL]', 'g'),
            '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'))
            AS redacted_fp
        FROM aug ORDER BY doc_id""")),

    // ── §7.5 benchmark decontamination: flag training docs sharing a
    //    word 3-shingle with a held-out set (docs 0-4 stand in for a
    //    benchmark suite). Holdout shingles are benchmark-bounded, so
    //    they ride the plan as the native AnchorOverlap set (the d05
    //    shape): one codegen probe per doc, NO shingle explode, NO
    //    join, no shuffle beyond the tiny holdout collect. Past
    //    plan-literal size (a holdout of millions of shingles), flip
    //    to a broadcast semi-join or a bloom filter — the corpus-side
    //    scan stays identical. ───────────────────────────────────────
    Q("d14_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          .withColumn("__sh", Text.wordShingles(col("__toks"), 3))
        // bounded by the holdout corpus, like v02's centroid collect
        val hold = docs.filter(col("doc_id") < 5)
          .select(explode(col("__sh")).as("sh")).distinct()
          .collect().map(_.getString(0)).toSeq
        // every train doc reported (zeros included) — a filter on
        // n_inter would be pushed below the projection and evaluate
        // the overlap TWICE (no CSE into pushed predicates)
        docs.filter(col("doc_id") >= 5)
          .select(col("doc_id"),
            graft.functions.SigExprs.anchorOverlap(col("__sh"), hold)
              .getField("n_inter").cast("long").as("n_contam"))
          .withColumn("contaminated", col("n_contam") > 0)
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          shing AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(t) - 2, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 2), ' '))))
              AS s
            FROM toks),
          hold AS (SELECT DISTINCT s FROM shing WHERE doc_id < 5),
          hits AS (SELECT sh.doc_id, count(*) AS n
            FROM shing sh JOIN hold h ON sh.s = h.s
            WHERE sh.doc_id >= 5 GROUP BY 1)
        SELECT t.doc_id, CAST(coalesce(hits.n, 0) AS BIGINT)
            AS n_contam,
          coalesce(hits.n, 0) > 0 AS contaminated
        FROM toks t LEFT JOIN hits ON t.doc_id = hits.doc_id
        WHERE t.doc_id >= 5 ORDER BY 1""")),

    // ── §7.5 decontamination, BLOOM-prefiltered (the d14 scale path
    //    past plan-literal size): bloom bitset probe in the scan →
    //    exact overlap only on bloom-positive rows. No false
    //    negatives ⇒ output == the all-exact path, so the ORACLE IS
    //    d14's — hash equality here proves the probabilistic
    //    prefilter changes nothing but cost. ─────────────────────────
    Q("d22_decontaminate_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          .withColumn("__sh", Text.wordShingles(col("__toks"), 3))
        val hold = docs.filter(col("doc_id") < 5)
          .select(explode(col("__sh")).as("sh")).distinct()
          .collect().map(_.getString(0)).toSeq
        Dedup.decontaminateBloom(
          Tables.documents(s, d).filter(col("doc_id") >= 5),
          "text", "doc_id", hold, shingleN = 3)
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          shing AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(t) - 2, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 2), ' '))))
              AS s
            FROM toks),
          hold AS (SELECT DISTINCT s FROM shing WHERE doc_id < 5),
          hits AS (SELECT sh.doc_id, count(*) AS n
            FROM shing sh JOIN hold h ON sh.s = h.s
            WHERE sh.doc_id >= 5 GROUP BY 1)
        SELECT t.doc_id, CAST(coalesce(hits.n, 0) AS BIGINT)
            AS n_contam,
          coalesce(hits.n, 0) > 0 AS contaminated
        FROM toks t LEFT JOIN hits ON t.doc_id = hits.doc_id
        WHERE t.doc_id >= 5 ORDER BY 1""")),

    // ── §7.5 within-doc repetition signals (Gopher-style quality
    //    rules): duplicate-2gram count and the top-token count. All
    //    integers (no float rounding risk); the top-token count folds
    //    a max-run-length over the SORTED token array in codegen —
    //    no explode, no shuffle, the whole row is one scan pass. ─────
    Q("d15_repetition",
      (s, d) => {
        val toks = col("__toks")
        Tables.documentsSpread(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          .withColumn("__g2", Text.wordShingles(toks, 2))
          .select(col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            size(col("__g2")).cast("long").as("n_2grams"),
            (size(col("__g2")) - size(array_distinct(col("__g2"))))
              .cast("long").as("n_dup_2grams"),
            Text.topTokenCount(toks).cast("long").as("top_tok_count"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          tg AS (SELECT doc_id, t, list_transform(
              range(1, greatest(len(t) - 1, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 1), ' ')) AS g
            FROM toks),
          topw AS (SELECT doc_id, max(c) AS topc
            FROM (SELECT doc_id, w, count(*) AS c
              FROM (SELECT doc_id, unnest(t) AS w FROM toks)
              GROUP BY 1, 2)
            GROUP BY 1)
        SELECT tg.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
          CAST(len(g) AS BIGINT) AS n_2grams,
          CAST(len(g) - len(list_distinct(g)) AS BIGINT)
            AS n_dup_2grams,
          CAST(coalesce(topc, 0) AS BIGINT) AS top_tok_count
        FROM tg LEFT JOIN topw ON tg.doc_id = topw.doc_id
        ORDER BY tg.doc_id""")),

    // ── §7.5 vocabulary / TF-IDF top term per doc: corpus document
    //    frequency (distinct-doc count per token) broadcast back to
    //    the per-doc term frequencies; the per-doc winner is an
    //    argmax by (tf desc, df asc, term asc) computed as a
    //    partial-aggregatable min(struct) — no window, no skew
    //    concentration. At open-vocab scale, swap the broadcast for a
    //    sort-merge join or pre-filter df to a top-V vocab. ──────────
    Q("d16_top_tfidf_term",
      (s, d) => {
        // ONE scan+explode: tf is cached, and df derives from it —
        // tf's (doc_id, w) rows are exactly the distinct pairs a
        // separate distinct-then-count branch would rebuild from a
        // second corpus pass
        val tf = graft.CacheTracker.persistTracked(
          Tables.documentsSpread(s, d)
            .withColumn("__toks", Text.tokens(col("text")))
            .select(col("doc_id"), explode(col("__toks")).as("w"))
            .groupBy("doc_id", "w")
            .agg(count(lit(1)).as("tf")))
        val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfreq), Seq("w"))
          .groupBy("doc_id")
          .agg(min(struct((-col("tf")).as("ntf"), col("df"),
            col("w"))).as("m"))
          .select(col("doc_id"), col("m.w").as("top_term"),
            (-col("m.ntf")).cast("long").as("tf"),
            col("m.df").cast("long").as("df"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
          tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
            GROUP BY 1, 2),
          df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok
            GROUP BY 1),
          ranked AS (SELECT tf.doc_id, tf.w, tf.tf, df.df,
            row_number() OVER (PARTITION BY tf.doc_id
              ORDER BY tf.tf DESC, df.df ASC, tf.w ASC) AS rk
          FROM tf JOIN df ON tf.w = df.w)
        SELECT doc_id, w AS top_term, CAST(tf AS BIGINT) AS tf,
          CAST(df AS BIGINT) AS df
        FROM ranked WHERE rk = 1 ORDER BY doc_id""")),

    // ── §2.7-at-scale: gap-based sessionization (30-min inactivity
    //    boundary) — lag + conditional running sum inside ONE
    //    user-partitioned window (no self-join), then the per-session
    //    rollup. Timestamps compared in microseconds (unix_micros —
    //    parquet NANOS truncates identically in the oracle's CAST)
    //    and emitted as formatted strings, never raw. ────────────────
    Q("d17_sessionize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("__prev", lag(col("ts"), 1).over(w))
          .withColumn("__brk",
            (col("__prev").isNull ||
              unix_micros(col("ts")) - unix_micros(col("__prev"))
                > 1800000000L).cast("int"))
          .withColumn("session_idx",
            sum("__brk").over(w.rowsBetween(
              Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n_events"),
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss")
              .as("started"),
            date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss")
              .as("ended"))
      },
      Some("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
            user_id FROM events),
          m AS (SELECT e.*, CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
            FROM e WINDOW w AS (PARTITION BY user_id
              ORDER BY ts, event_id)),
          s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
            FROM m)
        SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
          CAST(count(*) AS BIGINT) AS n_events,
          strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS started,
          strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS ended
        FROM s GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── §2.5-at-scale: EXACT percentiles per group (p50/p90/p99 of
    //    value) — Spark's sort-based `percentile` agg vs DuckDB
    //    quantile_cont, both linear interpolation. (approx_percentile
    //    is the sketch variant; q22 already pins the
    //    sketch-vs-exact pattern for HLL.) ───────────────────────────
    Q("d18_percentiles",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
          .as("__p"))
        .select(col("event_type"),
          round(element_at(col("__p"), 1), 4).as("p50"),
          round(element_at(col("__p"), 2), 4).as("p90"),
          round(element_at(col("__p"), 3), 4).as("p99"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
          round(quantile_cont(value, 0.5), 4) AS p50,
          round(quantile_cont(value, 0.9), 4) AS p90,
          round(quantile_cont(value, 0.99), 4) AS p99
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ── §2.6-at-scale: as-of join, the Spark-first way — for each
    //    purchase, the user's most recent STRICTLY-PRIOR view. One
    //    window over the tagged union (last_value ignoreNulls,
    //    rows-frame ending 1 PRECEDING): a single user shuffle, no
    //    range-join row blowup, ties broken by event_id on both
    //    engines. ─────────────────────────────────────────────────────
    Q("d19_asof_join",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .withColumn("last_view_id",
            last(when(col("event_type") === "view", col("event_id")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("last_view_id"))
      },
      Some("""WITH t AS (SELECT event_id, user_id, event_type,
            CAST(ts AS TIMESTAMP) AS ts FROM events
          WHERE event_type IN ('view', 'purchase')),
        w AS (SELECT *, last_value(CASE WHEN event_type = 'view'
              THEN event_id END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS last_view_id
          FROM t)
        SELECT event_id, user_id, last_view_id FROM w
        WHERE event_type = 'purchase' ORDER BY event_id""")),

    // ── §2.6-at-scale: time-RANGE join, binned — views within ±30 min
    //    of each purchase, WITHOUT the naive cross-range explosion: a
    //    view lands in ONE ⌊ts/30min⌋ bin, a purchase probes its bin
    //    ±1 (any in-window view must be there), so the join is a plain
    //    equi-shuffle on a compact long bin key + a residual |Δt|
    //    filter — the batch analog of StreamJoin's watermark-bounded
    //    interval join. Oracle = DuckDB's native inequality join. ────
    Q("q25_range_join_binned",
      (s, d) => {
        val winUs = 1800L * 1000000L
        val ev = Tables.events(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select(unix_micros(col("ts")).as("v_us"))
          .withColumn("bin", floor(col("v_us") / winUs))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), unix_micros(col("ts")).as("p_us"))
        val probed = purchases
          .withColumn("__b", floor(col("p_us") / winUs))
          .withColumn("bin", explode(array(
            col("__b") - 1, col("__b"), col("__b") + 1)))
        val hits = probed.join(views, Seq("bin"))
          .filter(abs(col("v_us") - col("p_us")) <= winUs)
          .groupBy("event_id")
          .agg(count(lit(1)).as("n"))
        purchases.select("event_id")
          .join(hits, Seq("event_id"), "left")
          .select(col("event_id"),
            coalesce(col("n"), lit(0L)).cast("long").as("n_views"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase'),
          v AS (SELECT CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'view'),
          hits AS (SELECT p.event_id, count(*) AS n
            FROM p JOIN v ON v.ts BETWEEN p.ts - INTERVAL 30 MINUTE
              AND p.ts + INTERVAL 30 MINUTE
            GROUP BY 1)
        SELECT p.event_id, CAST(coalesce(n, 0) AS BIGINT) AS n_views
        FROM p LEFT JOIN hits USING (event_id)
        ORDER BY event_id""")),

    // ── §7.5 corpus-wide duplicated n-grams (Lee et al. span-level
    //    dedup signal): per doc, distinct 3-shingles + how many occur
    //    in ≥2 docs corpus-wide. One shingle hash-agg + same-key join
    //    back; integer outputs, string-exact oracle. ─────────────────
    Q("d20_dup_ngrams",
      (s, d) => Dedup.dupNgramStats(Tables.documentsSpread(s, d),
        "text", "doc_id", shingleN = 3, minDocs = 2)
        .select(col("id").as("doc_id"), col("n_sh"), col("n_dup"))
        .orderBy("doc_id"),
      Some(s"""WITH sh AS (SELECT doc_id, unnest(list_distinct(
            list_transform(
              range(1, greatest(len($sqlToks) - 2, 0) + 1),
              i -> array_to_string(list_slice($sqlToks, i, i + 2), ' '))))
            AS s
          FROM documents),
        cnt AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
        per AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
            CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dup
          FROM sh JOIN cnt USING (s) GROUP BY 1)
        SELECT d.doc_id,
          coalesce(n_sh, CAST(0 AS BIGINT)) AS n_sh,
          coalesce(n_dup, CAST(0 AS BIGINT)) AS n_dup
        FROM documents d LEFT JOIN per USING (doc_id)
        ORDER BY doc_id""")),

    // ── §7.5 cross-corpus MinHash overlap: sketch-level Jaccard
    //    between every source pair (pre-merge contamination check).
    //    One-strong-hash + k universal rehashes, all exact integer
    //    math mod 1e9+7 → the oracle reproduces every slot
    //    bit-for-bit. Shuffles: (corpus, slot) min (map-side
    //    combined, ≈ corpora·k rows) + a 640-row sketch self-join. ───
    Q("m03_corpus_overlap",
      (s, d) => Dedup.corpusOverlap(Tables.documents(s, d),
        "text", "source", k = 32, shingleN = 3)
        .orderBy("corpus_a", "corpus_b"),
      Some(s"""WITH toks AS (SELECT source, $sqlToks AS t FROM documents),
          shing AS (SELECT source, unnest(list_transform(
              range(1, greatest(len(t) - 2, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
            FROM toks),
          h0 AS (SELECT source,
              ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1000000007 AS h
            FROM shing),
          ab AS (SELECT i,
              ('0x' || substr(md5('a:' || i), 1, 15))::BIGINT
                % 1000000006 + 1 AS a,
              ('0x' || substr(md5('b:' || i), 1, 15))::BIGINT
                % 1000000007 AS b
            FROM range(0, 32) t(i)),
          sk AS (SELECT source, i, min((a * h + b) % 1000000007) AS mh
            FROM h0 CROSS JOIN ab GROUP BY 1, 2),
          pr AS (SELECT x.source AS corpus_a, y.source AS corpus_b,
              CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
                AS BIGINT) AS agree
            FROM sk x JOIN sk y
              ON x.i = y.i AND x.source < y.source
            GROUP BY 1, 2)
        SELECT corpus_a, corpus_b, agree,
          round(agree / 32.0, 4) AS est
        FROM pr ORDER BY corpus_a, corpus_b""")),

    // ── §7.5 unigram-LM surprisal (CCNet-style corpus-relative
    //    quality): per-token cost quantized to integer micro-nats
    //    BEFORE the per-doc sum — exact integer aggregation, no
    //    float-sum-order surface (see UnigramLm.scala; measured
    //    .5-boundary margin ≥0.02 vs a ≤2e-10 libm gap). ────────────
    Q("d28_unigram_nll",
      (s, d) => graft.text.UnigramLm.surprisal(
        Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($sqlToks) AS tok
            FROM documents),
          cf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf
            FROM toks GROUP BY 1),
          n AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM cf),
          per AS (SELECT doc_id, CAST(round(1e6 *
              ln(CAST(n AS DOUBLE) / cf)) AS BIGINT) AS c
            FROM toks JOIN cf USING (tok) CROSS JOIN n),
          agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(c) AS BIGINT) AS nll_micro
            FROM per GROUP BY 1)
        SELECT doc_id, n_tokens, nll_micro,
          nll_micro / 1e6 / n_tokens AS avg_nll
        FROM agg ORDER BY doc_id""")),

    // ── §7.5 count-min sketch heavy hitters: the mergeable d·w
    //    sketch (4×1024) built in one map-side-combined groupBy;
    //    top-20 exact terms get their sketch estimates (est ≥ exact
    //    by construction; the overestimate IS part of the verified
    //    output — same portable universal-hash family as m03, so the
    //    oracle rebuilds the identical sketch). ──────────────────────
    Q("q27_cms_heavy",
      (s, d) => {
        val cached = graft.CacheTracker.persistTracked(
          Tables.documents(s, d)
            .select(explode(Text.tokens(col("text"))).as("tok")))
        val sk = graft.functions.CountMin.sketch(cached, "tok")
        val top = cached.groupBy("tok")
          .agg(count(lit(1)).cast("long").as("exact"))
          .orderBy(col("exact").desc, col("tok")).limit(20)
        graft.functions.CountMin.estimate(sk, top, "tok")
          .join(top, "tok")
          .select(col("tok").as("term"), col("exact"),
            col("est").cast("long").as("est"))
          .orderBy(col("exact").desc, col("term"))
      },
      Some(s"""WITH toks AS (SELECT unnest($sqlToks) AS tok
            FROM documents),
          ab AS (SELECT j,
              ('0x' || substr(md5('a:' || j), 1, 15))::BIGINT
                % 1000000006 + 1 AS a,
              ('0x' || substr(md5('b:' || j), 1, 15))::BIGINT
                % 1000000007 AS b
            FROM range(0, 4) t(j)),
          cms AS (SELECT j,
              ((a * (('0x' || substr(md5(tok), 1, 15))::BIGINT
                  % 1000000007) + b) % 1000000007) % 1024 AS b2,
              CAST(count(*) AS BIGINT) AS c
            FROM toks CROSS JOIN ab GROUP BY 1, 2),
          ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact
            FROM toks GROUP BY 1
            ORDER BY exact DESC, tok LIMIT 20),
          est AS (SELECT tok, min(c) AS est
            FROM (SELECT ex.tok, j,
                ((a * (('0x' || substr(md5(ex.tok), 1, 15))::BIGINT
                    % 1000000007) + b) % 1000000007) % 1024 AS b2
              FROM ex CROSS JOIN ab) q
            JOIN cms USING (j, b2) GROUP BY 1)
        SELECT ex.tok AS term, exact, CAST(est AS BIGINT) AS est
        FROM ex JOIN est USING (tok)
        ORDER BY exact DESC, term""")),

    // ── §7.5 BM25 ranked retrieval — the scoring upgrade over
    //    q06/q21's raw-tf rank. One codegen tokenize scan → slim
    //    (id, len, tf) projection; corpus stats are a 1-row broadcast;
    //    TakeOrderedAndProject. Integer-valued inputs make every
    //    aggregate order-independent-exact; oracle mirrors the IEEE
    //    dag textually (see Bm25.scala). ──────────────────────────────
    Q("q26_bm25",
      (s, d) => graft.text.Bm25.score(Tables.documentsSpread(s, d),
        col("text"), Seq("spark", "join"), 20),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t FROM documents),
          f AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS len,
              CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE) AS tf0,
              CAST(len(list_filter(t, x -> x = 'join')) AS DOUBLE) AS tf1
            FROM toks),
          st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
              avg(len) AS avgdl,
              CAST(count(*) FILTER (WHERE tf0 > 0) AS DOUBLE) AS df0,
              CAST(count(*) FILTER (WHERE tf1 > 0) AS DOUBLE) AS df1
            FROM f)
        SELECT doc_id, round(
            ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1 + 1.2)
              / (tf0 + 1.2 * (1 - 0.75 + 0.75 * len / avgdl))
          + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1 + 1.2)
              / (tf1 + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 4)
            AS score
        FROM f CROSS JOIN st
        WHERE tf0 > 0 OR tf1 > 0
        ORDER BY score DESC, doc_id LIMIT 20""")),

    // ── §7.5 quantized ANN: int8 scalar quantization (floor(x·127/
    //    max|x| + 0.5), bit-identical in both engines) → integer-dot
    //    candidate top-80 → exact-cosine rerank top-20. qdot is exact
    //    integer; sim mirrors v01's rounded form. ────────────────────
    Q("v05_quantized_rerank",
      (s, d) => Vectors.quantizedTopK(Tables.embeddings(s, d),
        "embedding", col("vec_id") === 0, k = 20, candidates = 80),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
        m AS (SELECT vec_id, v,
            list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        q AS (SELECT vec_id, v,
            CASE WHEN ma = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v,
                x -> CAST(floor(x * (127.0 / ma) + 0.5) AS BIGINT))
            END AS qv
          FROM m),
        a AS (SELECT qv AS aq, v AS av FROM q WHERE vec_id = 0),
        cand AS (SELECT vec_id, v, av,
            CAST(list_dot_product(CAST(qv AS DOUBLE[]),
              CAST(aq AS DOUBLE[])) AS BIGINT) AS qdot
          FROM q CROSS JOIN a
          ORDER BY qdot DESC, vec_id LIMIT 80)
        SELECT vec_id, qdot,
          round(list_dot_product(v, av) /
            (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(av, av))),
            4) AS sim
        FROM cand ORDER BY sim DESC, vec_id LIMIT 20""")),

    // ── §2.6-at-scale: skew-salted join — each user_id's events are
    //    spread over 8 shuffle partitions (salt = hash of the unique
    //    event_id), customer dim replicated ×8; the aggregate proves
    //    the salted join ≡ the plain join (the oracle IS the plain
    //    join). floor(value·100) keeps the sum exact-integer. ────────
    Q("q24_skew_salted_join",
      (s, d) => graft.state.Layout.saltedEquiJoin(
        Tables.events(s, d), Tables.customer(s, d),
        col("user_id"), col("c_custkey"), col("event_id"), salts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(floor(col("value") * 100).cast("long")).cast("long")
            .as("cents"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment,
          CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            AS cents
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1 ORDER BY 1""")),

    // ── §7.5 unicode normalization (native NormalizeText expression —
    //    Spark has no builtin; a UDF would break codegen). The corpus
    //    is ASCII (the expression's fast path), so the row appends a
    //    combining-sequence suffix ("cafe" + U+0301: é as TWO
    //    codepoints) to make NFC observable: char count drops by 1 and
    //    the md5 changes. Oracle = DuckDB nfc_normalize over the same
    //    construction. ───────────────────────────────────────────────
    Q("d21_nfc_normalize",
      (s, d) => {
        // " cafe" + COMBINING ACUTE (U+0301) — the decomposed form,
        // written as an escape so source-editor NFC can't corrupt it
        val aug = concat(col("text"), lit(" cafe\u0301"))
        Tables.documents(s, d)
          .select(col("doc_id"),
            length(aug).cast("long").as("n_raw"),
            length(graft.functions.NormalizeText.normalizeText(aug))
              .cast("long").as("n_nfc"),
            md5(graft.functions.NormalizeText.normalizeText(aug))
              .as("fp"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          CAST(length(text || ' cafe' || chr(769)) AS BIGINT) AS n_raw,
          CAST(length(nfc_normalize(text || ' cafe' || chr(769)))
            AS BIGINT) AS n_nfc,
          md5(nfc_normalize(text || ' cafe' || chr(769))) AS fp
        FROM documents ORDER BY doc_id""")),

    // ── §2.5/§7.5 multi-level aggregation (ROLLUP / grouping sets):
    //    the corpus-report shape — per (type, month), per type, and
    //    grand total in ONE pass. Spark plans rollup as a single
    //    Expand + hash aggregate (no re-scan per level); `grouping()`
    //    disambiguates rollup-NULL from data-NULL. Value sums are
    //    quantized to cents PER ROW before summing (exact integer
    //    aggregation, no float-order surface — d28 pattern). ─────────
    Q("q28_rollup",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          date_format(col("ts"), "yyyy-MM").as("month"),
          round(col("value") * 100, 0).cast("long").as("__cents"))
        .rollup("event_type", "month")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("__cents")).as("value_cents"),
          grouping(col("event_type")).as("__g1"),
          grouping(col("month")).as("__g2"))
        .select(
          when(col("__g1") === 1, lit("ALL"))
            .otherwise(col("event_type")).as("event_type"),
          when(col("__g2") === 1, lit("ALL"))
            .otherwise(col("month")).as("month"),
          col("n"), col("value_cents"))
        .orderBy("event_type", "month"),
      Some("""WITH b AS (SELECT event_type,
            strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
            CAST(round(value * 100, 0) AS BIGINT) AS cents
          FROM events)
        SELECT
          CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
               ELSE event_type END AS event_type,
          CASE WHEN GROUPING(month) = 1 THEN 'ALL'
               ELSE month END AS month,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(cents) AS BIGINT) AS value_cents
        FROM b GROUP BY ROLLUP (event_type, month)
        ORDER BY event_type, month""")),

    // ── §7.5 link-graph centrality (PageRank, 5 power iterations):
    //    the source-quality weight corpus curation ranks domains by.
    //    Graph = the symmetrized supplier↔part bipartite graph from
    //    lineitem (distinct pairs; every node has in+out edges by
    //    construction). Exact integer micro-unit arithmetic → the
    //    oracle unrolls the same 5 iterations in SQL and matches
    //    bit-for-bit. See LinkGraph.scala for the per-iteration
    //    shuffle budget. ──────────────────────────────────────────────
    Q("q29_pagerank",
      (s, d) => {
        // symmetrize via explode, not union-of-two-branches: one pass
        // over the 600k-row distinct (a union would execute the
        // distinct subtree twice or need its own persist)
        val edges = Tables.lineitem(s, d)
          .select(col("l_suppkey").cast("long").as("sk"),
            col("l_partkey").cast("long").as("pk"))
          .distinct()
          .select(explode(array(
            struct(concat(lit("s:"), col("sk")).as("src"),
              concat(lit("p:"), col("pk")).as("dst")),
            struct(concat(lit("p:"), col("pk")).as("src"),
              concat(lit("s:"), col("sk")).as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        graft.graph.LinkGraph.pageRank(edges, iters = 5)
          .orderBy("node")
      },
      Some("""WITH e0 AS (SELECT DISTINCT
            CAST(l_suppkey AS BIGINT) AS sk,
            CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
        edges AS (SELECT 's:' || sk AS src, 'p:' || pk AS dst FROM e0
          UNION ALL SELECT 'p:' || pk, 's:' || sk FROM e0),
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        er AS (SELECT e.src, e.dst, d.outdeg
          FROM edges e JOIN deg d USING (src)),
        r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr
          FROM deg),
        r1 AS (SELECT er.dst AS node,
            CAST(150000 + (85 * sum(r.pr // er.outdeg)) // 100
              AS BIGINT) AS pr
          FROM er JOIN r0 r ON r.node = er.src GROUP BY 1),
        r2 AS (SELECT er.dst AS node,
            CAST(150000 + (85 * sum(r.pr // er.outdeg)) // 100
              AS BIGINT) AS pr
          FROM er JOIN r1 r ON r.node = er.src GROUP BY 1),
        r3 AS (SELECT er.dst AS node,
            CAST(150000 + (85 * sum(r.pr // er.outdeg)) // 100
              AS BIGINT) AS pr
          FROM er JOIN r2 r ON r.node = er.src GROUP BY 1),
        r4 AS (SELECT er.dst AS node,
            CAST(150000 + (85 * sum(r.pr // er.outdeg)) // 100
              AS BIGINT) AS pr
          FROM er JOIN r3 r ON r.node = er.src GROUP BY 1),
        r5 AS (SELECT er.dst AS node,
            CAST(150000 + (85 * sum(r.pr // er.outdeg)) // 100
              AS BIGINT) AS pr
          FROM er JOIN r4 r ON r.node = er.src GROUP BY 1)
        SELECT node, pr FROM r5 ORDER BY node""")),

    // ── §2.7/§2.11 CDC changelog → SCD2 dimension history: collapse
    //    per-user no-op event_type repeats, interval-ize the changes
    //    ([valid_from, valid_to)), version them. Two key-partitioned
    //    windows, one key shuffle — no global sort, no self-join. ────
    Q("q30_scd2",
      (s, d) => graft.state.Scd.scd2History(Tables.events(s, d),
        keyCol = "user_id", stateCol = "event_type",
        tsCol = "ts", tieCol = "event_id")
        .orderBy("user_id", "version"),
      Some("""WITH e AS (SELECT user_id, event_type, event_id,
            CAST(ts AS TIMESTAMP) AS ts FROM events),
          ch AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS pt FROM e),
          k AS (SELECT user_id, event_type, ts, event_id FROM ch
            WHERE pt IS NULL OR pt <> event_type),
          v AS (SELECT user_id, event_type,
              CAST(row_number() OVER w AS BIGINT) AS version,
              strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
              coalesce(strftime(lead(ts) OVER w,
                '%Y-%m-%d %H:%M:%S'), 'current') AS valid_to,
              lead(ts) OVER w IS NULL AS is_current
            FROM k WINDOW w AS (PARTITION BY user_id
              ORDER BY ts, event_id))
        SELECT user_id, version, event_type, valid_from, valid_to,
          is_current
        FROM v ORDER BY user_id, version""")),

    // ── §7.5 product quantization ADC (Jégou et al. 2011) — the
    //    billion-scale companion to IVF (v02): encode every vector as
    //    m=8 nibble codes against sampled per-subspace codebooks
    //    (vec_id < 16 — bounded collect, stand-in for kmeansFit-
    //    trained books), then rank by asymmetric distance to the
    //    vec_id-0 query via m integer table lookups per row. The
    //    query's distance tables are micro-quantized driver-side, so
    //    the scan does ZERO float math and the aggregate is exact
    //    integer addition (d28 trick). Codes verify the encoder,
    //    adist_micro verifies ADC. ───────────────────────────────────
    Q("v10_pq_adc",
      (s, d) => {
        val emb = Tables.embeddingsSpread(s, d)
        val cbs = Vectors.pqCodebooksFrom(emb, "embedding", "vec_id",
          dim = 64, m = 8, k = 16)
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head()
          .getSeq[Float](0).map(_.toDouble)
        emb.withColumn("__codes", Vectors.pqCodes(col("embedding"), cbs))
          .select(col("vec_id"),
            concat_ws("-", transform(col("__codes"),
              c => c.cast("string"))).as("codes"),
            Vectors.pqAdcMicro(col("__codes"), q, cbs)
              .cast("long").as("adist_micro"))
          .orderBy(col("adist_micro").asc, col("vec_id").asc)
          .limit(20)
      },
      Some("""WITH cb AS (SELECT s.s AS sub, c.vec_id AS j,
            list_transform(range(1, 9),
              i -> CAST(c.embedding[s.s * 8 + i] AS DOUBLE)) AS cw
          FROM range(0, 8) s(s) CROSS JOIN embeddings c
          WHERE c.vec_id < 16),
        dv AS (SELECT v.vec_id, cb.sub, cb.j,
            list_dot_product(
              list_transform(range(1, 9), i ->
                CAST(v.embedding[cb.sub * 8 + i] AS DOUBLE) - cb.cw[i]),
              list_transform(range(1, 9), i ->
                CAST(v.embedding[cb.sub * 8 + i] AS DOUBLE) - cb.cw[i]))
              AS dist
          FROM embeddings v CROSS JOIN cb),
        codes AS (SELECT vec_id, sub, j AS code FROM (
            SELECT vec_id, sub, j, row_number() OVER (
              PARTITION BY vec_id, sub ORDER BY dist, j) AS rk
            FROM dv) q WHERE rk = 1),
        qt AS (SELECT sub, j,
            CAST(round(1e6 * dist) AS BIGINT) AS dm
          FROM dv WHERE vec_id = 0),
        ad AS (SELECT c.vec_id,
            CAST(sum(qt.dm) AS BIGINT) AS adist_micro,
            string_agg(CAST(c.code AS VARCHAR), '-'
              ORDER BY c.sub) AS codes
          FROM codes c JOIN qt ON qt.sub = c.sub AND qt.j = c.code
          GROUP BY 1)
        SELECT vec_id, codes, adist_micro
        FROM ad ORDER BY adist_micro, vec_id LIMIT 20""")),

    // ── §7.5 hybrid retrieval: RRF fusion (Cormack et al. 2009) of a
    //    BM25 lexical top-30 and a dense cosine top-30 over the same
    //    id space. Ranks derive from ROUNDED scores + id tie-breaks
    //    (identical integer ranks in both engines); the fused score
    //    is a fixed IEEE dag over the pivoted ranks, never a float
    //    sum() aggregate. Rank assignment uses the distributed
    //    range-sort path (no single-partition window). ──────────────
    Q("q31_hybrid_rrf",
      (s, d) => {
        val lex = graft.query.Rank.globalRowNumber(
          graft.text.Bm25.score(Tables.documentsSpread(s, d), col("text"),
            Seq("spark", "join"), 30),
          Seq(col("score").desc, col("doc_id").asc))
          .select(col("doc_id").as("id"), col("rank"))
        val emb = Tables.embeddings(s, d)
        val anchor = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("a_emb"))
        val dense = graft.query.Rank.globalRowNumber(
          emb.crossJoin(broadcast(anchor))
            .select(col("vec_id"),
              round(Vectors.cosine(col("embedding"), col("a_emb")), 4)
                .as("sim"))
            .orderBy(col("sim").desc, col("vec_id").asc)
            .limit(30),
          Seq(col("sim").desc, col("vec_id").asc))
          .select(col("vec_id").as("id"), col("rank"))
        graft.text.Retrieval.rrfFuse(Seq(lex, dense), "id", k = 20)
          .select(col("id").as("doc_id"), col("rank_0").as("r_lex"),
            col("rank_1").as("r_dense"), col("rrf"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t FROM documents),
          f AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS len,
              CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE) AS tf0,
              CAST(len(list_filter(t, x -> x = 'join')) AS DOUBLE) AS tf1
            FROM toks),
          st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
              avg(len) AS avgdl,
              CAST(count(*) FILTER (WHERE tf0 > 0) AS DOUBLE) AS df0,
              CAST(count(*) FILTER (WHERE tf1 > 0) AS DOUBLE) AS df1
            FROM f),
          lex AS (SELECT doc_id, row_number() OVER
              (ORDER BY score DESC, doc_id) AS r
            FROM (SELECT doc_id, round(
                ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1 + 1.2)
                  / (tf0 + 1.2 * (1 - 0.75 + 0.75 * len / avgdl))
              + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1 + 1.2)
                  / (tf1 + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 4)
                AS score
              FROM f CROSS JOIN st
              WHERE tf0 > 0 OR tf1 > 0
              ORDER BY score DESC, doc_id LIMIT 30)),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
          a AS (SELECT v AS av FROM e WHERE vec_id = 0),
          dense AS (SELECT vec_id, row_number() OVER
              (ORDER BY sim DESC, vec_id) AS r
            FROM (SELECT vec_id, round(list_dot_product(v, av) /
                  (sqrt(list_dot_product(v, v))
                    * sqrt(list_dot_product(av, av))), 4) AS sim
              FROM e CROSS JOIN a
              ORDER BY sim DESC, vec_id LIMIT 30))
        SELECT coalesce(l.doc_id, de.vec_id) AS doc_id,
          CAST(l.r AS BIGINT) AS r_lex,
          CAST(de.r AS BIGINT) AS r_dense,
          round(coalesce(CAST(1 AS DOUBLE) / (60 + l.r),
              CAST(0 AS DOUBLE))
            + coalesce(CAST(1 AS DOUBLE) / (60 + de.r),
              CAST(0 AS DOUBLE)), 6) AS rrf
        FROM lex l FULL JOIN dense de ON l.doc_id = de.vec_id
        ORDER BY rrf DESC, doc_id LIMIT 20""")),

    // ── §7.5 incremental view maintenance: fold month-batches of
    //    events through the partials view (state.Incremental) — the
    //    refresh that costs O(batch), never O(history). The oracle is
    //    the FULL-TABLE aggregate: incremental ≡ full recompute is
    //    exactly the row's claim (integer cents ⇒ combine-order-
    //    free). Month list is a bounded driver collect (the batch
    //    boundary is the operator's INPUT, not data-sized). ─────────
    Q("q32_incremental_agg",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("__m", date_format(col("ts"), "yyyy-MM"))
          .withColumn("__cents",
            round(col("value") * 100, 0).cast("long"))
        val months = ev.select("__m").distinct()
          .collect().map(_.getString(0)).sorted
        val batches = months.map(m => ev.filter(col("__m") === m)).toSeq
        graft.state.Incremental.refreshAll(batches, Seq("event_type"),
          col("__cents"))
          .select(col("event_type"), col("n"),
            col("total").as("value_cents"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
            AS value_cents
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ── §7.5 snapshot diff: change set between the events state 30
    //    days ago (latest-wins per user at the cutoff) and now —
    //    added / removed / changed via slim (key, md5) frames
    //    (state.Diff). Fingerprints use integer cents so both engines
    //    stringify identically. ────────────────────────────────────
    Q("q33_snapshot_diff",
      (s, d) => {
        val ev = Tables.events(s, d)
        val cut = ev.agg(
          (max(col("ts")) - expr("INTERVAL 30 DAYS")).as("__cut"))
        val oldSnap = Merge.latestWins(
          ev.crossJoin(broadcast(cut)).filter(col("ts") <= col("__cut")),
          Seq("user_id"), col("ts"), Seq(col("event_id")))
        val newSnap = Merge.latestWins(ev, Seq("user_id"), col("ts"),
          Seq(col("event_id")))
        val cmp = Seq(col("event_id"),
          round(col("value") * 100, 0).cast("long"))
        graft.state.Diff.snapshotDiff(oldSnap, newSnap, Seq("user_id"),
          cmp).orderBy("user_id")
      },
      Some("""WITH cut AS (SELECT max(CAST(ts AS TIMESTAMP))
            - INTERVAL 30 DAY AS c FROM events),
          oldv AS (SELECT user_id,
              md5(CAST(event_id AS VARCHAR) || chr(1)
                || CAST(CAST(round(value * 100, 0) AS BIGINT)
                  AS VARCHAR)) AS old_fp
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC)
                AS rn
              FROM events, cut WHERE CAST(ts AS TIMESTAMP) <= cut.c)
            WHERE rn = 1),
          newv AS (SELECT user_id,
              md5(CAST(event_id AS VARCHAR) || chr(1)
                || CAST(CAST(round(value * 100, 0) AS BIGINT)
                  AS VARCHAR)) AS new_fp
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC)
                AS rn FROM events)
            WHERE rn = 1)
        SELECT coalesce(o.user_id, n.user_id) AS user_id,
          CASE WHEN o.old_fp IS NULL THEN 'added'
               WHEN n.new_fp IS NULL THEN 'removed'
               WHEN o.old_fp <> n.new_fp THEN 'changed' END AS change,
          o.old_fp, n.new_fp
        FROM oldv o FULL JOIN newv n ON o.user_id = n.user_id
        WHERE o.old_fp IS NULL OR n.new_fp IS NULL
          OR o.old_fp <> n.new_fp
        ORDER BY user_id""")),

    // ── §7.5 markup strip: HTML→text cleaning (tags → entity decode
    //    → whitespace collapse, Text.stripMarkup). Synthetic markup
    //    wrapped per row so the strip is provably active (the d13
    //    pattern); chain order mirrored verbatim in the oracle. ─────
    Q("d34_markup_strip",
      (s, d) => {
        val aug = concat(lit("<div id=\"d"),
          col("doc_id").cast("string"), lit("\"><p>"), col("text"),
          lit("</p>&nbsp;<a href=\"http://x.com/?a=1&amp;b=2\">" +
            "link &lt;here&gt;</a></div>"))
        Tables.documents(s, d)
          .withColumn("__aug", aug)
          .withColumn("__clean", Text.stripMarkup(col("__aug")))
          .select(col("doc_id"),
            size(regexp_extract_all(col("__aug"),
              lit(Text.markupTagPattern), lit(0)))
              .cast("long").as("n_tags"),
            length(col("__clean")).cast("long").as("clean_len"),
            md5(col("__clean")).as("clean_fp"))
        // no ORDER BY: order-insensitive compare; zero-shuffle plan
      },
      Some("""WITH aug AS (SELECT doc_id,
            '<div id="d' || CAST(doc_id AS VARCHAR) || '"><p>' || text
              || '</p>&nbsp;<a href="http://x.com/?a=1&amp;b=2">'
              || 'link &lt;here&gt;</a></div>' AS s
          FROM documents),
        cln AS (SELECT doc_id, s,
            trim(regexp_replace(
              replace(replace(replace(replace(replace(replace(
                regexp_replace(s, '<[^>]*>', ' ', 'g'),
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
              '\s+', ' ', 'g')) AS c
          FROM aug)
        SELECT doc_id,
          CAST(len(regexp_extract_all(s, '<[^>]*>', 0)) AS BIGINT)
            AS n_tags,
          CAST(length(c) AS BIGINT) AS clean_len,
          md5(c) AS clean_fp
        FROM cln""")),

    // ── §7.5 matryoshka retrieval: candidate top-80 on the FIRST 16
    //    dims (cosine renormalizes the prefix), exact full-dim rerank
    //    top-20 — the v05 two-stage shape trading dims for bits. ────
    Q("v11_matryoshka",
      (s, d) => Vectors.matryoshkaTopK(Tables.embeddings(s, d),
        "embedding", col("vec_id") === 0, prefixDims = 16, k = 20,
        candidates = 80),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
          a AS (SELECT v AS av, list_slice(v, 1, 16) AS ap
            FROM e WHERE vec_id = 0),
          scored AS (SELECT vec_id, v, av,
              round(list_dot_product(p, ap) /
                (sqrt(list_dot_product(p, p))
                  * sqrt(list_dot_product(ap, ap))), 4) AS psim
            FROM (SELECT vec_id, v, av, ap,
                list_slice(v, 1, 16) AS p FROM e CROSS JOIN a)),
          cand AS (SELECT * FROM scored
            ORDER BY psim DESC, vec_id LIMIT 80)
        SELECT vec_id, psim,
          round(list_dot_product(v, av) / (sqrt(list_dot_product(v, v))
            * sqrt(list_dot_product(av, av))), 4) AS sim
        FROM cand ORDER BY sim DESC, vec_id LIMIT 20""")),

    // ── §7.5 mergeable percentile sketch: approx_percentile (exact-
    //    rank-bounded GK sketch — the partition-mergeable path exact
    //    sort-percentiles (d18) don't have) next to the exact values.
    //    q22 pattern: exact columns hash-verify against quantile_cont;
    //    the sketch output is asserted against the sketch's ACTUAL
    //    contract — RANK error ≤ n/accuracy (+1 slop for the
    //    discrete/interpolated boundary), not a value-space
    //    tolerance: on sparse data adjacent order statistics can sit
    //    arbitrarily far apart in VALUE while the sketch is rank-
    //    perfect (a 50-cent value bound flagged a correct sketch at
    //    sf0.001). The returned element's attributable rank interval
    //    [count(<)+1, count(≤)] must intersect [p·n − b, p·n + b].
    //    The rank recount is one broadcast join (group list is tiny)
    //    + a second map-side-combined pass. ──────────────────────────
    Q("d35_approx_percentile",
      (s, d) => {
        val cents = round(col("value") * 100, 0).cast("long")
        val accuracy = 10000
        val ev = Tables.events(s, d).withColumn("__c", cents)
        // both the rank recount and the final join read ag
        val ag = graft.CacheTracker.persistTracked(
          ev.groupBy("event_type")
            .agg(
              expr("percentile(__c, array(0.5D, 0.95D))").as("__p"),
              expr(s"approx_percentile(__c, array(0.5D, 0.95D), " +
                s"$accuracy)").as("__a"),
              count(lit(1)).cast("long").as("__n")))
        val ranks = ev
          .join(broadcast(ag.select(col("event_type"), col("__a"))),
            "event_type")
          .groupBy("event_type")
          .agg(
            sum(when(col("__c") < element_at(col("__a"), 1), 1L)
              .otherwise(0L)).as("__lt50"),
            sum(when(col("__c") <= element_at(col("__a"), 1), 1L)
              .otherwise(0L)).as("__le50"),
            sum(when(col("__c") < element_at(col("__a"), 2), 1L)
              .otherwise(0L)).as("__lt95"),
            sum(when(col("__c") <= element_at(col("__a"), 2), 1L)
              .otherwise(0L)).as("__le95"))
        def rankOk(lt: org.apache.spark.sql.Column,
                   le: org.apache.spark.sql.Column,
                   p: Double): org.apache.spark.sql.Column = {
          val target = col("__n").cast("double") * p
          val bound = col("__n").cast("double") / accuracy + 1.0
          (le.cast("double") >= target - bound) &&
            ((lt.cast("double") + 1.0) <= target + bound)
        }
        ag.join(ranks, "event_type")
          .select(col("event_type"),
            round(element_at(col("__p"), 1), 4).as("p50_cents"),
            round(element_at(col("__p"), 2), 4).as("p95_cents"),
            rankOk(col("__lt50"), col("__le50"), 0.5).as("p50_ok"),
            rankOk(col("__lt95"), col("__le95"), 0.95).as("p95_ok"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
          round(quantile_cont(CAST(round(value * 100, 0) AS BIGINT),
            0.5), 4) AS p50_cents,
          round(quantile_cont(CAST(round(value * 100, 0) AS BIGINT),
            0.95), 4) AS p95_cents,
          TRUE AS p50_ok, TRUE AS p95_ok
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ── §7.5 data-quality expectations (quality.Expectations): null /
    //    range / domain / duplicate-key counters in ONE map-side-
    //    combined aggregate scan. Corruption is injected
    //    deterministically (the d13 pattern) so every counter is
    //    provably active; all outputs exact integers. ───────────────
    Q("d36_data_quality",
      (s, d) => {
        import graft.quality.Expectations.{report, Check}
        val ev = Tables.events(s, d)
          .withColumn("value",
            when(pmod(col("event_id"), lit(97)) === 0,
              lit(null).cast("double"))
              .when(pmod(col("event_id"), lit(89)) === 0, -col("value"))
              .otherwise(col("value")))
          .withColumn("event_type",
            when(pmod(col("event_id"), lit(101)) === 0, lit("bogus"))
              .otherwise(col("event_type")))
        val dups = ev.filter(pmod(col("event_id"), lit(500)) === 0)
        report(ev.unionByName(dups), Seq(
          Check("null_value", col("value").isNull, nullIsBad = false),
          Check("neg_value", col("value") < 0, nullIsBad = false),
          Check("bad_type", !col("event_type").isin(
            "click", "view", "purchase", "signup", "error"))),
          uniqueKeys = Seq("event_id"))
      },
      Some("""WITH ev0 AS (SELECT event_id,
            CASE WHEN event_id % 97 = 0 THEN NULL
                 WHEN event_id % 89 = 0 THEN -value
                 ELSE value END AS value,
            CASE WHEN event_id % 101 = 0 THEN 'bogus'
                 ELSE event_type END AS event_type
          FROM events),
        ev AS (SELECT * FROM ev0
          UNION ALL SELECT * FROM ev0 WHERE event_id % 500 = 0)
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS null_value,
          CAST(sum(CASE WHEN (value < 0) IS TRUE THEN 1 ELSE 0 END)
            AS BIGINT) AS neg_value,
          CAST(sum(CASE WHEN coalesce(NOT event_type IN ('click',
            'view', 'purchase', 'signup', 'error'), TRUE)
            THEN 1 ELSE 0 END) AS BIGINT) AS bad_type,
          CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT)
            AS dup_event_id,
          CAST(count(*) - count(event_id) AS BIGINT)
            AS nullkey_event_id
        FROM ev""")),

    // ── §7.5 graph: triangle counting via the degree-ordered
    //    node-iterator (graph.Triangles — the clustering-density
    //    signal next to q29's PageRank). Edges: user u clicked on
    //    user k's content (props.$.k), symmetrized+deduped. The
    //    oracle enumerates triangles naively (orientation-free
    //    a<b<c triple join) — the triangle SET is plan-independent,
    //    which is exactly what makes the degree-ordered plan safe to
    //    grade against it. ────────────────────────────────────────────
    Q("q34_triangles",
      (s, d) => graft.graph.Triangles.perNode(
        Tables.events(s, d)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("src"),
            get_json_object(col("props"), "$.k").cast("long")
              .as("dst")))
        .select(col("node").cast("long").as("user_id"),
          col("n_triangles"))
        .orderBy("user_id"),
      Some("""WITH raw AS (SELECT user_id AS s,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS t
          FROM events WHERE event_type = 'click'),
        e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
          FROM raw WHERE s <> t),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        corners AS (SELECT x AS n FROM tri
          UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        SELECT n AS user_id, CAST(count(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY 1 ORDER BY 1""")),

    // ── §7.5 URL canonicalization (Text.canonicalizeUrl): the
    //    normalization web-crawl pipelines key URL-dedup on. Messy
    //    URLs injected per doc_id (the d13 synthetic-input pattern)
    //    so every rule — scheme/host case, www, default port,
    //    tracking params, param order, fragment, trailing slash — is
    //    provably exercised; the oracle mirrors the chain step for
    //    step. ──────────────────────────────────────────────────────
    Q("d37_url_canon",
      (s, d) => {
        val id = col("doc_id")
        val messy = concat(
          when(pmod(id, lit(2)) === 0, lit("HTTPS://"))
            .otherwise(lit("http://")),
          when(pmod(id, lit(3)) === 0, lit("WWW.")).otherwise(lit("")),
          lit("Example-"), pmod(id, lit(50)), lit(".COM"),
          when(pmod(id, lit(2)) === 0, lit(":443")).otherwise(lit(":80")),
          lit("/Path/"), pmod(id, lit(7)),
          when(pmod(id, lit(5)) === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&b="), pmod(id, lit(3)),
          lit("&utm_campaign=x&a="), pmod(id, lit(4)),
          when(pmod(id, lit(4)) === 0, lit("&fbclid=abc123"))
            .otherwise(lit("")),
          lit("#sec-"), pmod(id, lit(9)))
        Tables.documents(s, d)
          .select(id, messy.as("url_raw"))
          .select(id, col("url_raw"),
            Text.canonicalizeUrl(col("url_raw")).as("url_canon"))
          .withColumn("host",
            regexp_extract(col("url_canon"), "://([^:/?]*)", 1))
          .orderBy("doc_id")
      },
      Some("""WITH u0 AS (SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://'
                  ELSE 'http://' END)
            || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
            || 'Example-' || (doc_id % 50) || '.COM'
            || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
            || '/Path/' || (doc_id % 7)
            || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
            || '?utm_source=feed&b=' || (doc_id % 3)
            || '&utm_campaign=x&a=' || (doc_id % 4)
            || (CASE WHEN doc_id % 4 = 0 THEN '&fbclid=abc123'
                ELSE '' END)
            || '#sec-' || (doc_id % 9) AS url_raw
          FROM documents),
        s1 AS (SELECT doc_id, url_raw,
            regexp_replace(url_raw, '#.*$', '') AS nf FROM u0),
        s2 AS (SELECT doc_id, url_raw,
            regexp_replace(nf, '\?.*$', '') AS base,
            coalesce(regexp_extract(nf, '\?(.*)$', 1), '') AS q
          FROM s1),
        s3 AS (SELECT doc_id, url_raw, q,
            regexp_replace(regexp_replace(regexp_replace(
              lower(regexp_extract(base,
                '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1)),
              '^(https?://)www\.', '\1'),
              '^(http://.*):80$', '\1'),
              '^(https://.*):443$', '\1') AS auth,
            regexp_replace(base,
              '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', '') AS path0
          FROM s2),
        s4 AS (SELECT doc_id, url_raw, auth,
            CASE WHEN length(path0) > 1
              THEN regexp_replace(path0, '/$', '') ELSE path0
            END AS path,
            array_to_string(list_sort(list_filter(
              string_split(q, '&'),
              p -> p <> '' AND NOT starts_with(p, 'utm_')
                AND NOT starts_with(p, 'fbclid=')
                AND NOT starts_with(p, 'gclid='))), '&') AS qc
          FROM s3)
        SELECT doc_id, url_raw,
          auth || path
            || (CASE WHEN qc <> '' THEN '?' || qc ELSE '' END)
            AS url_canon,
          regexp_extract(auth || path, '://([^:/?]*)', 1) AS host
        FROM s4 ORDER BY doc_id""")),

    // ── §7.5 multimodal: perceptual average-hash over REAL decoded
    //    PNG pixels (Multimodal.imageAHash) — image near-dup keying
    //    without embeddings. All-integer area-binned 8×8 aHash, so
    //    the oracle recomputes the exact 64 bits from the fixture's
    //    pixel formula; the Spark side reads them from the decoded
    //    image (true codec roundtrip, mm03's proof shape). ──────────
    Q("mm05_image_ahash",
      (s, d) => {
        val media = graft.multimodal.Multimodal.syntheticPngMedia(
          Tables.mediaIds(s, d))(s)
        graft.multimodal.Multimodal.imageAHash(media)(s)
          .orderBy("media_id")
      },
      Some("""WITH dims AS (SELECT doc_id, 16 + doc_id % 32 AS w,
            8 + doc_id % 16 AS h FROM documents),
        px AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y,
            (doc_id + xs.x) % 256 + (doc_id*7 + ys.y) % 256
              + (xs.x*ys.y + doc_id) % 256 AS s
          FROM dims, range(48) xs(x), range(24) ys(y)
          WHERE xs.x < w AND ys.y < h),
        tot AS (SELECT doc_id, sum(s) AS total, count(*) AS n
          FROM px GROUP BY 1),
        cells AS (SELECT doc_id, (y*8)//h AS j, (x*8)//w AS i,
            sum(s) AS cs, count(*) AS cc
          FROM px GROUP BY 1, 2, 3),
        bits AS (SELECT c.doc_id, j, i,
            CASE WHEN c.cs * t.n > t.total * c.cc THEN '1' ELSE '0'
            END AS b
          FROM cells c JOIN tot t USING (doc_id))
        SELECT doc_id AS media_id, true AS decoded,
          string_agg(b, '' ORDER BY j, i) AS ahash_bits
        FROM bits GROUP BY 1 ORDER BY media_id""")),

    // ── §7.5 Gopher-style quality gate (Rae et al. 2021 table A1):
    //    word-count / mean-word-length / alpha-fraction / stopword
    //    rules restated in exact integer arithmetic (Text.gopherStats)
    //    so the oracle hash-compares without float rounding. One
    //    codegen pass, no shuffle. ─────────────────────────────────
    Q("d38_gopher_rules",
      (s, d) => Tables.documentsSpread(s, d)
        .withColumn("__toks", Text.tokens(col("text")))
        .withColumn("__g", Text.gopherStats(col("__toks")))
        .select(col("doc_id"), col("__g.n_words").as("n_words"),
          col("__g.n_chars").as("n_chars"),
          col("__g.n_alpha").as("n_alpha"),
          col("__g.stop_hits").as("stop_hits"),
          col("__g.passes").as("passes"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS tk FROM documents),
          g AS (SELECT doc_id,
            CAST(len(tk) AS BIGINT) AS n_words,
            CAST(coalesce(list_sum(list_transform(tk,
              x -> length(x))), 0) AS BIGINT) AS n_chars,
            CAST(len(list_filter(tk,
              x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
            CAST(len(list_filter(
              ['the','and','of','to','a','in','is','that'],
              w -> list_contains(tk, w))) AS BIGINT) AS stop_hits
          FROM t)
        SELECT doc_id, n_words, n_chars, n_alpha, stop_hits,
          (n_words BETWEEN 50 AND 100000
            AND 3*n_words <= n_chars AND n_chars <= 10*n_words
            AND 5*n_alpha >= 4*n_words AND stop_hits >= 2) AS passes
        FROM g ORDER BY doc_id""")),

    // ── §2.7 extension: frame-spec windows (ROWS BETWEEN) — rolling
    //    sum/count + running total per user, the per-key sequence
    //    features a training pipeline derives from event streams.
    //    Monetary doubles restated as integer cents so the window
    //    sums hash-compare exactly. One hash-shuffle on user_id; the
    //    frame itself is a per-partition sorted scan (no extra
    //    exchange), so the plan is shuffle → sort → window at any
    //    scale. ───────────────────────────────────────────────────
    Q("q35_rolling_metrics",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("__cents",
            round(col("value") * 100, 0).cast("long"))
          .withColumn("win_sum_cents",
            sum("__cents").over(w.rowsBetween(-3, Window.currentRow)))
          .withColumn("win_n",
            count(lit(1)).over(w.rowsBetween(-3, Window.currentRow)))
          .withColumn("run_sum_cents",
            sum("__cents").over(
              w.rowsBetween(Window.unboundedPreceding,
                Window.currentRow)))
          .select(col("event_id"), col("user_id"),
            col("win_sum_cents"), col("win_n"), col("run_sum_cents"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id,
            CAST(ts AS TIMESTAMP) AS ts,
            CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        SELECT event_id, user_id,
          CAST(sum(cents) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)
            AS win_sum_cents,
          CAST(count(*) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)
            AS win_n,
          CAST(sum(cents) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_sum_cents
        FROM e ORDER BY event_id""")),

    // ── §2.5 extension: pivot (wide per-key feature vector from a
    //    long event log). The EXPLICIT values list skips the
    //    distinct-values collect job (an extra full pass + driver
    //    round-trip with implicit pivot). Plan audit: per-(user,type)
    //    partial aggregate → user-level pivot aggregate, both
    //    map-side combined — the second shuffle carries only
    //    |users×types| rows, so the corpus is read and reduced
    //    exactly once at any scale. ─────────────────────────────────
    Q("q36_pivot",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id"),
      Some("""SELECT user_id,
          CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS click,
          CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS error,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS purchase,
          CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
            AS BIGINT) AS signup,
          CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            AS BIGINT) AS view
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // ── §7.5 blocked edit-distance record linkage: block on the
    //    first TWO tokens, verify with Levenshtein over a 60-char
    //    prefix — the entity-resolution candidate-only shape (one
    //    equi-shuffle on the block key; per-block O(b²) verification
    //    on slim (id, prefix) rows; never all-pairs, never the full
    //    body). The block key must stay SELECTIVE: one token over
    //    this ~40-word vocabulary puts 2.5% of the corpus in every
    //    block (417k candidates at sf0.1, and per-block b grows with
    //    the corpus); two tokens keep blocks O(1)-sized (14k
    //    candidates). Both engines use the textbook Levenshtein, so
    //    distances hash-compare exactly. ────────────────────────────
    Q("d39_fuzzy_blocked_pairs",
      (s, d) => Dedup.blockedEditDistancePairs(
        Tables.documentsSpread(s, d), "text", "doc_id",
        blockToks = 2, prefixLen = 60, maxDist = 30)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH t AS (SELECT doc_id,
            array_to_string(list_slice($sqlToks, 1, 2), ' ') AS blk,
            substr(text, 1, 60) AS pfx
          FROM documents)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
        FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.pfx, b.pfx) <= 30
        ORDER BY id_a, id_b""")),

    // ── §2.12 custom Aggregator (UDAF surface): bounded top-k with
    //    k-entries-per-group partial state — same semantics as q19's
    //    window form (shared oracle), different machinery: the
    //    map-side combine ships ≤ k rows per group per partition,
    //    and the Aggregator API is what reaches top-k-shaped state
    //    where a window filter can't (typed agg pipelines,
    //    mapGroupsWithState). ───────────────────────────────────────
    Q("q37_topk_aggregator",
      (s, d) => {
        val topk = graft.functions.TopKAgg.topK(3)
        Tables.orders(s, d)
          .groupBy("o_orderstatus")
          .agg(topk(col("o_totalprice"),
            col("o_orderkey").cast("long")).as("tk"))
          .select(col("o_orderstatus"),
            posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("o_orderstatus"),
            (col("pos") + 1).cast("long").as("rk"),
            col("t._2").as("o_orderkey"),
            col("t._1").as("o_totalprice"))
          .orderBy("o_orderstatus", "rk")
      },
      Some("""SELECT o_orderstatus, CAST(rk AS BIGINT) AS rk,
          CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice
        FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders)
        WHERE rk <= 3 ORDER BY o_orderstatus, rk""")),

    // ── §2.5 extension: unpivot/melt — the inverse of q36, wide
    //    feature columns back to long form (`DataFrame.unpivot`,
    //    Expand-based: one pass over the wide frame, rows × values
    //    output, no join). The oracle restates the semantics
    //    relationally (user × type grid, zero-filled). ─────────────
    Q("q38_unpivot",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val wide = Tables.events(s, d)
          .groupBy("user_id").pivot("event_type", types)
          .agg(count(lit(1))).na.fill(0L)
        wide.unpivot(Array(col("user_id")), types.map(col).toArray,
            "event_type", "n")
          .orderBy("user_id", "event_type")
      },
      Some("""WITH c AS (SELECT user_id, event_type,
            CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
          u AS (SELECT DISTINCT user_id FROM events),
          t AS (SELECT unnest(
            ['click','error','purchase','signup','view']) AS event_type)
        SELECT u.user_id, t.event_type,
          CAST(coalesce(c.n, 0) AS BIGINT) AS n
        FROM u CROSS JOIN t
        LEFT JOIN c ON c.user_id = u.user_id
          AND c.event_type = t.event_type
        ORDER BY u.user_id, t.event_type""")),

    // ── §3.1 extension: SQL-string front door with correlated
    //    subqueries — `spark.sql` over registered views; Catalyst's
    //    RewritePredicateSubquery decorrelates EXISTS / NOT EXISTS
    //    into left-semi / left-anti joins (no per-row subquery
    //    execution at any scale). ──────────────────────────────────
    Q("q39_exists_subquery",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer_v")
        Tables.orders(s, d).createOrReplaceTempView("orders_v")
        s.sql("""SELECT c_custkey, c_name FROM customer_v c
          WHERE EXISTS (SELECT 1 FROM orders_v o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 200000)
            AND NOT EXISTS (SELECT 1 FROM orders_v o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderstatus = 'F'
                AND o.o_totalprice > 300000)
          ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > 200000)
          AND NOT EXISTS (SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderstatus = 'F'
              AND o.o_totalprice > 300000)
        ORDER BY c_custkey""")),

    // ── §7.5 weighted sampling WITHOUT replacement (Efraimidis–
    //    Spirakis A-ES): keep the k docs with the largest
    //    u_i^(1/w_i), u_i = the portable md5 draw, w_i = token count.
    //    One distributed top-k — orderBy(ln(u)/w desc).limit(k)
    //    compiles to TakeOrderedAndProject (per-partition heaps, no
    //    full sort, no shuffle beyond k·partitions rows) — the
    //    training-mix shape d23's per-row Bernoulli can't give you: a
    //    FIXED-SIZE sample with inclusion probability ∝ weight.
    //    ln is monotone so ordering by ln(u)/w == ordering by
    //    u^(1/w); both engines evaluate ln over the same doubles (the
    //    q26 BM25 lesson: shared-input IEEE dags reproduce), and the
    //    selection boundary at rank k sits ~1/n_docs of key-space
    //    away from its neighbor — not a rounding-parity surface. The
    //    key itself is never emitted. ─────────────────────────────────
    Q("d40_weighted_sample",
      // evalOnce: weightedTopK filters on the weight AND keys the
      // heap on it — without the barrier the pushed filter + key +
      // output evaluated the tokenizer 3x (PlanGuardSpec finding)
      (s, d) => graft.functions.Sampling.weightedTopK(
          graft.query.Predicates.evalOnce(
            Tables.documents(s, d), Seq(col("doc_id")),
            "n_tokens" -> Text.tokenCount(col("text"))),
          col("n_tokens"), col("doc_id"), k = 50, seedTag = "es")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, n_tokens FROM (
          SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS n_tokens,
            ln((('0x' || substr(md5('es#' || CAST(doc_id AS VARCHAR)),
                  1, 15))::BIGINT + 1.0) / 1152921504606846976.0)
              / CAST(len($sqlToks) AS BIGINT) AS key
          FROM documents
          WHERE len($sqlToks) > 0
          ORDER BY key DESC, doc_id LIMIT 50)
        ORDER BY doc_id""")),

    // ── §7.5 ANN quality EVALUATION as an operator: recall@20 of the
    //    IVF index (v02) against the exact scan (v01), swept over
    //    nprobe 1..3 — the measurement that decides an index's probe
    //    budget before a 100 TB rollout. The assignment table is
    //    computed once (lazy tracked persist, the LSH-builder
    //    pattern); each probe setting is a centroid-pruned top-k
    //    semi-joined against the broadcast 20-row truth set. Exact
    //    integer outputs (hit counts). ───────────────────────────────
    Q("v12_ivf_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val centroids = emb.filter(col("vec_id") < 8)
          .select("vec_id", "embedding")
          .collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toSeq))
          .sortBy(_._1).toSeq // layout-independent centroid order
        val query = centroids.find(_._1 == 1).get._2
        val exact = Vectors.topKCosine(emb, "embedding", query, 20)
          .select(col("vec_id"))
        val assigned = graft.CacheTracker.persistTracked(
          Vectors.ivfAssign(emb, "embedding", centroids))
        (1 to 3).map { np =>
          Vectors.ivfTopK(assigned, "embedding", centroids, query,
              k = 20, nprobe = np)
            .join(broadcast(exact), Seq("vec_id"), "left_semi")
            .agg(count(lit(1)).cast("long").as("n_hits"))
            .select(lit(np.toLong).as("nprobe"), col("n_hits"),
              lit(20L).as("k"))
        }.reduce(_.unionAll(_)).orderBy("nprobe")
      },
      Some("""WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        q AS (SELECT cv AS qv FROM c WHERE cid = 1),
        cos AS (SELECT e.vec_id, e.v, c.cid,
            list_dot_product(e.v, c.cv) /
              (sqrt(list_dot_product(e.v, e.v)) *
               sqrt(list_dot_product(c.cv, c.cv))) AS sim
          FROM e CROSS JOIN c),
        assigned AS (SELECT vec_id, v, cid AS cluster FROM cos
          QUALIFY row_number() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, cid DESC) = 1),
        exact AS (SELECT e.vec_id FROM e CROSS JOIN q
          ORDER BY list_dot_product(e.v, q.qv) /
              (sqrt(list_dot_product(e.v, e.v)) *
               sqrt(list_dot_product(q.qv, q.qv))) DESC, e.vec_id
          LIMIT 20),
        prank AS (SELECT c.cid, row_number() OVER (ORDER BY
            list_dot_product(c.cv, q.qv) /
              (sqrt(list_dot_product(c.cv, c.cv)) *
               sqrt(list_dot_product(q.qv, q.qv))) DESC, c.cid) AS rn
          FROM c CROSS JOIN q),
        np AS (SELECT unnest(range(1, 4)) AS nprobe),
        scored AS (SELECT a.vec_id, a.cluster,
            list_dot_product(a.v, q.qv) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(q.qv, q.qv))) AS sim_q
          FROM assigned a CROSS JOIN q),
        ivf AS (SELECT np.nprobe, s.vec_id,
            row_number() OVER (PARTITION BY np.nprobe
              ORDER BY s.sim_q DESC, s.vec_id) AS rk
          FROM np
          JOIN prank p ON p.rn <= np.nprobe
          JOIN scored s ON s.cluster = p.cid)
        SELECT CAST(nprobe AS BIGINT) AS nprobe,
          CAST(count(*) FILTER (WHERE vec_id IN
            (SELECT vec_id FROM exact)) AS BIGINT) AS n_hits,
          CAST(20 AS BIGINT) AS k
        FROM ivf WHERE rk <= 20
        GROUP BY nprobe ORDER BY nprobe""")),

    // ── §2.5/§7.5 GROUPING SETS — the general multi-dimensional agg
    //    surface beyond q28's ROLLUP lattice: the user picks the
    //    exact slices ((event_type), (month), ()) and Spark's Expand
    //    replicates each input row once per set BEFORE the single
    //    hash aggregate — one shuffle carrying |sets|·|groups|
    //    partials, never a second pass over the fact table. ──────────
    Q("q40_grouping_sets",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          date_format(col("ts"), "yyyy-MM").as("month"),
          round(col("value") * 100, 0).cast("long").as("__cents"))
        .groupingSets(
          Seq(Seq(col("event_type")), Seq(col("month")), Seq.empty),
          col("event_type"), col("month"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("__cents")).as("value_cents"),
          grouping(col("event_type")).as("__g1"),
          grouping(col("month")).as("__g2"))
        .select(
          when(col("__g1") === 1, lit("ALL"))
            .otherwise(col("event_type")).as("event_type"),
          when(col("__g2") === 1, lit("ALL"))
            .otherwise(col("month")).as("month"),
          col("n"), col("value_cents"))
        .orderBy("event_type", "month"),
      Some("""WITH b AS (SELECT event_type,
            strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
            CAST(round(value * 100, 0) AS BIGINT) AS cents
          FROM events)
        SELECT
          CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
               ELSE event_type END AS event_type,
          CASE WHEN GROUPING(month) = 1 THEN 'ALL'
               ELSE month END AS month,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(cents) AS BIGINT) AS value_cents
        FROM b GROUP BY GROUPING SETS ((event_type), (month), ())
        ORDER BY event_type, month""")),

    // ── §7.5 time-decayed scoring (recency-weighted leaderboard):
    //    score = Σ cents · 2^(26 − age_weeks) — a half-life of one
    //    week, restated so every term is an EXACT integer (powers of
    //    two ≤ 2^53 are exact doubles; cents·2^26 < 2^44; the long
    //    sum is exact and order-independent — no float-summation
    //    parity risk, the q28 cents lesson applied to decay). Anchor
    //    date is plan-literal. One user_id hash agg (map-side
    //    partials) → top-20 TakeOrderedAndProject. ───────────────────
    Q("q41_decay_topk",
      (s, d) => Tables.events(s, d)
        .select(col("user_id"),
          round(col("value") * 100, 0).cast("long").as("__cents"),
          least(lit(26L), greatest(lit(0L),
            expr("datediff(DATE'2024-07-01', to_date(ts)) DIV 7")
              .cast("long"))).as("__aw"))
        .groupBy("user_id")
        .agg(sum((col("__cents") *
            pow(lit(2.0d), lit(26L) - col("__aw"))).cast("long"))
          .as("score_micro"),
          count(lit(1)).cast("long").as("n_events"))
        .orderBy(col("score_micro").desc, col("user_id").asc)
        .limit(20),
      Some("""SELECT user_id,
          CAST(sum(CAST(cents * power(2, 26 - aw) AS BIGINT))
            AS BIGINT) AS score_micro,
          CAST(count(*) AS BIGINT) AS n_events
        FROM (SELECT user_id,
            CAST(round(value * 100, 0) AS BIGINT) AS cents,
            least(26, greatest(0,
              datediff('day', CAST(ts AS DATE), DATE '2024-07-01')
                // 7)) AS aw
          FROM events)
        GROUP BY user_id
        ORDER BY score_micro DESC, user_id LIMIT 20""")),

    // ── §7.5 conversion funnel (ordered sequential pattern):
    //    view → click-after-view → purchase-after-click, earliest
    //    qualifying event per stage. Three user_id hash aggregates
    //    chained by joins ON THE SAME KEY — one partitioning reused
    //    end-to-end (no re-shuffle between stages under AQE); each
    //    stage's survivor set only shrinks. Exact integer micro
    //    timestamps. ─────────────────────────────────────────────────
    Q("q42_funnel",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("us").as("t1"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("us") > col("t1"))
          .groupBy("user_id").agg(min("us").as("t2"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("us") > col("t2"))
          .groupBy("user_id").agg(min("us").as("t3"))
        Seq(v -> "1_view", c -> "2_click", p -> "3_purchase").map {
          case (df, st) =>
            df.agg(count(lit(1)).cast("long").as("n_users"))
              .select(lit(st).as("stage"), col("n_users"))
        }.reduce(_.unionAll(_)).orderBy("stage")
      },
      Some("""WITH e AS (SELECT user_id, event_type,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
          v AS (SELECT user_id, min(us) AS t1 FROM e
            WHERE event_type = 'view' GROUP BY 1),
          c AS (SELECT e.user_id, min(us) AS t2 FROM e
            JOIN v USING (user_id)
            WHERE event_type = 'click' AND us > t1 GROUP BY 1),
          p AS (SELECT e.user_id, min(us) AS t3 FROM e
            JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
        SELECT * FROM (
          SELECT '1_view' AS stage,
            CAST(count(*) AS BIGINT) AS n_users FROM v
          UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
          UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT)
            FROM p)
        ORDER BY stage""")),

    // ── §7.5 EXACT set-similarity join (prefix filtering, the
    //    AllPairs/PPJoin family): every pair with 3-shingle Jaccard
    //    ≥ 4/5, recall = 1 by CONSTRUCTION (pigeonhole over the
    //    rarest-first global ordering — see Dedup Scaladoc), not by
    //    LSH probability. Oracle = the all-pairs truth enumeration,
    //    so equality proves both zero false positives AND zero false
    //    negatives. Exact integer outputs. ───────────────────────────
    Q("d41_prefix_join_pairs",
      (s, d) => Dedup.prefixFilterJoinPairs(Tables.documentsSpread(s, d),
          "text", "doc_id", shingleN = 3, tNum = 4, tDen = 5)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          shing AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(t) - 2, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 2), ' '))))
            AS s FROM toks),
          sizes AS (SELECT doc_id, count(*) AS n FROM shing
            GROUP BY 1),
          inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
              count(*) AS i
            FROM shing a JOIN shing b
              ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT ia AS id_a, ib AS id_b, CAST(i AS BIGINT) AS n_inter,
          CAST(na.n + nb.n - i AS BIGINT) AS n_union
        FROM inter
        JOIN sizes na ON na.doc_id = ia
        JOIN sizes nb ON nb.doc_id = ib
        WHERE i * 5 >= (na.n + nb.n - i) * 4
        ORDER BY 1, 2""")),

    // ── §7.5 containment join (subset-duplicate / boilerplate
    //    detection): pairs whose SMALLER shingle set is 9/10-
    //    contained in the other — the asymmetric criterion Jaccard
    //    misses (a doc embedded verbatim in a longer one). Asymmetric
    //    prefix scheme: probe prefixes against the FULL shingle
    //    index; recall 1 by construction (see Dedup Scaladoc).
    //    Oracle = all-pairs containment enumeration. ─────────────────
    Q("d42_containment_pairs",
      (s, d) => Dedup.containmentJoinPairs(Tables.documentsSpread(s, d),
          "text", "doc_id", shingleN = 3, tNum = 9, tDen = 10)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          shing AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(t) - 2, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 2), ' '))))
            AS s FROM toks),
          sizes AS (SELECT doc_id, count(*) AS n FROM shing
            GROUP BY 1),
          inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
              count(*) AS i
            FROM shing a JOIN shing b
              ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT ia AS id_a, ib AS id_b, CAST(i AS BIGINT) AS n_inter,
          CAST(least(na.n, nb.n) AS BIGINT) AS n_min
        FROM inter
        JOIN sizes na ON na.doc_id = ia
        JOIN sizes nb ON nb.doc_id = ib
        WHERE i * 10 >= least(na.n, nb.n) * 9
        ORDER BY 1, 2""")),

    // ── §7.5 image near-dup pairs: 4×16-bit banding over the mm05
    //    perceptual aHash, exact Hamming ≤ 3 verification — the m02
    //    SimHash scheme applied to the IMAGE plane (any pair within
    //    Hamming 3 of a 64-bit hash shares one of 4 bands by
    //    pigeonhole — recall guaranteed). Verification is two
    //    xor+bit_count ops over the hash halves, pure codegen; the
    //    banding shuffle carries (16-char key, id) only, never
    //    pixels. Oracle recomputes the aHash from the synthetic
    //    pixel formula and enumerates all pairs. ─────────────────────
    Q("mm06_image_neardup",
      (s, d) => {
        val media = graft.multimodal.Multimodal.syntheticPngMedia(
          Tables.mediaIds(s, d))(s)
        // the production banded near-dup operator (pigeonhole recall,
        // 4 bands over the 8×8 hash); the 16×16 form is the corpus-
        // scale path past the measured ~1M-image band-keyspace floor
        graft.multimodal.Multimodal.imageNeardupPairs(
          media, maxHamming = 3, gridW = 8, gridH = 8)(s)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH dims AS (SELECT doc_id, 16 + doc_id % 32 AS w,
            8 + doc_id % 16 AS h FROM documents),
        px AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y,
            (doc_id + xs.x) % 256 + (doc_id*7 + ys.y) % 256
              + (xs.x*ys.y + doc_id) % 256 AS s
          FROM dims, range(48) xs(x), range(24) ys(y)
          WHERE xs.x < w AND ys.y < h),
        tot AS (SELECT doc_id, sum(s) AS total, count(*) AS n
          FROM px GROUP BY 1),
        cells AS (SELECT doc_id, (y*8)//h AS j, (x*8)//w AS i,
            sum(s) AS cs, count(*) AS cc
          FROM px GROUP BY 1, 2, 3),
        bits AS (SELECT c.doc_id, j, i,
            CASE WHEN c.cs * t.n > t.total * c.cc THEN '1' ELSE '0'
            END AS b
          FROM cells c JOIN tot t USING (doc_id)),
        hsh AS (SELECT doc_id, string_agg(b, '' ORDER BY j, i) AS hb
          FROM bits GROUP BY 1),
        p AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
            len(list_filter(range(1, 65),
              k -> substr(a.hb, k, 1) <> substr(b.hb, k, 1))) AS ham
          FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id)
        SELECT ia AS id_a, ib AS id_b, CAST(ham AS BIGINT) AS hamming
        FROM p WHERE ham <= 3 ORDER BY 1, 2""")),

    // ── §2.5/§7.5 cohort retention (the classic retention triangle):
    //    cohort = a user's first activity week; cell (cohort, offset)
    //    counts distinct users active `offset` weeks later. Two
    //    user_id hash aggs chained by a same-key join (the q42
    //    partitioning-reuse shape) + one distinct-count agg. Exact
    //    integer week arithmetic from a plan-literal epoch. ──────────
    Q("q43_cohort_retention",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"),
          expr("datediff(to_date(ts), DATE'2024-01-01') DIV 7")
            .cast("long").as("wk"))
        val cohort = ev.groupBy("user_id")
          .agg(min("wk").as("cohort_wk"))
        ev.join(cohort, "user_id")
          .groupBy(col("cohort_wk"),
            (col("wk") - col("cohort_wk")).as("offset_wk"))
          .agg(count_distinct(col("user_id")).cast("long")
            .as("n_active"))
          .orderBy("cohort_wk", "offset_wk")
      },
      Some("""WITH e AS (SELECT user_id,
            datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
              AS wk FROM events),
          c AS (SELECT user_id, min(wk) AS cohort_wk FROM e
            GROUP BY 1)
        SELECT c.cohort_wk, e.wk - c.cohort_wk AS offset_wk,
          CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        FROM e JOIN c USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── §7.5 corpus novelty score (saturation measurement for crawl
    //    scheduling): per doc, the fraction of its shingles FIRST
    //    seen in that doc (first = min doc_id over the corpus). One
    //    shingle-key agg (map-side combined min) + one join back —
    //    the d31 exploded-table shape; exact integer outputs. Docs
    //    with no shingles drop out on both sides (explode/unnest). ──
    Q("d43_novelty",
      (s, d) => {
        // persist the ARRAY table, not the exploded one: project
        // collapse inlines the shingle dag into explode's generator
        // and duplicates the tokenizer per HOF site (16 split() dags
        // in the physical plan vs 2 — measured 8 s vs 1.8 s at
        // sf0.1; the d41 lesson resurfacing through Generate)
        val sets = graft.CacheTracker.persistTracked(
          Tables.documents(s, d)
            .withColumn("__toks", Text.tokens(col("text")))
            .select(col("doc_id"), array_distinct(
              Text.wordShingles(col("__toks"), 3)).as("sh")))
        val ex = sets.select(col("doc_id"), explode(col("sh")).as("tk"))
        val first = ex.groupBy("tk").agg(min("doc_id").as("first_id"))
        ex.join(first, "tk")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_shingles"),
            count(when(col("first_id") === col("doc_id"), 1))
              .cast("long").as("n_novel"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          shing AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(t) - 2, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 2), ' '))))
            AS s FROM toks),
          first AS (SELECT s, min(doc_id) AS fid FROM shing
            GROUP BY 1)
        SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
          CAST(count(*) FILTER (WHERE f.fid = sh.doc_id) AS BIGINT)
            AS n_novel
        FROM shing sh JOIN first f ON f.s = sh.s
        GROUP BY 1 ORDER BY 1""")),

    // ── §2.7/§7.5 time-RANGE window frames (q35's ROWS sibling):
    //    per event, the trailing-hour sum/count for its user —
    //    `RANGE BETWEEN 3600s PRECEDING AND CURRENT ROW` over integer
    //    epoch-micros. RANGE frames include ALL peers at equal
    //    timestamps, so the result is deterministic without a
    //    tie-break sort key (the property ROWS frames lack). One
    //    user_id exchange; the frame is computed inside the
    //    per-partition sort. ─────────────────────────────────────────
    Q("q44_range_frame",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"))
          .rangeBetween(-3600000000L, Window.currentRow)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"),
            round(col("value") * 100, 0).cast("long").as("__cents"))
          .withColumn("hour_cents", sum("__cents").over(w))
          .withColumn("hour_n", count(lit(1)).over(w).cast("long"))
          .select("event_id", "user_id", "hour_cents", "hour_n")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
          CAST(sum(cents) OVER w AS BIGINT) AS hour_cents,
          CAST(count(*) OVER w AS BIGINT) AS hour_n
        FROM (SELECT event_id, user_id,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us,
            CAST(round(value * 100, 0) AS BIGINT) AS cents
          FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY us
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // ── §7.5 IVF-PQ (Jégou et al. 2011, the canonical billion-scale
    //    ANN index): coarse quantizer = v02's IVF assignment; PQ
    //    codes computed on the RESIDUAL v − centroid(cluster) (the
    //    residual trick that makes 8-bit codes usable); the query
    //    builds one integer-micro ADC table PER PROBED CLUSTER from
    //    its own query residual. Per row the probe is m integer
    //    lookups over 1-byte codes — vectors are never read at query
    //    time, and the cluster column partition-prunes the scan.
    //    Codebooks are the first-16 residual sub-vectors (plan-
    //    deterministic, v10's convention) so the oracle replays
    //    assignment, residuals, codes, probe set, and ADC tables
    //    exactly; per-cell micro rounding BEFORE summation keeps the
    //    distance an exact integer. ──────────────────────────────────
    Q("v13_ivfpq_adc",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val centroids = emb.filter(col("vec_id") < 8)
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toSeq))
          .toSeq.sortBy(_._1)
        val query = centroids.find(_._1 == 1).get._2.map(_.toDouble)
        val centArr = array(centroids.map { case (_, c) =>
          array(c.map(x => lit(x.toDouble)): _*) }: _*)
        val assigned = graft.CacheTracker.persistTracked(
          Vectors.ivfAssign(emb, "embedding", centroids)
            .withColumn("__res", zip_with(col("embedding"),
              element_at(centArr, col("cluster") + 1),
              (v, c) => v.cast("double") - c)))
        val cbRows = assigned.filter(col("vec_id") < 16)
          .select(col("vec_id"), col("__res")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
        val cbs: Seq[Seq[Seq[Double]]] = (0 until 8).map(sb =>
          (0 until 16).map(j => cbRows(j.toLong)
            .slice(sb * 8, sb * 8 + 8)))
        def cos(a: Seq[Float], b: Seq[Double]): Double = {
          val dd = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
          val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
          val nb = math.sqrt(b.map(y => y * y).sum)
          if (na == 0 || nb == 0) 0.0 else dd / (na * nb)
        }
        val probed = centroids.sortBy { case (cid, c) =>
          (-cos(c, query), cid) }.take(3)
        // ONE scan over the probed clusters: the ADC tables for all
        // probed clusters ship as a cluster-indexed literal, so the
        // giant PQ-code expression compiles once (the 3-branch union
        // formulation codegen'd it per branch — 7.9 s vs 2 s)
        val qtBySub: Seq[Seq[Seq[Long]]] = (0 until 8).map { sb =>
          (0 until 8).map { cid =>
            probed.find(_._1 == cid) match {
              case Some((_, c)) =>
                val qr = query.zip(c)
                  .map { case (x, y) => x - y.toDouble }
                val qSub = qr.slice(sb * 8, sb * 8 + 8)
                cbs(sb).map { cw =>
                  var dd = 0.0; var i = 0
                  while (i < 8) {
                    val x = qSub(i) - cw(i); dd += x * x; i += 1
                  }
                  math.round(1e6 * dd)
                }
              case None => Seq.fill(16)(0L)
            }
          }
        }
        val adist = (0 until 8).map { sb =>
          element_at(element_at(typedLit(qtBySub(sb)),
            col("cluster") + 1), element_at(col("__codes"), sb + 1) + 1)
        }.reduce(_ + _)
        assigned
          .filter(col("cluster").isin(probed.map(_._1): _*))
          .withColumn("__codes", Vectors.pqCodes(col("__res"), cbs))
          .select(col("vec_id"), col("cluster"),
            adist.cast("long").as("adist_micro"))
          .orderBy(col("adist_micro").asc, col("vec_id").asc)
          .limit(20)
      },
      Some("""WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        q AS (SELECT cv AS qv FROM c WHERE cid = 1),
        cosm AS (SELECT e.vec_id, e.v, c.cid,
            list_dot_product(e.v, c.cv) /
              (sqrt(list_dot_product(e.v, e.v)) *
               sqrt(list_dot_product(c.cv, c.cv))) AS sim
          FROM e CROSS JOIN c),
        assigned AS (SELECT vec_id, v, cid AS cluster FROM cosm
          QUALIFY row_number() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, cid DESC) = 1),
        res AS (SELECT a.vec_id, a.cluster,
            list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS r
          FROM assigned a JOIN c ON c.cid = a.cluster),
        cb AS (SELECT s.s AS sub, r16.vec_id AS j,
            list_transform(range(1, 9), i -> r16.r[s.s * 8 + i]) AS cw
          FROM range(0, 8) s(s) CROSS JOIN
            (SELECT vec_id, r FROM res WHERE vec_id < 16) r16),
        dv AS (SELECT res.vec_id, cb.sub, cb.j,
            list_dot_product(
              list_transform(range(1, 9),
                i -> res.r[cb.sub * 8 + i] - cb.cw[i]),
              list_transform(range(1, 9),
                i -> res.r[cb.sub * 8 + i] - cb.cw[i])) AS dist
          FROM res CROSS JOIN cb),
        codes AS (SELECT vec_id, sub, j AS code FROM (
            SELECT vec_id, sub, j, row_number() OVER (
              PARTITION BY vec_id, sub ORDER BY dist, j) AS rk
            FROM dv) t WHERE rk = 1),
        probe AS (SELECT cid, cv FROM (
            SELECT c.cid, c.cv, row_number() OVER (ORDER BY
              list_dot_product(c.cv, q.qv) /
                (sqrt(list_dot_product(c.cv, c.cv)) *
                 sqrt(list_dot_product(q.qv, q.qv))) DESC, c.cid)
              AS rn
            FROM c CROSS JOIN q) t WHERE rn <= 3),
        qres AS (SELECT p.cid,
            list_transform(range(1, 65), i -> q.qv[i] - p.cv[i]) AS qr
          FROM probe p CROSS JOIN q),
        qt AS (SELECT qres.cid, cb.sub, cb.j,
            CAST(round(1e6 * list_dot_product(
              list_transform(range(1, 9),
                i -> qres.qr[cb.sub * 8 + i] - cb.cw[i]),
              list_transform(range(1, 9),
                i -> qres.qr[cb.sub * 8 + i] - cb.cw[i])))
              AS BIGINT) AS dm
          FROM qres CROSS JOIN cb)
        SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
          adist_micro
        FROM (SELECT r.vec_id, r.cluster,
            CAST(sum(qt.dm) AS BIGINT) AS adist_micro
          FROM res r
          JOIN codes co ON co.vec_id = r.vec_id
          JOIN qt ON qt.cid = r.cluster AND qt.sub = co.sub
            AND qt.j = co.code
          GROUP BY 1, 2
          ORDER BY adist_micro, r.vec_id LIMIT 20)
        ORDER BY adist_micro, vec_id""")),

    // ── §7.5 join-key skew profile: the diagnostic that decides
    //    WHEN the q24 salted join is needed — per-key counts rolled
    //    into one row of distribution facts (rows, keys, hottest
    //    key, p50/p99 key size, and max/mean as an exact-integer
    //    percentage). Two aggregates, map-side combined; the profile
    //    runs on the would-be join key BEFORE committing a join
    //    strategy at scale. ──────────────────────────────────────────
    Q("q45_skew_profile",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .agg(sum("n").cast("long").as("n_rows"),
          count(lit(1)).cast("long").as("n_keys"),
          max("n").cast("long").as("max_n"),
          expr("percentile(n, array(0.5D, 0.99D))").as("__p"))
        .select(col("n_rows"), col("n_keys"), col("max_n"),
          round(element_at(col("__p"), 1), 4).as("p50_n"),
          round(element_at(col("__p"), 2), 4).as("p99_n"),
          expr("max_n * n_keys * 100 DIV n_rows")
            .as("skew_max_over_mean_pct")),
      Some("""WITH kc AS (SELECT user_id, count(*) AS n FROM events
            GROUP BY 1)
        SELECT CAST(sum(n) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_keys,
          CAST(max(n) AS BIGINT) AS max_n,
          round(quantile_cont(n, 0.5), 4) AS p50_n,
          round(quantile_cont(n, 0.99), 4) AS p99_n,
          CAST(max(n) AS BIGINT) * count(*) * 100
            // CAST(sum(n) AS BIGINT) AS skew_max_over_mean_pct
        FROM kc""")),

    // ── §7.5 INCREMENTAL near-dup: today's arrivals (doc_id ≡ 0
    //    mod 7 plays the delta batch) probed against the existing
    //    corpus with the m01 LSH construction, asymmetric banding
    //    join — the continuously-ingesting pipeline's shape, where
    //    the corpus side is a persisted signature table and the
    //    probe cost is O(delta). Oracle = the m01 ground-truth pair
    //    set restricted to pairs touching the delta (recall 1 at
    //    these band parameters, same argument as m01). ──────────────
    Q("d44_incremental_neardup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.minhashLshProbe(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "text", "doc_id", shingleN = 3, k = 32, bands = 8,
          threshold = 0.2, seed = 42L)
          .orderBy("new_id", "old_id")
      },
      Some(s"""WITH $sqlTruthPairs
        SELECT CASE WHEN ia % 7 = 0 THEN ia ELSE ib END AS new_id,
          CASE WHEN ia % 7 = 0 THEN ib ELSE ia END AS old_id,
          CAST(i AS BIGINT) AS n_inter, CAST(u AS BIGINT) AS n_union
        FROM truth WHERE ia % 7 = 0 OR ib % 7 = 0
        ORDER BY 1, 2""")),

    // ── §7.5 CCNet-style inter-document segment dedup: segments
    //    (16-token non-overlapping windows — this corpus's stand-in
    //    for lines) appearing verbatim in ≥2 distinct docs are
    //    boilerplate; drop them and rebuild each doc from the
    //    survivors. One explode → one fingerprint-keyed distinct-doc
    //    count → one join back; reconstruction is per-doc-bounded.
    //    clean_fp = md5 of the rebuilt text keeps the row compact. ──
    Q("d45_segment_dedup",
      (s, d) => Dedup.segmentDedup(Tables.documents(s, d),
        "text", "doc_id", segTokens = 16, minDocs = 2)
        .select(col("id").as("doc_id"), col("n_segments"),
          col("n_removed"), md5(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          starts AS (SELECT doc_id,
            unnest(range(1, len(t) + 1, 16)) AS st, t
            FROM toks WHERE len(t) >= 1),
          segs AS (SELECT doc_id, CAST((st - 1) // 16 AS BIGINT) AS pos,
            array_to_string(list_slice(t, st, st + 15), ' ') AS seg
            FROM starts),
          dup AS (SELECT seg FROM segs GROUP BY 1
            HAVING count(DISTINCT doc_id) >= 2),
          j AS (SELECT s.doc_id, s.pos, s.seg,
            d.seg IS NOT NULL AS is_dup
            FROM segs s LEFT JOIN dup d USING (seg)),
          agg AS (SELECT doc_id, CAST(count(*) AS BIGINT)
              AS n_segments,
            CAST(count(*) FILTER (WHERE is_dup) AS BIGINT)
              AS n_removed,
            md5(coalesce(string_agg(seg, ' ' ORDER BY pos)
              FILTER (WHERE NOT is_dup), '')) AS clean_fp
          FROM j GROUP BY 1)
        -- LEFT JOIN from toks: zero-token docs still emit a row
        -- (n_segments 0, empty-text fingerprint) — a rebuild returns
        -- EVERY input doc
        SELECT t.doc_id,
          CAST(coalesce(a.n_segments, 0) AS BIGINT) AS n_segments,
          CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed,
          coalesce(a.clean_fp, md5('')) AS clean_fp
        FROM toks t LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id""")),

    // ── §7.4 exact PHRASE search over the positional inverted
    //    index: each phrase term's posting list equi-joins the first
    //    term's on (id, pos − offset) — O(Σ posting lists), never
    //    O(corpus); the term filter bucket-prunes under the q21
    //    bucketed layout. Oracle = consecutive-token scan over the
    //    same tokenization. ─────────────────────────────────────────
    Q("q46_phrase_search",
      (s, d) => graft.text.InvertedIndex.phraseSearch(
        graft.text.InvertedIndex.buildPositional(
          Tables.documents(s, d), "text", "doc_id"),
        Seq("big", "order", "scan"))
        .select(col("id").as("doc_id"), col("n_matches"))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          m AS (SELECT doc_id, CAST(len(list_filter(
              range(1, greatest(len(t) - 2, 0) + 1),
              i -> t[i] = 'big' AND t[i + 1] = 'order'
                AND t[i + 2] = 'scan')) AS BIGINT) AS n_matches
            FROM toks)
        SELECT doc_id, n_matches FROM m WHERE n_matches > 0
        ORDER BY doc_id""")),

    // ── §7.5 bounded graph traversal: min-hop BFS (3 hops from user
    //    1 over the q34 click edges). One frontier×edges equi-join +
    //    one visited anti-join per hop — shuffles O(frontier), the
    //    anti-join is both cycle-termination and the min-hop
    //    guarantee. Oracle = recursive-CTE shortest hops. ───────────
    Q("q47_khop",
      (s, d) => graft.graph.Traversal.khop(
        Tables.events(s, d)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("src"),
            get_json_object(col("props"), "$.k").cast("long")
              .as("dst")),
        seed = 1L, maxHops = 3)
        .select(col("node"), col("hops"))
        .orderBy("node"),
      Some("""WITH RECURSIVE e AS (SELECT user_id AS src,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
          FROM events WHERE event_type = 'click'),
        walk(node, hops) AS (
          SELECT CAST(1 AS BIGINT), 0
          UNION
          -- dst IS NOT NULL mirrors the engine's khop, which treats
          -- null endpoints (missing / non-numeric $.k) as non-edges;
          -- without it the recursive member admits (NULL, hops) rows
          SELECT e.dst, w.hops + 1 FROM walk w
          JOIN e ON e.src = w.node
          WHERE w.hops < 3 AND e.dst IS NOT NULL)
        SELECT node, CAST(min(hops) AS BIGINT) AS hops
        FROM walk GROUP BY 1 ORDER BY 1""")),

    // ── §7.5 kNN label propagation: every 5th vector plays the
    //    unlabeled query set; its label is the majority vote of its
    //    10 cosine-nearest labeled vectors (broadcast cross → native
    //    VecDotF scoring → bounded TopKAgg heaps → argmax-by-min-
    //    struct vote — no window, shuffle = |Q|·partitions·k).
    //    Neighbor rank rounds sim at 1e-9 with id tie-break so the
    //    k-th-neighbor boundary is engine-reproducible. ─────────────
    Q("v14_knn_label",
      (s, d) => {
        val emb = Tables.embeddingsSpread(s, d)
        Vectors.knnLabelVote(
          emb.filter(col("vec_id") % 5 =!= 0),
          emb.filter(col("vec_id") % 5 === 0),
          "embedding", "vec_id", "label", k = 10)
          .select(col("q_id").as("vec_id"), col("pred_label"),
            col("votes"))
          .orderBy("vec_id")
      },
      Some("""WITH L AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
            label FROM embeddings WHERE vec_id % 5 <> 0),
        Q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id % 5 = 0),
        s AS (SELECT qid, vec_id, label,
            round(list_dot_product(e, qe) /
              (sqrt(list_dot_product(e, e)) *
               sqrt(list_dot_product(qe, qe))), 9) AS sim
          FROM L CROSS JOIN Q),
        r AS (SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY sim DESC, vec_id) AS rn FROM s),
        v AS (SELECT qid, label, count(*) AS votes FROM r
          WHERE rn <= 10 GROUP BY 1, 2)
        SELECT qid AS vec_id, label AS pred_label,
          CAST(votes AS BIGINT) AS votes
        FROM v
        QUALIFY row_number() OVER (PARTITION BY qid
          ORDER BY votes DESC, label) = 1
        ORDER BY vec_id""")),

    // ── §2.6 AS-OF JOIN as a CUSTOM OPERATOR (graft.plans.AsOfJoin:
    //    LogicalPlan + planner Strategy + merge-join SparkPlan — the
    //    whole-operator extension tier; d19 keeps the composed window
    //    form). Each purchase picks up the latest view at-or-before
    //    it per user; views deduped per (user, ts) so both engines'
    //    tie behavior is identical. Oracle = DuckDB's native
    //    ASOF LEFT JOIN. ────────────────────────────────────────────
    Q("q48_asof_custom",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .agg(max(col("event_id")).as("view_id"))
        graft.plans.AsOf.join(purchases, views,
          Seq("user_id"), Seq("v_user"), "ts", "v_ts", "view_id")
          .select(col("event_id"), col("user_id"), col("view_id"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id,
            CAST(ts AS TIMESTAMP) AS ts FROM events
          WHERE event_type = 'purchase'),
        v AS (SELECT user_id AS v_user, CAST(ts AS TIMESTAMP) AS v_ts,
            max(event_id) AS view_id FROM events
          WHERE event_type = 'view' GROUP BY 1, 2)
        SELECT p.event_id, p.user_id, v.view_id
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.v_user AND v.v_ts <= p.ts
        ORDER BY p.event_id""")),

    // ── §7.5 bigram-LM perplexity filter: add-one-smoothed
    //    −ln P(w2|w1) summed per doc — the word-ORDER quality signal
    //    d28's unigram model is blind to (the distributed floor of
    //    CCNet's KenLM filter). Per-bigram cost quantized to integer
    //    micro-nats BEFORE the doc sum: exact integer aggregation,
    //    no float-sum-order dependence (the d28 contract). ──────────
    Q("d46_bigram_nll",
      (s, d) => graft.text.UnigramLm.bigramSurprisal(
        Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
          c1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
            FROM tok GROUP BY 1),
          v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
          bg AS (SELECT doc_id, unnest(list_transform(
              range(1, greatest(len(t) - 1, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 1), ' ')))
              AS bg
            FROM toks),
          c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
            FROM bg GROUP BY 1),
          per AS (SELECT doc_id, CAST(round(1e6 * ln(
                CAST(c1.c1 + v.v AS DOUBLE) /
                CAST(c12.c12 + 1 AS DOUBLE))) AS BIGINT) AS c
            FROM bg JOIN c12 USING (bg)
            JOIN c1 ON c1.tok = string_split(bg.bg, ' ')[1]
            CROSS JOIN v),
          agg AS (SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_bigrams,
              CAST(sum(c) AS BIGINT) AS nll_micro
            FROM per GROUP BY 1)
        SELECT doc_id, n_bigrams, nll_micro,
          nll_micro / 1e6 / n_bigrams AS avg_nll
        FROM agg ORDER BY doc_id""")),

    // ── §7.5 length-tile bucketing (curriculum / packing prep):
    //    k=8 equal-rank-width tiles over token count via the q11
    //    scale-safe distributed rank (range-repartition + partition
    //    offsets — NO unpartitioned window), tile = ⌊(rank−1)·k/N⌋+1.
    //    Formula stated explicitly because NTILE's remainder rule
    //    differs; the oracle applies the identical arithmetic. ──────
    Q("q49_length_tiles",
      (s, d) => {
        val counted = Tables.documentsSpread(s, d)
          .select(col("doc_id"), Text.tokenCount(col("text"))
            .as("n_tokens"))
        val ranked = graft.query.Rank.globalRowNumber(counted,
          Seq(col("n_tokens").asc, col("doc_id").asc))
        val n = ranked.count()
        ranked
          .withColumn("tile", expr(s"(rank - 1) * 8 DIV $n + 1"))
          .groupBy("tile")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            min("n_tokens").cast("long").as("min_tokens"),
            max("n_tokens").cast("long").as("max_tokens"))
          .orderBy("tile")
      },
      Some(s"""WITH c AS (SELECT doc_id,
            CAST(len($sqlToks) AS BIGINT) AS n_tokens
          FROM documents),
        r AS (SELECT *, row_number() OVER
            (ORDER BY n_tokens, doc_id) AS rank,
            count(*) OVER () AS n FROM c),
        t AS (SELECT n_tokens,
            CAST((rank - 1) * 8 // n AS BIGINT) + 1 AS tile FROM r)
        SELECT tile, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(min(n_tokens) AS BIGINT) AS min_tokens,
          CAST(max(n_tokens) AS BIGINT) AS max_tokens
        FROM t GROUP BY 1 ORDER BY 1""")),

    // ── §7.5 multimodal: REAL video CONTAINER parse (ISO-BMFF box
    //    walk — ftyp brand, mvhd timescale/duration, tkhd 16.16
    //    dimensions; no codec needed for metadata, which is what
    //    ingest filters on BEFORE any decode). Same proof shape as
    //    mm03/mm04: genuine MP4 bytes built from formulas, genuinely
    //    parsed back; the oracle predicts the formulas. ─────────────
    Q("mm07_video_meta",
      (s, d) => {
        val media = graft.multimodal.Multimodal.syntheticMp4Media(
          Tables.mediaIds(s, d))(s)
        graft.multimodal.Multimodal.videoMeta(media)(s)
          .toDF()
          .select(col("media_id"), col("ok"), col("brand"),
            col("duration_ms"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, true AS ok, 'isom' AS brand,
          CAST(1500 + doc_id % 600 * 25 AS BIGINT) AS duration_ms,
          CAST(320 + doc_id % 8 * 16 AS BIGINT) AS width,
          CAST(180 + doc_id % 6 * 16 AS BIGINT) AS height
        FROM documents ORDER BY media_id""")),

    // ── §7.5 sorted-neighborhood near-dup (Hernández–Stolfo): the
    //    third blocking family after hash blocking (d39) and LSH
    //    (m01) — sort by a 16-char normalized prefix, pair every
    //    record with its w=5 rank-neighbors, verify exact Jaccard
    //    ≥ 0.2. Candidates are exactly N·w (linear, skew-immune);
    //    the global order is the q11 distributed rank. ──────────────
    Q("d47_sorted_neighborhood",
      (s, d) => Dedup.sortedNeighborhoodPairs(Tables.documents(s, d),
        "text", "doc_id", keyChars = 16, w = 5, shingleN = 3,
        threshold = 0.2)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          shing AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(t) - 2, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 2), ' '))))
              AS sh
            FROM toks),
          sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
            FROM shing GROUP BY 1),
          r AS (SELECT doc_id, row_number() OVER (ORDER BY
              substr(lower(text), 1, 16), doc_id) AS rn
            FROM documents),
          cand AS (SELECT least(a.doc_id, b.doc_id) AS ia,
              greatest(a.doc_id, b.doc_id) AS ib
            FROM r a JOIN r b
              ON b.rn > a.rn AND b.rn <= a.rn + 5),
          inter AS (SELECT c.ia, c.ib, CAST(count(*) AS BIGINT) AS i
            FROM cand c
            JOIN shing sa ON sa.doc_id = c.ia
            JOIN shing sb ON sb.doc_id = c.ib AND sb.sh = sa.sh
            GROUP BY 1, 2)
        SELECT ia AS id_a, ib AS id_b, i AS n_inter,
          na.n + nb.n - i AS n_union
        FROM inter
        JOIN sizes na ON na.doc_id = ia
        JOIN sizes nb ON nb.doc_id = ib
        WHERE i * 5 >= na.n + nb.n - i
        ORDER BY 1, 2""")),

    // ── §7.5 mixed-language detection: language-ID per 32-token
    //    chunk (d03's argmax over d11's chunking), then per-doc lang
    //    diversity — the code-switching / concatenated-crawl signal
    //    a DOCUMENT-level lang-id hides (a 90% en / 10% de doc still
    //    argmaxes 'en'). main_lang = most frequent chunk lang, ties
    //    to the smaller code (argmax-by-min-struct, no window). ─────
    Q("d48_mixed_lang",
      (s, d) => {
        val chunkLang = Tables.documents(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          .select(col("doc_id"),
            posexplode(Text.tokenChunks(col("__toks"), 32, 32)))
          .select(col("doc_id"),
            Text.langId(col("col")).getField("lang").as("lang"))
        chunkLang.groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum("c").cast("long").as("n_chunks"),
            count(lit(1)).cast("long").as("n_langs"),
            min(struct((-col("c")).as("nc"), col("lang").as("lang")))
              .as("__m"))
          .select(col("doc_id"), col("n_chunks"), col("n_langs"),
            col("__m.lang").as("main_lang"),
            (col("n_langs") > 1).as("is_mixed"))
          .orderBy("doc_id")
      },
      Some {
        val m = Text.langMarkers
        def h(lang: String) =
          s"CAST(len(list_filter(ct, x -> list_contains(" +
            m(lang).map(w => s"'$w'").mkString("[", ",", "]") +
            s", x))) AS BIGINT) AS hits_$lang"
        s"""WITH toks AS (SELECT doc_id, $sqlToks AS t FROM documents),
          starts AS (SELECT doc_id,
            unnest(range(1, len(t) + 1, 32)) AS st, t
            FROM toks WHERE len(t) >= 1),
          ch AS (SELECT doc_id, list_slice(t, st, st + 31) AS ct
            FROM starts),
          hh AS (SELECT doc_id, ${h("en")}, ${h("es")}, ${h("de")},
              ${h("fr")}
            FROM ch),
          l AS (SELECT doc_id, $sqlLangCase AS lang FROM hh),
          cnt AS (SELECT doc_id, lang, count(*) AS c
            FROM l GROUP BY 1, 2),
          main AS (SELECT doc_id, lang FROM cnt
            QUALIFY row_number() OVER (PARTITION BY doc_id
              ORDER BY c DESC, lang) = 1)
        SELECT cnt.doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
          CAST(count(*) AS BIGINT) AS n_langs,
          any_value(main.lang) AS main_lang,
          count(*) > 1 AS is_mixed
        FROM cnt JOIN main ON main.doc_id = cnt.doc_id
        GROUP BY 1 ORDER BY 1"""
      }),

    // ── §2.6 as-of with TOLERANCE (pandas merge_asof parity): q48's
    //    attribution join bounded to a 1-hour lookback — a view
    //    older than an hour no longer explains the purchase. Same
    //    custom exec; the bound is checked against the single
    //    largest-rt candidate (an in-tolerance OLDER right row never
    //    substitutes, spec-proven). Oracle = windowed range join +
    //    latest-per-left. ──────────────────────────────────────────
    Q("q50_asof_tolerance",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .agg(max(col("event_id")).as("view_id"))
        graft.plans.AsOf.join(purchases, views,
          Seq("user_id"), Seq("v_user"), "ts", "v_ts", "view_id",
          tolerance = Some(3600L * 1000000L))  // 1 h in micros
          .select(col("event_id"), col("user_id"), col("view_id"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id,
            CAST(ts AS TIMESTAMP) AS ts FROM events
          WHERE event_type = 'purchase'),
        v AS (SELECT user_id AS v_user, CAST(ts AS TIMESTAMP) AS v_ts,
            max(event_id) AS view_id FROM events
          WHERE event_type = 'view' GROUP BY 1, 2),
        j AS (SELECT p.event_id, p.user_id, v.view_id,
            row_number() OVER (PARTITION BY p.event_id
              ORDER BY v.v_ts DESC) AS rn
          FROM p LEFT JOIN v
            ON v.v_user = p.user_id AND v.v_ts <= p.ts
              AND v.v_ts >= p.ts - INTERVAL 1 HOUR)
        SELECT event_id, user_id, view_id FROM j WHERE rn = 1
        ORDER BY event_id""")),

    // ── §7.5 KMV (k-minimum-values / theta) distinct sketch: the
    //    fifth sketch family next to HLL (q22), CMS (q27), Bloom
    //    (d22) and MinHash (m01) — and unlike HLL it supports set
    //    INTERSECTION estimates, which is why theta sketches are the
    //    warehouse standard for overlap cardinalities. Per source:
    //    keep the k=64 smallest portable 60-bit hashes of the
    //    distinct shingle set; n̂ = (k−1)/θ with θ = h_k/2^60.
    //    Deterministic (md5 hash, integer k-th order statistic) —
    //    the ESTIMATE itself is oracle-verified, alongside the exact
    //    count it approximates. Sources with < k shingles degrade to
    //    the exact count (the sketch holds the whole set). ──────────
    Q("d49_kmv_distinct",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 64
        val hashed = Tables.documents(s, d)
          .withColumn("__toks", Text.tokens(col("text")))
          .select(col("source"),
            explode(Text.wordShingles(col("__toks"), 3)).as("sg"))
          .distinct()
          .withColumn("h",
            conv(substring(md5(col("sg")), 1, 15), 16, 10).cast("long"))
        val w = Window.partitionBy("source")
          .orderBy(col("h").asc, col("sg").asc)
        // ONE pass over the ranked set yields both the exact count and
        // the k-th hash (null below k): a count ⋈ k-th self-join
        // tokenizes the corpus twice, because its two branches differ
        // by an inferred join filter and share no exchange (PlanAudit
        // invariant 4 guards this row)
        hashed.withColumn("rk", row_number().over(w))
          .groupBy("source").agg(
            count(lit(1)).cast("long").as("n_exact"),
            max(when(col("rk") === k, col("h"))).as("h"))
          .select(col("source"), col("n_exact"),
            round(coalesce(
              lit((k - 1).toDouble * 1152921504606846976.0d) / col("h"),
              col("n_exact").cast("double")), 4).as("est_distinct"))
          .orderBy("source")
      },
      Some(s"""WITH toks AS (SELECT source, $sqlToks AS t
            FROM documents),
          sh AS (SELECT DISTINCT source,
            unnest(list_transform(
              range(1, greatest(len(t) - 2, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 2), ' ')))
              AS sg
            FROM toks),
          h AS (SELECT source, sg,
            ('0x' || substr(md5(sg), 1, 15))::UBIGINT AS h FROM sh),
          r AS (SELECT source, h, row_number() OVER
              (PARTITION BY source ORDER BY h, sg) AS rk
            FROM h),
          kth AS (SELECT source, h FROM r WHERE rk = 64),
          e AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
            FROM sh GROUP BY 1)
        SELECT e.source, e.n_exact,
          round(coalesce(
            63::DOUBLE * 1152921504606846976 / kth.h,
            e.n_exact::DOUBLE), 4) AS est_distinct
        FROM e LEFT JOIN kth USING (source)
        ORDER BY source""")),

    // ── §7.5 SPLIT-LEAKAGE audit: near-dup pairs (m01's verified
    //    set) that STRADDLE the d30 train/val/test assignment — the
    //    contamination a random split inflicts on any corpus with
    //    duplicates (a test doc whose near-twin sits in train is a
    //    memorization freebie). The fix is splitting by CLUSTER
    //    (d09's component id), which this audit certifies: pairs are
    //    intra-cluster by construction, so cluster-keyed splits have
    //    zero straddlers. Output = every leaky pair with both
    //    splits; oracle = truth pairs × the portable split draw. ────
    Q("d50_split_leakage",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val draw = Text.portableTokenHash(
          concat(lit("split#"), col("doc_id").cast("string")))
        val frac = draw.cast("double") / lit(math.pow(2, 60))
        val splits = docs.select(col("doc_id"),
          when(frac < 0.8, lit("train"))
            .when(frac < 0.9, lit("val"))
            .otherwise(lit("test")).as("split"))
        val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
          shingleN = 3, k = 32, bands = 8, threshold = 0.2,
          seed = 42L)
        pairs
          .join(splits.select(col("doc_id").as("id_a"),
            col("split").as("split_a")), "id_a")
          .join(splits.select(col("doc_id").as("id_b"),
            col("split").as("split_b")), "id_b")
          .filter(col("split_a") =!= col("split_b"))
          .select(col("id_a"), col("id_b"), col("split_a"),
            col("split_b"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $sqlTruthPairs,
        sp AS (SELECT doc_id,
            CASE WHEN frac < 0.8 THEN 'train'
                 WHEN frac < 0.9 THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id,
              CAST(('0x' || substr(md5('split#' ||
                CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
                / 1152921504606846976.0 AS frac
            FROM documents))
        SELECT ia AS id_a, ib AS id_b,
          sa.split AS split_a, sb.split AS split_b
        FROM truth
        JOIN sp sa ON sa.doc_id = ia
        JOIN sp sb ON sb.doc_id = ib
        WHERE sa.split <> sb.split
        ORDER BY 1, 2""")),

    // ── §2.6 as-of FORWARD direction: the first view at-or-after
    //    each purchase per user (what did the buyer look at next?) —
    //    merge_asof(direction='forward') on the custom operator.
    //    Same merge pass: the forward candidate is exactly the row
    //    the backward advance stopped on. Oracle = windowed
    //    earliest-at-or-after. ─────────────────────────────────────
    Q("q51_asof_forward",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .agg(max(col("event_id")).as("view_id"))
        graft.plans.AsOf.join(purchases, views,
          Seq("user_id"), Seq("v_user"), "ts", "v_ts", "view_id",
          direction = "forward")
          .select(col("event_id"), col("user_id"), col("view_id"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id,
            CAST(ts AS TIMESTAMP) AS ts FROM events
          WHERE event_type = 'purchase'),
        v AS (SELECT user_id AS v_user, CAST(ts AS TIMESTAMP) AS v_ts,
            max(event_id) AS view_id FROM events
          WHERE event_type = 'view' GROUP BY 1, 2),
        j AS (SELECT p.event_id, p.user_id, v.view_id,
            row_number() OVER (PARTITION BY p.event_id
              ORDER BY v.v_ts ASC) AS rn
          FROM p LEFT JOIN v
            ON v.v_user = p.user_id AND v.v_ts >= p.ts)
        SELECT event_id, user_id, view_id FROM j WHERE rn = 1
        ORDER BY event_id""")),

    // ── §2.6 as-of NEAREST direction: the temporally closest view
    //    on either side of each purchase, ties to the earlier one —
    //    merge_asof(direction='nearest'). The merge pass compares
    //    its two existing candidates' integral distances; nothing
    //    new is buffered. Oracle = |Δt|-ranked join with the same
    //    backward tie preference. ──────────────────────────────────
    Q("q52_asof_nearest",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .agg(max(col("event_id")).as("view_id"))
        graft.plans.AsOf.join(purchases, views,
          Seq("user_id"), Seq("v_user"), "ts", "v_ts", "view_id",
          direction = "nearest")
          .select(col("event_id"), col("user_id"), col("view_id"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id,
            CAST(ts AS TIMESTAMP) AS ts FROM events
          WHERE event_type = 'purchase'),
        v AS (SELECT user_id AS v_user, CAST(ts AS TIMESTAMP) AS v_ts,
            max(event_id) AS view_id FROM events
          WHERE event_type = 'view' GROUP BY 1, 2),
        j AS (SELECT p.event_id, p.user_id, v.view_id,
            row_number() OVER (PARTITION BY p.event_id
              ORDER BY abs(epoch_us(v.v_ts) - epoch_us(p.ts)),
                CASE WHEN v.v_ts <= p.ts THEN 0 ELSE 1 END) AS rn
          FROM p LEFT JOIN v ON v.v_user = p.user_id)
        SELECT event_id, user_id, view_id FROM j WHERE rn = 1
        ORDER BY event_id""")),

    // ── §7.5 KMV INTERSECTION estimate — the capability that makes
    //    theta sketches the warehouse standard over HLL: pairwise
    //    source-overlap cardinality from the two k-sketches ALONE
    //    (merge = k smallest of the union; count members present in
    //    both sketches; n̂_∩ = c/k · n̂_∪). The corpus is touched once
    //    to build the per-source sketches; every pair estimate after
    //    that is O(k) — m03 computes the same overlaps exactly by
    //    re-scanning. Estimate formula is deterministic → the
    //    estimates themselves hash-verify, next to the exact counts
    //    they approximate. First 5 sources ⇒ 10 pairs. ──────────────
    Q("d51_kmv_intersect",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 1024
        val sh = graft.CacheTracker.persistTracked(
          Tables.documents(s, d)
            .filter(col("source").isin(
              "src0", "src1", "src2", "src3", "src4"))
            .withColumn("__toks", Text.tokens(col("text")))
            .select(col("source"),
              explode(Text.wordShingles(col("__toks"), 3)).as("sg"))
            .distinct())
        val sk = graft.CacheTracker.persistTracked(sh
          .withColumn("h",
            conv(substring(md5(col("sg")), 1, 15), 16, 10)
              .cast("long"))
          .withColumn("rk", row_number().over(Window
            .partitionBy("source").orderBy(col("h"), col("sg"))))
          .filter(col("rk") <= k).select(col("source"), col("h")))
        val srcs = sk.select("source").distinct()
        val prs = srcs.select(col("source").as("a"))
          .crossJoin(srcs.select(col("source").as("b")))
          .filter(col("a") < col("b"))
        val merged = prs
          .join(sk.select(col("source").as("a"), col("h"),
            lit(1).as("ia")), Seq("a"))
          .unionByName(prs.join(sk.select(col("source").as("b"),
            col("h"), lit(1).as("ia")), Seq("b"))
            .withColumnRenamed("ia", "ib")
            .select(col("a"), col("b"), col("h"),
              lit(0).as("ia"), col("ib")),
            allowMissingColumns = true)
          .na.fill(0, Seq("ia", "ib"))
          .groupBy("a", "b", "h")
          .agg(max("ia").as("ia"), max("ib").as("ib"))
        val ranked = merged.withColumn("rk", row_number().over(
          Window.partitionBy("a", "b").orderBy(col("h"))))
          .filter(col("rk") <= k)
        val est = ranked.groupBy("a", "b")
          .agg(max("h").as("theta"),
            count(when(col("ia") === 1 && col("ib") === 1, 1))
              .cast("long").as("c"))
          .select(col("a"), col("b"), col("c"),
            round(col("c") * lit(1023.0) * lit(1152921504606846976.0d)
              / lit(1024) / col("theta"), 4).as("est_inter"))
        val exact = sh.select(col("source").as("a"), col("sg"))
          .join(sh.select(col("source").as("b"), col("sg")), "sg")
          .filter(col("a") < col("b"))
          .groupBy("a", "b")
          .agg(count(lit(1)).cast("long").as("n_inter_exact"))
        est.join(exact, Seq("a", "b"), "left")
          .select(col("a").as("src_a"), col("b").as("src_b"),
            coalesce(col("n_inter_exact"), lit(0L))
              .as("n_inter_exact"),
            col("est_inter"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH toks AS (SELECT source, $sqlToks AS t
            FROM documents
            WHERE source IN ('src0','src1','src2','src3','src4')),
          sh AS (SELECT DISTINCT source,
            unnest(list_transform(
              range(1, greatest(len(t) - 2, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 2), ' ')))
              AS sg
            FROM toks),
          hh AS (SELECT source, sg,
            ('0x' || substr(md5(sg), 1, 15))::UBIGINT AS h FROM sh),
          sk AS (SELECT source, h FROM (SELECT source, h,
              row_number() OVER (PARTITION BY source ORDER BY h, sg)
                AS rk FROM hh) WHERE rk <= 1024),
          prs AS (SELECT a.source AS a, b.source AS b
            FROM (SELECT DISTINCT source FROM sk) a
            JOIN (SELECT DISTINCT source FROM sk) b
              ON a.source < b.source),
          m AS (SELECT a, b, h, max(ia) AS ia, max(ib) AS ib FROM (
              SELECT prs.a, prs.b, sk.h, 1 AS ia, 0 AS ib
                FROM prs JOIN sk ON sk.source = prs.a
              UNION ALL
              SELECT prs.a, prs.b, sk.h, 0, 1
                FROM prs JOIN sk ON sk.source = prs.b)
            GROUP BY 1, 2, 3),
          rkd AS (SELECT * FROM (SELECT m.*,
              row_number() OVER (PARTITION BY a, b ORDER BY h) AS rk
            FROM m) WHERE rk <= 1024),
          est AS (SELECT a, b,
              CAST(count(*) FILTER (WHERE ia = 1 AND ib = 1)
                AS BIGINT) AS c,
              max(h) AS theta
            FROM rkd GROUP BY 1, 2),
          ex AS (SELECT sa.source AS a, sb.source AS b,
              CAST(count(*) AS BIGINT) AS n_inter_exact
            FROM sh sa JOIN sh sb
              ON sb.sg = sa.sg AND sa.source < sb.source
            GROUP BY 1, 2)
        SELECT est.a AS src_a, est.b AS src_b,
          coalesce(ex.n_inter_exact, 0) AS n_inter_exact,
          round(est.c * 1023.0 * 1152921504606846976.0
            / 1024 / est.theta, 4) AS est_inter
        FROM est LEFT JOIN ex ON ex.a = est.a AND ex.b = est.b
        ORDER BY 1, 2""")),

    // ── §7.5 TRAINED text classifier (multinomial NB, add-one) —
    //    training IS an aggregation, scoring IS a vocabulary join, so
    //    the whole supervised loop distributes with zero driver-side
    //    data (the fastText-classifier floor every curation pipeline
    //    runs). Train on doc_id % 5 != 0, score the % 5 == 0 holdout.
    //    On THIS corpus the lang labels are text-independent by
    //    construction (same token soup for every lang — verified), so
    //    the learned model correctly collapses to the prior and the
    //    holdout output records majority-class prediction — the
    //    Bayes-optimal answer on signal-free data. That it LEARNS when
    //    signal exists is proven in NaiveBayesSpec on a constructed
    //    corpus (100% holdout, incl. a marker-less zh-like class the
    //    d03 heuristic structurally cannot classify). Micro-nat d28
    //    determinism contract throughout. ───────────────────────────
    Q("d52_nb_classifier",
      (s, d) => {
        graft.text.NaiveBayes.trainApply(
          Tables.documents(s, d), "text", "doc_id", "lang",
          col("doc_id") % 5 === 0)
          .select(col("id").as("doc_id"),
            col("actual").as("actual_lang"),
            col("pred").as("pred_lang"), col("cost_micro"),
            (col("actual") === col("pred")).as("is_correct"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (SELECT doc_id, lang, $sqlToks AS t,
            doc_id % 5 = 0 AS is_apply FROM documents),
        tr AS (SELECT lang, unnest(t) AS tok FROM base
          WHERE NOT is_apply),
        cc AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd FROM base
          WHERE NOT is_apply GROUP BY 1),
        nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM tr
          GROUP BY 1),
        vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tr),
        dd AS (SELECT CAST(sum(nd) AS BIGINT) AS d FROM cc),
        clt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM tr
          GROUP BY 1, 2),
        ap AS (SELECT doc_id, unnest(t) AS tok FROM base
          WHERE is_apply),
        sc AS (SELECT ap.doc_id, cc.lang,
            CAST(round(1e6 * ln(
              CAST(coalesce(nl.nl, 0) + vv.v AS DOUBLE) /
              CAST(coalesce(clt.c, 0) + 1 AS DOUBLE))) AS BIGINT)
              AS cost
          FROM ap CROSS JOIN cc
          LEFT JOIN nl ON nl.lang = cc.lang CROSS JOIN vv
          LEFT JOIN clt ON clt.lang = cc.lang AND clt.tok = ap.tok),
        ssum AS (SELECT doc_id, lang, CAST(sum(cost) AS BIGINT) AS s
          FROM sc GROUP BY 1, 2),
        tot AS (SELECT b.doc_id, b.lang AS actual_lang, cc.lang,
            CAST(round(1e6 * ln(CAST(dd.d AS DOUBLE) /
              CAST(cc.nd AS DOUBLE))) AS BIGINT)
              + coalesce(ssum.s, 0) AS total
          FROM base b CROSS JOIN cc CROSS JOIN dd
          LEFT JOIN ssum ON ssum.doc_id = b.doc_id
            AND ssum.lang = cc.lang
          WHERE b.is_apply),
        pick AS (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY total, lang) AS rn FROM tot)
        SELECT doc_id, actual_lang, lang AS pred_lang,
          total AS cost_micro, actual_lang = lang AS is_correct
        FROM pick WHERE rn = 1 ORDER BY doc_id""")),

    // ── §7.5 PMI collocation mining (Church & Hanks 1990) — the
    //    corpus-statistics pass that surfaces multi-word expressions
    //    for tokenizer vocab / stop-phrase / boilerplate lists.
    //    PMI = ln(c12·NU²/(NB·c1·c2)), evaluated in ONE fixed
    //    left-to-right double expression replayed verbatim in the
    //    oracle, quantized once to micro-nats; min-count filter
    //    BEFORE the unigram joins; global top-k is
    //    TakeOrderedAndProject, never a full sort. ──────────────────
    Q("d53_pmi_collocations",
      (s, d) => graft.text.Collocations.pmiTopK(
        Tables.documents(s, d), "text", minCount = 5, k = 50),
      Some(s"""WITH toks AS (SELECT $sqlToks AS t FROM documents),
          uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
          bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
            FROM (SELECT unnest(list_transform(
                range(1, greatest(len(t) - 1, 0) + 1),
                i -> array_to_string(list_slice(t, i, i + 1), ' ')))
                AS bg FROM toks) GROUP BY 1),
          nu AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM uni),
          nb AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM bi),
          j AS (SELECT bg, c12,
              CAST(round(1e6 * ln(CAST(c12 AS DOUBLE)
                * nu.nu * nu.nu / nb.nb / u1.c / u2.c)) AS BIGINT)
                AS pmi_micro
            FROM bi CROSS JOIN nu CROSS JOIN nb
            JOIN uni u1 ON u1.tok = string_split(bg, ' ')[1]
            JOIN uni u2 ON u2.tok = string_split(bg, ' ')[2]
            WHERE c12 >= 5)
        SELECT bg AS bigram, c12, pmi_micro FROM j
        ORDER BY pmi_micro DESC, bigram LIMIT 50""")),

    // ── §7.5 margin-based cross-collection pair mining (Artetxe &
    //    Schwenk 2019 ratio margin — the LASER/CCMatrix bitext-mining
    //    scorer): each candidate cosine is scored RELATIVE to its two
    //    k-NN neighborhood averages, killing hub vectors that raw
    //    cosine over-pairs; best-y-per-x by margin. Cosines micro-
    //    quantized before any sum; neighborhood sums are exact integer
    //    folds over TopKAgg bounded heaps; margin is one integer-ratio
    //    division. A = labels 0-4, B = labels 5-9. ──────────────────
    Q("v15_margin_mining",
      (s, d) => {
        val emb = Tables.embeddingsSpread(s, d)
        // allowExact: this row IS the documented quadratic oracle
        // gate — every corpus-scale caller routes to v16 /
        // marginMiningIvf, and marginMining itself refuses large
        // inputs without this flag
        Vectors.marginMining(
          emb.filter(col("label") < 5), emb.filter(col("label") >= 5),
          "embedding", "vec_id", k = 4, allowExact = true)
          .orderBy("src_id")
      },
      Some("""WITH A AS (SELECT vec_id AS a_id,
            CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE label < 5),
        B AS (SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE label >= 5),
        p AS (SELECT a_id, b_id,
            CASE WHEN list_dot_product(A.v, A.v) = 0
                   OR list_dot_product(B.v, B.v) = 0
              THEN CAST(0 AS BIGINT)
              ELSE CAST(round(1e6 * list_dot_product(A.v, B.v) /
                sqrt(list_dot_product(A.v, A.v) *
                     list_dot_product(B.v, B.v))) AS BIGINT) END AS c
          FROM A CROSS JOIN B),
        sa AS (SELECT a_id, CAST(sum(c) AS BIGINT) AS s_a,
            CAST(count(*) AS BIGINT) AS n_a
          FROM (SELECT *, row_number() OVER (PARTITION BY a_id
              ORDER BY c DESC, b_id) AS rn FROM p)
          WHERE rn <= 4 GROUP BY 1),
        sb AS (SELECT b_id, CAST(sum(c) AS BIGINT) AS s_b,
            CAST(count(*) AS BIGINT) AS n_b
          FROM (SELECT *, row_number() OVER (PARTITION BY b_id
              ORDER BY c DESC, a_id) AS rn FROM p)
          WHERE rn <= 4 GROUP BY 1),
        m AS (SELECT p.a_id, p.b_id, p.c,
            CAST(2 * p.c * n_a * n_b AS DOUBLE) /
              (s_a * n_b + s_b * n_a) AS margin
          FROM p JOIN sa USING (a_id) JOIN sb USING (b_id)
          WHERE s_a * n_b + s_b * n_a <> 0)
      SELECT a_id AS src_id, b_id AS dst_id,
        c / 1e6 AS cos_sim, margin
      FROM m
      QUALIFY row_number() OVER (PARTITION BY a_id
        ORDER BY margin DESC, b_id) = 1
      ORDER BY src_id""")),

    // ── §7.5 SEMANTIC decontamination — the embedding-space analogue
    //    of d14 (exact n-gram) / d22 (bloom): paraphrased eval
    //    leakage that exact n-grams miss. The eval set is
    //    benchmark-small by nature, so it rides as a PLAN-LITERAL
    //    (id, vec, norm) array and the operator is a pure MAP over
    //    the corpus scan — `transform` scores each eval vector once,
    //    `array_max` picks best-(sim, −id), the threshold filter
    //    drops in the same stage. ZERO shuffles. Flagged rows are the
    //    drop list a downstream anti join consumes. ─────────────────
    Q("d54_semantic_decontam",
      (s, d) => {
        val emb = Tables.embeddingsSpread(s, d)
        Vectors.semanticDecontamFlags(
          emb.filter(col("vec_id") % 50 =!= 0),
          emb.filter(col("vec_id") % 50 === 0),
          "embedding", "vec_id", simMicroThreshold = 350000L)
          // sim = the exact division of the (cross-engine-identical)
          // integer micro value — NOT round(..., 4): re-rounding a
          // quantized value reopens the boundary surface (Spark's
          // Round sees BigDecimal.valueOf's shortest decimal
          // "0.38835"→0.3884 while DuckDB rounds the true binary
          // 0.38834999…→0.3883; hit at sf0.1)
          .select(col("corpus_id"), col("eval_id"),
            (col("sim_micro") / lit(1e6)).as("sim"))
          .orderBy("corpus_id")
      },
      Some("""WITH e AS (SELECT vec_id,
            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ev AS (SELECT vec_id AS eval_id, v,
            sqrt(list_dot_product(v, v)) AS nrm
          FROM e WHERE vec_id % 50 = 0),
        c AS (SELECT vec_id AS corpus_id, v,
            sqrt(list_dot_product(v, v)) AS nrm
          FROM e WHERE vec_id % 50 <> 0),
        s AS (SELECT corpus_id, eval_id,
            CASE WHEN c.nrm = 0 OR ev.nrm = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(round(1e6 * list_dot_product(c.v, ev.v) /
                (c.nrm * ev.nrm)) AS BIGINT) END AS sim_micro
          FROM c CROSS JOIN ev),
        b AS (SELECT *, row_number() OVER (PARTITION BY corpus_id
            ORDER BY sim_micro DESC, eval_id) AS rn FROM s)
      SELECT corpus_id, eval_id, sim_micro / 1e6 AS sim
      FROM b WHERE rn = 1 AND sim_micro >= 350000
      ORDER BY corpus_id""")),

    // ── §7.5 IVF-probed margin mining — v15's 100 TB form and how
    //    CCMatrix actually runs: candidates from the ANN index (B
    //    assigned to v02's fixed seed centroids; each query probes
    //    its nprobe closest), margin neighborhoods computed over the
    //    RETRIEVED candidates — the index's view of the space. The
    //    candidate stage is a cluster-keyed equi-join shrinking the
    //    measured 110 M-pair 100× boundary (BENCH_NOTES) by
    //    nlist/nprobe; n_cand in the output makes the recall-vs-cost
    //    knob visible. Neighborhood sums / margin / best-y identical
    //    to v15. ─────────────────────────────────────────────────────
    Q("v16_margin_ivf",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val centroids = emb.filter(col("vec_id") < 8)
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toSeq))
          .sortBy(_._1).toSeq // layout-independent centroid order
        Vectors.marginMiningIvf(
          emb.filter(col("label") < 5), emb.filter(col("label") >= 5),
          "embedding", "vec_id", k = 4, centroids, nprobe = 3)
          .orderBy("src_id")
      },
      Some("""WITH e AS (SELECT vec_id, label,
            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        A AS (SELECT vec_id AS a_id, v FROM e WHERE label < 5),
        B AS (SELECT vec_id AS b_id, v FROM e WHERE label >= 5),
        C AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        asg AS (SELECT b_id, v, cluster FROM (
            SELECT B.b_id, B.v, C.cid AS cluster,
              row_number() OVER (PARTITION BY B.b_id ORDER BY
                list_dot_product(B.v, C.cv) /
                  (sqrt(list_dot_product(B.v, B.v)) *
                   sqrt(list_dot_product(C.cv, C.cv))) DESC,
                C.cid DESC) AS rn
            FROM B CROSS JOIN C) WHERE rn = 1),
        prb AS (SELECT a_id, cluster FROM (
            SELECT A.a_id, C.cid AS cluster,
              row_number() OVER (PARTITION BY A.a_id ORDER BY
                CASE WHEN list_dot_product(A.v, A.v) = 0
                       OR list_dot_product(C.cv, C.cv) = 0
                  THEN CAST(0 AS BIGINT)
                  ELSE CAST(round(1e6 * list_dot_product(A.v, C.cv) /
                    (sqrt(list_dot_product(A.v, A.v)) *
                     sqrt(list_dot_product(C.cv, C.cv)))) AS BIGINT)
                  END DESC, C.cid) AS rn
            FROM A CROSS JOIN C) WHERE rn <= 3),
        p AS (SELECT prb.a_id, asg.b_id,
            CASE WHEN list_dot_product(A.v, A.v) = 0
                   OR list_dot_product(asg.v, asg.v) = 0
              THEN CAST(0 AS BIGINT)
              ELSE CAST(round(1e6 * list_dot_product(A.v, asg.v) /
                sqrt(list_dot_product(A.v, A.v) *
                     list_dot_product(asg.v, asg.v))) AS BIGINT)
              END AS c
          FROM prb JOIN A USING (a_id)
          JOIN asg ON asg.cluster = prb.cluster),
        sa AS (SELECT a_id, CAST(sum(c) AS BIGINT) AS s_a,
            CAST(count(*) AS BIGINT) AS n_a
          FROM (SELECT *, row_number() OVER (PARTITION BY a_id
              ORDER BY c DESC, b_id) AS rn FROM p)
          WHERE rn <= 4 GROUP BY 1),
        sb AS (SELECT b_id, CAST(sum(c) AS BIGINT) AS s_b,
            CAST(count(*) AS BIGINT) AS n_b
          FROM (SELECT *, row_number() OVER (PARTITION BY b_id
              ORDER BY c DESC, a_id) AS rn FROM p)
          WHERE rn <= 4 GROUP BY 1),
        cnt AS (SELECT a_id, CAST(count(*) AS BIGINT) AS n_cand
          FROM p GROUP BY 1),
        m AS (SELECT p.a_id, p.b_id, p.c,
            CAST(2 * p.c * n_a * n_b AS DOUBLE) /
              (s_a * n_b + s_b * n_a) AS margin
          FROM p JOIN sa USING (a_id) JOIN sb USING (b_id)
          WHERE s_a * n_b + s_b * n_a <> 0)
      SELECT m.a_id AS src_id, m.b_id AS dst_id,
        m.c / 1e6 AS cos_sim, m.margin AS margin,
        cnt.n_cand
      FROM m JOIN cnt ON cnt.a_id = m.a_id
      QUALIFY row_number() OVER (PARTITION BY m.a_id
        ORDER BY m.margin DESC, m.b_id) = 1
      ORDER BY src_id""")),

    // ── §7.5 character-entropy quality signal (C4/Gopher family):
    //    Shannon entropy in bits over each doc's char distribution —
    //    low = spam/repetition, high = base64/hex noise; both tails
    //    drop. Per-ROW expression (the histogram never leaves the
    //    row — zero shuffle, unlike the explode-and-count shape);
    //    per-term integer micro-bit quantization (house determinism
    //    contract), final value = one double division replayed
    //    verbatim in the oracle — no round() boundary surface. ──────
    Q("d55_char_entropy",
      (s, d) => {
        // native one-pass histogram expression; bit-parity with the
        // composed Text.charEntropyParts is spec-pinned. evalOnce:
        // three output columns read __e — without the barrier
        // CollapseProject would inline the histogram 3× per row
        // non-empty guard: the oracle's n/L term is undefined at
        // L=0 (DuckDB string_split('','') yields ['']), so the
        // contract excludes empty docs EXPLICITLY rather than
        // leaning on the current corpus's min length
        graft.query.Predicates.evalOnce(
          Tables.documents(s, d).filter(length(col("text")) > 0),
          Seq(col("doc_id")),
          "__e" -> graft.functions.CharEntropyMicro
            .charEntropyMicro(col("text")))
          .select(col("doc_id"),
            element_at(col("__e"), 1).as("n_uniq_chars"),
            element_at(col("__e"), 2).as("ent_micro"),
            (-element_at(col("__e"), 2) / lit(1e6))
              .as("char_entropy"))
          .orderBy("doc_id")
      },
      Some("""WITH ne AS (SELECT doc_id, text FROM documents
            WHERE length(text) > 0),
          ch AS (SELECT doc_id,
            unnest(string_split(text, '')) AS c FROM ne),
          lens AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS L
            FROM ne),
          cnt AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS n
            FROM ch GROUP BY 1, 2),
          per AS (SELECT cnt.doc_id,
              CAST(round(1e6 * (n / L) * log2(n / L)) AS BIGINT) AS m
            FROM cnt JOIN lens ON lens.doc_id = cnt.doc_id),
          agg AS (SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_uniq_chars,
              CAST(sum(m) AS BIGINT) AS ent_micro
            FROM per GROUP BY 1)
        SELECT doc_id, n_uniq_chars, ent_micro,
          -ent_micro / 1e6 AS char_entropy
        FROM agg ORDER BY doc_id""")),

    // ── §7.5 interpolated Kneser–Ney bigram surprisal (Kneser & Ney
    //    1995) — the smoothing the real KenLM quality filter uses;
    //    continuation counts N₁₊ give backoff mass add-one (d46)
    //    structurally can't. Same micro-nat quantization contract;
    //    the P expression is one fixed association order replayed
    //    verbatim below. ─────────────────────────────────────────────
    Q("d56_kn_bigram_nll",
      (s, d) => graft.text.UnigramLm.knBigramSurprisal(
        Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS t
            FROM documents),
          bgs AS (SELECT doc_id, unnest(list_transform(
              range(1, greatest(len(t) - 1, 0) + 1),
              i -> array_to_string(list_slice(t, i, i + 1), ' ')))
              AS bg
            FROM toks),
          c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12,
              string_split(bg, ' ')[1] AS w1,
              string_split(bg, ' ')[2] AS w2
            FROM bgs GROUP BY 1),
          c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
              CAST(count(*) AS BIGINT) AS n1fw
            FROM c12 GROUP BY 1),
          bwd AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1bw
            FROM c12 GROUP BY 1),
          tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c12),
          per AS (SELECT doc_id, CAST(round(1e6 * -ln(
                (greatest(CAST(c12.c12 AS DOUBLE) - 0.75, 0.0)
                  / CAST(c1.c1 AS DOUBLE))
                + ((0.75 * CAST(c1.n1fw AS DOUBLE)
                    / CAST(c1.c1 AS DOUBLE))
                  * (CAST(bwd.n1bw AS DOUBLE)
                    / CAST(tt.t AS DOUBLE))))) AS BIGINT) AS c
            FROM bgs JOIN c12 USING (bg)
            JOIN c1 ON c1.w1 = c12.w1
            JOIN bwd ON bwd.w2 = c12.w2
            CROSS JOIN tt),
          agg AS (SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_bigrams,
              CAST(sum(c) AS BIGINT) AS nll_micro
            FROM per GROUP BY 1)
        SELECT doc_id, n_bigrams, nll_micro,
          nll_micro / 1e6 / n_bigrams AS avg_nll
        FROM agg ORDER BY doc_id""")),

    // ── §2.5/§2.7 time-bucketed OHLC downsample: per (user, day)
    //    open/high/low/close — open/close are first/last value in
    //    TIME order. The scale point: min_by/max_by over a
    //    (ts, event_id) struct key is ONE partial-aggregatable
    //    shuffle; the oracle's row_number-window formulation (the
    //    naive translation) needs a second, per-group sort. ─────────
    Q("q53_ohlc_downsample",
      (s, d) => Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("value"), col("ts"), col("event_id"))
        .groupBy("user_id", "day")
        .agg(
          min_by(col("value"),
            struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"),
            struct(col("ts"), col("event_id"))).as("close"),
          count(lit(1)).cast("long").as("n_events"))
        .orderBy("user_id", "day"),
      Some("""WITH e AS (SELECT user_id,
            CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
              AS day, value, CAST(ts AS TIMESTAMP) AS tss, event_id
          FROM events WHERE event_type = 'purchase'),
        r AS (SELECT *,
            row_number() OVER (PARTITION BY user_id, day
              ORDER BY tss, event_id) AS rn_a,
            row_number() OVER (PARTITION BY user_id, day
              ORDER BY tss DESC, event_id DESC) AS rn_d
          FROM e)
        SELECT user_id, day,
          max(CASE WHEN rn_a = 1 THEN value END) AS open,
          max(value) AS high, min(value) AS low,
          max(CASE WHEN rn_d = 1 THEN value END) AS close,
          CAST(count(*) AS BIGINT) AS n_events
        FROM r GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── §7.5 multimodal frame-sampling plan: the (media_id,
    //    frame_idx, ts_ms) seek grid from mm07's PARSED container
    //    duration — 1 fps capped at 8 frames/clip. Metadata-only
    //    (zero byte access) so it runs before decode; bounded
    //    per-row sequence explode, no shuffle. ──────────────────────
    Q("mm08_frame_sample",
      (s, d) => {
        val media = graft.multimodal.Multimodal.syntheticMp4Media(
          Tables.mediaIds(s, d))(s)
        graft.multimodal.Multimodal.frameSamplePlan(
          graft.multimodal.Multimodal.videoMeta(media)(s),
          fps = 1, maxFrames = 8)
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
            CAST(1500 + doc_id % 600 * 25 AS BIGINT) AS d
          FROM documents),
        n AS (SELECT media_id,
            least(CAST(ceil(d / 1000.0) AS BIGINT), 8) AS n
          FROM m),
        f AS (SELECT media_id, unnest(range(0, n)) AS frame_idx
          FROM n)
        SELECT media_id, frame_idx,
          CAST(frame_idx * 1000 AS BIGINT) AS ts_ms
        FROM f ORDER BY media_id, frame_idx""")),

    // ── §7.5 token-budget shard packing — the training-data EXPORT
    //    step: deterministically shuffle the corpus (portable md5
    //    draw, the d30 pattern), then cut the running token total at
    //    budget multiples so every shard carries ≈budget tokens
    //    regardless of document-length skew (equal-COUNT sharding
    //    ships unbalanced work to the trainer). The global running
    //    sum is Rank.globalRunningSum — range partition + partition
    //    offsets, NOT an unpartitioned window; shard id is then a
    //    pure map (floor(exclusive_prefix / budget)). ────────────────
    Q("d58_shard_pack",
      (s, d) => {
        val draw = Text.portableTokenHash(
          concat(lit("pack#"), col("doc_id").cast("string")))
        val budget = 4000L
        graft.query.Rank.globalRunningSum(
          Tables.documents(s, d)
            .withColumn("__draw", draw)
            .withColumn("__tok", Text.tokenCount(col("text")))
            .select(col("doc_id"), col("__draw"), col("__tok")),
          Seq(col("__draw"), col("doc_id")), col("__tok"),
          "cum_tokens")
          .withColumn("shard",
            floor((col("cum_tokens") - col("__tok")) / lit(budget)))
          .select(col("doc_id"), col("cum_tokens"), col("shard"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
            ('0x' || substr(md5('pack#' || CAST(doc_id AS VARCHAR)),
              1, 15))::BIGINT AS draw,
            CAST(len($sqlToks) AS BIGINT) AS tok
          FROM documents),
        c AS (SELECT doc_id, tok,
            CAST(sum(tok) OVER (ORDER BY draw, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM t)
        SELECT doc_id, cum_tokens,
          CAST(floor((cum_tokens - tok) / 4000.0) AS BIGINT) AS shard
        FROM c ORDER BY doc_id""")),

    // ── §7.5 audio chunking plan: mm08's audio twin — overlapping
    //    120 ms windows every 100 ms over mm04's REAL-decode
    //    durations (Whisper-style segmentation policy, scaled to the
    //    fixture clips); last chunk truncates at clip end; n_frames
    //    re-addresses each span at the clip's own sample rate.
    //    Metadata-only, bounded explode, zero shuffle. ───────────────
    Q("mm09_audio_chunks",
      (s, d) => {
        // NOT mediaIds: javax.sound's provider registry synchronizes
        // getAudioInputStream, so 32-way WAV decode CONTENDS — spread
        // measured 3.6 s vs 1.9 s serial (images/video scale fine;
        // ImageIO decoders don't share a lock on this path)
        val media = graft.multimodal.Multimodal.syntheticWavMedia(
          Tables.documents(s, d).select("doc_id"))(s)
        graft.multimodal.Multimodal.audioChunkPlan(
          graft.multimodal.Multimodal.decodeAudios(media)(s),
          winMs = 120, hopMs = 100)
          .orderBy("media_id", "chunk_idx")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
            CAST(100 + doc_id % 400 AS BIGINT) AS dur
          FROM documents),
        n AS (SELECT media_id, dur,
            CAST(floor((dur - 1) / 100.0) AS BIGINT) + 1 AS n
          FROM m),
        f AS (SELECT media_id, dur,
            unnest(range(0, n)) AS chunk_idx FROM n)
        SELECT media_id, chunk_idx,
          CAST(chunk_idx * 100 AS BIGINT) AS start_ms,
          least(CAST(chunk_idx * 100 + 120 AS BIGINT), dur) AS end_ms,
          CAST((least(CAST(chunk_idx * 100 + 120 AS BIGINT), dur)
                - chunk_idx * 100) * 8 AS BIGINT) AS n_frames
        FROM f ORDER BY media_id, chunk_idx""")),

    // ── §7.5 multimodal: REAL video frame decode — MJPEG/MP4 demux
    //    via the sample table (stsz sizes + stco offsets, the demux
    //    walk ISO/IEC 14496-12 defines) and every-2nd-frame decode
    //    through the real JPEG codec. Same proof shape as mm03/mm04:
    //    genuine bytes from formulas, genuinely demuxed and decoded
    //    back; the oracle predicts the formulas (frame grid, true
    //    decoded dimensions). Mean luma exists engine-side but is
    //    NOT oracled — JPEG is lossy. Partition-local, zero shuffle;
    //    pixels never leave the executor. ───────────────────────────
    Q("mm10_video_frames",
      (s, d) => {
        val media = graft.multimodal.Multimodal.syntheticMjpegMedia(
          Tables.mediaIds(s, d))(s)
        graft.multimodal.Multimodal.videoFrames(media, every = 2)(s)
          .toDF()
          .select(col("media_id"),
            col("frame_idx").cast("long").as("frame_idx"),
            col("decoded"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH f AS (SELECT doc_id AS media_id,
            unnest(range(0, CAST(3 + doc_id % 5 AS BIGINT), 2))
              AS frame_idx
          FROM documents)
        SELECT media_id, frame_idx, true AS decoded,
          CAST(160 + media_id % 4 * 16 AS BIGINT) AS width,
          CAST(96 + media_id % 3 * 16 AS BIGINT) AS height
        FROM f ORDER BY media_id, frame_idx""")),

    // ── §2.7 HOPPING time window (slide < length): each event lands
    //    in length/slide windows. Spark's native TimeWindow expands
    //    rows into their windows INSIDE the scan stage (a bounded
    //    2× row growth here), then ONE partial-aggregatable shuffle
    //    on (window, type) — no self-join, no per-group sort. q53 is
    //    the tumbling special case; this is the overlapping form
    //    dashboards use for smoothed trailing metrics. ──────────────
    Q("q54_hopping_window",
      (s, d) => Tables.events(s, d)
        .withColumn("__cents",
          round(col("value") * 100, 0).cast("long"))
        .groupBy(window(col("ts"), "2 days", "1 day"),
          col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum("__cents").as("sum_cents"))
        .select(to_date(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_cents"))
        .orderBy("win_start", "event_type"),
      Some("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS tss,
            event_type,
            CAST(round(value * 100, 0) AS BIGINT) AS cents
          FROM events),
        x AS (SELECT event_type, cents,
            unnest([CAST(date_trunc('day', tss) AS DATE) - 1,
                    CAST(date_trunc('day', tss) AS DATE)])
              AS win_start
          FROM e)
        SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── §7.5 golden record (MDM survivorship): d26 keeps one member
    //    row per near-dup cluster; this assembles a COMPOSITE record
    //    whose attributes come from different members — min id,
    //    longest text's id, majority lang (mode, deterministic
    //    ties). Singletons (never paired) resolve to themselves, so
    //    every document has a golden row. ───────────────────────────
    Q("d57_golden_record",
      (s, d) => graft.dedup.Dedup.goldenRecords(
        graft.dedup.Dedup.neardupClusters(
          graft.dedup.Dedup.minhashLshPairs(Tables.documentsSpread(s, d),
            "text", "doc_id", shingleN = 3, k = 32, bands = 8,
            threshold = 0.2, seed = 42L)),
        Tables.documents(s, d), "doc_id", "n_chars", "lang")
        .orderBy("cluster_id"),
      Some(s"""WITH RECURSIVE $sqlTruthPairs,
        edges AS (SELECT ia AS src, ib AS dst FROM truth
          UNION SELECT ib, ia FROM truth),
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        cl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY 1),
        base AS (SELECT d.doc_id AS id, d.n_chars AS len, d.lang,
            coalesce(cl.cluster, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
        attrs AS (SELECT cluster_id,
            CAST(count(*) AS BIGINT) AS n_members,
            min(id) AS canonical_id, max(len) AS max_len
          FROM base GROUP BY 1),
        lng AS (SELECT cluster_id, id AS longest_doc FROM (
            SELECT cluster_id, id, row_number() OVER (
                PARTITION BY cluster_id ORDER BY len DESC, id) AS rn
            FROM base) WHERE rn = 1),
        lm AS (SELECT cluster_id, lang AS maj_lang FROM (
            SELECT cluster_id, lang, count(*) AS n
            FROM base GROUP BY 1, 2) t
          QUALIFY row_number() OVER (
            PARTITION BY cluster_id ORDER BY n DESC, lang) = 1)
        SELECT a.cluster_id, a.n_members, a.canonical_id,
          l.longest_doc, a.max_len, lm.maj_lang
        FROM attrs a JOIN lng l USING (cluster_id)
        JOIN lm USING (cluster_id)
        ORDER BY cluster_id"""))
  )

  /** The catalog, each row's final global Sort single-executed where
    * its plan calls for it (see [[singleExecuteFinalSort]]). Identity
    * transform on results. */
  val all: Seq[Q] =
    raw.map(q => q.copy(run = (s, d) => singleExecuteFinalSort(q.run(s, d))))
}
