package graft.queries

import graft.SparkSpec
import graft.functions.WhitespaceTokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.graftbridge.GraftBridge

import scala.collection.mutable

/** Catalog-wide physical-plan contract (VERDICT r4 #4): the claims
  * that used to rest on greps and bench-tail absence-of-warnings are
  * asserted here on EVERY catalog row's planned execution, so a
  * regression (an accidental unpartitioned window, a cross join
  * sneaking past the blocking key, a config change suppressing
  * broadcast) fails `sbt test` instead of surfacing at 100 TB.
  *
  * Invariants, per row at sf0.001:
  *  1. ZERO unpartitioned windows — `WindowExec` / `WindowGroupLimitExec`
  *     with an empty partitionSpec funnels the whole input through one
  *     task; all global rank/prefix-sum shapes must ride
  *     [[graft.query.Rank]] (range partition + offsets).
  *  2. ZERO `CartesianProductExec` outside the allowlist naming the
  *     documented exact forms (v15 margin mining, v03 cosine pairs —
  *     oracle gates whose scale substitutes are v16 / v04's banding).
  *     Broadcast nested-loop joins are NOT flagged: a broadcast cross
  *     against a k-bounded side is the deliberate plan-literal shape
  *     the vector rows use.
  *  3. Every shuffled join (SMJ / shuffled hash) whose build-able side
  *     has KNOWN stats under `autoBroadcastJoinThreshold` is a missed
  *     broadcast — Catalyst should have taken it, so a hit means a
  *     hint or config regression.
  *  4. The tokenizer dag is evaluated EXACTLY ONCE in each guarded
  *     row (the expression-duplication trap family, BENCH_NOTES
  *     round-3 session 2): predicate pushdown and project collapse
  *     can silently multiply an expensive dag — 2x through a pushed
  *     filter, 16x through Generate inlining. Counted structurally:
  *     `WhitespaceTokens` (the native tokenizer) plus `StringSplit`
  *     (rows still on the regex path) expression nodes over the
  *     walked plan — no string marker a rename could defeat, and a
  *     shared cache is visited once, so cached rows are not
  *     print-inflated. The guard found a real 3x in d40 (filter +
  *     heap key + output each carried the dag), fixed with
  *     `Predicates.evalOnce`.
  *  5. The final global sort's child is persisted (single-executed)
  *     by its plan's shape, never by the row's name: exactly when the
  *     sort's top stage holds native, UDF, array-set or typed-object
  *     work ([[Catalog.singleExecuteFinalSort]]).
  *
  * The walk recurses through AQE roots, cached-relation inner plans
  * (where persistTracked subtrees actually live) and subquery plans —
  * a bare `collect` over the root would miss all three. */
class PlanAuditSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** Rows whose exact (quadratic) form is the documented oracle gate;
    * their scale paths exist as separate verified rows. */
  private val cartesianAllowed = Set("v15_margin_mining", "v03_cosine_pairs")

  private def allNodes(root: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.Buffer.empty[SparkPlan]
    val seenCaches = mutable.Set.empty[SparkPlan] // shared cache ⇒ visit once
    def go(p: SparkPlan): Unit = p.foreach { n =>
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        // an EXECUTED adaptive plan is a tree of query-stage leaf
        // wrappers (Result/Shuffle/BroadcastQueryStageExec) — the
        // audited operators live under `.plan`
        case q: QueryStageExec => go(q.plan)
        case s: InMemoryTableScanExec =>
          if (seenCaches.add(s.relation.cachedPlan)) go(s.relation.cachedPlan)
        case _ => ()
      }
      n.subqueries.foreach(go)
    }
    go(root)
    out.toSeq
  }

  private def sizeIfKnown(p: SparkPlan): Option[BigInt] = {
    // A join's DIRECT children are physical-only nodes inserted by
    // EnsureRequirements (SortExec, ShuffleExchangeExec) that carry
    // no logicalLink — reading only `p.logicalLink` made invariant 3
    // pass vacuously (proven by the negative control below, which
    // failed against the old one-node read). Use the TOPMOST
    // descendant that has a link — the logical subtree whose stats
    // JoinSelection itself consulted — walking through the same
    // wrapper boundaries as allNodes (QueryStageExec leaves inside
    // executed adaptive cached subtrees have no children and no
    // link; a plain collectFirst goes blind exactly there).
    def topmostLinked(n: SparkPlan): Option[SparkPlan] =
      if (n.logicalLink.isDefined) Some(n)
      else {
        val kids = n match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
          case _ => n.children
        }
        kids.view.flatMap(topmostLinked).headOption
      }
    topmostLinked(p)
      .flatMap(_.logicalLink).map(_.stats.sizeInBytes)
      .filter(_ < BigInt(Long.MaxValue))
  }

  for (row <- Catalog.all) test(s"${row.name}: plan contract") {
    val plan = row.run(spark, d).queryExecution.executedPlan
    try {
      val nodes = allNodes(plan)

      val globalWindows = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
      }
      assert(globalWindows.isEmpty,
        s"unpartitioned window(s) in ${row.name}: $globalWindows")

      val cartesians = nodes.collect { case c: CartesianProductExec => c }
      if (!cartesianAllowed(row.name))
        assert(cartesians.isEmpty,
          s"CartesianProduct in ${row.name} — blocked/bucketed candidates " +
            "or an explicit allowlist entry required")

      val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      val missedBroadcasts = nodes.flatMap {
        case j: SortMergeJoinExec => checkJoin(j.joinType, j.left, j.right, threshold)
        case j: ShuffledHashJoinExec => checkJoin(j.joinType, j.left, j.right, threshold)
        case _ => Nil
      }
      assert(missedBroadcasts.isEmpty,
        s"shuffled join with sub-threshold build side in ${row.name}: " +
          missedBroadcasts.mkString("; "))
    } finally graft.CacheTracker.releaseAll()
  }

  /** Invariant 4's count: tokenizer expression nodes in the plan. */
  private def tokenizerDags(root: SparkPlan): Int =
    allNodes(root).map(_.expressions.map(_.collect {
      case _: WhitespaceTokens | _: StringSplit => ()
    }.size).sum).sum

  private val tokenGuarded = Seq(
    "d01_dedup_exact", "d02_token_stats", "d03_lang_id",
    "d04_quality", "d11_chunking", "d12_stratified_sample",
    "d14_decontaminate", "d15_repetition", "d22_decontaminate_bloom",
    "d38_gopher_rules",
    "d40_weighted_sample", // evalOnce barrier
    "d10_corpus_filter", "d23_quality_sample", // evalOnce barrier
    "d49_kmv_distinct")

  for (name <- tokenGuarded)
    test(s"$name: exactly one tokenizer dag in the plan") {
      val row = Catalog.all.find(_.name == name).get
      try assert(tokenizerDags(row.run(spark, d).queryExecution
        .executedPlan) === 1)
      finally graft.CacheTracker.releaseAll()
    }

  /** Invariant 5's read: the child of `df`'s root global Sort (seen
    * through Projects), and whether the cache manager holds it. */
  private def finalSortPersisted(df: DataFrame): Boolean = {
    def child(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => child(c)
      case Sort(_, true, c, _) => c
      case other => fail(s"root is not a global sort: ${other.nodeName}")
    }
    GraftBridge.isCached(spark, child(df.queryExecution.analyzed))
  }

  private def rowPersisted(name: String): Boolean = {
    val row = Catalog.all.find(_.name == name).get
    try finalSortPersisted(row.run(spark, d))
    finally graft.CacheTracker.releaseAll()
  }

  test("invariant 5: one shape, one decision — d02, d03, d04 and d07 " +
    "(scan → native tokenizer → per-row score → sort) all persist") {
    val rows = Seq("d02_token_stats", "d03_lang_id", "d04_quality",
      "d07_rolling_fp")
    val decisions = rows.map(n => n -> rowPersisted(n))
    assert(decisions.forall(_._2), decisions.mkString(", "))
  }

  test("invariant 5: a sort over built-in-only work (q01) is not " +
    "persisted") {
    assert(!rowPersisted("q01_where_algebra"))
  }

  test("invariant 5: a Project over a Sort with a native child is " +
    "persisted, and the executed plan reads the cache") {
    import graft.functions.Text
    import org.apache.spark.sql.functions._
    val df = graft.Tables.documents(spark, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .orderBy("doc_id").select("doc_id")
    assert(df.queryExecution.analyzed.isInstanceOf[Project])
    try {
      assert(finalSortPersisted(Catalog.singleExecuteFinalSort(df)))
      assert(allNodes(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[InMemoryTableScanExec]))
    } finally graft.CacheTracker.releaseAll()
  }

  test("invariant 5: native work only below an exchange " +
    "(native → groupBy → orderBy) is not persisted") {
    import graft.functions.Text
    import org.apache.spark.sql.functions._
    val df = graft.Tables.documents(spark, d)
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("tok").count().orderBy("tok")
    try assert(!finalSortPersisted(Catalog.singleExecuteFinalSort(df)))
    finally graft.CacheTracker.releaseAll()
  }

  // ── negative controls: prove the WALKER sees what it audits (an
  //    audit that silently collected zero nodes would vacuously pass
  //    all 140 rows) ──────────────────────────────────────────────────

  test("negative control: a global window is flagged") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(1, 3, 2).toDF("a")
      .withColumn("r", row_number().over(Window.orderBy("a")))
    val hit = allNodes(df.queryExecution.executedPlan).exists {
      case w: WindowExec => w.partitionSpec.isEmpty
      case _ => false
    }
    assert(hit, "walker failed to find the deliberate global window")
  }

  test("negative control: the walk recurses into cached subtrees") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cached = Seq(1, 3, 2).toDF("a")
      .withColumn("r", row_number().over(Window.orderBy("a"))).persist()
    try {
      cached.count() // materialize so the scan reads the cache
      val consumer = cached.filter(col("r") > 1)
      val nodes = allNodes(consumer.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]))
      val hit = nodes.exists {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }
      assert(hit, "walker missed the global window INSIDE the cache")
    } finally cached.unpersist(blocking = false)
  }

  test("negative control: a sub-threshold SMJ build side is flagged") {
    // Invariant 3 depends on logicalLink stats surviving to the
    // physical join's children — if they don't (or sizeIfKnown goes
    // blind after a Spark upgrade), the missed-broadcast check passes
    // vacuously across all 140 rows. Force an SMJ over a tiny
    // known-stats local side via the merge hint and assert checkJoin
    // actually fires (ADVICE r5).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val big = spark.range(1000).select(col("id").as("k"),
      (col("id") * 2).as("w"))
    val joined = big.join(tiny.hint("merge"), Seq("k"))
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val hits = allNodes(joined.queryExecution.executedPlan).flatMap {
      case j: SortMergeJoinExec =>
        checkJoin(j.joinType, j.left, j.right, threshold)
      case j: ShuffledHashJoinExec =>
        checkJoin(j.joinType, j.left, j.right, threshold)
      case _ => Nil
    }
    assert(hits.nonEmpty,
      "checkJoin failed to flag a deliberate sub-threshold SMJ side — " +
        "invariant 3 is running blind (logicalLink/stats missing?)")
  }

  test("negative control: a tokenizer filter pushed without evalOnce " +
    "is flagged") {
    import graft.functions.Text
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, d)
    val toks = Text.tokens(col("text"))
    val pushed = docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 3)
    assert(tokenizerDags(pushed.queryExecution.executedPlan) > 1,
      "the pushed filter's duplicated dag went unseen — invariant 4 " +
        "is running blind")
    val once = graft.query.Predicates.evalOnce(docs, Seq(col("doc_id")),
      "toks" -> toks).filter(size(col("toks")) > 3)
    assert(tokenizerDags(once.queryExecution.executedPlan) === 1)
  }

  private def checkJoin(jt: org.apache.spark.sql.catalyst.plans.JoinType,
                        left: SparkPlan, right: SparkPlan,
                        threshold: Long): Seq[String] = {
    val buildable = jt match {
      case Inner => Seq("left" -> left, "right" -> right)
      case LeftOuter | LeftSemi | LeftAnti => Seq("right" -> right)
      case RightOuter => Seq("left" -> left)
      case FullOuter => Nil
      case _ => Nil
    }
    buildable.flatMap { case (side, p) =>
      sizeIfKnown(p).filter(sz => sz >= 0 && sz <= threshold)
        .map(sz => s"$side side ~$sz bytes <= $threshold")
    }
  }
}
