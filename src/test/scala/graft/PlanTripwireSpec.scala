package graft

import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Registry-wide scale-killer tripwire: every registered query's
  * physical plan is scanned for the two join shapes that are O(n·m) at
  * scale — CartesianProduct and BroadcastNestedLoopJoin — and for
  * unpartitioned windows, so a regression fails the day it lands. Each
  * query is planned once (not executed) and both registry-wide tests read
  * that one plan, walked by [[PlanWalk]] so the build plan of every
  * persisted relation is searched too.
  *
  * Allowed exceptions, each individually justified:
  *  - a BNLJ whose broadcast side is a grand aggregate (grouping-free
  *    HashAggregate ⇒ exactly 1 row): the `crossJoin(1-row total)`
  *    pattern is O(n), not O(n·m);
  *  - the explicit whitelist below — queries whose BNLJ is the
  *    documented algorithm (brute-force recall baseline, k-row centroid
  *    / plane tables where k is a small constant by construction).
  * The whitelist is asserted EXACT in both directions: a new scale-killer
  * fails, and a whitelisted query that stops needing its exemption fails
  * too (so the list can't rot).
  */
class PlanTripwireSpec extends SparkSuite {

  private val dir = SparkSpec.sf0001

  /** Every registered query's physical plan, planned once for both tests. */
  private lazy val plans: Seq[(String, SparkPlan)] =
    Registry.all.map(q => q.name -> q.run(spark, dir).queryExecution.executedPlan)

  /** Queries whose BNLJ against a small constant-size broadcast side is
    * the documented algorithm (see Similarity/EmbedClassify scaladoc). */
  private val bnljWhitelist: Set[String] = Set(
    "q_sim_knn_brute", // O(q·corpus) recall baseline, permanently weak
    "q_retrieval_ndcg", // embeds knnBrute as the eval GROUND TRUTH — the
                        // brute pass is the metric's definition, not a plan
                        // choice; the approx side under eval is bucketed
    "q_retrieval_recall", // same ground-truth role as ndcg: the brute
                          // top-k IS recall's denominator by definition
    "q_retrieval_map", // same ground-truth role as recall/ndcg: AP is
                       // measured against the brute exact top-k
    // q_retrieval_mrr embeds the same brute ground truth as recall/map
    // but localCheckpoints its per-query table, so the registered plan
    // the tripwire inspects is already truncated past the BNLJ — it
    // needs (and must not have) a whitelist entry.
    "q_sim_matryoshka", // prefix-dim recall eval: ONE brute pair pass at
                        // every truncation width is the metric's
                        // definition; the truncated-ANN tier it qualifies
                        // is the thing that runs at scale
    "q_privacy_tcloseness", // domain grid = distinct cents × QI groups;
                            // the broadcast build is the QI-group table,
                            // schema-bounded at ≤ nations × segments rows
    "q_stats_kendall", // day×day pair classification — calendar-bounded at
                       // (years·365)² tiny rows by construction; the
                       // corpus-sized pass is the per-day aggregate upstream
    "q_stats_mannkendall", // the same calendar-bounded day-pair sweep as
                           // q_stats_kendall (sign statistic instead of
                           // pair classes); tie term is a day-keyed agg
    "q_events_attribution_shapley" // subset-lattice joins over the 2^k
                                   // coalition table × k channels — k is the
                                   // event-type domain (a schema constant);
                                   // the corpus collapses in two keyed
                                   // aggregates upstream
  )

  /** Build side is a grand aggregate — guaranteed single row. */
  private def singleRowSubtree(p: SparkPlan): Boolean = {
    val agg = PlanWalk.operators(p).collectFirst { case a: BaseAggregateExec => a }
    agg.exists(_.groupingExpressions.isEmpty)
  }

  private def offenders(name: String, plan: SparkPlan): Seq[String] = {
    val ops = PlanWalk.operators(plan)
    val cartesian = ops.collect { case c: CartesianProductExec => c }
      .map(_ => s"$name: CartesianProduct")
    val bnlj = ops.collect { case j: BroadcastNestedLoopJoinExec => j }
      .filterNot { j =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        singleRowSubtree(build)
      }
      .map(_ => s"$name: BroadcastNestedLoopJoin (multi-row build side)")
    cartesian ++ bnlj
  }

  test("no registered query plans a cartesian or multi-row BNLJ (exact whitelist)") {
    val hits = plans.flatMap { case (name, plan) =>
      val bad = offenders(name, plan)
      if (bnljWhitelist.contains(name)) {
        assert(bad.nonEmpty, s"$name is whitelisted but no longer plans a BNLJ — remove it")
        Nil
      } else bad
    }
    assert(hits.isEmpty, s"scale-killer join shapes found:\n${hits.mkString("\n")}")
  }

  /** Queries whose unpartitioned window runs over a provably BOUNDED
    * input — never the raw row count:
    *  - q_stats_ks / q_stats_mannwhitney: cumulative over the
    *    DISTINCT-cent-value histogram (money-bounded domain);
    *  - q_events_cum_users: running sum over the per-DAY series
    *    (calendar-bounded);
    *  - q_text_top_words / q_text_top_bigrams: rank-limit windows that
    *    Spark rewrites to WindowGroupLimit — only ≤k rows per upstream
    *    partition reach the final unpartitioned sort.
    * Exact in both directions, like the BNLJ whitelist. Notably ABSENT:
    * q_events_rfm, whose three global ntile windows were rewritten onto
    * broadcast histogram cutpoints. */
  private val globalWindowWhitelist: Set[String] = Set(
    "q_stats_ks", "q_stats_mannwhitney", "q_events_cum_users",
    "q_text_top_words", "q_text_top_bigrams",
    // cumulative over the DISTINCT per-user-cents histogram (the same
    // money-bounded input as KS/Mann-Whitney) to pick the three spend
    // cutpoints; the corpus-sized pass is the conditional aggregate
    "q_events_concentration",
    // rank window over a LIMIT-100 bounded-heap top-k — 100 rows by
    // construction; the corpus-sized pass is the word count upstream
    "q_text_zipf",
    // cumulative over DISTINCT view→purchase latency SECONDS — bounded by
    // the time domain (the q_stats_quantiles histogram-cumulative class);
    // user-sized work stays in the keyed first-view/first-purchase aggs
    "q_events_funnel_latency",
    // Kaplan-Meier steps walk DISTINCT lifetime DAYS — calendar-bounded;
    // the per-user lifetime table collapses in a keyed aggregate first
    "q_events_survival",
    // CI order statistics rank the B = 40 replicate means — a
    // constant-size input by construction; the corpus-sized pass is the
    // weighted per-replicate aggregate upstream
    "q_stats_bootstrap",
    // cumulative deviation walks the DAY series (calendar-bounded, the
    // q_events_cum_users class); the corpus-sized pass is the per-day agg
    "q_stats_cusum",
    // prefix sums walk the zero-filled DAY series (the q_stats_cusum
    // class); the argmax is the cusum two-broadcast pattern, no rank
    // window; the corpus-sized pass is the per-day aggregate
    "q_stats_changepoint",
    // rank window over the LIMIT-PathTopK bounded-heap result — 20 rows
    // by construction (the q_text_zipf class); sessionization windows
    // upstream are user-partitioned
    "q_events_paths",
    // median over the DISTINCT day-cents histogram + the run-break lag
    // over the DAY series — money-bounded and calendar-bounded (the
    // cusum class); the corpus-sized pass is the per-day aggregate
    "q_stats_runs",
    // cumulative over the DISTINCT per-user-spend-cents histogram — the
    // same money-bounded input as q_events_concentration; user-sized
    // work is the keyed spend aggregate
    "q_events_gini",
    // rank walks over the DISTINCT micro-quantized-score histogram —
    // bounded by the quantization domain (≤ 1e6+1 rows) by construction;
    // the corpus-sized pass is the score hash-aggregate upstream
    // (q_train_cv runs one such walk per held-out fold, same bound)
    "q_train_auc", "q_train_prauc", "q_train_cv",
    // cross-day carry is a cumulative sum over the per-DAY net series —
    // calendar-bounded (the q_events_cum_users class); the events-sized
    // sweep runs in the day-partitioned window upstream
    "q_events_concurrency",
    // centered 7-day MA and rank windows run over the per-DAY series —
    // calendar-bounded (the q_events_cum_users class); the events-sized
    // pass is the per-day keyed aggregate upstream
    "q_stats_decompose", "q_stats_spearman",
    // cumulative over DISTINCT purchase-gap SECONDS — bounded by the
    // time domain (the q_events_funnel_latency class); user-sized work
    // stays in the user-partitioned lag upstream
    "q_events_interpurchase",
    // Qini cumulative window runs over the 5 quintile rows — bounded by
    // construction; user-sized work is the keyed per-user aggregate and
    // the rfm cutpoint machinery (no user-sized window)
    "q_events_uplift",
    // exponential-mechanism candidates walk the DISTINCT per-user
    // spend-cents histogram — money-domain-bounded (the q_events_gini
    // class); user-sized work is the keyed spend aggregate upstream
    "q_privacy_dp_quantile",
    // logging-policy slot rank runs over the LIMIT-8 bounded-heap top-8
    // popularity table — 8 rows by construction (the q_text_zipf class);
    // corpus-sized work is the keyed popularity aggregates upstream
    "q_rec_ope", "q_rec_ope_dr",
    // cumulative counts and the running always-valid-p minimum walk the
    // per-DAY series — calendar-bounded (the q_events_cum_users class);
    // user-sized work is the two keyed first-day aggregates upstream
    "q_stats_sprt",
    // BH rank runs over the per-EVENT-TYPE test table — one row per
    // distinct event type, an instrumentation enum bounded by the
    // product's schema, not data volume; user-sized work is the two
    // keyed aggregates upstream
    "q_stats_bh_fdr",
    // cumulative gains run over the 5 quintile rows — bounded by
    // construction (the q_events_uplift Qini class); doc-sized work is
    // the scoring scan and the cutpoint machinery, never a global window
    "q_train_lift",
    // exposure-Gini cumulative walks the DISTINCT exposure-count
    // histogram — bounded by the exposure domain (the q_events_gini
    // class); item-sized work is the keyed exposure aggregate upstream
    "q_rec_coverage",
    // conformal-quantile selection walks the DISTINCT residual-CENTS
    // histogram — money-domain-bounded (the q_events_gini class);
    // user-sized work is the keyed design aggregate upstream
    "q_train_conformal")

  private def globalWindows(name: String, plan: SparkPlan): Seq[String] =
    PlanWalk.operators(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => s"$name: unpartitioned WindowExec"
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
        if w.partitionSpec.isEmpty => s"$name: unpartitioned WindowGroupLimitExec"
    }

  test("no registered query plans an unpartitioned window outside the bounded-input whitelist") {
    val hits = plans.flatMap { case (name, plan) =>
      val bad = globalWindows(name, plan)
      if (globalWindowWhitelist.contains(name)) {
        assert(bad.nonEmpty,
          s"$name is whitelisted but no longer plans a global window — remove it")
        Nil
      } else bad
    }
    assert(hits.isEmpty, s"single-task global windows found:\n${hits.mkString("\n")}")
  }

  test("a multi-row BNLJ or cartesian inside a persisted build is still found") {
    val built = spark.range(10).toDF("a").crossJoin(spark.range(10).toDF("b")).persist()
    try assert(offenders("persisted", built.groupBy().count().queryExecution.executedPlan).nonEmpty)
    finally built.unpersist()
  }

  test("tfidf: no static broadcast hint on the vocabulary-sized df side") {
    val df = graft.operators.TextAnalysis.tfidf(spark, dir)
    // The only ResolvedHints in the logical plan must hang over grand
    // aggregates (the 1-row corpus total) — never over the per-term df
    // table, whose size is vocabulary-bound at corpus scale.
    val hints = df.queryExecution.optimizedPlan.collect { case h: ResolvedHint => h }
    assert(hints.forall { h =>
      h.child.maxRows.contains(1L)
    }, s"found a non-1-row broadcast hint in tfidf:\n${df.queryExecution.optimizedPlan}")
    // and the planner still broadcast-joins the small df at test scale
    df.collect()
    val str = df.queryExecution.executedPlan.toString
    assert(str.contains("BroadcastHashJoin"),
      s"expected planner/AQE to broadcast the small df side, got:\n$str")
  }
}
