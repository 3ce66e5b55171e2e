package graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayAggregate, ArrayExcept, Attribute, ExprId, Expression, Md5, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.LongType

/** Executed-plan contracts: each plan fact a kept optimisation rests on,
  * asserted over the query's FINAL adaptive plan at sf0.01. Each query
  * runs once, to completion, as `Explain <sfDir> <q> exec` does, and the
  * assertions match operators and expressions, never plan text.
  *
  * The walk ([[PlanWalk]]) covers every operator of the final plan plus
  * the build plan of each cached relation ONCE, so a count is what one run
  * physically does. The formatted text repeats a cache's build plan under
  * every consumer and cannot be counted. */
class PlanContractSpec extends SparkSuite {

  private val runs = mutable.Map.empty[String, Seq[SparkPlan]]

  /** The walked final plan of one registry query, run at most once. */
  private def plan(name: String): Seq[SparkPlan] = runs.getOrElseUpdate(name, {
    val df = Registry.byName(name).run(spark, SparkSpec.sf001)
    df.queryExecution.toRdd.count()
    val ops = PlanWalk.operators(df.queryExecution.executedPlan)
    spark.catalog.clearCache()
    ops
  })

  private def table(s: FileSourceScanExec): String =
    s.relation.location.rootPaths.head.getName.stripSuffix(".parquet")

  private def scans(ops: Seq[SparkPlan], t: String): Int =
    ops.count { case s: FileSourceScanExec => table(s) == t; case _ => false }

  private def joins(ops: Seq[SparkPlan]): Seq[BaseJoinExec] =
    ops.collect { case j: BaseJoinExec => j }

  private def exprs(ops: Seq[SparkPlan]): Seq[Expression] =
    ops.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  /** Where the attributes of a walked plan come from: the expressions that
    * define each one (aliases, generator outputs, and the positional
    * outputs of reused exchanges, cached relations and unions), and the
    * (table, column) a scan reads for it. */
  private final class Lineage(ops: Seq[SparkPlan]) {
    private val defs = mutable.Map.empty[ExprId, Seq[Expression]].withDefaultValue(Nil)
    private val scanned = mutable.Map.empty[ExprId, (String, String)]
    private def define(out: Seq[Attribute], from: Seq[Expression]): Unit =
      out.zip(from).foreach { case (a, e) => defs(a.exprId) :+= e }

    ops.foreach { op =>
      op.expressions.foreach(_.foreach {
        case a: Alias => define(Seq(a.toAttribute), Seq(a.child))
        case _ =>
      })
      op match {
        case s: FileSourceScanExec => s.output.foreach(a => scanned(a.exprId) = (table(s), a.name))
        case g: GenerateExec => g.generatorOutput.foreach(a => defs(a.exprId) :+= g.generator)
        case r: ReusedExchangeExec => define(r.output, r.child.output)
        case m: InMemoryTableScanExec => define(m.relation.output, m.relation.cachedPlan.output)
        case u: UnionExec => u.children.foreach(c => define(u.output, c.output))
        case _ =>
      }
    }

    /** Every expression node `e` is computed from, transitively. */
    def trace(e: Expression): Seq[Expression] = {
      val seen = mutable.Set.empty[ExprId]
      def go(x: Expression): Seq[Expression] =
        x.collect { case y => y } ++ x.references.toSeq
          .filter(a => seen.add(a.exprId)).flatMap(a => defs(a.exprId).flatMap(go))
      go(e)
    }

    def columns(e: Expression): Set[(String, String)] =
      trace(e).collect { case a: Attribute if scanned.contains(a.exprId) => scanned(a.exprId) }.toSet
  }

  private def assertScans(name: String, t: String, n: Int): Unit = {
    val got = scans(plan(name), t)
    assert(got === n, s"$name: $got $t scans in the final plan, expected $n")
  }

  private def violations(found: Seq[String]): Unit =
    if (found.nonEmpty) fail(found.mkString("\n"))

  private def assertReuse(name: String): Unit =
    assert(plan(name).exists(_.isInstanceOf[ReusedExchangeExec]),
      s"$name: no ReusedExchange in the final plan")

  test("q_text_lm_score: the corpus total re-reads the LM exchange (2 documents scans)") {
    assertScans("q_text_lm_score", "documents", 2)
    assertReuse("q_text_lm_score")
  }

  test("q_text_lm_bigram: the left-context marginal is a window sum on the LM (2 documents scans)") {
    assertScans("q_text_lm_bigram", "documents", 2)
    val marginal = plan("q_text_lm_bigram").exists {
      case w: WindowExec => w.partitionSpec.nonEmpty && w.windowExpression.exists(_.exists {
        case ae: AggregateExpression => ae.aggregateFunction.isInstanceOf[Sum]
        case _ => false
      })
      case _ => false
    }
    assert(marginal, "q_text_lm_bigram: no partitioned window sum (the w1 marginal)")
  }

  test("q_retrieval_ql: the corpus token total re-reads the doc-length exchange (4 documents scans)") {
    assertScans("q_retrieval_ql", "documents", 4)
    assertReuse("q_retrieval_ql")
  }

  test("dense ranks: embeddings scans do not grow with the number of query vectors") {
    // the query-vector table and the corpus: one scan each, for any batch
    assertScans("q_retrieval_interleave", "embeddings", 2)
    val nq = graft.operators.Retrieval.RrfQueryVecs.size
    assert(nq > 1)
    val one = scans(plan("q_retrieval_rrf"), "embeddings")
    val many = scans(plan("q_retrieval_rrf_multi"), "embeddings")
    assert(one === many,
      s"q_retrieval_rrf_multi: $many embeddings scans for $nq query vectors, " +
        s"q_retrieval_rrf: $one for one")
  }

  test("q_basket_triples: one lineitem scan and no join keyed on l_orderkey on both sides") {
    val ops = plan("q_basket_triples")
    assertScans("q_basket_triples", "lineitem", 1)
    val lin = new Lineage(ops)
    val okey = ("lineitem", "l_orderkey")
    violations(joins(ops).filter(j => j.leftKeys.zip(j.rightKeys).exists { case (l, r) =>
      lin.columns(l).contains(okey) && lin.columns(r).contains(okey)
    }).map(j => s"q_basket_triples: order-key self-join ${j.simpleString(200)}"))
  }

  private val prunedMinHash = Seq("q_dedup_minhash_lsh_pruned",
    "q_dedup_minhash_lsh_auto_lowgate", "q_dedup_incremental_near_auto_lowgate")

  test("pruned MinHash: the stop list is a per-row array_except, never an anti-join") {
    violations(prunedMinHash.flatMap { name =>
      val ops = plan(name)
      Seq(joins(ops).exists(_.joinType == LeftAnti) -> s"$name: plans a LeftAnti join",
        !exprs(ops).exists(_.isInstanceOf[ArrayExcept]) -> s"$name: no array_except")
        .collect { case (true, msg) => msg }
    })
  }

  test("q_dedup_minhash_lsh_pruned: no second explode and no re-aggregation over the unpruned form") {
    def shape(name: String) = {
      val ops = plan(name)
      (ops.count(_.isInstanceOf[GenerateExec]), ops.count(_.isInstanceOf[BaseAggregateExec]))
    }
    val ((prunedGen, prunedAgg), (gen, agg)) =
      (shape("q_dedup_minhash_lsh_pruned"), shape("q_dedup_minhash_lsh"))
    assert(prunedGen <= gen && prunedAgg <= agg,
      s"q_dedup_minhash_lsh_pruned: $prunedGen generates and $prunedAgg aggregates, " +
        s"q_dedup_minhash_lsh: $gen and $agg")
  }

  test("LSH band joins and the setsim prefix join key on hashed LongType values") {
    val queries = Seq("q_dedup_minhash_lsh", "q_dedup_containment_pairs") ++ prunedMinHash :+
      "q_dedup_setsim_prefix"
    violations(queries.flatMap { name =>
      val ops = plan(name)
      val lin = new Lineage(ops)
      def hashed(k: Expression) = lin.trace(k).exists {
        case _: Md5 | _: XxHash64 => true
        case _ => false
      }
      val keys = joins(ops).map(j => j.leftKeys ++ j.rightKeys)
        .filter(ks => ks.nonEmpty && ks.forall(hashed))
      if (keys.isEmpty) Seq(s"$name: no join keyed on a hashed bucket value")
      else keys.filterNot(_.forall(_.dataType == LongType))
        .map(ks => s"$name: bucket join keyed on ${ks.map(_.dataType.simpleString).mkString(", ")}")
    })
  }

  test("textrank: all rounds run inside one aggregate() recurrence") {
    violations(Seq("q_text_textrank", "q_text_textrank_capped")
      .filterNot(name => exprs(plan(name)).exists(_.isInstanceOf[ArrayAggregate]))
      .map(name => s"$name: no aggregate() recurrence in the final plan"))
  }
}
