package graft.operators

import graft.Q
import graft.functions.Rounding.{roundN, roundNSql}
import graft.pipeline.Concurrent
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Threshold-free evaluation of the in-engine quality classifier
  * ([[TrainClassifier]]) — the metrics an eval pipeline publishes before
  * a model's scores are trusted as sampling weights: exact ROC AUC,
  * the full confusion matrix at the decision threshold, and average
  * precision (PR-AUC). Reference scope: the reference pipeline stops at
  * rule-based validation (validate.py); this family is the natural eval
  * extension once `q_train_quality_clf` distills those rules to a model.
  *
  * Scale design — every metric reduces the corpus ONCE:
  *  - AUC / AP score every document with the broadcast 4-double model
  *    (narrow per-row work), then collapse to the DISTINCT
  *    micro-quantized-score histogram: scores land on the integer grid
  *    floor(p·1e6 + 0.5) ∈ [0, 1e6], so the histogram is bounded by the
  *    QUANTIZATION DOMAIN (≤ 1e6+1 rows) regardless of corpus size. The
  *    cumulative rank walk runs over that bounded histogram — the
  *    q_stats_ks whitelisted window class — never over corpus rows.
  *  - The confusion matrix is one grand aggregate: four conditional
  *    counts, zero shuffles beyond the 4-long partial rows.
  *
  * Exactness: AUC uses the rank-sum identity on grouped data,
  * AUC = Σ_s n1_s·(2·cumN0Before_s + n0_s) / (2·n1·n0) — numerator and
  * denominator exact BIGINTs (ties contribute the standard ½), one final
  * division. AP's per-score terms n1_s·P_s are doubles computed from
  * exact integers with pinned association, micro-quantized before the
  * sum (the order-independence rule every transcendental/division-fed
  * sum in this repo follows). Both engines therefore agree bit-for-bit.
  */
object ModelEval {

  private val Micro = 1000000.0
  private val MicroSql = "1000000.0"

  /** Score the feature frame with the trained weights; returns the frame
    * plus the (y, mu) projection where mu is the micro-quantized
    * predicted probability. */
  private def scored(spark: SparkSession, dir: String): DataFrame = {
    val f = TrainClassifier.features(spark, dir).cache()
    val (ws, _, _, _) = TrainClassifier.fit(f)
    // f stays cached: the returned plan re-reads it at execution time
    // (the harness clears cache per query)
    val p = TrainClassifier.sigma(TrainClassifier.margin(ws))
    f.select(floor(p * lit(Micro) + lit(0.5)).cast("long").as("mu"), col("y"))
  }

  private val scoredSql: String =
    s"""sc AS (SELECT CAST(floor((0.5 + 0.5 * ($MARGIN / (1.0 + abs($MARGIN)))) * $MicroSql + 0.5) AS BIGINT) AS mu,
       |         f.y AS y
       |       FROM f CROSS JOIN w${TrainClassifier.Iterations} w)""".stripMargin

  private def MARGIN = "(w.b + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3)"

  // ------------------------------------------------------------------ auc

  /** Exact ROC AUC of the trained classifier against its weak label. */
  def auc(spark: SparkSession, dir: String): DataFrame =
    aucOf(scored(spark, dir))

  /** Rank-sum AUC over any (mu: LONG quantized score, y: 0.0/1.0 label)
    * frame — the reusable grouped-data form. */
  def aucOf(sc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = sc.groupBy(col("mu")).agg(
      sum(when(col("y") === lit(1.0), 1L).otherwise(0L)).as("n1"),
      sum(when(col("y") === lit(0.0), 1L).otherwise(0L)).as("n0"))
    val win = Window.orderBy(col("mu"))
    val cum = h.withColumn("cb",
      coalesce(sum(col("n0")).over(win.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    cum.agg(
      sum(col("n1")).as("n_pos"), sum(col("n0")).as("n_neg"),
      sum(col("n1") * (lit(2) * col("cb") + col("n0"))).as("num2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null).cast("double"))
          .otherwise(roundN(col("num2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  private val aucSql: String =
    s"""WITH ${TrainClassifier.trainCtesSql},
       |$scoredSql,
       |h AS (SELECT mu,
       |        sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS n1,
       |        sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS n0
       |      FROM sc GROUP BY mu),
       |cu AS (SELECT n1, n0,
       |         coalesce(sum(n0) OVER (ORDER BY mu
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |       FROM h),
       |a AS (SELECT CAST(sum(n1) AS BIGINT) AS n_pos,
       |        CAST(sum(n0) AS BIGINT) AS n_neg,
       |        CAST(sum(n1 * (2 * cb + n0)) AS BIGINT) AS num2
       |      FROM cu)
       |SELECT n_pos, n_neg,
       |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
       |       ELSE ${roundNSql("CAST(num2 AS DOUBLE) / (2.0 * n_pos * n_neg)", 6)}
       |  END AS auc
       |FROM a""".stripMargin

  // ------------------------------------------------------------ confusion

  /** Confusion matrix + derived rates at the model's decision threshold
    * (margin ≥ 0, i.e. p ≥ 0.5) — one grand aggregate over the corpus. */
  def confusion(spark: SparkSession, dir: String): DataFrame = {
    val f = TrainClassifier.features(spark, dir).cache()
    val (ws, _, _, _) = TrainClassifier.fit(f)
    val pos = TrainClassifier.margin(ws) >= lit(0.0)
    val c = f.agg(
      sum(when((col("y") === lit(1.0)) && pos, 1L).otherwise(0L)).as("tp"),
      sum(when((col("y") === lit(0.0)) && pos, 1L).otherwise(0L)).as("fp"),
      sum(when((col("y") === lit(1.0)) && !pos, 1L).otherwise(0L)).as("fn"),
      sum(when((col("y") === lit(0.0)) && !pos, 1L).otherwise(0L)).as("tn"))
    def rate(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0L, lit(null).cast("double"))
        .otherwise(roundN(num.cast("double") / den, 6))
    c.select(col("tp"), col("fp"), col("fn"), col("tn"),
      rate(col("tp"), col("tp") + col("fp")).as("precision"),
      rate(col("tp"), col("tp") + col("fn")).as("recall"),
      rate(lit(2) * col("tp"), lit(2) * col("tp") + col("fp") + col("fn")).as("f1"),
      rate(col("tp") + col("tn"),
        col("tp") + col("fp") + col("fn") + col("tn")).as("accuracy"))
  }

  private val confusionSql: String = {
    def rate(num: String, den: String) =
      s"CASE WHEN $den = 0 THEN NULL ELSE ${roundNSql(s"CAST($num AS DOUBLE) / ($den)", 6)} END"
    s"""WITH ${TrainClassifier.trainCtesSql},
       |c AS (SELECT
       |        CAST(sum(CASE WHEN f.y = 1.0 AND $MARGIN >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |        CAST(sum(CASE WHEN f.y = 0.0 AND $MARGIN >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |        CAST(sum(CASE WHEN f.y = 1.0 AND NOT ($MARGIN >= 0.0) THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |        CAST(sum(CASE WHEN f.y = 0.0 AND NOT ($MARGIN >= 0.0) THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |      FROM f CROSS JOIN w${TrainClassifier.Iterations} w)
       |SELECT tp, fp, fn, tn,
       |  ${rate("tp", "tp + fp")} AS precision,
       |  ${rate("tp", "tp + fn")} AS recall,
       |  ${rate("2 * tp", "2 * tp + fp + fn")} AS f1,
       |  ${rate("tp + tn", "tp + fp + fn + tn")} AS accuracy
       |FROM c""".stripMargin
  }

  // --------------------------------------------------------------- pr-auc

  /** Average precision (area under the precision-recall curve, step
    * interpolation with ties grouped per distinct score):
    * AP = Σ_s (n1_s / n1) · P_s walking scores DESCENDING, where
    * P_s = cumTP_s / (cumTP_s + cumFP_s) is the precision of the
    * "predict positive above s" classifier. */
  def averagePrecision(spark: SparkSession, dir: String): DataFrame =
    apOf(scored(spark, dir))

  /** Step-interpolated AP over any (mu, y) scored frame. */
  def apOf(sc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = sc.groupBy(col("mu")).agg(
      sum(when(col("y") === lit(1.0), 1L).otherwise(0L)).as("n1"),
      sum(when(col("y") === lit(0.0), 1L).otherwise(0L)).as("n0"))
    val win = Window.orderBy(col("mu").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h
      .withColumn("ctp", sum(col("n1")).over(win))
      .withColumn("cfp", sum(col("n0")).over(win))
    // per-score term n1_s · P_s: doubles from exact ints, pinned
    // association, micro-quantized before the order-independent sum
    val term = col("n1").cast("double") *
      (col("ctp").cast("double") / (col("ctp") + col("cfp")).cast("double"))
    cum.agg(
      sum(col("n1")).as("n_pos"),
      sum(floor(term * lit(Micro) + lit(0.5)).cast("long")).as("q"))
      .select(col("n_pos"),
        when(col("n_pos") === 0L, lit(null).cast("double"))
          .otherwise(roundN(col("q").cast("double") / lit(Micro) / col("n_pos"), 6))
          .as("avg_precision"))
  }

  private val averagePrecisionSql: String =
    s"""WITH ${TrainClassifier.trainCtesSql},
       |$scoredSql,
       |h AS (SELECT mu,
       |        sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS n1,
       |        sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS n0
       |      FROM sc GROUP BY mu),
       |cu AS (SELECT n1, n0,
       |         sum(n1) OVER (ORDER BY mu DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
       |         sum(n0) OVER (ORDER BY mu DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cfp
       |       FROM h),
       |a AS (SELECT CAST(sum(n1) AS BIGINT) AS n_pos,
       |        CAST(sum(CAST(floor((CAST(n1 AS DOUBLE) *
       |          (CAST(ctp AS DOUBLE) / CAST(ctp + cfp AS DOUBLE))) * $MicroSql + 0.5)
       |          AS BIGINT)) AS BIGINT) AS q
       |      FROM cu)
       |SELECT n_pos,
       |  CASE WHEN n_pos = 0 THEN NULL
       |       ELSE ${roundNSql(s"CAST(q AS DOUBLE) / $MicroSql / n_pos", 6)}
       |  END AS avg_precision
       |FROM a""".stripMargin

  // -------------------------------------------------------- cross-validation

  /** Number of CV folds; fold = first md5 byte of doc_id mod Folds — the
    * repo's deterministic, reshard-stable hash-assignment pattern. */
  val CvFolds = 3

  /** K-fold cross-validated AUC of the quality classifier — the model
    * SELECTION metric: train-set AUC (q_train_auc) flatters an overfit
    * model, held-out AUC is what a pipeline trusts before adopting the
    * scores as sampling weights. Each fold trains the full exact GD
    * trajectory on the other folds and scores ONLY its held-out third;
    * output is one row per fold plus a fold = -1 summary row whose auc
    * is the fixed-order mean of the (rounded) fold AUCs.
    *
    * Scale: K× the training cost (each fold is T grand aggregates over
    * the cached feature frame — no shuffle, no join), plus K bounded-
    * histogram AUC walks (the whitelisted ≤ 1e6+1-row window class). The
    * model stays 4 driver doubles per fold. */
  def crossVal(spark: SparkSession, dir: String): DataFrame = {
    val foldCol = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int"),
      lit(CvFolds))
    val f = TrainClassifier.features(spark, dir)
      .withColumn("fold", foldCol).cache()
    // materialize the shared feature cache once BEFORE the folds fan out,
    // so concurrent first-touch doesn't compute partitions redundantly
    f.count()
    // round-12 optimization (guide §2.6 "overlap independent jobs"): each
    // fold's fit is 1 + Iterations driver-coordinated grand-aggregate
    // jobs over the SAME cached frame, sequential only because the driver
    // called them sequentially — the folds are independent, so they now
    // run concurrently (one thread per fold) and their small jobs interleave
    // on the idle executor capacity (each aggregate is far narrower than
    // the cluster). Per-fold trajectories and results are unchanged:
    // every fold's GD is self-contained and its weights land in plan
    // literals, fold order is restored on collection below.
    val perFold = Concurrent.all((0 until CvFolds).map { k => () =>
      val (ws, _, _, _) = TrainClassifier.fit(f.filter(col("fold") =!= k))
      val p = TrainClassifier.sigma(TrainClassifier.margin(ws))
      val sc = f.filter(col("fold") === k)
        .select(floor(p * lit(Micro) + lit(0.5)).cast("long").as("mu"), col("y"))
      aucOf(sc)
    })
    val foldRows = perFold.zipWithIndex.map { case (a, k) =>
      a.select(lit(k).as("fold"), col("n_pos"), col("n_neg"), col("auc"))
    }.reduce(_ unionByName _)
    // summary: fixed-order mean of the ROUNDED fold AUCs (1-row
    // broadcast crossJoins — the exempt single-row shape)
    val Seq(a0, a1, a2) = perFold.zipWithIndex.map { case (a, k) =>
      a.select(col("n_pos").as(s"p$k"), col("n_neg").as(s"g$k"),
        col("auc").as(s"a$k"))
    }
    val mean = a0.crossJoin(broadcast(a1)).crossJoin(broadcast(a2))
      .select(lit(-1).as("fold"),
        (col("p0") + col("p1") + col("p2")).as("n_pos"),
        (col("g0") + col("g1") + col("g2")).as("n_neg"),
        roundN((col("a0") + col("a1") + col("a2")) / lit(3.0), 6).as("auc"))
    foldRows.unionByName(mean).orderBy(col("fold"))
  }

  private val crossValSql: String = {
    def foldChain(k: Int): String = {
      val p = s"f${k}_"
      val m = "(w.b + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3)"
      s"""tr$k AS (SELECT * FROM ff WHERE fold != $k),
         |${TrainClassifier.trainCtesSqlFrom(p, s"tr$k")},
         |sc$k AS (SELECT CAST(floor((0.5 + 0.5 * ($m / (1.0 + abs($m)))) * $MicroSql + 0.5) AS BIGINT) AS mu,
         |           f.y AS y
         |         FROM ff f CROSS JOIN ${p}w${TrainClassifier.Iterations} w
         |         WHERE f.fold = $k),
         |h$k AS (SELECT mu,
         |        sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS n1,
         |        sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS n0
         |      FROM sc$k GROUP BY mu),
         |cu$k AS (SELECT n1, n0,
         |         coalesce(sum(n0) OVER (ORDER BY mu
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |       FROM h$k),
         |a$k AS (SELECT CAST(sum(n1) AS BIGINT) AS n_pos,
         |        CAST(sum(n0) AS BIGINT) AS n_neg,
         |        CASE WHEN sum(n1) = 0 OR sum(n0) = 0 THEN NULL
         |             ELSE ${roundNSql(
                      "CAST(sum(n1 * (2 * cb + n0)) AS DOUBLE) / (2.0 * sum(n1) * sum(n0))", 6)}
         |        END AS auc
         |      FROM cu$k)""".stripMargin
    }
    s"""WITH ${TrainClassifier.featureSqlShared},
       |ff AS MATERIALIZED (SELECT *,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % ${CvFolds}) AS fold
       |  FROM f),
       |${(0 until CvFolds).map(foldChain).mkString(",\n")}
       |SELECT fold, n_pos, n_neg, auc FROM (
       |  SELECT 0 AS fold, n_pos, n_neg, auc FROM a0
       |  UNION ALL SELECT 1, n_pos, n_neg, auc FROM a1
       |  UNION ALL SELECT 2, n_pos, n_neg, auc FROM a2
       |  UNION ALL SELECT -1, a0.n_pos + a1.n_pos + a2.n_pos,
       |    a0.n_neg + a1.n_neg + a2.n_neg,
       |    ${roundNSql("(a0.auc + a1.auc + a2.auc) / 3.0", 6)}
       |  FROM a0, a1, a2)
       |ORDER BY fold""".stripMargin
  }

  // ----------------------------------------------------------------- lift

  /** Quintile lift / cumulative-gains table of the trained classifier —
    * the campaign-targeting read beside AUC (AUC summarizes the whole
    * ranking; the lift table says what happens if you act on the TOP
    * 20/40/… percent): documents bucket into score quintiles via the
    * exact ntile machinery ([[graft.operators.Events.ntileByCutpoints]]
    * on (score DESC, doc_id) — NO corpus-sized window), and each bucket
    * reports its positive rate, lift = rate/base-rate, and the
    * cumulative gain share of all positives captured so far.
    *
    * Exactness: scores are the identical micro-quantized sigmoid the AUC
    * family ranks on; bucket counts are exact BIGINTs; lift is one
    * division of exact cross-products (x_b·N)/(n_b·X) (fits BIGINT to
    * ~3e9 docs, the woe budget) and gain is cum_x/X — a base-rate-free
    * corpus (X = 0) reports NULL lift/gain. The cumulative window runs
    * over the 5 quintile rows (bounded by construction, whitelisted —
    * the q_events_uplift Qini class).
    *
    * Scale shape: T scan-speed grand aggregates train the model (the fit
    * contract); scoring is one narrow pass; bucketing is the broadcast
    * cutpoint CASE; the table itself is 5 rows. */
  def lift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = TrainClassifier.features(spark, dir).cache()
    val (ws, _, _, _) = TrainClassifier.fit(f)
    val p = TrainClassifier.sigma(TrainClassifier.margin(ws))
    val sc = f.select(col("doc_id").as("user_id"), // cutpoint ties key on user_id
      floor(p * lit(Micro) + lit(0.5)).cast("long").as("mu"), col("y"))
      .localCheckpoint()
    val n = sc.count()
    val b = Events.ntileByCutpoints(sc, -col("mu"), n, "bucket")
    val w5 = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === lit(1.0), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("cum_pos", sum(col("n_pos")).over(w5))
      .crossJoin(broadcast(sc.agg(count(lit(1)).as("nn"),
        sum(when(col("y") === lit(1.0), 1L).otherwise(0L)).as("xx"))))
      .select(col("bucket").cast("long").as("bucket"), col("n"), col("n_pos"),
        roundN(col("n_pos").cast("double") / col("n"), 6).as("rate"),
        when(col("xx") === 0L, lit(null).cast("double"))
          .otherwise(roundN((col("n_pos") * col("nn")).cast("double") /
            (col("n") * col("xx")), 6)).as("lift"),
        when(col("xx") === 0L, lit(null).cast("double"))
          .otherwise(roundN(col("cum_pos").cast("double") / col("xx"), 6))
          .as("cum_gain"))
      .orderBy(col("bucket"))
  }

  private val liftSql: String =
    s"""WITH ${TrainClassifier.trainCtesSql},
       |scd AS (SELECT f.doc_id,
       |          CAST(floor((0.5 + 0.5 * ($MARGIN / (1.0 + abs($MARGIN))))
       |            * $MicroSql + 0.5) AS BIGINT) AS mu,
       |          f.y AS y
       |        FROM f CROSS JOIN w${TrainClassifier.Iterations} w),
       |b AS (SELECT *, ntile(5) OVER (ORDER BY mu DESC, doc_id) AS bucket
       |      FROM scd),
       |g AS (SELECT bucket, count(*) AS n,
       |        CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |      FROM b GROUP BY 1),
       |c AS (SELECT *,
       |        CAST(sum(n_pos) OVER (ORDER BY bucket
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |          AS cum_pos,
       |        CAST(sum(n) OVER () AS BIGINT) AS nn,
       |        CAST(sum(n_pos) OVER () AS BIGINT) AS xx
       |      FROM g)
       |SELECT CAST(bucket AS BIGINT) AS bucket, n, n_pos,
       |  ${roundNSql("CAST(n_pos AS DOUBLE) / n", 6)} AS rate,
       |  CASE WHEN xx = 0 THEN NULL
       |       ELSE ${roundNSql("CAST(n_pos * nn AS DOUBLE) / (n * xx)", 6)}
       |  END AS lift,
       |  CASE WHEN xx = 0 THEN NULL
       |       ELSE ${roundNSql("CAST(cum_pos AS DOUBLE) / xx", 6)}
       |  END AS cum_gain
       |FROM c
       |ORDER BY bucket""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q_train_auc", auc, Some(aucSql)),
    Q("q_train_confusion", confusion, Some(confusionSql)),
    Q("q_train_prauc", averagePrecision, Some(averagePrecisionSql)),
    Q("q_train_cv", crossVal, Some(crossValSql)),
    Q("q_train_lift", lift, Some(liftSql)))
}
