package graft.operators

import graft.Q
import graft.functions.Rounding.{roundN, roundNSql}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data mining passes that COMPOSE the engine's existing blocks
  * into the shapes an embedding-model / LLM training pipeline actually
  * ships: contrastive pair mining (hard negatives), cross-split semantic
  * leakage audit, length-bucketed batch assembly, and per-group feature
  * standardization. The reference pipeline has no counterpart — these
  * extend its validate/transform surface to the curation jobs that
  * precede model training (SURVEY.md §2 extension inventory).
  *
  * Scale notes (100 TB):
  *  - Both embedding passes ride the SAME sign-LSH blocking as the ANN
  *    family (Similarity.bucket): candidate pairs only form inside a
  *    bucket, so pair volume is corpus · O(bucket population), never
  *    all-pairs; `planesFor` keeps bucket population constant as the
  *    corpus grows. The per-anchor champion is a bucket-partitioned
  *    window (the TopKPerGroup rewrite turns it into a bounded heap).
  *  - Batch assembly shards each length bucket by a hash byte before the
  *    window, so no single task ever sorts a whole length bucket — the
  *    padding cost of a batch is decided by its bucket ceiling, so
  *    sharding changes batch MEMBERSHIP, not padding efficiency.
  *  - Standardization is one 5-row aggregate broadcast back over the
  *    scan: integer-cents sums (order-independent, exact) feed identical
  *    double math in both engines.
  */
object Mining {

  import Similarity.{NearDupCos, QueryStride}

  /** Contrastive pair mining: for each anchor (every QueryStride-th
    * vector), the best POSITIVE (highest cosine ≥ τ — a near-duplicate,
    * usable as an augmentation positive) and the best HARD NEGATIVE
    * (highest cosine < τ — maximally confusable non-duplicate, the pair
    * that actually teaches a contrastive model). One bucketed candidate
    * join, one role tag, one champion per (anchor, role).
    *
    * Blocking is DENSITY-ADAPTIVE (round-11 verdict task #1): the plane
    * count comes from [[Similarity.planesFor]] over the corpus cardinality,
    * so within-bucket candidate volume stays O(corpus · TargetBucketRows)
    * instead of the fixed-plane O(corpus²/2^6) this query measured before.
    * Still exactly oracle-checked at ANY corpus size: the SQL recomputes
    * the same integer shift ladder and masks the same md5 plane literals
    * ([[Similarity.adaptivePlanesCte]]/[[Similarity.adaptiveBucketSql]]).
    * At harness scales (≤ 2k vectors) planesFor floors at the registered
    * default, so results there are bit-identical to the fixed-plane form. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val m = Similarity.planesMatrix(
      Similarity.planesFor(Tables.embeddings(spark, dir).count()))
    val vecs = Similarity.vectors(spark, dir)
      .withColumn("bkt", Similarity.bucketWith(col("v"), m)).persist()
    val q = vecs.filter(col("vec_id") % QueryStride === 0).alias("q")
    val c = vecs.alias("c")
    val cand = q.join(c, col("q.bkt") === col("c.bkt") &&
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("anchor_id"), col("c.vec_id").as("cand_id"),
        Similarity.cosine.as("sim"))
      .withColumn("role",
        when(col("sim") >= NearDupCos, "positive").otherwise("hard_negative"))
    val w = Window.partitionBy(col("anchor_id"), col("role"))
      .orderBy(col("sim").desc, col("cand_id"))
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("anchor_id"), col("role"), col("cand_id"), col("sim"))
      .orderBy(col("anchor_id"), col("role"))
  }

  /** Bucketed candidate volume of the hard-negative miner — bench/spec
    * instrumentation (the AdaptiveLshSpec linearity invariant applied to
    * this consumer: candidates ≤ anchors · bucket-skew · target rows). */
  def miningCandidateCount(spark: SparkSession, dir: String): Long = {
    val m = Similarity.planesMatrix(
      Similarity.planesFor(Tables.embeddings(spark, dir).count()))
    val vecs = Similarity.vectors(spark, dir)
      .withColumn("bkt", Similarity.bucketWith(col("v"), m)).persist()
    val q = vecs.filter(col("vec_id") % QueryStride === 0).alias("q")
    q.join(vecs.alias("c"), col("q.bkt") === col("c.bkt") &&
      col("q.vec_id") =!= col("c.vec_id")).count()
  }

  private val hardNegativesSql =
    s"""WITH v0 AS (${Similarity.vectorsSql}),
       |${Similarity.adaptivePlanesCte},
       |vecs AS (SELECT vec_id, v, nrm, ${Similarity.adaptiveBucketSql} AS bkt FROM v0, np),
       |cand AS (
       |  SELECT q.vec_id AS anchor_id, c.vec_id AS cand_id,
       |    ${Similarity.cosineSql} AS sim
       |  FROM vecs q JOIN vecs c ON q.bkt = c.bkt AND q.vec_id != c.vec_id
       |  WHERE q.vec_id % $QueryStride = 0),
       |t AS (SELECT anchor_id,
       |  CASE WHEN sim >= $NearDupCos THEN 'positive' ELSE 'hard_negative' END AS role,
       |  cand_id, sim FROM cand)
       |SELECT anchor_id, role, cand_id, sim FROM t
       |QUALIFY row_number() OVER (PARTITION BY anchor_id, role
       |  ORDER BY sim DESC, cand_id) = 1
       |ORDER BY anchor_id, role""".stripMargin

  /** Cross-split semantic leakage: eval ("test"-split) vectors whose
    * nearest TRAIN-split neighbor clears the near-dup cosine — the
    * embedding-level sequel to `q_split_leakage_free` (which guards
    * lexical near-dups). Splits use the engine's standard md5-byte gate
    * on the id so both engines assign identically; one row per leaked
    * eval vector with its worst offender.
    *
    * Blocking is density-adaptive like [[hardNegatives]] (same planesFor
    * ladder, same dynamic-plane oracle): the test⋈train bucket join's
    * candidate volume stays corpus-linear as the corpus grows, and at
    * harness scales the plane count floors at the registered default so
    * results are unchanged there. */
  def semanticLeakage(spark: SparkSession, dir: String): DataFrame = {
    val hb = Sampling.hashByteOf(col("vec_id"))
    val m = Similarity.planesMatrix(
      Similarity.planesFor(Tables.embeddings(spark, dir).count()))
    val vecs = Similarity.vectors(spark, dir)
      .withColumn("bkt", Similarity.bucketWith(col("v"), m))
      .withColumn("hb", hb).persist()
    val test = vecs.filter(col("hb") >= 230).alias("q")
    val train = vecs.filter(col("hb") < 205).alias("c")
    val cand = test.join(train, col("q.bkt") === col("c.bkt"))
      .select(col("q.vec_id").as("test_id"), col("c.vec_id").as("train_id"),
        Similarity.cosine.as("sim"))
      .filter(col("sim") >= NearDupCos)
    val w = Window.partitionBy(col("test_id"))
      .orderBy(col("sim").desc, col("train_id"))
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("test_id"), col("train_id"), col("sim"))
      .orderBy(col("test_id"))
  }

  private val semanticLeakageSql = {
    val hb = Sampling.hashByteSqlOf("vec_id")
    s"""WITH v0 AS (${Similarity.vectorsSql}),
       |${Similarity.adaptivePlanesCte},
       |vecs AS (SELECT vec_id, v, nrm, ${Similarity.adaptiveBucketSql} AS bkt,
       |  $hb AS hb FROM v0, np),
       |cand AS (
       |  SELECT q.vec_id AS test_id, c.vec_id AS train_id,
       |    ${Similarity.cosineSql} AS sim
       |  FROM vecs q JOIN vecs c ON q.bkt = c.bkt
       |  WHERE q.hb >= 230 AND c.hb < 205)
       |SELECT test_id, train_id, sim FROM cand
       |WHERE sim >= $NearDupCos
       |QUALIFY row_number() OVER (PARTITION BY test_id
       |  ORDER BY sim DESC, train_id) = 1
       |ORDER BY test_id""".stripMargin
  }

  /** Length-bucket width and token capacity of one padded training batch. */
  val BucketWidth = 64
  val BatchTokens = 2048
  /** Hash-byte shards per length bucket — bounds every window partition to
    * ~1/NumShards of its bucket so no task sorts a whole bucket. */
  val NumShards = 8

  /** Length-bucketed padded-batch assembly: docs are padded to their
    * bucket ceiling (ceil(n_tokens / 64) · 64), batches take
    * floor(2048 / ceiling) docs each, and the report prices the padding
    * waste per batch. Bucketing is what makes padding cheap: batch
    * members share a ceiling, so waste is (ceiling − n_tokens) summed —
    * vs padding everything to the global max in unbucketed batching. */
  def batchBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = TextAnalysis.withWordsOf(Tables.documents(spark, dir))
      .select(col("doc_id"), size(col("w")).as("n_tokens"))
      .withColumn("bucket_ub",
        (ceil(col("n_tokens").cast("double") / BucketWidth) * BucketWidth).cast("long"))
      .withColumn("shard", Sampling.hashByteOf(col("doc_id")) % NumShards)
    val rowsPerBatch = greatest(lit(1L), floor(lit(BatchTokens) / col("bucket_ub")))
    val w = Window.partitionBy(col("bucket_ub"), col("shard"))
      .orderBy(col("n_tokens"), col("doc_id"))
    docs
      .withColumn("batch_id",
        col("shard") * lit(1000000L) + floor((row_number().over(w) - 1) / rowsPerBatch))
      .groupBy(col("bucket_ub"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .select(col("bucket_ub"), col("batch_id"), col("n_docs"), col("sum_tokens"),
        (col("n_docs") * col("bucket_ub")).as("padded_tokens"),
        (col("n_docs") * col("bucket_ub") - col("sum_tokens")).as("waste_tokens"))
      .orderBy(col("bucket_ub"), col("batch_id"))
  }

  private val batchBucketsSql = {
    val w = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
    val shard = s"${Sampling.hashByteSqlOf("doc_id")} % $NumShards"
    s"""WITH d AS (SELECT doc_id, len($w) AS n_tokens,
       |  CAST(ceil(CAST(len($w) AS DOUBLE) / $BucketWidth) * $BucketWidth AS BIGINT) AS bucket_ub,
       |  $shard AS shard
       |  FROM documents),
       |a AS (SELECT doc_id, n_tokens, bucket_ub, shard,
       |  shard * 1000000 + CAST(floor(CAST(row_number() OVER (
       |      PARTITION BY bucket_ub, shard ORDER BY n_tokens, doc_id) - 1 AS BIGINT)
       |    / greatest(1, CAST(floor($BatchTokens / bucket_ub) AS BIGINT))) AS BIGINT) AS batch_id
       |  FROM d)
       |SELECT bucket_ub, batch_id, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  count(*) * bucket_ub AS padded_tokens,
       |  CAST(count(*) * bucket_ub - sum(n_tokens) AS BIGINT) AS waste_tokens
       |FROM a GROUP BY 1, 2
       |ORDER BY bucket_ub, batch_id""".stripMargin
  }

  /** Per-segment z-score standardization of customer balances — the
    * feature-scaling pass of a tabular training pipeline as ONE 5-row
    * aggregate broadcast back over the scan. Balances go to integer
    * cents first (floor(x·100 + 0.5)): sums and sums-of-squares are then
    * order-independent BIGINT arithmetic, and both engines run identical
    * double math on identical exact inputs. BIGINT budget: cents² ≈
    * 10¹²/row → safe to ~9·10⁶ rows per segment; beyond that, promote
    * the squared sum to DECIMAL(38,0) on both sides. */
  def zscore(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("c_acctbal") * 100 + 0.5).cast("long")
    val c = Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_mktsegment"), cents.as("cents"))
    val stats = c.groupBy(col("c_mktsegment").as("seg")).agg(
      count(lit(1)).as("n"),
      sum(col("cents")).as("s1"),
      sum(col("cents") * col("cents")).as("s2"))
    val mean = col("s1").cast("double") / col("n")
    val variance = col("s2").cast("double") / col("n") - mean * mean
    val withSd = broadcast(stats.select(col("seg"), mean.as("mu"),
      sqrt(variance).as("sd")))
    c.join(withSd, col("c_mktsegment") === col("seg"))
      .select(col("c_custkey"), col("c_mktsegment"),
        when(col("sd") > 0, roundN((col("cents") - col("mu")) / col("sd"), 6))
          .otherwise(lit(0.0)).as("z"))
  }

  private val zscoreSql =
    s"""WITH c AS (SELECT c_custkey, c_mktsegment,
       |  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents FROM customer),
       |s AS (SELECT c_mktsegment AS seg, count(*) AS n,
       |  sum(cents) AS s1, sum(cents * cents) AS s2 FROM c GROUP BY 1),
       |m AS (SELECT seg,
       |  CAST(s1 AS DOUBLE) / n AS mu,
       |  sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sd
       |  FROM s)
       |SELECT c_custkey, c_mktsegment,
       |  CASE WHEN sd > 0 THEN ${roundNSql("(cents - mu) / sd", 6)}
       |       ELSE 0.0 END AS z
       |FROM c JOIN m ON c_mktsegment = seg""".stripMargin

  /** PMI co-occurrence window (± tokens) and minimum pair support. */
  val PmiWindow = 3
  val PmiMinCount = 5
  val PmiTopK = 30

  /** Pointwise-mutual-information word association over a ±3-token
    * co-occurrence window — the word2vec-era association miner (and the
    * collocation detector behind phrase vocabularies). Pairs come from
    * zipping each document's token array with its own shifted self —
    * W narrow explode legs, NO position self-join — then one hash
    * aggregate each for pair and unigram counts. PMI's log argument is
    * built from exact integer counts with a pinned multiplication order,
    * and quantized to integer millionths (the engine's quantized-ln
    * contract, TextAnalysis.lmScore) so both engines agree bit-for-bit.
    * The final top-k is `orderBy(...).limit(k)` — TakeOrderedAndProject's
    * per-partition bounded heap, never a global-window sort.
    * BIGINT-in-double budget: n_ab·T² and P·n_a·n_b stay below 2^53 up
    * to ~10¹⁰ tokens; beyond that, take logs of the factors separately
    * (ln a + 2 ln T − ln P − ln n_a − ln n_b) — same quantization. */
  def pmi(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.withWordsOf(Tables.documents(spark, dir))
      .select(col("doc_id"), col("w")).persist()
    val pairs = (1 to PmiWindow).map { j =>
      toks
        .withColumn("s1", slice(col("w"), lit(1), greatest(size(col("w")) - j, lit(0))))
        .withColumn("s2", slice(col("w"), lit(j + 1), greatest(size(col("w")) - j, lit(0))))
        .select(explode(zip_with(col("s1"), col("s2"),
          (x, y) => struct(x.as("x"), y.as("y")))).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
        .filter(col("x") =!= "" && col("y") =!= "")
        .select(least(col("x"), col("y")).as("wa"),
          greatest(col("x"), col("y")).as("wb"))
    }.reduce(_ unionAll _)
    val pc = pairs.groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("n_ab"))
    // round-13, MEASURED NEGATIVE on the lmScore "derive totals from the
    // aggregated table" recipe (§2.3) — BOTH halves tried and REVERTED:
    //  - np from Σ pc: on the open-vocabulary zipf corpus the pair-TYPE
    //    table is itself huge (heavy rare-pair tail), so summing it
    //    re-reads a multi-million-row exchange, while the grand count
    //    over `pairs` re-runs the zip explode off the PERSISTED toks
    //    cache with 1-row-per-partition partial counts — measured
    //    20.2 → 27.8 s at 500k (alternated best-of-2 ×2 blocks).
    //  - nt from Σ uc: the premise was that the nt subtree would end in
    //    uc's exchange and AQE would ReusedExchange it with the n_a/n_b
    //    legs. The EXECUTED plan refutes that: through the toks persist
    //    every unigram leg becomes its own TableCacheQueryStage and the
    //    three word-hash exchanges never canonicalize equal — 0
    //    ReusedExchange, so Σ uc just swapped an 8-row map-side grand
    //    count for a vocab-histogram shuffle (+70 MB at 500k, wall-clock a
    //    tie inside noise). Reuse-dependent rewrites need the executed
    //    plan checked BEFORE being kept (the lm_bigram lesson).
    val np = pairs.agg(count(lit(1)).as("np"))
    val u = toks.select(explode(col("w")).as("word")).filter(col("word") =!= "")
    val uc = u.groupBy(col("word")).agg(count(lit(1)).as("n_w"))
    val nt = u.agg(count(lit(1)).as("nt"))
    pc.crossJoin(broadcast(np)).crossJoin(broadcast(nt))
      .join(uc.select(col("word").as("wa"), col("n_w").as("n_a")), "wa")
      .join(uc.select(col("word").as("wb"), col("n_w").as("n_b")), "wb")
      .filter(col("n_ab") >= PmiMinCount)
      .select(col("wa"), col("wb"), col("n_ab"),
        floor(log((col("n_ab").cast("double") * col("nt") * col("nt")) /
          (col("np").cast("double") * col("n_a") * col("n_b"))) * 1e6 + 0.5)
          .cast("long").as("qpmi"))
      .orderBy(col("qpmi").desc, col("wa"), col("wb")).limit(PmiTopK)
  }

  private val pmiSql = {
    val w = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
    val js = (1 to PmiWindow).map(j => s"($j)").mkString(", ")
    s"""WITH d AS (SELECT doc_id, $w AS w FROM documents),
       |js AS (SELECT * FROM (VALUES $js) AS v(jj)),
       |z AS (SELECT unnest(list_zip(w[1:len(w)-jj], w[1+jj:len(w)])) AS p
       |      FROM d CROSS JOIN js),
       |pairs AS (SELECT least(p[1], p[2]) AS wa, greatest(p[1], p[2]) AS wb
       |          FROM z WHERE p[1] != '' AND p[2] != ''),
       |pc AS (SELECT wa, wb, count(*) AS n_ab FROM pairs GROUP BY 1, 2),
       |pt AS (SELECT count(*) AS np FROM pairs),
       |u AS (SELECT unnest(w) AS word FROM d),
       |uc AS (SELECT word, count(*) AS n_w FROM u WHERE word != '' GROUP BY 1),
       |ut AS (SELECT count(*) AS nt FROM u WHERE word != '')
       |SELECT wa, wb, n_ab,
       |  CAST(floor(ln((CAST(n_ab AS DOUBLE) * nt * nt) /
       |    (CAST(np AS DOUBLE) * ua.n_w * ub.n_w)) * 1e6 + 0.5) AS BIGINT) AS qpmi
       |FROM pc
       |CROSS JOIN pt CROSS JOIN ut
       |JOIN uc ua ON ua.word = pc.wa
       |JOIN uc ub ON ub.word = pc.wb
       |WHERE n_ab >= $PmiMinCount
       |ORDER BY qpmi DESC, wa, wb LIMIT $PmiTopK""".stripMargin
  }

  /** Robust (median/IQR) per-segment scaling — the outlier-immune sibling
    * of `zscore`, on the engine's histogram-cumulative type-1 quantile
    * form (q_stats_quantiles): the shuffle carries DISTINCT (segment,
    * cents) histogram rows, the window is segment-partitioned over that
    * money-bounded histogram, and the three cutpoints broadcast back as
    * INTEGER cents — so the scaling division runs on exact inputs in
    * both engines. */
  def robustScale(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("c_acctbal") * 100 + 0.5).cast("long")
    val c = Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_mktsegment"), cents.as("cents"))
    val bySeg = Window.partitionBy(col("c_mktsegment"))
    val cum = c.groupBy(col("c_mktsegment"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(bySeg.orderBy(col("cents"))))
      .withColumn("n", sum(col("cnt")).over(bySeg))
    def pick(q: Double) = min(when(col("cum") >= ceil(lit(q) * col("n")), col("cents")))
    val cuts = cum.groupBy(col("c_mktsegment").as("seg"))
      .agg(pick(0.25).as("p25"), pick(0.5).as("p50"), pick(0.75).as("p75"))
    c.join(broadcast(cuts), col("c_mktsegment") === col("seg"))
      .select(col("c_custkey"), col("c_mktsegment"),
        when(col("p75") > col("p25"),
          roundN((col("cents") - col("p50")).cast("double") / (col("p75") - col("p25")), 6))
          .otherwise(lit(0.0)).as("rz"))
  }

  private val robustScaleSql =
    s"""WITH c AS (SELECT c_custkey, c_mktsegment,
       |  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents FROM customer),
       |hist AS (SELECT c_mktsegment, cents, count(*) AS cnt FROM c GROUP BY 1, 2),
       |cum AS (SELECT c_mktsegment, cents,
       |  sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY cents) AS cum,
       |  sum(cnt) OVER (PARTITION BY c_mktsegment) AS n FROM hist),
       |cuts AS (SELECT c_mktsegment AS seg,
       |  min(CASE WHEN cum >= ceil(0.25 * n) THEN cents END) AS p25,
       |  min(CASE WHEN cum >= ceil(0.5 * n) THEN cents END) AS p50,
       |  min(CASE WHEN cum >= ceil(0.75 * n) THEN cents END) AS p75
       |  FROM cum GROUP BY 1)
       |SELECT c_custkey, c_mktsegment,
       |  CASE WHEN p75 > p25
       |    THEN ${roundNSql("CAST(cents - p50 AS DOUBLE) / (p75 - p25)", 6)}
       |    ELSE 0.0 END AS rz
       |FROM c JOIN cuts ON c_mktsegment = seg""".stripMargin

  /** Zipf-law fit over the top-k word frequencies — the corpus-health
    * statistic a datacard reports (natural corpora fit slope ≈ −1;
    * synthetic/templated corpora flatten). Least squares of quantized
    * ln(count) on quantized ln(rank) over the top 100 words: the
    * corpus-sized work is the word count every text operator pays; the
    * fit runs on a 100-row bounded-heap top-k (the rank window over a
    * LIMIT-k input is bounded by construction — tripwire-whitelisted).
    * All sums are exact integer micro-ln products (≤ ~6·10¹⁷ at any
    * corpus size, since y only grows as ln(count)), so the final slope
    * division is the only float op and both engines emit the identical
    * double. */
  val ZipfTopK = 100

  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val top = TextAnalysis.withWordsOf(Tables.documents(spark, dir))
      .select(explode(col("w")).as("word")).filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(ZipfTopK)
    val ranked = top.withColumn("r", row_number().over(
      Window.orderBy(col("n").desc, col("word"))))
    def qln(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val pts = ranked.select(qln(col("r")).as("x"), qln(col("n")).as("y"))
    pts.agg(count(lit(1)).as("k"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("k"),
        ((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("k") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        (((col("sy") - ((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("k") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("k")) / 1e6)
          .as("intercept_ln"))
  }

  private val zipfFitSql = {
    val w = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
    s"""WITH u AS (SELECT unnest($w) AS word FROM documents),
       |wc AS (SELECT word, count(*) AS n FROM u WHERE word != '' GROUP BY 1),
       |top AS (SELECT word, n FROM wc ORDER BY n DESC, word LIMIT $ZipfTopK),
       |rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, word) AS r FROM top),
       |pts AS (SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
       |               CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
       |        FROM rk),
       |s AS (SELECT count(*) AS k, CAST(sum(x) AS BIGINT) AS sx,
       |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
       |  CAST(sum(x * x) AS BIGINT) AS sxx FROM pts)
       |SELECT k,
       |  CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx) AS slope,
       |  ((sy - (CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx)) * sx) / k) / 1e6
       |    AS intercept_ln
       |FROM s""".stripMargin
  }

  // ------------------------------------------------- JL random projection

  /** Johnson-Lindenstrauss target dimension (64 → 16). */
  val RpDim = 16

  /** Deterministic ±1 projection rows: sign of md5("rp:j:d") — the
    * Similarity.planesMatrix recipe under a distinct seed prefix, so the
    * identical literal matrix ships to both engines with no fit step. */
  val rpMatrix: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until RpDim).map { j =>
      (0 until Similarity.Dim).map { d =>
        val h = md.digest(s"rp:$j:$d".getBytes("UTF-8"))
        if ((h(0) & 0xff) < 128) 1.0 else -1.0
      }
    }
  }

  /** Random-projection (JL) distortion audit: project every embedding
    * 64 → 16 dims through the deterministic ±1 matrix and measure, on
    * consecutive-id pairs, how well normalized projected squared distance
    * (‖Px−Py‖²/k, the JL unbiased estimator under ±1 rows) preserves the
    * original ‖x−y‖². The per-pair distortion ratio is the evidence a
    * pipeline needs before swapping the cheap projected distance into its
    * dedup/ANN candidate stages.
    *
    * Scale shape: projection is a narrow per-row map (k·Dim multiplies);
    * pairing is one equi-join on vec_id+1 (shuffle on the id, no
    * window); everything downstream is per-pair arithmetic. Identical
    * left-fold sum order in both engines (vec_dot ↔ list_sum) keeps the
    * doubles bit-identical. */
  def rpDistortion(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val proj = vecs.withColumn("p",
      array((0 until RpDim).map(j =>
        call_function("vec_dot", col("v"), lit(rpMatrix(j).toArray))): _*))
    val a = proj.alias("a")
    val b = proj.alias("b")
    val paired = a.join(b, col("b.vec_id") === col("a.vec_id") + 1)
      // stage the diff arrays: both are double-referenced by vec_dot, so
      // CollapseProject keeps them materialized (see verify-skill gotcha)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        zip_with(col("a.v"), col("b.v"), (x, y) => x - y).as("dv"),
        zip_with(col("a.p"), col("b.p"), (x, y) => x - y).as("dp"))
      .select(col("id_a"), col("id_b"),
        call_function("vec_dot", col("dv"), col("dv")).as("d2"),
        (call_function("vec_dot", col("dp"), col("dp")) / RpDim).as("d2p"))
    paired.select(col("id_a"), col("id_b"),
      roundN(col("d2"), 6).as("d2"),
      roundN(col("d2p"), 6).as("d2_rp"),
      when(col("d2") === 0, lit(null).cast("double"))
        .otherwise(roundN(col("d2p") / col("d2"), 6)).as("distortion"))
  }

  private val rpDistortionSql = {
    def rowLit(j: Int) =
      rpMatrix(j).map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    val projList = (0 until RpDim).map(j =>
      s"list_sum(list_transform(range(1, ${Similarity.Dim + 1}), i -> v[i] * ((${rowLit(j)})::DOUBLE[])[i]))")
      .mkString("[", ",\n      ", "]")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id, v, $projList AS p FROM v),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
       |      i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))) AS d2,
       |    list_sum(list_transform(range(1, ${RpDim + 1}),
       |      i -> (a.p[i] - b.p[i]) * (a.p[i] - b.p[i]))) / $RpDim AS d2p
       |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1)
       |SELECT id_a, id_b, ${roundNSql("d2", 6)} AS d2, ${roundNSql("d2p", 6)} AS d2_rp,
       |  CASE WHEN d2 = 0 THEN NULL ELSE ${roundNSql("d2p / d2", 6)} END AS distortion
       |FROM pairs""".stripMargin
  }

  // ----------------------------------------------------- feature hashing

  /** Hashed feature-space width (the "hashing trick" dimensionality). */
  val HashFeatures = 256

  /** Signed feature hashing (Weinberger et al.): every token maps to
    * bucket md5(token) mod F with a ±1 sign from an independent hash bit,
    * and a document's sparse feature vector is the signed token-count sum
    * per bucket — the stateless, vocabulary-free text featurizer that
    * needs no fitted dictionary and therefore no driver state at ANY
    * corpus size. Output is the sparse (doc_id, feature, weight)
    * representation, zero-weight cells dropped (sign cancellation is the
    * trick's documented property, not an error).
    *
    * Scale shape: explode → one (doc, feature)-keyed aggregate; both
    * hashes are per-token expressions inside codegen. */
  def featureHash(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.withWordsOf(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(col("w")).as("tok"))
      .filter(col("tok") =!= "")
    val feat = conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("int") % HashFeatures
    val sign = when(
      conv(substring(md5(col("tok")), 5, 1), 16, 10).cast("int") % 2 === 0, 1)
      .otherwise(-1)
    toks.select(col("doc_id"), feat.as("feature"), sign.as("s"))
      .groupBy(col("doc_id"), col("feature"))
      .agg(sum(col("s")).cast("long").as("weight"))
      .filter(col("weight") =!= 0)
  }

  private val featureHashSql =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(${TextAnalysis.normSql}, ' ')) AS tok
       |           FROM documents),
       |x AS (SELECT doc_id,
       |        ('0x' || substr(md5(tok), 1, 4))::INT % $HashFeatures AS feature,
       |        CASE WHEN ('0x' || substr(md5(tok), 5, 1))::INT % 2 = 0
       |             THEN 1 ELSE -1 END AS s
       |      FROM t WHERE tok != '')
       |SELECT doc_id, feature, CAST(sum(s) AS BIGINT) AS weight
       |FROM x GROUP BY 1, 2
       |HAVING sum(s) != 0""".stripMargin

  // --------------------------------------------- LLR collocations (Dunning)

  /** Collocation support floor and report size. */
  val LlrMinCount = 5L
  val LlrTopK = 20

  /** Dunning log-likelihood-ratio collocations — the robust complement to
    * PMI (`q_text_pmi`), which over-ranks rare pairs: G² scores each
    * adjacent bigram's 2×2 contingency (k11 together, k12/k21 one-sided,
    * k22 neither) and is safe at small counts. Every x·ln(x) entropy term
    * is quantized to integer micro-units BEFORE summation (0·ln0 = 0
    * pinned via CASE), so the eight-term alternating sum is exact integer
    * arithmetic in both engines; ranking is a bounded-heap top-k.
    *
    * Scale shape: one bigram aggregate + two marginal aggregates joined
    * back on their word key (vocabulary-sized), then per-bigram scalar
    * math; no window over the corpus. */
  def llrCollocations(spark: SparkSession, dir: String): DataFrame = {
    val w = col("w")
    val grams = when(size(w) < 2, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(w) - 2), i =>
        concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2))))
    val bg = TextAnalysis.withWordsOf(Tables.documents(spark, dir))
      .select(explode(grams).as("bg"))
    val counts = bg.groupBy(col("bg")).agg(count(lit(1)).as("k11"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val c1 = counts.groupBy(col("w1")).agg(sum(col("k11")).as("c1"))
    val c2 = counts.groupBy(col("w2")).agg(sum(col("k11")).as("c2"))
    val n = counts.agg(sum(col("k11")).as("nn"))
    def qxlx(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(x > 0, floor(x.cast("double") * log(x.cast("double")) * 1e6 + 0.5).cast("long"))
        .otherwise(0L)
    val t = counts.filter(col("k11") >= LlrMinCount)
      .join(c1, "w1").join(c2, "w2").crossJoin(broadcast(n))
      .withColumn("k12", col("c1") - col("k11"))
      .withColumn("k21", col("c2") - col("k11"))
      .withColumn("k22", col("nn") - col("c1") - col("k21"))
    val g2q = qxlx(col("k11")) + qxlx(col("k12")) + qxlx(col("k21")) + qxlx(col("k22")) -
      qxlx(col("c1")) - qxlx(col("nn") - col("c1")) -
      qxlx(col("c2")) - qxlx(col("nn") - col("c2")) + qxlx(col("nn"))
    t.select(col("bg").as("bigram"), col("k11").as("n_pair"),
      roundN(lit(2.0) * g2q.cast("double") / 1e6, 4).as("g2"))
      .orderBy(col("g2").desc, col("bigram"))
      .limit(LlrTopK)
  }

  private val llrCollocationsSql = {
    def qxlx(x: String) =
      s"(CASE WHEN $x > 0 THEN CAST(floor(CAST($x AS DOUBLE) * ln(CAST($x AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) ELSE 0 END)"
    val g2q = Seq(qxlx("k11"), qxlx("k12"), qxlx("k21"), qxlx("k22")).mkString(" + ") +
      s" - ${qxlx("c1")} - ${qxlx("(nn - c1)")} - ${qxlx("c2")} - ${qxlx("(nn - c2)")} + ${qxlx("nn")}"
    s"""WITH d AS (SELECT string_split(${TextAnalysis.normSql}, ' ') AS w FROM documents),
       |bgi AS (SELECT w, unnest(range(1, len(w))) AS i FROM d),
       |bg AS (SELECT w[i] || ' ' || w[i + 1] AS bg FROM bgi),
       |counts AS (SELECT bg, count(*) AS k11,
       |             split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2
       |           FROM bg GROUP BY 1),
       |m1 AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS c1 FROM counts GROUP BY 1),
       |m2 AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS c2 FROM counts GROUP BY 1),
       |nn AS (SELECT CAST(sum(k11) AS BIGINT) AS nn FROM counts),
       |t AS (SELECT bg, k11, c1, c2, nn,
       |        c1 - k11 AS k12, c2 - k11 AS k21, nn - c1 - (c2 - k11) AS k22
       |      FROM counts JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN nn
       |      WHERE k11 >= $LlrMinCount)
       |SELECT bg AS bigram, k11 AS n_pair,
       |  ${roundNSql(s"2.0 * CAST($g2q AS DOUBLE) / 1e6", 4)} AS g2
       |FROM t
       |ORDER BY g2 DESC, bigram LIMIT $LlrTopK""".stripMargin
  }

  // -------------------------------------------------------------- textrank

  /** TextRank PageRank iterations / damping (85/100) / keywords kept per
    * doc / pico-unit rank scale. */
  val TrIters = 10
  val TrTopK = 3
  val TrPico = 1000000000000L
  /** Per-(doc, src) out-edge cap for the capped variant: a node keeps only
    * its TrEdgeCap strongest neighbors (weight desc, dst asc — fully
    * deterministic), so per-doc edge volume is nodes·cap instead of the
    * near-complete nodes² a fixed small vocabulary produces. 8 ≈ the p90
    * out-degree of the open-vocab zipf corpus — dense graphs are thinned,
    * sparse ones untouched. */
  val TrEdgeCap = 8

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, word-graph
    * half): per document, words are nodes, adjacent-token co-occurrence
    * (window 2, self-loops dropped) gives symmetric weighted edges, and
    * [[TrIters]] damped PageRank iterations rank the words; the top
    * [[TrTopK]] per doc (score desc, word asc) are the keywords. The
    * graph-centrality complement of frequency-based RAKE
    * (`q_text_keyphrase`): a word that BRIDGES many co-occurrence
    * contexts outranks one that merely repeats inside a single phrase.
    *
    * Exactness: edge weights and degree sums are exact BIGINT counts,
    * and the ranks themselves live in integer PICO-units: every
    * iteration is pure BIGINT arithmetic — per-edge contribution
    * (r·w) div W, damped update (15·1e12) div (100n) + (85·Σ) div 100 —
    * so summation order can never drift the result by even an ulp (the
    * GD-trajectory recipe; a roundN(12)-per-round float variant was
    * observed to cross a rounding boundary on 1/1500 rows). The
    * per-edge flooring leaks < 1e-12 of mass per edge — orderings and
    * the unit-mass invariant hold to ~1e-9. The oracle unrolls the
    * identical integer recurrence as MATERIALIZED CTEs.
    *
    * Scale shape: everything is keyed by (doc_id, word) — per-doc
    * vocabulary-bounded, never corpus-global. Each round is one
    * equi-join + map-side-combinable sum (the Graph.pageRank cost
    * model), localCheckpoint-truncated; isolated words (no adjacent
    * distinct neighbor) have no edges and drop out — a one-distinct-word
    * doc yields no keywords (pinned). The final top-k is a
    * doc-partitioned rank window. */
  def textrank(spark: SparkSession, dir: String): DataFrame =
    textrankWith(spark, dir, edgeCap = None)

  /** [[textrank]] with the per-node out-edge budget ON: keeps rank quality
    * on sparse graphs (cap ≥ out-degree ⇒ bit-identical to the uncapped
    * query — TextrankCapSpec pins it) while bounding the dense-vocabulary
    * worst case, where per-doc co-occurrence graphs are near-complete and
    * edge volume is nodes² per doc. Capping is a (doc, src)-partitioned
    * top-w window — same key the iteration join already shuffles on, so
    * the cap adds no new exchange. */
  def textrankCapped(spark: SparkSession, dir: String): DataFrame =
    textrankWith(spark, dir, edgeCap = Some(TrEdgeCap))

  /** Round-12 optimization (guide §1.2 "the distributed algorithm"): the
    * old form ran each of the [[TrIters]] damped rounds as its own
    * equi-join + aggregation — ~2 Exchanges per round plus a
    * localCheckpoint barrier every third round, ~25 jobs per query
    * (measured 170 s at 500k zipf docs, iteration-bound). But the graph is
    * strictly PER-DOCUMENT and vocabulary-bounded, so after one per-doc
    * assembly pass the whole 10-round integer recurrence fits in a single
    * narrow `aggregate` expression over index-aligned arrays: build
    * (idx, word, in-edges[si, wgt, wsum]) once (the only shuffles left),
    * then every round is an O(edges) array transform with O(1)
    * element_at lookups — no per-round shuffle, no per-round job.
    *
    * Exactness: the recurrence is the SAME pure-BIGINT arithmetic
    * (per-edge (r·w) div wsum, damped (15·1e12) div (100n) +
    * (85·Σ) div 100), and BIGINT summation is order-insensitive, so
    * collect_list ordering cannot drift the result. The old per-round
    * INNER joins silently dropped a node whose in-edges all came from
    * already-dropped sources (possible only under the edge cap, where the
    * graph is asymmetric); the fused form reproduces that exactly: such a
    * node's rank goes NULL and null sources are filtered from every later
    * round's contributions — the DuckDB oracle (unchanged, the unrolled
    * inner-join CTE chain) pins this at every correctness scale. */
  private[graft] def textrankWith(spark: SparkSession, dir: String,
      edgeCap: Option[Int]): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.normText(col("text")).as("norm"))
      .select(col("doc_id"), posexplode(split(col("norm"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val nxt = lead(col("w"), 1).over(
      Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    val adj = toks.withColumn("nw", nxt)
      .filter(col("nw").isNotNull && col("nw") =!= col("w"))
    val edgesAll = adj.select(col("doc_id"), col("w").as("src"), col("nw").as("dst"))
      .unionByName(adj.select(col("doc_id"), col("nw").as("src"), col("w").as("dst")))
      .groupBy(col("doc_id"), col("src"), col("dst"))
      .agg(count(lit(1)).as("wgt"))
    // out-weights are recomputed AFTER the cap so each surviving node still
    // distributes exactly its full rank mass — the unit-mass invariant holds
    // under any cap
    // DISK_ONLY persists, not localCheckpoint: both relations feed two
    // consumers each (so materializing once is right), but an in-memory
    // deserialized cache of the 500k-point's ~50M edge rows sits in the
    // storageFraction-PROTECTED half of the unified pool and starved the
    // assembly stage's sorts/object-aggs into
    // SparkOutOfMemoryError(UNABLE_TO_ACQUIRE) — guide §5: cached data
    // competes with execution memory. Local-disk blocks cost one
    // sequential write+read (negligible at bench scale, measured) and
    // leave the whole execution pool to the sorts.
    val edges = edgeCap.fold(edgesAll) { cap =>
      val wc = Window.partitionBy(col("doc_id"), col("src"))
        .orderBy(col("wgt").desc, col("dst"))
      edgesAll.withColumn("erk", row_number().over(wc))
        .filter(col("erk") <= cap).drop("erk")
    }.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // node table: out-weight plus a deterministic 1-based index per doc
    // (src order — unique within a doc, so row_number has no ties).
    // Materialized because it feeds two consumers (in-edge build + final
    // assembly); without it the row_number window re-executes per consumer.
    val nodes = edges.groupBy(col("doc_id"), col("src"))
      .agg(sum(col("wgt")).as("wsum"))
      .withColumn("idx", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("src"))))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // EAGER materialization, one small job each (what localCheckpoint did
    // implicitly): a lazy persist lets the first consumer fuse the whole
    // edge build (union → 50M-group agg → top-k cap → sort → window) AND
    // its own sorts/aggs into ONE stage — at the 500k point those
    // co-resident per-task buffers exceeded the 8 GB heap (measured OOM);
    // the cache-build barrier restores the old code's stage isolation.
    val nEdges = edges.count()
    nodes.count()
    // Scale-adaptive partition count for the two object-hash (collect_list)
    // aggregations below: their per-task state is JVM OBJECT buffers
    // (guide §5 — heavy per-task state wants more/smaller partitions), and
    // AQE's byte-based coalescing cannot see object expansion, so at 500k
    // docs × 32 coalesced partitions the assembly aggregation exhausted
    // execution memory (measured: SparkOutOfMemoryError UNABLE_TO_ACQUIRE).
    // Round-13: derive from the EDGE count (already materialized above —
    // free), not the doc count, so long-doc corpora adapt too: target
    // ~50k edge structs per task (≈ tens of MB of buffered graph
    // objects). The first cut targeted 100k/task, which HALVED the capped
    // variant's partition count at 500k zipf (the cap thins the edge set)
    // and measured 14% slower — 50k/task restores the capped operating
    // point (~500 tasks at 500k) and gives the uncapped graph finer tasks,
    // the §5-safe direction. Floored at the session's shuffle parallelism
    // so bench-scale plans are unchanged.
    val parts = math.max(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      math.min(20000L, nEdges / 50000L + 1).toInt)
    // in-edge lists per destination word: (source index, edge weight,
    // source out-weight) — the loop-invariant join, paid ONCE. Round-13
    // MEASURED NEGATIVE (§2.3 "shuffle fewer bytes" vs per-task CPU):
    // carrying wsum per NODE instead of per edge (recurrence reading it
    // via element_at(nd, e.si).wsum) saved only 2.8% of the query's
    // shuffle bytes (4878 vs 5016 MB at 500k zipf — the es arrays
    // dominate the struct, not one BIGINT) but cost ~20% wall-clock
    // (61.0/61.1 vs 47.2/48.6 s uncapped, 61.7/61.7 vs 53.9/49.2 s
    // capped; interleaved blocks, calib 0.416–0.434): the lookup is a
    // per-edge × per-round struct read against the WIDE nd row (its es
    // arrays embedded), 10× per edge vs shuffling 8 bytes once. Keep
    // wsum on the edge struct.
    val inW = edges
      .join(nodes.select(col("doc_id"), col("src"), col("idx").as("si"), col("wsum")),
        Seq("doc_id", "src"))
      .repartition(parts, col("doc_id"), col("dst"))
      .groupBy(col("doc_id"), col("dst"))
      .agg(collect_list(struct(col("si"), col("wgt"), col("wsum"))).as("es"))
    // one row per doc: index-aligned (idx, word, in-edges) + node
    // count n. array_sort keys on idx (unique), so alignment is
    // deterministic no matter what order collect_list saw the nodes in.
    val perDoc = nodes.select(col("doc_id"), col("idx"), col("src").as("word"))
      .join(inW.withColumnRenamed("dst", "word"), Seq("doc_id", "word"), "left")
      .repartition(parts, col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(
        struct(col("idx"), col("word"), col("es")))).as("nd"),
        count(lit(1)).as("n"))
    // all TrIters rounds in one expression; element_at is 1-based, matching
    // the row_number indexes. The source's out-weight rides each edge
    // struct (e.wsum) — see the measured note at inW for why it is NOT
    // read through the idx-aligned nd attribute instead.
    val rounds = expr(
      s"""aggregate(
         |  sequence(1, $TrIters),
         |  transform(nd, x -> ${TrPico}L div n),
         |  (r, it) -> transform(nd, x ->
         |    CASE WHEN x.es IS NOT NULL
         |              AND exists(x.es, e -> element_at(r, e.si) IS NOT NULL)
         |         THEN (15 * ${TrPico}L) div (100 * n)
         |              + (85 * aggregate(
         |                  filter(x.es, e -> element_at(r, e.si) IS NOT NULL),
         |                  0L,
         |                  (s, e) -> s + (element_at(r, e.si) * e.wgt)
         |                                div e.wsum)) div 100
         |         ELSE CAST(NULL AS BIGINT) END))""".stripMargin)
    val ranks = perDoc.withColumn("r_fin", rounds)
      .select(col("doc_id"), explode(arrays_zip(col("nd"), col("r_fin"))).as("z"))
      .select(col("doc_id"), col("z.nd.word").as("word"), col("z.r_fin").as("r_mu"))
      .filter(col("r_mu").isNotNull)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("r_mu").desc, col("word"))
    ranks.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TrTopK)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("word"),
        (col("r_mu").cast("double") / 1e12).as("rank"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val textrankSql = textrankSqlWith(None)
  private val textrankCappedSql = textrankSqlWith(Some(TrEdgeCap))

  private def textrankSqlWith(edgeCap: Option[Int]): String = {
    // capped: the raw symmetric edge aggregate becomes e0 and `e` keeps only
    // the top-cap out-edges per (doc, src) — identical window + tie-break as
    // the Spark side, so the 10-round integer recurrence sees the same graph
    val edgeCte = edgeCap match {
      case None =>
        """e AS (SELECT doc_id, src, dst, CAST(count(*) AS BIGINT) AS wgt FROM (
          |        SELECT doc_id, w AS src, nw AS dst FROM ad
          |        UNION ALL SELECT doc_id, nw, w FROM ad)
          |      GROUP BY 1, 2, 3)""".stripMargin
      case Some(cap) =>
        s"""e0 AS (SELECT doc_id, src, dst, CAST(count(*) AS BIGINT) AS wgt FROM (
           |        SELECT doc_id, w AS src, nw AS dst FROM ad
           |        UNION ALL SELECT doc_id, nw, w FROM ad)
           |      GROUP BY 1, 2, 3),
           |e AS (SELECT doc_id, src, dst, wgt FROM (
           |        SELECT *, row_number() OVER (PARTITION BY doc_id, src
           |          ORDER BY wgt DESC, dst) AS erk FROM e0)
           |      WHERE erk <= $cap)""".stripMargin
    }
    val rounds = (1 to TrIters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT e.doc_id, e.dst AS word,
         |    CAST((15 * $TrPico) // (100 * nd.n)
         |      + (85 * CAST(sum((r${i - 1}.r_mu * e.wgt) // wo.wsum) AS BIGINT)) // 100
         |      AS BIGINT) AS r_mu
         |  FROM e JOIN r${i - 1} ON e.doc_id = r${i - 1}.doc_id AND e.src = r${i - 1}.word
         |         JOIN wo ON e.doc_id = wo.doc_id AND e.src = wo.src
         |         JOIN nd ON e.doc_id = nd.doc_id
         |  GROUP BY e.doc_id, e.dst, nd.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH t0 AS (SELECT doc_id, ${TextAnalysis.normSql} AS norm FROM documents),
       |t1 AS (SELECT doc_id, i AS pos, string_split(norm, ' ')[i] AS w
       |       FROM t0, LATERAL (SELECT unnest(range(1, len(string_split(norm, ' ')) + 1)) AS i) u),
       |t AS (SELECT * FROM t1 WHERE w != ''),
       |a AS (SELECT doc_id, w,
       |        lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nw
       |      FROM t),
       |ad AS (SELECT * FROM a WHERE nw IS NOT NULL AND nw != w),
       |$edgeCte,
       |wo AS (SELECT doc_id, src, CAST(sum(wgt) AS BIGINT) AS wsum FROM e GROUP BY 1, 2),
       |nd AS (SELECT doc_id, count(*) AS n FROM wo GROUP BY 1),
       |r0 AS MATERIALIZED (SELECT wo.doc_id, wo.src AS word,
       |      CAST($TrPico // nd.n AS BIGINT) AS r_mu
       |      FROM wo JOIN nd ON wo.doc_id = nd.doc_id),
       |$rounds
       |SELECT doc_id, CAST(rk AS BIGINT) AS rk, word,
       |  CAST(r_mu AS DOUBLE) / 1e12 AS rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY r_mu DESC, word) AS rk
       |  FROM r$TrIters)
       |WHERE rk <= $TrTopK
       |ORDER BY doc_id, rk""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("q_text_textrank", textrank, Some(textrankSql)),
    Q("q_text_textrank_capped", textrankCapped, Some(textrankCappedSql)),
    Q("q_text_llr", llrCollocations, Some(llrCollocationsSql)),
    Q("q_text_feature_hash", featureHash, Some(featureHashSql)),
    Q("q_embed_rp_distortion", rpDistortion, Some(rpDistortionSql)),
    Q("q_text_zipf", zipfFit, Some(zipfFitSql)),
    Q("q_text_pmi", pmi, Some(pmiSql)),
    Q("q_feat_robust", robustScale, Some(robustScaleSql)),
    Q("q_embed_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    Q("q_split_semantic_leakage", semanticLeakage, Some(semanticLeakageSql)),
    Q("q_text_batch_buckets", batchBuckets, Some(batchBucketsSql)),
    Q("q_feat_zscore", zscore, Some(zscoreSql)),
  )
}
