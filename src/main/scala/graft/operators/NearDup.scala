package graft.operators

import graft.Q
import graft.functions.Rounding.{roundN, roundNSql}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents`: MinHash+LSH banding, SimHash,
  * and n-gram Jaccard verification (embedding-cosine near-dup lives in
  * Similarity.scala).
  *
  * Portability contract: every hash derives from md5 hex digits, which
  * DuckDB computes identically, so each pipeline (shingle -> minhash ->
  * band -> bucket-join -> verify) is oracle-checkable end to end.
  * `conv(hex15, 16, 10)` (Spark) and `('0x' || hex15)::BIGINT` (DuckDB)
  * give identical 60-bit words; the MinHash family mixes ONE such base
  * hash per shingle with (a_k·h + b_k) mod 2^31−1 — identical int64
  * arithmetic in both engines, and 8× fewer md5 evaluations than
  * re-digesting every shingle per hash function.
  *
  * Scale notes (100 TB):
  *  - Candidate generation never goes quadratic: docs meet only inside an
  *    LSH band bucket (explode NumBands rows/doc, shuffle on the 8-byte
  *    truncated-digest band key). Shingle sets are joined back only for
  *    candidate pairs, so the verify stage is O(candidates), not O(n^2).
  *  - SimHash pair search blocks on 4x15-bit signature chunks: pigeonhole
  *    guarantees any pair at hamming distance <= 3 shares one exact chunk,
  *    so the blocked plan is lossless for the threshold while joining on a
  *    15-bit key instead of all pairs.
  */
object NearDup {

  val NumHashes = 8
  val BandSize = 2
  val NumBands: Int = NumHashes / BandSize // 4
  val JaccardThreshold = 0.5
  val HammingThreshold = 3 // <= NumChunks - 1, keeps chunk blocking lossless
  val NumChunks = 4
  val ChunkBits = 15

  import TextAnalysis.{normSql, normText}

  // ---------------------------------------------------------------- shingles

  /** Distinct word 3-gram shingles over pre-projected `norm`/`w` attribute
    * columns. Referencing attributes (not expression subtrees) inside the
    * lambda is load-bearing for performance: inlining `split(regexp(...))`
    * into each element_at would re-normalize and re-split the document once
    * PER SHINGLE (quadratic per row — measured 13s for 5k docs). */
  private def shinglesFromWords: Column = {
    val w = col("w")
    when(size(w) < 3, array(col("norm"))).otherwise(
      array_distinct(transform(sequence(lit(0), size(w) - 3), i =>
        concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3)))))
  }

  /** (doc_id, sh) — each doc's distinct shingle set, staged so normalize
    * and split run once per row. Works on a static OR streaming documents
    * frame (all narrow expressions). */
  private[graft] def shingleTableOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"), col("norm"), split(col("norm"), " ").as("w"))
      .select(col("doc_id"), shinglesFromWords.as("sh"))

  def shingleTable(spark: SparkSession, dir: String): DataFrame =
    shingleTableOf(Tables.documents(spark, dir))

  val shinglesSql: String = {
    val w = s"string_split($normSql, ' ')"
    s"""CASE WHEN len($w) < 3 THEN [$normSql]
       |ELSE list_distinct(list_transform(range(0, len($w) - 2), i ->
       |  concat_ws(' ', ($w)[i+1], ($w)[i+2], ($w)[i+3]))) END""".stripMargin
  }

  // ---------------------------------------------------------------- minhash

  /** Universal-hash family over a single base digest: each shingle is
    * md5-hashed ONCE into a 60-bit int, then the k-th hash is the integer
    * mix (a_k·h + b_k) mod P — 8 multiply-adds instead of 8 md5 passes
    * (md5 dominated the LSH pipeline: measured ~2× on the full pair run).
    * P = 2^31−1 keeps a_k·h ≤ 2^62, overflow-free in both engines' int64. */
  val HashP = 2147483647L
  private def hashA(k: Int): Long = (2L * k + 1) * 12582917L % HashP
  private def hashB(k: Int): Long = (k + 1L) * 26339969L % HashP

  /** Staged per-shingle base hashes (md5 once per shingle; the `hb` column
    * is referenced by all NumHashes minhash expressions, so it survives
    * CollapseProject and is computed once). */
  private def baseHashesOf(sh: Column): Column =
    transform(sh, s =>
      conv(substring(md5(s), 1, 15), 16, 10).cast("long") % HashP)
  private def baseHashes: Column = baseHashesOf(col("sh"))
  private val baseHashesSql =
    s"list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $HashP)"

  /** k-th minhash: min over the mixed base hashes. */
  private def minhash(hb: Column, k: Int): Column =
    array_min(transform(hb, h => (lit(hashA(k)) * h + lit(hashB(k))) % HashP))
  private def minhashSql(k: Int) =
    s"list_min(list_transform(hb, h -> (${hashA(k)} * h + ${hashB(k)}) % $HashP))"

  /** Per-document MinHash signature (one int column per hash function);
    * built over the staged shingle table so the shingle set is computed
    * once, not once per hash function. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    shingleTable(spark, dir)
      .withColumn("hb", baseHashes)
      .select(
        col("doc_id") +: (0 until NumHashes).map(k => minhash(col("hb"), k).as(s"mh_$k")): _*)

  private val minhashSigSql =
    s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       |h AS (SELECT doc_id, $baseHashesSql AS hb FROM s)
       |SELECT doc_id, ${(0 until NumHashes).map(k => s"${minhashSql(k)} AS mh_$k").mkString(", ")}
       |FROM h""".stripMargin

  /** Shared Jaccard verify: join candidate id pairs back to shingle sets,
    * compute |A∩B| / (|A| + |B| - |A∩B|), keep pairs above the threshold. */
  private def verifyJaccard(cand: DataFrame, shingleTbl: DataFrame): DataFrame = {
    val sa = shingleTbl.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val sb = shingleTbl.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardOf(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  private def jaccardVerifySql(candCte: String) =
    s"""j AS (SELECT id_a, id_b,
       |        ${roundNSql(
            """CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
              |              (len(sa.sh) + len(sb.sh) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE))""".stripMargin, 4)} AS jaccard
       |      FROM $candCte c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $JaccardThreshold""".stripMargin

  /** The NumBands band keys over staged mh_k signature columns, as 60-bit
    * BIGINTs (truncated md5, the [[baseHashesOf]] recipe) rather than
    * 32-char hex strings: band keys exist only to be exploded, shuffled and
    * equi-joined, so an 8-byte key quarters the banded relation's shuffle
    * bytes and makes the bucket self-join compare longs instead of strings.
    * The oracle builds the identical truncation ([[bandKeySql]]), so both
    * engines see the same buckets. */
  private def bandArray: Column =
    array((0 until NumBands).map { b =>
      conv(substring(md5(concat_ws(",",
        (b * BandSize until (b + 1) * BandSize).map(k => col(s"mh_$k")): _*)), 1, 15), 16, 10)
        .cast("long")
    }: _*)

  /** DuckDB twin of one [[bandArray]] element over named mh columns. */
  private def bandKeySql(parts: Seq[String]): String =
    s"('0x' || substr(md5(concat_ws(',', ${parts.mkString(", ")})), 1, 15))::BIGINT"

  /** The oracle's banding CTEs over an `hh` CTE of per-doc base hashes:
    * signatures (`m`), one row per band key (`b`) and the distinct
    * candidate pairs (`c`) that share a band key and meet `pairCond`. */
  private def bandCandidatesSql(pairCond: String): String = {
    val mhs = (0 until NumHashes).map(k => s"${minhashSql(k)} AS mh_$k").mkString(", ")
    val bandList = (0 until NumBands).map { b =>
      bandKeySql((b * BandSize until (b + 1) * BandSize).map(k => s"mh_$k"))
    }.mkString("[", ", ", "]")
    s"""m AS (SELECT doc_id, $mhs FROM hh),
       |b AS (SELECT doc_id, unnest($bandList) AS band FROM m),
       |c AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |      FROM b a JOIN b b2 ON a.band = b2.band$pairCond),""".stripMargin
  }

  /** `pairCond` of the symmetric pair search: each unordered pair once. */
  private val symmetricPairsSql = " AND a.doc_id < b2.doc_id"

  /** `pairCond` of the incremental search: new-batch doc × corpus doc. */
  private val arrivalPairsSql = "\n      WHERE a.doc_id % 5 = 0 AND b2.doc_id % 5 != 0"

  /** (doc_id, band) — one row per band per doc; the LSH bucket relation.
    * `carrySh = true` keeps the shingle set on each row so a streaming
    * probe side can verify without re-joining itself (stream-stream joins
    * are exactly what the incremental design avoids). `bandSh`, when set,
    * is the (possibly DF-pruned) shingle expression SIGNATURES are built
    * from — `sh` still carries the FULL set for verify, and rows whose
    * banding set prunes to empty drop out of candidate generation. All
    * expressions stay narrow/stateless, so this works on streaming frames. */
  private[graft] def bandedOf(shingleTbl: DataFrame, carrySh: Boolean = false,
      bandSh: Option[Column] = None): DataFrame = {
    val keep = if (carrySh) Seq(col("doc_id"), col("sh")) else Seq(col("doc_id"))
    val src = bandSh.fold(shingleTbl)(b =>
      shingleTbl.withColumn("bsh", b).filter(size(col("bsh")) > 0))
    val sig = src
      .withColumn("hb", baseHashesOf(if (bandSh.isDefined) col("bsh") else col("sh")))
      .select(keep ++ (0 until NumHashes).map(k => minhash(col("hb"), k).as(s"mh_$k")): _*)
    sig.select(keep :+ explode(bandArray).as("band"): _*)
  }

  /** Exact shared Jaccard over two shingle-set columns. */
  private[graft] def jaccardOf(shA: Column, shB: Column): Column = {
    val inter = size(array_intersect(shA, shB)).cast("double")
    roundN(inter / (size(shA) + size(shB) - inter), 4)
  }

  /** Band-bucket candidate id pairs from a shingle table — the shared
    * candidate generator of the LSH family (symmetric Jaccard and
    * containment verifies both consume it), and the family's only
    * data-dependent growing term: everything else is O(corpus), candidate
    * volume scales with duplicate density. The bench's LSH scale pass
    * counts THIS relation per scale point (PLANS.md scaling table). */
  private[graft] def lshCandidates(shingleTbl: DataFrame,
      bandSh: Option[Column] = None): DataFrame = {
    val banded = bandedOf(shingleTbl, bandSh = bandSh).persist()
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Candidate-pair count for a documents dir — bench instrumentation. */
  def lshCandidateCount(spark: SparkSession, dir: String): Long =
    lshCandidates(shingleTable(spark, dir)).count()

  // ------------------------------------------------------------ size gate

  /** Doc-frequency prune threshold: shingles present in more than this
    * fraction of documents are "boilerplate" and excluded from SIGNATURE
    * generation (verify still uses full sets). */
  val DfPruneFrac = 0.02

  /** DF-pruning gate, derived as an explicit CANDIDATE-VOLUME BUDGET.
    *
    * Budget: keep the verify join's shuffle ≤ ~1 candidate pair per
    * document, i.e. O(corpus) — the width any linear pipeline stage
    * tolerates at 100 TB. On the measured Zipf decade the unpruned
    * candidate stream fits cands(n) ≈ 1.30e6 · (n/5e5)^1.8 (303 → 15.3k →
    * 1.30M at 5k → 50k → 500k), so candidates-per-doc = 2.6 · (n/5e5)^0.8
    * crosses 1.0 at n = 5e5 · (1/2.6)^1.25 ≈ 1.5e5 — the gate. The pruned
    * form stays ~n^1.0 (60k pairs at 500k), so above the gate it bounds
    * shuffle width at the cost of ≤1.6× single-host wall time in the
    * 150k–900k band (the measured worst point; on one 32-thread host the
    * unpruned form is faster to ~900k docs, 7.4 s vs 11.8 s at 500k,
    * BENCH_DEEP.json). [[GateBudgetSpec]] pins this derivation to the
    * constant. Either side of the gate is correctness-identical (same
    * full-set verify, same emitted-pair meaning);
    * `q_dedup_minhash_lsh_auto_lowgate` oracle-checks the pruned branch of
    * the gated SQL at every correctness scale. */
  val DfPruneMinDocs = 150000L

  /** Gate threshold of the lowgate registry twin — small enough that every
    * correctness scale (500 docs at sf0.01) takes the PRUNED branch of the
    * gated plan AND of its one-SQL oracle. */
  private[graft] val LowGateMinDocs = 100L

  /** The corpus DF stop list as a driver array, subtracted per row with
    * `array_except` (stateless, so it also prunes a streaming probe).
    * Bounded REGARDLESS of corpus size: a shingle needs df > frac·n while
    * total shingle instances are ~52·n, so at most ~52/frac ≈ 2600
    * entries — the justified k-sized collect. Sorted for deterministic
    * plans. */
  private[graft] def commonShingleArray(shingleTbl: DataFrame, n: Long): Array[String] =
    shingleTbl.select(explode(col("sh")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .filter(col("df") > lit(DfPruneFrac) * n)
      .select(col("t")).collect().map(_.getString(0)).sorted

  /** The size gate of every gated near-dup path: the shingle column MinHash
    * signatures are built from, for a corpus of `n` docs whose shingle
    * table is `corpusShingles`. None below `minDocs` (sign the full set);
    * at or above it, the set minus the corpus stop list. Docs whose every
    * shingle is boilerplate then drop out of banding ([[bandedOf]] filters
    * empty banding sets); verify always uses the full sets. */
  private[graft] def signatureShingles(corpusShingles: DataFrame, n: Long,
      minDocs: Long): Option[Column] =
    if (n < minDocs) None
    else Some(array_except(col("sh"), typedlit(commonShingleArray(corpusShingles, n).toSeq)))

  /** [[signatureShingles]] past the gate: the stop-list-pruned column of a
    * persisted shingle table, the table counting its own docs. */
  private def prunedShingles(shingleTbl: DataFrame): Option[Column] =
    signatureShingles(shingleTbl, shingleTbl.count(), minDocs = 0L)

  // ------------------------------------------------------- batch LSH pairs

  /** MinHash-LSH near-dup pairs: band-bucket candidates + Jaccard verify.
    * The per-doc shingle table is persisted: it feeds signature generation
    * AND both sides of the verify join, and it is tiny relative to the
    * corpus (ids + shingle arrays), so at cluster scale this is the
    * standard "materialize features once" step, not a luxury.
    *
    * SCALE WARNING: this is the UNPRUNED form — its candidate volume grows
    * ~n^1.8 on the measured Zipf decade (303 → 15k → 1.30M pairs at
    * 5k → 50k → 500k docs) because high-DF boilerplate shingles collide
    * unrelated docs. Production corpora use [[minhashPairsAuto]]
    * (`q_dedup_minhash_lsh_auto`), which switches to the DF-pruned form at
    * the [[DfPruneMinDocs]] candidate-volume budget. Note the budget is a
    * SHUFFLE-WIDTH control, not a single-host wall-time optimum: measured
    * per point (BENCH_DEEP.json), this unpruned form is FASTER on one
    * 32-thread host until ~900k docs (7.4 s vs 11.8 s pruned at 500k) —
    * what diverges first at cluster scale is its ~n^1.8 candidate stream
    * (1.30M vs 60k verify pairs at 500k; ~80M vs ~600k extrapolated at
    * 5M). This form stays registered as the exact-recall baseline and the
    * small-corpus fast path. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(Tables.documents(spark, dir))

  /** [[minhashPairs]] over any documents-shaped frame — library API. */
  def minhashPairsOf(docs: DataFrame): DataFrame = lshPairsOf(docs, _ => None)

  /** The LSH pair body: persisted shingle table, band candidates signed
    * over `bandSh(shingle table)`, full-set Jaccard verify. */
  private def lshPairsOf(docs: DataFrame,
      bandSh: DataFrame => Option[Column]): DataFrame = {
    val shingleTbl = shingleTableOf(docs).persist()
    verifyJaccard(lshCandidates(shingleTbl, bandSh(shingleTbl)), shingleTbl)
  }

  private[operators] val minhashPairsSql =
    s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       |hh AS (SELECT doc_id, sh, $baseHashesSql AS hb FROM s),
       |${bandCandidatesSql(symmetricPairsSql)}
       |${jaccardVerifySql("c")}""".stripMargin

  /** The gated form for composed pipelines: unpruned LSH below
    * [[DfPruneMinDocs]] (the pre-pass costs more than the candidates it
    * removes), DF-pruned at or above it. `minDocs` is a parameter only so
    * the gate is testable; production callers use the measured default. */
  def minhashPairsAuto(spark: SparkSession, dir: String,
      minDocs: Long = DfPruneMinDocs): org.apache.spark.sql.DataFrame =
    if (Tables.documents(spark, dir).count() >= minDocs)
      minhashPairsPruned(spark, dir)
    else minhashPairs(spark, dir)

  /** [[minhashPairsAuto]] over any documents-shaped frame — library API.
    * Pays one count() of the input to pick the side of the gate (parquet
    * sources answer it from footer metadata). */
  def minhashPairsAutoOf(docs: DataFrame,
      minDocs: Long = DfPruneMinDocs): DataFrame =
    if (docs.count() >= minDocs) minhashPairsPrunedOf(docs)
    else minhashPairsOf(docs)

  /** Oracle for [[minhashPairsAuto]], exact on BOTH sides of the size gate
    * with ONE SQL: the gate folds into the `common` CTE's predicate —
    * below [[DfPruneMinDocs]] no shingle qualifies as boilerplate, and a
    * signature built from the full (distinct) shingle set is identical to
    * the unpruned signature because every minhash is a min over per-shingle
    * hashes (order- and duplicate-insensitive), while verify always uses
    * the full sets. Above the gate the predicate reduces to the pruned
    * form verbatim. So this SQL ≡ minhashPairsSql below the gate and
    * ≡ minhashPairsPrunedSql at/above it — exactly the branch
    * [[minhashPairsAuto]] takes. The threshold is a PARAMETER of the
    * builder: `q_dedup_minhash_lsh_auto` checks the production constant
    * (unpruned branch at correctness scales) and
    * `q_dedup_minhash_lsh_auto_lowgate` checks a 100-doc gate, so the
    * PRUNED branch of this same SQL is DuckDB-verified too. */
  private[graft] def minhashPairsAutoSqlFor(minDocs: Long): String =
    dfPrunedPairsSql(s"nn.n >= $minDocs AND ")

  private[operators] val minhashPairsAutoSql = minhashPairsAutoSqlFor(DfPruneMinDocs)

  /** The DF-pruned LSH oracle; `sizeGate` prefixes the stop-list predicate
    * (empty: always pruned). */
  private def dfPrunedPairsSql(sizeGate: String): String =
    s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       |x AS (SELECT doc_id, unnest(sh) AS t FROM s),
       |nn AS (SELECT count(*) AS n FROM s),
       |common AS (SELECT t FROM (SELECT t, count(*) AS df FROM x GROUP BY t) d, nn
       |           WHERE ${sizeGate}d.df > $DfPruneFrac * nn.n),
       |p AS (SELECT doc_id, list_sort(list(DISTINCT t)) AS sh FROM x
       |      WHERE t NOT IN (SELECT t FROM common) GROUP BY doc_id),
       |hh AS (SELECT doc_id, $baseHashesSql AS hb FROM p),
       |${bandCandidatesSql(symmetricPairsSql)}
       |${jaccardVerifySql("c")}""".stripMargin

  /** MinHash-LSH with doc-frequency shingle pruning — the candidate-volume
    * control for corpora whose background (unrelated-pair) shingle overlap
    * is high: band collisions between unrelated docs come almost entirely
    * from high-DF "stopword shingles", so dropping shingles with
    * df > DfPruneFrac·n from the signature kills the quadratic background
    * term while near-dup pairs keep colliding on their shared RARE
    * shingles. Verification is unchanged (full shingle sets, same Jaccard
    * + threshold), so emitted pairs mean the same thing as
    * [[minhashPairs]] — recall on borderline pairs is traded for
    * candidate volume (measured in the bench's LSH scale pass: ~29× fewer
    * candidates at the 50k-doc point, every injected near-dup class still
    * found; SyntheticDocsSpec pins a recall floor). Docs whose every
    * shingle is boilerplate drop out of candidate generation by design. */
  def minhashPairsPruned(spark: SparkSession, dir: String): DataFrame =
    minhashPairsPrunedOf(Tables.documents(spark, dir))

  /** [[minhashPairsPruned]] over any documents-shaped frame — library API.
    *
    * Plan shape: pruning is the bounded stop list ([[commonShingleArray]])
    * subtracted per row with `array_except` — a narrow map over the
    * persisted shingle table, no second explode and no re-aggregation
    * Exchange. Set equality with the oracle's anti-join + regroup form is
    * structural (array_except returns the distinct left-set minus the stop
    * list; signatures and set sizes are order-insensitive). */
  def minhashPairsPrunedOf(docs: DataFrame): DataFrame = lshPairsOf(docs, prunedShingles)

  private val minhashPairsPrunedSql = dfPrunedPairsSql("")

  /** Pruned-signature candidate count — bench instrumentation, the
    * counterpart of [[lshCandidateCount]]. */
  def lshPrunedCandidateCount(spark: SparkSession, dir: String): Long = {
    val shingleTbl = shingleTable(spark, dir).persist()
    lshCandidates(shingleTbl, prunedShingles(shingleTbl)).count()
  }

  // -------------------------------------------------- incremental probe

  /** Incremental NEAR-dup check — the continuous-ingestion twin of the
    * exact `q_dedup_incremental`: each new-batch document (doc_id % 5 = 0,
    * the same deterministic split) is checked against the STANDING CORPUS
    * through the band buckets, then Jaccard-verified. Asymmetric by
    * contract: only new-vs-corpus pairs emit (within-batch pairs are the
    * plain `q_dedup_minhash_lsh` run over the batch — composable, not
    * duplicated here).
    *
    * Scale shape: in production the corpus side of the band join is a
    * MATERIALIZED band index ([[corpusIndex]]), so each increment pays only
    * batch signatures + an equi-join probe into the index ([[probePairs]],
    * the streaming form) — corpus text is never re-read, never re-hashed.
    * Here both sides derive inline from the single harness-mandated input
    * table, but the join is already the asymmetric probe (batch bands ⋈
    * corpus bands). Candidate volume is O(batch · collisions), never
    * corpus². */
  def incrementalNearPairs(spark: SparkSession, dir: String): DataFrame =
    incrementalNearOf(shingleTable(spark, dir).persist(), None)

  /** Size-gated incremental near-dedup — [[incrementalNearPairs]] with the
    * same candidate-volume gate as [[minhashPairsAuto]]: at or above
    * `minDocs` STANDING-corpus docs, signatures on BOTH sides are built
    * from shingles with corpus df ≤ [[DfPruneFrac]]·n (verify unchanged,
    * full sets). DF comes from the CORPUS side only — the standing index
    * is what a streaming deployment has at hand; arriving batches must not
    * shift it, and [[corpusIndex]] decides it the same way. Below the gate
    * the plan is the unpruned form. */
  def incrementalNearPairsAuto(spark: SparkSession, dir: String,
      minDocs: Long = DfPruneMinDocs): DataFrame = {
    val shingleTbl = shingleTable(spark, dir).persist()
    val corpusSide = shingleTbl.filter(col("doc_id") % 5 =!= 0)
    incrementalNearOf(shingleTbl, signatureShingles(corpusSide, corpusSide.count(), minDocs))
  }

  /** The incremental body over a persisted shingle table: batch bands ⋈
    * corpus bands, signed over `bandSh`, then full-set Jaccard verify. */
  private def incrementalNearOf(shingleTbl: DataFrame, bandSh: Option[Column]): DataFrame = {
    val banded = bandedOf(shingleTbl, bandSh = bandSh)
    val batch = banded.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id_a"), col("band"))
    val corpus = banded.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("id_b"), col("band"))
    val cand = batch.join(corpus, "band")
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(cand, shingleTbl)
  }

  private val incrementalNearSql =
    s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       |hh AS (SELECT doc_id, sh, $baseHashesSql AS hb FROM s),
       |${bandCandidatesSql(arrivalPairsSql)}
       |${jaccardVerifySql("c")}""".stripMargin

  /** One-SQL oracle for [[incrementalNearPairsAuto]], threshold-
    * parameterized like [[minhashPairsAutoSqlFor]]: DF over the corpus
    * split only, empty stop list below the gate (≡ incrementalNearSql),
    * pruned signatures at/above it. */
  private[graft] def incrementalNearAutoSqlFor(minDocs: Long): String =
    s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       |nn AS (SELECT count(*) AS n FROM s WHERE doc_id % 5 != 0),
       |cx AS (SELECT doc_id, unnest(sh) AS t FROM s WHERE doc_id % 5 != 0),
       |common AS (SELECT t FROM (SELECT t, count(*) AS df FROM cx GROUP BY t) d, nn
       |           WHERE nn.n >= $minDocs AND d.df > $DfPruneFrac * nn.n),
       |x AS (SELECT doc_id, unnest(sh) AS t FROM s),
       |p AS (SELECT doc_id, list_sort(list(DISTINCT t)) AS sh FROM x
       |      WHERE t NOT IN (SELECT t FROM common) GROUP BY doc_id),
       |hh AS (SELECT doc_id, $baseHashesSql AS hb FROM p),
       |${bandCandidatesSql(arrivalPairsSql)}
       |${jaccardVerifySql("c")}""".stripMargin

  /** The standing corpus as a probe target: its band index `(id_b, band)`,
    * its shingle table `(id_b, sh_b)`, and the [[signatureShingles]] column
    * both the index and every probe are signed with. */
  private[graft] final case class CorpusIndex(bands: DataFrame, shingles: DataFrame,
      bandSh: Option[Column])

  /** [[CorpusIndex]] of `corpusDocs` behind the size gate at `minDocs`. The
    * gate costs one count() of the corpus (and, past it, the stop-list
    * collect) here, once, at setup. Not persisted: a caller that probes the
    * index more than once caches `bands` and `shingles` itself. */
  private[graft] def corpusIndex(corpusDocs: DataFrame, minDocs: Long): CorpusIndex = {
    val corpusShingles = shingleTableOf(corpusDocs)
    val bandSh = signatureShingles(corpusShingles, corpusDocs.count(), minDocs)
    CorpusIndex(
      bandedOf(corpusShingles, bandSh = bandSh).select(col("doc_id").as("id_b"), col("band")),
      corpusShingles.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
      bandSh)
  }

  /** Verified near-dup pairs `(id_a, id_b, jaccard)` of `arrivals` (new
    * docs) against the corpus `index`. The probe side carries its own
    * shingle set, so both joins are stream-static equi-joins (band bucket,
    * then corpus shingle lookup) and the same plan runs on a streaming
    * frame and on a `foreachBatch` micro-batch. The one stateful operator
    * on a stream is the `dropDuplicates` that folds a pair meeting in
    * several bands: one key per distinct candidate pair. Work per batch is
    * O(batch · bucket collisions), never corpus². */
  private[graft] def probePairs(arrivals: DataFrame, index: CorpusIndex): DataFrame =
    bandedOf(shingleTableOf(arrivals), carrySh = true, bandSh = index.bandSh)
      .select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("band"))
      .join(index.bands, "band")
      .select(col("id_a"), col("sh_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(index.shingles, "id_b")
      .select(col("id_a"), col("id_b"), jaccardOf(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)

  /** n-gram Jaccard dedup with single-fingerprint blocking: candidates share
    * their minimum shingle hash (1-hash MinHash blocking), then exact
    * Jaccard verify. The cheap cousin of full LSH for shard-local passes. */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val shingleTbl = shingleTable(spark, dir).persist()
    val keyed = shingleTbl.select(col("doc_id"),
      array_min(transform(col("sh"), s => md5(s))).as("blk")).persist()
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    val cand = a.join(b, col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(cand, shingleTbl)
  }

  private val ngramJaccardSql =
    s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       |k AS (SELECT doc_id, list_min(list_transform(sh, x -> md5(x))) AS blk FROM s),
       |c AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |      FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id),
       |${jaccardVerifySql("c")}""".stripMargin

  // ---------------------------------------------------------------- simhash

  private val wordHashesSql =
    s"list_transform(string_split($normSql, ' '), t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)"

  /** 60-bit SimHash: majority vote per bit position over word hashes
    * (tf-weighted via duplicate words).
    *
    * Shape matters: explode words → ONE codegen'd 60-column vote aggregate
    * → assemble bits. The tempting nested-HOF form (transform over bits ×
    * aggregate over hashes) is catastrophic: each single-referenced staged
    * column gets re-inlined by CollapseProject into the enclosing lambda,
    * so the word-hash array is recomputed per bit per bit (≈3600× per doc
    * — observed wedging a whole core for minutes at 5k docs). The explode
    * form computes each md5 once, stays in whole-stage codegen, and
    * parallelizes over the doc_id shuffle regardless of input file count. */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("t"))
      .select(col("doc_id"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
    val voteCols = (0 until 60).map { i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"v_$i")
    }
    val votes = words.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
    val simhash = (0 until 60).map { i =>
      when(col(s"v_$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.select(col("doc_id"), simhash.as("simhash"))
  }

  private val simhashSigSql =
    s"""WITH h AS (SELECT doc_id, $wordHashesSql AS hs FROM documents),
       |v AS (SELECT doc_id, list_transform(range(0, 60), i ->
       |        CASE WHEN list_sum(list_transform(hs, x -> ((x >> i) & 1) * 2 - 1)) > 0
       |             THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS bits FROM h)
       |SELECT doc_id, CAST(list_sum(bits) AS BIGINT) AS simhash FROM v""".stripMargin

  /** SimHash near-dup pairs at hamming <= HammingThreshold, found via
    * lossless 15-bit chunk blocking (never all-pairs). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = simhashSignatures(spark, dir)
    val chunks = array((0 until NumChunks).map { ch =>
      struct(lit(ch).as("c"),
        shiftright(col("simhash"), ch * ChunkBits).bitwiseAND(lit((1L << ChunkBits) - 1)).as("v"))
    }: _*)
    val blocked = sig.select(col("doc_id"), col("simhash"), explode(chunks).as("chunk")).persist()
    val a = blocked.alias("a")
    val b = blocked.alias("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= HammingThreshold)
  }

  /** Oracle does the plain all-pairs form — identical output, since chunk
    * blocking is lossless for hamming <= NumChunks - 1. */
  private val simhashPairsSql =
    s"""WITH h AS (SELECT doc_id, $wordHashesSql AS hs FROM documents),
       |v AS (SELECT doc_id, list_transform(range(0, 60), i ->
       |        CASE WHEN list_sum(list_transform(hs, x -> ((x >> i) & 1) * 2 - 1)) > 0
       |             THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS bits FROM h),
       |g AS (SELECT doc_id, CAST(list_sum(bits) AS BIGINT) AS simhash FROM v)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM g a JOIN g b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingThreshold""".stripMargin

  /** Containment threshold: |A∩B| / min(|A|,|B|) ≥ this. */
  val ContainmentThreshold = 0.7

  /** Containment (asymmetric-Jaccard) pairs over the SAME LSH candidate
    * stream as the symmetric query: containment = |A∩B| / min(|A|,|B|)
    * catches a short document embedded verbatim in a long one — a case
    * symmetric Jaccard structurally misses (the union is dominated by the
    * long side). Same scale shape as minhashPairs: banded candidates only,
    * exact set verify on the candidate set. The LSH recall caveat is
    * inherent (MinHash sketches symmetric Jaccard, so extreme length
    * ratios can miss the band) — the standard mitigation is shingle
    * sampling on the long side; candidates that DO surface are verified
    * with the true containment formula here. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val shingleTbl = shingleTable(spark, dir).persist()
    val cand = lshCandidates(shingleTbl)
    val sa = shingleTbl.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val sb = shingleTbl.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        roundN(inter / least(size(col("sh_a")), size(col("sh_b"))), 4)
          .as("containment"))
      .filter(col("containment") >= ContainmentThreshold)
  }

  private val containmentPairsSql = {
    val contain = roundNSql(
      "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / least(len(sa.sh), len(sb.sh))", 4)
    s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       |hh AS (SELECT doc_id, sh, $baseHashesSql AS hb FROM s),
       |${bandCandidatesSql(symmetricPairsSql)}
       |j AS (SELECT id_a, id_b, $contain AS containment
       |      FROM c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b)
       |SELECT id_a, id_b, containment FROM j
       |WHERE containment >= $ContainmentThreshold""".stripMargin
  }

  // ------------------------------------------------- cross-source overlap

  /** Pairwise source-overlap matrix: exact shingle-set Jaccard between
    * every pair of sources with nonzero overlap — the "how much does dump
    * A repeat dump B" audit run before mixing corpora (CC snapshot vs
    * snapshot, books vs crawl), the corpus-level counterpart of the
    * per-document pipelines above.
    *
    * Scale shape: one distinct over (source, shingle) — a single hash
    * shuffle, the only corpus-sized stage — then a self-equi-join on the
    * shingle key whose per-key fanout is bounded by C(#sources, 2), a
    * deployment constant (20 here, maybe thousands at 100 TB) independent
    * of corpus size; the pair aggregate lands on ≤ #sources² keys and the
    * size lookup is a broadcast. Never all-pairs over docs or shingles.
    * The sketch path for when exact distinct counts stop being worth a
    * shuffle is [[Dedup.kmvBySource]]'s KMV estimator — same keying. */
  def corpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    // BOTH persists are load-bearing (wide-tier finding: 11.8 s at sf0.1
    // for a 207k-row e-table, vs 0.65 s to build the shingles alone):
    //  - shingleTbl: unpersisted, the join+Generate path re-inlines the
    //    norm/split chain into the shingle lambda (CollapseProject — the
    //    same per-element re-evaluation wedge the minhash paths block by
    //    persisting this exact table), re-running the regex per SHINGLE;
    //  - e: feeds three branches (sizes + both self-join sides).
    val shingleTbl = shingleTable(spark, dir).persist()
    val e = shingleTbl
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), explode(col("sh")).as("sh"))
      .distinct()
      .persist()
    val sizes = e.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = e.as("a").join(e.as("b"), col("a.sh") === col("b.sh"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"), col("n_a"), col("n_b"),
        roundN(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 6)
          .as("jaccard"))
  }

  private val corpusOverlapSql =
    s"""WITH s AS (SELECT doc_id, source, $shinglesSql AS sh FROM documents),
       |e AS (SELECT DISTINCT source, sh
       |      FROM (SELECT source, unnest(sh) AS sh FROM s)),
       |n AS (SELECT source, count(*) AS n FROM e GROUP BY 1),
       |p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
       |      FROM e a JOIN e b ON a.sh = b.sh AND a.source < b.source
       |      GROUP BY 1, 2)
       |SELECT src_a, src_b, inter, na.n AS n_a, nb.n AS n_b,
       |  ${roundNSql("CAST(inter AS DOUBLE) / (na.n + nb.n - inter)", 6)} AS jaccard
       |FROM p JOIN n na ON na.source = p.src_a
       |       JOIN n nb ON nb.source = p.src_b""".stripMargin

  // -------------------------------------------------------- js divergence

  /** floor(ln 2 · 1e6 + 0.5) — the micro-quantized one-sided-term weight,
    * computed once here and embedded identically in both engines. */
  private val Ln2Mu: Long = math.floor(math.log(2.0) * 1e6 + 0.5).toLong

  /** Jensen-Shannon divergence between the word DISTRIBUTIONS of every
    * source pair — the distributional companion of [[corpusOverlap]]
    * (Jaccard says how much vocabulary two sources share; JSD says how
    * differently they USE it — the metric mixture-design work weighs
    * before blending corpora): JSD(p,q) = ½KL(p‖m) + ½KL(q‖m),
    * m = (p+q)/2, in nats plus the /ln 2 normalization to [0,1].
    *
    * Exactness via the shared-term decomposition: only terms present in
    * BOTH sources carry a data-dependent log — per shared term the ratio
    * p/m = 2·c₁N₂/(c₁N₂+c₂N₁) is one double log over exact BIGINT
    * products, micro-quantized then weighted by the exact c₁; the
    * entire one-sided mass contributes exactly (N₁−S₁)·[[Ln2Mu]]
    * (KL(p‖m) = ln 2 wherever q = 0), so KL·N·1e6 is an order-free
    * integer sum and a disjoint-vocabulary pair lands on jsd_norm = 1
    * without ever joining its unshared terms. Products c·N fit BIGINT
    * to ~2e9 tokens per source (documented budget).
    *
    * Scale shape: ONE corpus-sized (source, term) count aggregate; the
    * shared-term self-join fans out per term by C(#sources, 2) — a
    * deployment constant (the corpusOverlap bound); the all-pairs frame
    * collects the #sources-row size table into ONE row and
    * double-explodes it — a generate fanout, no join shape at all (a
    * constant-key join here folds to a CartesianProduct and trips the
    * registry tripwire). */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val words = TextAnalysis.wordsOf(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
    val tc = words.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val sizes = tc.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val sz = broadcast(sizes)
    val shared = tc.as("a")
      .join(tc.as("b"),
        col("a.term") === col("b.term") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.c").as("c1"), col("b.c").as("c2"))
      .join(sz.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
      .join(sz.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("c1"), col("c2"),
        (col("c1") * col("n_b")).as("aa"), (col("c2") * col("n_a")).as("bb"))
    val agg = shared.groupBy(col("src_a"), col("src_b")).agg(
      count(lit(1)).as("n_shared"),
      sum(col("c1")).as("s1"), sum(col("c2")).as("s2"),
      sum(col("c1") * floor(log(lit(2.0) * col("aa").cast("double") /
        (col("aa") + col("bb"))) * 1e6 + 0.5).cast("long")).as("tp"),
      sum(col("c2") * floor(log(lit(2.0) * col("bb").cast("double") /
        (col("aa") + col("bb"))) * 1e6 + 0.5).cast("long")).as("tq"))
    val allPairs = sizes
      .agg(collect_list(struct(col("source"), col("n"))).as("ss"))
      .select(explode(col("ss")).as("a"), col("ss"))
      .select(col("a.source").as("src_a"), col("a.n").as("n_a"),
        explode(col("ss")).as("b"))
      .filter(col("src_a") < col("b.source"))
      .select(col("src_a"), col("b.source").as("src_b"), col("n_a"),
        col("b.n").as("n_b"))
    val kp = coalesce(col("tp"), lit(0L)) +
      (col("n_a") - coalesce(col("s1"), lit(0L))) * Ln2Mu
    val kq = coalesce(col("tq"), lit(0L)) +
      (col("n_b") - coalesce(col("s2"), lit(0L))) * Ln2Mu
    val jsd = (kp.cast("double") / col("n_a") + kq.cast("double") / col("n_b")) /
      2.0 / 1e6
    allPairs.join(agg, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        roundN(jsd, 6).as("jsd"),
        roundN(jsd / 0.6931471805599453, 6).as("jsd_norm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val jsDivergenceSql = {
    import TextAnalysis.normSql
    val kp = s"(coalesce(tp, 0) + (n_a - coalesce(s1, 0)) * $Ln2Mu)"
    val kq = s"(coalesce(tq, 0) + (n_b - coalesce(s2, 0)) * $Ln2Mu)"
    val jsd = s"((CAST($kp AS DOUBLE) / n_a + CAST($kq AS DOUBLE) / n_b) / 2.0 / 1e6)"
    s"""WITH w AS (SELECT doc_id, source, unnest(string_split($normSql, ' ')) AS term
       |           FROM documents),
       |wn AS (SELECT source, term FROM w WHERE term != ''),
       |tc AS (SELECT source, term, count(*) AS c FROM wn GROUP BY 1, 2),
       |sz AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY 1),
       |sh AS (SELECT a.source AS src_a, b.source AS src_b, a.c AS c1, b.c AS c2
       |       FROM tc a JOIN tc b ON a.term = b.term AND a.source < b.source),
       |t AS (SELECT src_a, src_b, c1, c2,
       |        c1 * nb.n AS aa, c2 * na.n AS bb
       |      FROM sh JOIN sz na ON na.source = sh.src_a
       |              JOIN sz nb ON nb.source = sh.src_b),
       |ag AS (SELECT src_a, src_b, count(*) AS n_shared,
       |         CAST(sum(c1) AS BIGINT) AS s1, CAST(sum(c2) AS BIGINT) AS s2,
       |         CAST(sum(c1 * CAST(floor(ln(2.0 * CAST(aa AS DOUBLE) / (aa + bb))
       |           * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS tp,
       |         CAST(sum(c2 * CAST(floor(ln(2.0 * CAST(bb AS DOUBLE) / (aa + bb))
       |           * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS tq
       |       FROM t GROUP BY 1, 2),
       |ap AS (SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
       |       FROM sz a JOIN sz b ON a.source < b.source)
       |SELECT src_a, src_b, n_a, n_b,
       |  CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
       |  ${roundNSql(jsd, 6)} AS jsd,
       |  ${roundNSql(s"$jsd / 0.6931471805599453", 6)} AS jsd_norm
       |FROM ap LEFT JOIN ag USING (src_a, src_b)
       |ORDER BY 1, 2""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("q_corpus_overlap", corpusOverlap, Some(corpusOverlapSql)),
    Q("q_corpus_js_divergence", jsDivergence, Some(jsDivergenceSql)),
    Q("q_dedup_containment_pairs", containmentPairs, Some(containmentPairsSql)),
    Q("q_dedup_minhash_sig", minhashSignatures, Some(minhashSigSql)),
    Q("q_dedup_minhash_lsh", minhashPairs, Some(minhashPairsSql), bench = true),
    Q("q_dedup_minhash_lsh_pruned", minhashPairsPruned, Some(minhashPairsPrunedSql)),
    Q("q_dedup_minhash_lsh_auto", (s, d) => minhashPairsAuto(s, d), Some(minhashPairsAutoSql)),
    Q("q_dedup_minhash_lsh_auto_lowgate",
      (s, d) => minhashPairsAuto(s, d, minDocs = LowGateMinDocs),
      Some(minhashPairsAutoSqlFor(LowGateMinDocs))),
    Q("q_dedup_incremental_near", incrementalNearPairs, Some(incrementalNearSql)),
    Q("q_dedup_incremental_near_auto", (s, d) => incrementalNearPairsAuto(s, d),
      Some(incrementalNearAutoSqlFor(DfPruneMinDocs))),
    Q("q_dedup_incremental_near_auto_lowgate",
      (s, d) => incrementalNearPairsAuto(s, d, minDocs = LowGateMinDocs),
      Some(incrementalNearAutoSqlFor(LowGateMinDocs))),
    Q("q_dedup_ngram_jaccard", ngramJaccardPairs, Some(ngramJaccardSql)),
    Q("q_dedup_simhash_sig", simhashSignatures, Some(simhashSigSql), bench = true),
    Q("q_dedup_simhash_pairs", simhashPairs, Some(simhashPairsSql)),
  )
}
