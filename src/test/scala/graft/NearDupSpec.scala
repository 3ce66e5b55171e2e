package graft

import graft.operators.{Dedup, NearDup}
import org.apache.spark.sql.functions._

/** Near-dup pipelines on controlled corpora written as fixture parquet so
  * the exact registered (spark, dir) code paths run. */
class NearDupSpec extends SparkSuite {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
  private val nearDup = base.replace("tonight", "today") // one word differs
  private val distinct = "completely different content about spark catalyst optimizer internals and shuffles"

  private lazy val dir = fixtureDir(
    "documents" -> Seq(
      (1L, base, "en", "s", base.length.toLong),
      (2L, nearDup, "en", "s", nearDup.length.toLong),
      (3L, distinct, "en", "s", distinct.length.toLong),
      (4L, base, "en", "s", base.length.toLong) // exact duplicate of 1
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))

  test("exact dedup groups identical docs and keeps the lowest id") {
    val out = Dedup.exact(spark, dir).collect()
    assert(out.length === 3) // 4 docs, one exact-dup pair
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keeper_id") === 1L)
  }

  test("normalized dedup folds case/whitespace variants together") {
    val d2 = fixtureDir("documents" -> Seq(
      (1L, "Hello  World", "en", "s", 12L),
      (2L, "hello world", "en", "s", 11L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Dedup.exactNormalized(spark, d2).collect()
    assert(out.length === 1 && out.head.getAs[Long]("n_copies") === 2L)
  }

  test("minhash LSH finds the near-dup pair and the exact pair, not the distinct doc") {
    val pairs = NearDup.minhashPairs(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0, always banded together
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup found
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // distinct doc never paired
  }

  /** BoilerplateCorpus's standing docs plus its two arrivals (152 docs):
    * the corpus where the stop list is non-empty. Pure-boilerplate docs 2
    * and 10 are an exact pair that only the unpruned signatures band. */
  private lazy val boilerDir = fixtureDir("documents" ->
    (BoilerplateCorpus.corpus ++ BoilerplateCorpus.arrivals)
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars"))

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  private def assertStopListNonEmpty(dir: String): Unit = {
    val shingles = NearDup.shingleTable(spark, dir)
    assert(NearDup.commonShingleArray(shingles, shingles.count()).nonEmpty)
  }

  test("DF-prune gate: unpruned below DfPruneMinDocs, pruned at/above (same pairs either way)") {
    val dir = SparkSpec.sf0001
    // discriminate the chosen path structurally: only the pruned plan
    // subtracts the bounded common-shingle stop list (per-row array_except
    // before banding)
    def usesPrune(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("array_except")
    val below = NearDup.minhashPairsAuto(spark, dir) // 500 docs < 150k default
    val above = NearDup.minhashPairsAuto(spark, dir, minDocs = 1)
    assert(!usesPrune(below) && usesPrune(above))
    // either side of the gate emits the same verified pairs on this corpus
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(below) === pairs(above))

    // sf0.001's stop list is empty, so the prune above is a no-op there; on
    // the boilerplate corpus it is not, and the gate changes the pairs
    assertStopListNonEmpty(boilerDir)
    val boilerBelow = NearDup.minhashPairsAuto(spark, boilerDir, minDocs = 1000)
    val boilerAbove = NearDup.minhashPairsAuto(spark, boilerDir, minDocs = 100)
    assert(!usesPrune(boilerBelow) && usesPrune(boilerAbove))
    assert(pairSet(boilerBelow).contains((2L, 10L)))
    assert(!pairSet(boilerAbove).contains((2L, 10L)))
    assert(pairSet(boilerAbove).contains((1L, 5L)))
  }

  test("lowgate twin: pruned branch on BOTH the plan and the one-SQL oracle") {
    val dir = SparkSpec.sf0001
    // 500 docs >= LowGateMinDocs (100): the registered lowgate query must
    // take the PRUNED plan — the branch the default-gate oracle never
    // exercises at correctness scales
    val low = NearDup.minhashPairsAuto(spark, dir, minDocs = NearDup.LowGateMinDocs)
    assert(low.queryExecution.executedPlan.toString.contains("array_except"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(low) === pairs(NearDup.minhashPairsPruned(spark, dir)))
    // the SQL builder injects the threshold (not the hard-coded default),
    // and is otherwise byte-identical — the gate folds into ONE predicate
    val lowSql = NearDup.minhashPairsAutoSqlFor(NearDup.LowGateMinDocs)
    val defSql = NearDup.minhashPairsAutoSqlFor(NearDup.DfPruneMinDocs)
    assert(lowSql.contains(s"nn.n >= ${NearDup.LowGateMinDocs}"))
    assert(lowSql.replace(s"nn.n >= ${NearDup.LowGateMinDocs}",
      s"nn.n >= ${NearDup.DfPruneMinDocs}") === defSql)

    // on the boilerplate corpus (152 docs >= 100) the lowgate plan prunes a
    // non-empty stop list: the pure-boilerplate pair is gone, as in the
    // pruned query, and present at the default gate
    assertStopListNonEmpty(boilerDir)
    val boilerLow = NearDup.minhashPairsAuto(spark, boilerDir, minDocs = NearDup.LowGateMinDocs)
    assert(pairSet(boilerLow) === pairSet(NearDup.minhashPairsPruned(spark, boilerDir)))
    assert(!pairSet(boilerLow).contains((2L, 10L)))
    assert(pairSet(NearDup.minhashPairsAuto(spark, boilerDir)).contains((2L, 10L)))
  }

  test("incremental near-dup: batch-vs-corpus only, no within-split pairs") {
    // batch = doc_id % 5 == 0
    val d2 = fixtureDir("documents" -> Seq(
      (5L, base, "en", "s", base.length.toLong),       // batch
      (7L, nearDup, "en", "s", nearDup.length.toLong), // corpus near-dup of 5
      (10L, distinct, "en", "s", distinct.length.toLong), // batch
      (15L, distinct, "en", "s", distinct.length.toLong), // batch exact dup of 10
      (3L, base, "en", "s", base.length.toLong),       // corpus exact dup of 8
      (8L, base, "en", "s", base.length.toLong)        // corpus
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val pairs = NearDup.incrementalNearPairs(spark, d2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((5L, 7L))) // new doc flagged against the corpus
    assert(pairs.contains((5L, 3L)) && pairs.contains((5L, 8L))) // exact hits too
    assert(!pairs.contains((10L, 15L)) && !pairs.contains((15L, 10L))) // within-batch excluded
    assert(!pairs.exists(p => p._1 == 3L && p._2 == 8L)) // within-corpus excluded
    pairs.foreach { case (a, _) => assert(a % 5 === 0L) } // id_a is always the new side
  }

  test("near-dup jaccard is high, exact-dup jaccard is 1.0") {
    val out = NearDup.minhashPairs(spark, dir).collect()
    val exact = out.find(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 4L).get
    assert(exact.getAs[Double]("jaccard") === 1.0)
    out.find(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L).foreach { nd =>
      val j = nd.getAs[Double]("jaccard")
      assert(j > 0.5 && j < 1.0)
    }
  }

  test("simhash: identical docs at hamming 0; near-dups within threshold appear") {
    val sigs = NearDup.simhashSignatures(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sigs(1L) === sigs(4L)) // identical text -> identical signature
    val pairs = NearDup.simhashPairs(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("simhash chunk blocking is lossless vs all-pairs at the threshold") {
    // brute-force hamming over signatures must equal the blocked pair set
    val sigs = NearDup.simhashSignatures(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= NearDup.HammingThreshold
    } yield (a, b)).toSet
    val blocked = NearDup.simhashPairs(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked === brute)
  }

  test("contamination scan flags test docs whose content exists in train") {
    // pick ids that deterministically land in train (<205) / test (>=230)
    def hashByte(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Integer.parseInt(md.digest(id.toString.getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString, 16)
    }
    val trainId = (1L to 500L).find(hashByte(_) < 205).get
    val testId = (1L to 500L).find(hashByte(_) >= 230).get
    val cleanTestId = (testId + 1 to 1000L).find(hashByte(_) >= 230).get
    val d = fixtureDir("documents" -> Seq(
      (trainId, "shared leaked evaluation passage", "en", "s", 10L),
      (testId, "shared leaked evaluation passage", "en", "s", 10L),
      (cleanTestId, "unique held-out content", "en", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val flagged = Dedup.contamination(spark, d)
      .select("doc_id").as[Long].collect().toSet
    assert(flagged === Set(testId))
  }

  test("ngram-jaccard blocking finds the exact-dup pair") {
    val pairs = NearDup.ngramJaccardPairs(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("corpus overlap: exact pairwise shingle Jaccard, zero-overlap pairs absent") {
    val d = fixtureDir("documents" -> Seq(
      (1L, "a b c d", "en", "srcA", 7L), // shingles {a b c, b c d}
      (2L, "a b c e", "en", "srcB", 7L), // shingles {a b c, b c e}
      (3L, "x y z w", "en", "srcC", 7L)  // disjoint from A and B
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = NearDup.corpusOverlap(spark, d).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("inter"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("jaccard")))).toMap
    // only the A-B pair overlaps: |{a b c}| / |{a b c, b c d, b c e}| = 1/3
    assert(rows.keySet === Set(("srcA", "srcB")))
    val (inter, na, nb, j) = rows(("srcA", "srcB"))
    assert(inter === 1L && na === 2L && nb === 2L)
    assert(math.abs(j - 1.0 / 3.0) < 1e-6)
  }

  test("leakage-free split: cluster members share one split, singletons keep their own") {
    val rows = Dedup.leakageFreeSplit(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[String]("split")))).toMap
    assert(rows.size === 4) // every doc assigned exactly once
    // docs 1, 2, 4 are one near-dup cluster -> same canonical id, same split
    assert(rows(1L)._1 === 1L && rows(2L)._1 === 1L && rows(4L)._1 === 1L)
    assert(Set(rows(1L)._2, rows(2L)._2, rows(4L)._2).size === 1)
    // doc 3 is a singleton: keys on its own id, and matches the plain split
    assert(rows(3L)._1 === 3L)
    val plain = graft.operators.Sampling.splitAssign(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(rows(3L)._2 === plain(3L))
  }

  test("js divergence: shared-term decomposition hand-computed; disjoint pair = 1") {
    // A: "x x y" (N=3), B: "x z" (N=2), C: "w w" (N=2, disjoint vocab)
    val d3 = fixtureDir("documents" -> Seq(
      (1L, "x x y", "en", "A", 5L),
      (2L, "x z", "en", "B", 3L),
      (3L, "w w", "en", "C", 3L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = graft.operators.NearDup.jsDivergence(spark, d3).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) -> r).toMap
    assert(out.keySet === Set(("A", "B"), ("A", "C"), ("B", "C")))
    def mu(x: Double) = math.floor(math.log(x) * 1e6 + 0.5).toLong
    // shared term x: c1=2, c2=1, aa=c1*Nb=4, bb=c2*Na=3
    val tp = 2L * mu(2.0 * 4 / 7)
    val tq = 1L * mu(2.0 * 3 / 7)
    val ln2mu = mu(2.0)
    val kp = tp + (3 - 2) * ln2mu
    val kq = tq + (2 - 1) * ln2mu
    val jsd = (kp.toDouble / 3 + kq.toDouble / 2) / 2.0 / 1e6
    val ab = out(("A", "B"))
    assert(ab.getAs[Long]("n_a") === 3L && ab.getAs[Long]("n_b") === 2L)
    assert(ab.getAs[Long]("n_shared") === 1L)
    assert(ab.getAs[Double]("jsd") === math.floor(jsd * 1e6 + 0.5) / 1e6)
    // disjoint-vocabulary pairs: maximal divergence, normalized exactly 1
    Seq(("A", "C"), ("B", "C")).foreach { p =>
      assert(out(p).getAs[Long]("n_shared") === 0L)
      assert(out(p).getAs[Double]("jsd_norm") === 1.0, s"pair $p")
    }
    // jsd is symmetric-bounded: 0 <= jsd <= ln 2 everywhere
    out.values.foreach { r =>
      val v = r.getAs[Double]("jsd")
      assert(v >= 0.0 && v <= 0.693148)
    }
  }
}
