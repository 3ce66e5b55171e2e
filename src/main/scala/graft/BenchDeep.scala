package graft

import org.apache.spark.sql.SparkSession

/** The synthetic scale-decade timer, ONE FAMILY PER JVM: a measured
  * within-JVM phantom (29.2 s vs 3.2 s on identical work with a FLAT
  * single-thread calib) is JVM/page-cache state left by earlier families'
  * passes, which per-point calibration cannot see and the endpoint
  * re-timer only patches. A fresh JVM per family removes the channel
  * instead of detecting it.
  *
  * Usage:
  *   runMain graft.BenchDeep <family> [pointsCsv]
  *     — generates the family's synthetic points (idempotent), settles
  *       until the calib spin stabilizes, times the family's query set
  *       through [[BenchCore.deepFamily]] and writes
  *       BENCH_DEEP_<family>.json. `pointsCsv` overrides the row counts
  *       (e.g. `5000,50000,500000,1500000` to extend the lsh decade past
  *       the gate's fitted time crossover).
  *   runMain graft.BenchDeep merge
  *     — assembles the fragments present into BENCH_DEEP.json.
  *
  * The families are [[Families]]: the 100× decades of the scale-designed
  * flagships (embed, lsh, text, events) and the 10× decades of every
  * [[BenchSets]] decade set. SPARK_GRAFT_BENCH_RUNS sets best-of-N
  * (default 2). */
object BenchDeep {

  /** One decade family: its query set, default row counts, the writer of
    * its point directories and the extra JSON fields recorded per point. */
  private final case class Family(tag: String, names: Seq[String], ns: Seq[Long],
      points: (SparkSession, Seq[Long]) => Seq[(Long, String)],
      extras: (SparkSession, String) => String = (_, _) => "")

  private val DocNs = Seq(5000L, 16000L, 50000L)
  private val DeepNs = Seq(5000L, 50000L, 500000L)

  private def docs(tag: String, gen: (SparkSession, Long) => org.apache.spark.sql.DataFrame) =
    (spark: SparkSession, ns: Seq[Long]) => BenchCore.docPoints(spark, tag, ns, gen)
  private val zipfDocs = docs("zipf", sources.SyntheticDocs.zipfCorpus(_, _))
  private val v2Docs = docs("v2", sources.SyntheticDocs.corpus(_, _))

  private def embedPoints(spark: SparkSession, ns: Seq[Long]) = ns.map { n =>
    val d = s"/tmp/graft_synth_embed_$n"
    sources.SyntheticEmbeddings.writePoint(spark, d, n); n -> d
  }

  private def eventPoints(spark: SparkSession, ns: Seq[Long]) = ns.map { n =>
    val d = s"/tmp/graft_synth_events_$n"
    sources.SyntheticEvents.writePoint(spark, d, n); n -> d
  }

  /** Sign-LSH candidate pairs under the adaptive plane count, and under
    * the fixed one too when `fixed` (the quadratic the adaptive path
    * avoids, so only the 10× decade records it). */
  private def embedCandidates(fixed: Boolean)(spark: SparkSession, d: String): String = {
    val cf = if (fixed)
      s""","cand_fixed":${operators.Similarity.embedCandidateCount(spark, d, adaptive = false)}"""
      else ""
    val ca = operators.Similarity.embedCandidateCount(spark, d, adaptive = true)
    spark.catalog.clearCache()
    s"""$cf,"cand_adaptive":$ca"""
  }

  /** Set-similarity variance decomposition: the candidate surface alone vs
    * the full verify, with the candidate and emitted-pair counts, so
    * "output-bound" is a measured claim with a per-point volume attached. */
  private def setSimSplit(spark: SparkSession, d: String): String = {
    val t0 = System.nanoTime()
    val cand = operators.SetSim.prefixCandidateCount(spark, d)
    val tCand = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    val t1 = System.nanoTime()
    val pairsN = operators.SetSim.prefixPairCount(spark, d)
    val tFull = (System.nanoTime() - t1) / 1e9
    spark.catalog.clearCache()
    s""","setsim_candidates":$cand,"setsim_cand_sec":$tCand""" +
      s""","setsim_pairs":$pairsN,"setsim_full_sec":$tFull"""
  }

  private val Families: Seq[Family] = Seq(
    Family("embed", BenchSets.deepEmbed, DeepNs, embedPoints, embedCandidates(fixed = false)),
    Family("lsh", BenchSets.deepLsh, DeepNs, zipfDocs, BenchCore.lshCandidates),
    Family("text", BenchSets.deepText, DeepNs, zipfDocs, setSimSplit),
    Family("events", BenchSets.deepEvents, Seq(600000L, 6000000L, 60000000L), eventPoints),
    Family("lsh-v2", BenchSets.lshDecade, DocNs, v2Docs, BenchCore.lshCandidates),
    // open vocabulary (web-like): candidate volume tracks dup density,
    // isolating the fixed-vocabulary df-cohort artifact of lsh-v2
    Family("lsh-zipf", BenchSets.lshDecade, DocNs, zipfDocs, BenchCore.lshCandidates),
    Family("embed-10x", BenchSets.embedDecade, DocNs, embedPoints, embedCandidates(fixed = true)),
    Family("events-10x", BenchSets.eventsDecade, Seq(600000L, 6000000L), eventPoints),
    Family("text-zipf", BenchSets.textZipfDecade, DocNs, zipfDocs),
    // keyphrase needs stopword delimiters, which only the v2 vocabulary has
    Family("text-v2", BenchSets.textV2Decade, DocNs, v2Docs))

  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("merge")
    if (tag == "merge") { merge(); return }
    val family = Families.find(_.tag == tag).getOrElse(throw new IllegalArgumentException(
      s"unknown family '$tag' (${Families.map(_.tag).mkString("/")}/merge)"))
    val benchRuns = BenchCore.benchRuns(2)
    val ns = args.lift(1).map(_.split(",").toSeq.map(_.trim.toLong)).getOrElse(family.ns)
    val spark = BenchCore.session(s"graft-bench-deep-$tag")
    BenchCore.warmUp(spark, Registry.all.filter(q => family.names.contains(q.name)))

    // generate every point FIRST, then settle: a calib stamped while the
    // JVM is still digesting generation work contaminates the first point
    val pts = family.points(spark, ns)
    settle(spark)
    val json = BenchCore.deepFamily(spark, tag, family.names, pts, benchRuns,
      d => family.extras(spark, d))
    write(s"BENCH_DEEP_$tag.json",
      s"""{"runs":$benchRuns,"fresh_jvm":true,"calib_spin_sec":${BenchCore.calibSpin()},$json}""")
    System.err.println(s"[bench-deep] wrote BENCH_DEEP_$tag.json")
    spark.stop()
  }

  /** Post-generation settle: force GC, then spin until two consecutive
    * calibration spins agree within 10% (bounded) — the first timed point
    * must not inherit generation backwash. */
  private def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    var prev = BenchCore.spinOnce()
    var tries = 0
    while (tries < 10) {
      val cur = BenchCore.spinOnce()
      if (math.abs(cur - prev) / math.min(cur, prev) < 0.1) return
      prev = cur
      tries += 1
    }
    System.err.println("[bench-deep] settle did not converge in 10 spins; proceeding")
  }

  /** Assemble BENCH_DEEP.json from the per-family fragment files. A family
    * whose fragment is absent is emitted null (partial re-measures stay
    * possible: re-run one family, re-merge). */
  private def merge(): Unit = {
    var runs = -1
    val calibs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val frags = Families.map(_.tag).map { f =>
      val path = s"BENCH_DEEP_$f.json"
      if (!new java.io.File(path).exists()) s""""$f":null"""
      else {
        val src = scala.io.Source.fromFile(path, "UTF-8")
        val c = try src.mkString.trim finally src.close()
        """"runs":(\d+)""".r.findFirstMatchIn(c).foreach(m => runs = m.group(1).toInt)
        """"calib_spin_sec":([0-9.]+)""".r.findFirstMatchIn(c)
          .foreach(m => calibs(f) = m.group(1).toDouble)
        val i = c.indexOf(s""""$f":""")
        if (i < 0) s""""$f":null""" else c.substring(i, c.length - 1)
      }
    }
    val calibJson = calibs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val minCalib = if (calibs.nonEmpty) calibs.values.min else -1.0
    write("BENCH_DEEP.json",
      s"""{"runs":$runs,"fresh_jvm_per_family":true,"calib_spin_sec":$minCalib,""" +
        s""""calib_per_family":$calibJson,${frags.mkString(",")}}""")
    System.err.println("[bench-deep] merged BENCH_DEEP.json")
  }

  private def write(path: String, line: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try out.println(line) finally out.close()
  }
}
