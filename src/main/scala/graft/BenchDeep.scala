package graft

/** Deep-decade bench (the 100× scale-evidence tier), ONE FAMILY PER JVM —
  * the structural fix round 11's verdict asked for: the measured
  * within-JVM phantom (29.2 s vs 3.2 s on identical work with a FLAT
  * single-thread calib) is JVM/page-cache state left by earlier families'
  * passes, which per-point calibration cannot see and the endpoint
  * re-timer only patches. Running each family in a fresh JVM removes the
  * contamination channel instead of detecting it.
  *
  * Usage:
  *   runMain graft.BenchDeep embed|lsh|text|events [pointsCsv]
  *     — times that family's decade (pre-generating its synthetic dirs,
  *       then settling until the calib spin stabilizes) and writes
  *       BENCH_DEEP_<family>.json. `pointsCsv` overrides the decade's
  *       row counts (e.g. `5000,50000,500000,1500000` to extend the lsh
  *       decade past the gate's fitted time crossover).
  *   runMain graft.BenchDeep merge
  *     — assembles the per-family fragments into BENCH_DEEP.json.
  *
  * SPARK_GRAFT_BENCH_RUNS sets best-of-N (default 2). This main is the
  * only deep-decade path: [[Bench]] times the 5k-50k decades in its own
  * JVM and stops there. */
object BenchDeep {

  private val DeepNs = Seq(5000L, 50000L, 500000L)
  private val EventNs = Seq(600000L, 6000000L, 60000000L)
  private val Families = Seq("embed", "lsh", "text", "events")

  def main(args: Array[String]): Unit = {
    val family = args.headOption.getOrElse("merge")
    if (family == "merge") { merge(); return }
    require(Families.contains(family), s"unknown family '$family' (${Families.mkString("/")})")
    val benchRuns = BenchCore.benchRuns(2)
    val ptsOverride = args.lift(1).map(_.split(",").toSeq.map(_.trim.toLong))
    val spark = BenchCore.session(s"graft-bench-deep-$family")

    val names = family match {
      case "embed" => BenchSets.deepEmbed
      case "lsh" => BenchSets.deepLsh
      case "text" => BenchSets.deepText
      case "events" => BenchSets.deepEvents
    }
    BenchCore.warmUp(spark, Registry.all.filter(q => names.contains(q.name)))

    // generate every point FIRST (idempotent), then settle: the round-11
    // events contamination was the 600k calib stamped while the JVM was
    // still digesting 360M rows of generation
    val json = family match {
      case "embed" =>
        val pts = ptsOverride.getOrElse(DeepNs).map { n =>
          val d = s"/tmp/graft_synth_embed_$n"
          sources.SyntheticEmbeddings.writePoint(spark, d, n); n -> d
        }
        settle(spark)
        BenchCore.deepFamily(spark, "embed", names, pts, benchRuns, d => {
          val ca = operators.Similarity.embedCandidateCount(spark, d, adaptive = true)
          spark.catalog.clearCache(); s""","cand_adaptive":$ca"""
        })
      case "lsh" =>
        val pts = BenchCore.docPoints(spark, "zipf", ptsOverride.getOrElse(DeepNs),
          sources.SyntheticDocs.zipfCorpus(_, _))
        settle(spark)
        BenchCore.deepFamily(spark, "lsh", names, pts, benchRuns, d => {
          val c = operators.NearDup.lshCandidateCount(spark, d)
          spark.catalog.clearCache()
          val p = operators.NearDup.lshPrunedCandidateCount(spark, d)
          spark.catalog.clearCache()
          s""","candidates":$c,"candidates_pruned":$p"""
        })
      case "text" =>
        val pts = BenchCore.docPoints(spark, "zipf", ptsOverride.getOrElse(DeepNs),
          sources.SyntheticDocs.zipfCorpus(_, _))
        settle(spark)
        // setsim variance decomposition (round-13 verdict task #4): time
        // the candidate surface alone vs the full verify, and record the
        // candidate/emitted-pair counts per point, so "output-bound" is a
        // measured claim with a per-point volume attached.
        BenchCore.deepFamily(spark, "text", names, pts, benchRuns, d => {
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
        })
      case "events" =>
        val pts = ptsOverride.getOrElse(EventNs).map { n =>
          val d = s"/tmp/graft_synth_events_$n"
          sources.SyntheticEvents.writePoint(spark, d, n); n -> d
        }
        settle(spark)
        BenchCore.deepFamily(spark, "events", names, pts, benchRuns)
    }
    write(s"BENCH_DEEP_$family.json",
      s"""{"runs":$benchRuns,"fresh_jvm":true,"calib_spin_sec":${BenchCore.calibSpin()},$json}""")
    System.err.println(s"[bench-deep] wrote BENCH_DEEP_$family.json")
    spark.stop()
  }

  /** Post-generation settle: force GC, then spin until two consecutive
    * calibration spins agree within 10% (bounded) — the first timed point
    * must not inherit generation backwash. */
  private def settle(spark: org.apache.spark.sql.SparkSession): Unit = {
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
    val frags = Families.map { f =>
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
