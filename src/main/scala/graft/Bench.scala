package graft

import org.apache.spark.sql.SparkSession

/** The query timer, in two modes:
  *
  *   runMain graft.Bench
  *     — the headline run on SPARK_GRAFT_SF_DIR (default sf0.1): the
  *       bench=true registry queries, best-of-3, timed twice with the
  *       scale evidence in between. Prints a `scale_evidence` line, then the
  *       `{"metric":"total",…}` line LAST, and writes both to
  *       BENCH_LOCAL.json.
  *   runMain graft.Bench <sfDir> <q1,q2,…|headline|all> [runs=2]
  *     — one best-of-`runs` pass over the named queries, the headliners
  *       or the whole registry. Prints one JSON line: the calib stamp, then
  *       per query its best seconds and that run's shuffle-write MB, with
  *       failures (timed -1) listed under `errors`.
  *
  * Every timing comes from [[BenchCore.timeQs]]. The synthetic scale
  * decades are [[BenchDeep]]'s, one fresh JVM per family. */
object Bench {

  def main(args: Array[String]): Unit =
    if (args.isEmpty) headline()
    else {
      require(args.length >= 2, "usage: Bench [<sfDir> <q1,q2,…|headline|all> [runs]]")
      queries(args(0), args(1), args.lift(2).map(_.toInt).getOrElse(2))
    }

  private def querySet(spec: String): Seq[Q] = spec match {
    case "headline" => Registry.all.filter(_.bench)
    case "all" => Registry.all
    case _ =>
      val names = spec.split(",").toSeq
      val unknown = names.filterNot(Registry.byName.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      names.map(Registry.byName)
  }

  private def queries(sfDir: String, spec: String, runs: Int): Unit = {
    val qs = querySet(spec)
    val spark = BenchCore.session("graft-bench")
    val calib = BenchCore.calibSpin()
    BenchCore.warmUp(spark, qs)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val timed = BenchCore.timeQs(spark, qs, sfDir, runs,
      (q, e) => errors.getOrElseUpdate(q.name, e.toString.take(200)))
    val perQuery = timed.map { t =>
      s"""${BenchCore.jsonStr(t.name)}:{"sec":${t.sec},"shuffle_mb":${t.shuffleBytes / 1e6}}"""
    }.mkString("{", ",", "}")
    val errorsJson = errors.map { case (n, m) =>
      s"""{"query":${BenchCore.jsonStr(n)},"error":${BenchCore.jsonStr(m)}}"""
    }.mkString("[", ",", "]")
    val total = timed.collect { case t if t.sec > 0 => t.sec }.sum
    println(s"""{"metric":"queries","sf":${BenchCore.jsonStr(sfDir)},"runs":$runs,""" +
      s""""calib_spin_sec":$calib,"total_sec":$total,"queries":$perQuery,"errors":$errorsJson}""")
    spark.stop()
  }

  private def fmt(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** An evidence pass is additive: a failure logs and yields "", so it never
    * costs the run its total line. */
  private def evidence(name: String)(body: => String): String =
    try body catch { case e: Throwable =>
      System.err.println(s"[bench] $name pass failed: ${e.getMessage}")
      ""
    }

  private def headline(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchCore.session("graft-bench")
    val headline = Registry.all.filter(_.bench)
    BenchCore.warmUp(spark, headline)
    def time(dir: String, runs: Int): Seq[(String, Double)] =
      BenchCore.secs(spark, headline, dir, runs)

    // Headline pass 1 of 2. The published headline is the per-query best
    // of two passes SPACED by minutes of evidence work, each with its own
    // calib stamp: a back-to-back re-run hides the ~1.5× multi-core noise
    // band that the spacing exposes.
    val calibRun1 = BenchCore.calibSpin()
    val results = time(sfDir, 3)

    // Scaling exponent one harness SF down:
    //   alpha = ln(t_hi/t_lo) / ln(rows_hi/rows_lo)
    // with rows_* the query's PRIMARY input table (tables grow at different
    // rates across SFs — embeddings 4× where lineitem is 10× — so a blanket
    // SF ratio would misstate every exponent). Fixed job-setup overhead
    // biases alpha DOWN at the low end, so a high alpha is a real signal.
    val sfLo = "sf([0-9.]+)$".r.findFirstMatchIn(sfDir).flatMap { m =>
      val lo = BigDecimal(m.group(1)) / 10
      val cand = sfDir.substring(0, m.start) + "sf" +
        lo.bigDecimal.stripTrailingZeros.toPlainString
      if (new java.io.File(cand).exists) Some(cand) else None
    }
    val multiScale = evidence("multi-scale")(sfLo.map { lo =>
      // name-prefix heuristic, with overrides for the queries whose prefix
      // lies about their scan (checked against each operator's Tables.* read)
      val primaryOverride = Map(
        "q_cdc_apply" -> "orders", // Cdc.scala reads Tables.orders
        "q_join_asof" -> "events", // AsOf.scala reads Tables.events
        "q_join_range_events" -> "events") // Events.eventPairsRange
      def primaryTable(name: String): String = primaryOverride.getOrElse(name,
        if (name.startsWith("q_text") || name.startsWith("q_dedup") ||
          name.startsWith("q_ingest") || name.startsWith("q_sample")) "documents"
        else if (name.startsWith("q_sim") || name.startsWith("q_embed")) "embeddings"
        else if (name.startsWith("q_events")) "events"
        else "lineitem")
      def rows(dir: String, t: String): Long = spark.read.parquet(s"$dir/$t.parquet").count()
      val tabs = headline.map(q => primaryTable(q.name)).distinct
      val ratio = tabs.map(t => t -> rows(sfDir, t).toDouble / rows(lo, t)).toMap
      val resLo = time(lo, 2)
      val hi = results.toMap
      val alphas = resLo.map { case (name, tLo) =>
        val r = ratio(primaryTable(name))
        // undefined when the primary table does not grow between the SFs
        // (documents/embeddings are fixed-size below sf0.01), the low-SF
        // table is empty, or a timing is degenerate: null, not a fake number
        val a = if (r.isNaN || r.isInfinite || r <= 1.05 || tLo <= 0 || hi(name) <= 0) None
          else Some(math.log(hi(name) / tLo) / math.log(r))
        name -> a.filter(x => !x.isNaN && !x.isInfinite)
          .map(x => BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString)
          .getOrElse("null")
      }
      val alphaJson = alphas.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      s""","sf_lo":"$lo","queries_lo":${fmt(resLo)},"scaling_exponent":$alphaJson"""
    }.getOrElse(""))

    // MinHash-LSH band-bucket candidate pairs at the harness SFs: the LSH
    // family's only data-dependent growing term (its synthetic decades are
    // BenchDeep's lsh-v2 and lsh-zipf families).
    val lshHarness = evidence("lsh harness")({
      val pts = (sfLo.toSeq :+ sfDir).map { d =>
        val docs = spark.read.parquet(s"$d/documents.parquet").count()
        s"""{"dir":"$d","rows":$docs${BenchCore.lshCandidates(spark, d)}}"""
      }
      s""","lsh_scale":{"harness":[${pts.mkString(",")}]}"""
    })

    // Z-order file skipping: the bench SF's lineitem written once
    // z-clustered and once range-sorted on orderkey only, then the same
    // 1%-selectivity (orderkey, partkey) box count against both; reports the
    // rows that SURVIVED parquet footer pruning plus wall time (the measured
    // form of ZOrderSpec's assertion).
    val layoutScale = evidence("layout scale")({
      import org.apache.spark.sql.functions.{col, min, max}
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val base = "/tmp/graft_synth_zorder"
      val nFiles = 32
      if (!new java.io.File(s"$base/z/_SUCCESS").exists()) {
        graft.sources.ZOrder.write(li, s"$base/z", "l_orderkey", "l_partkey", nFiles)
        li.repartitionByRange(nFiles, col("l_orderkey"))
          .sortWithinPartitions(col("l_orderkey"))
          .write.mode("overwrite").parquet(s"$base/x")
      }
      val mm = li.agg(min("l_orderkey"), max("l_orderkey"),
        min("l_partkey"), max("l_partkey")).head()
      val (loX, hiX) = (mm.getLong(0), mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 10)
      val (loY, hiY) = (mm.getLong(2), mm.getLong(2) + (mm.getLong(3) - mm.getLong(2)) / 10)
      val box = col("l_orderkey").between(loX, hiX) &&
        col("l_partkey").between(loY, hiY)
      def probe(dir: String): (Long, Double) = {
        val df = spark.read.parquet(dir).filter(box)
        val t = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          df.queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }.min
        val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
        }.sum
        (scanned, t)
      }
      val total = li.count()
      val (zRows, zT) = probe(s"$base/z")
      val (xRows, xT) = probe(s"$base/x")
      s""","layout_scale":{"rows":$total,"box_pred_selectivity":0.01,""" +
        s""""z_rows_scanned":$zRows,"z_sec":$zT,""" +
        s""""xsort_rows_scanned":$xRows,"xsort_sec":$xT}"""
    })

    // Headline pass 2 of 2, spaced from pass 1 by the evidence passes.
    val calibRun2 = BenchCore.calibSpin()
    val results2 = time(sfDir, 3)
    val r2 = results2.toMap
    val best = results.map { case (k, a) =>
      k -> (r2.getOrElse(k, -1.0) match {
        case b if a > 0 && b > 0 => math.min(a, b)
        case b => math.max(a, b) // at most one positive; keep it (or -1)
      })
    }
    def posSum(rs: Seq[(String, Double)]) = rs.collect { case (_, v) if v > 0 => v }.sum
    val runTotals = Seq(posSum(results), posSum(results2))
    // noise band: ratio of the two spaced run totals (>= 1); per-query
    // swings inside it are host noise, not regressions
    val noiseBand =
      if (runTotals.min > 0)
        BigDecimal(runTotals.max / runTotals.min)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
      else "null"
    val total = best.map(_._2).sum
    val runsJson = Seq((calibRun1, results), (calibRun2, results2)).map { case (c, rs) =>
      s"""{"calib":$c,"total":${posSum(rs)},"queries":${fmt(rs)}}"""
    }.mkString("[", ",", "]")
    // Fixed-work single-thread spin whose wall time tracks this VM's CPU
    // steal: divide query times by (calib / a reference value) to compare
    // runs on the same host.
    val calib = math.min(calibRun1, calibRun2)

    // The evidence prints as its own EARLIER line and the compact total line
    // LAST, so a capture that keeps only the output's tail keeps the total.
    val evidenceJson = multiScale + lshHarness + layoutScale
    val scaleLine =
      if (evidenceJson.nonEmpty)
        Some(s"""{"metric":"scale_evidence","sf":"$sfDir"$evidenceJson}""")
      else None
    val totalLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${fmt(best)},""" +
        s""""calib_spin_sec":$calib,"noise_band":$noiseBand,"sf":"$sfDir"}"""
    scaleLine.foreach(println)
    println(totalLine)
    // The full evidence as ONE JSON object in the working directory, for a
    // reader whose stdout capture is truncated. Best effort: a read-only
    // working directory must not fail the bench.
    try {
      val out = new java.io.PrintWriter("BENCH_LOCAL.json", "UTF-8")
      try {
        out.println(
          s"""{"scale_evidence":${scaleLine.getOrElse("null")},"total":$totalLine,""" +
            s""""runs":$runsJson,"noise_band":$noiseBand}""")
      } finally out.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] BENCH_LOCAL.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
