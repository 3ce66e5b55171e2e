package graft

/** Wide-tier benchmark: times EVERY registered query (all of Registry.all,
  * not just the 19 bench=true headliners) at SPARK_GRAFT_SF_DIR and writes
  * BENCH_WIDE.json — the coverage tier whose absence let two pathologies
  * (the 93 s near-unique-key TopK regression, the fixed-plane embed
  * candidate blow-up) hide until a verdict task forced a measurement.
  *
  * One timed run per query by default (SPARK_GRAFT_BENCH_RUNS to raise):
  * the tier exists to CATCH outliers, not to publish steady-state numbers
  * — a query that times 10× its family's band gets re-measured by hand.
  * Queries are warmed once at sf0.001 so the wide numbers measure plans,
  * not classloading. Output: one JSON object with per-query seconds
  * (descending), the total, and the calibration spin for cross-run
  * normalization; failures time as -1 and are listed under "errors".
  */
object BenchWide {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val runs = BenchCore.benchRuns(1)
    val spark = BenchCore.session("graft-bench-wide")

    val all = Registry.all
    BenchCore.warmUp(spark, all)

    var errors = List.empty[String]
    val timed = BenchCore.timeQs(spark, all, sfDir, runs, (q, e) =>
      errors ::= s"""{"query":"${q.name}","error":${jsonStr(e.toString.take(200))}}""")
      .sortBy(-_._2)

    // ---- Regression delta vs the prior committed BENCH_WIDE.json (round-10
    // verdict task #7): flag >2× per-query swings in either direction so a
    // replanning pathology (the 93 s TopK, the 11.8 s corpusOverlap wedge)
    // surfaces automatically instead of via a judge task. Only queries
    // whose larger side clears 0.5 s are flagged — sub-half-second times
    // sit inside the host-noise band where ratios are meaningless. Parsed
    // BEFORE this run's file overwrites it; absent/unparseable prior →
    // empty delta, never a crash.
    val delta = try {
      val src = scala.io.Source.fromFile("BENCH_WIDE.json", "UTF-8")
      val prior = try src.mkString finally src.close()
      val qre = """"(q_[a-z0-9_]+)":(-?[0-9.]+(?:[eE]-?[0-9]+)?)""".r
      val inDesc = prior.indexOf("\"queries_desc\"") match {
        case -1 => ""
        case i => prior.substring(i)
      }
      val priorTimes = qre.findAllMatchIn(inDesc)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val nowTimes = timed.toMap
      val flagged = timed.collect {
        case (name, now) if now > 0 && priorTimes.get(name).exists(_ > 0) &&
            math.max(now, priorTimes(name)) >= 0.5 &&
            (now >= 2 * priorTimes(name) || priorTimes(name) >= 2 * now) =>
          val p = priorTimes(name)
          s"""{"query":"$name","prior":$p,"now":$now,"ratio":${
            BigDecimal(now / p).setScale(2, BigDecimal.RoundingMode.HALF_UP)}}"""
      }
      val newQs = nowTimes.keySet -- priorTimes.keySet
      s""""delta_vs_prior":{"prior_queries":${priorTimes.size},""" +
        s""""new_queries":${newQs.size},"flagged":[${flagged.mkString(",")}]},"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench-wide] delta vs prior skipped: ${e.getMessage}")
      """"delta_vs_prior":null,"""
    }

    val calib = BenchCore.calibSpin()
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = timed.collect { case (_, v) if v > 0 => v }.sum
    val line =
      s"""{"metric":"wide","n_queries":${all.size},"runs":$runs,"total_sec":$total,""" +
      s""""calib_spin_sec":$calib,"sf":"$sfDir","errors":[${errors.distinct.mkString(",")}],""" +
      delta +
      s""""queries_desc":$qs}"""
    println(line)
    try {
      val out = new java.io.PrintWriter("BENCH_WIDE.json", "UTF-8")
      try out.println(line) finally out.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench-wide] BENCH_WIDE.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
}
