package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one SparkSession factory every main uses, plus the measurement
  * machinery shared by the bench mains ([[Bench]], [[BenchWide]],
  * [[BenchDeep]], [[TimeQueries]]): warm-up, best-of-N settings,
  * calibration spin, best-of-N query timing, the endpoint-suspect
  * re-timer, and the calib-gated α/monotonicity fits.
  * Extracted (round-12) so each deep decade family can run in its OWN
  * fresh JVM — the round-11 measured phantom (29.2 s vs 3.2 s on identical
  * work, flat calib) is within-JVM state that per-point calibration cannot
  * see and the endpoint re-timer only patches. */
private[graft] object BenchCore {

  /** Fixed-work single-thread xorshift spin (~0.2 s idle): wall time tracks
    * this VM's CPU-steal/contention level. */
  def spinOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** Warm + best-of-2 spin — the calibration stamp (see Bench's scaladoc
    * history: per-point stamps + >25% drift refusal were the round-10/11
    * hygiene layers). */
  def calibSpin(): Double = { spinOnce(); (1 to 2).map(_ => spinOnce()).min }

  /** Best-of-N per query; min over SUCCESSFUL runs, -1 when every run
    * failed (never a timed failure). Cache cleared between runs so each
    * timing pays its own materialization. A failed run is logged to
    * stderr and passed to `onFail`. */
  def timeQs(spark: SparkSession, qs: Seq[Q], dir: String, runs: Int,
      onFail: (Q, Throwable) => Unit = (_, _) => ()): Seq[(String, Double)] =
    qs.map { q =>
      val ts = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { q.run(spark, dir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED at $dir: ${e.toString.take(200)}")
            onFail(q, e)
            false
          }
        spark.catalog.clearCache()
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      q.name -> (if (ts.nonEmpty) ts.min else -1.0)
    }

  /** Endpoint-suspect re-timing (round-11): within-JVM state — GC pressure
    * and page-cache eviction by earlier passes' allocations — can inflate
    * ONE decade point ~10× while the single-thread calib stays flat. Any
    * query whose endpoint fit implies α > 1.15 gets ONE more timing at the
    * top point after a forced GC, and the min enters the series — a
    * genuinely superlinear query reproduces its slow time, a phantom
    * vanishes. */
  def retimeSuspects(spark: SparkSession, qs: Seq[Q], pts: Seq[(Long, String)],
      series: Seq[Seq[(String, Double)]]): Seq[Seq[(String, Double)]] = {
    val lo = series.head.toMap
    val hi = series.last.toMap
    val ratio = pts.last._1.toDouble / pts.head._1
    val suspects = qs.filter { q =>
      val (a, b) = (lo.getOrElse(q.name, -1.0), hi.getOrElse(q.name, -1.0))
      a > 0 && b > 0 && ratio > 1.05 &&
        math.log(b / a) / math.log(ratio) > 1.15
    }
    if (suspects.isEmpty) series
    else {
      System.gc()
      val re = timeQs(spark, suspects, pts.last._2, 1).toMap
      suspects.foreach { q =>
        System.err.println(f"[bench] retimed suspect ${q.name} at ${pts.last._2}: " +
          f"${hi(q.name)}%.2f -> ${re.getOrElse(q.name, -1.0)}%.2f s")
      }
      series.init :+ series.last.map { case (k, v) =>
        k -> (if (re.getOrElse(k, -1.0) > 0 && v > 0) math.min(v, re(k)) else v)
      }
    }
  }

  /** Endpoint-fit α plus a per-query MONOTONICITY flag over every decade
    * point (10% noise slack), with per-point calib stamps: when calib
    * drifts > 25% across the points, ALL the family's α fits are REFUSED
    * (emitted null, drift recorded). */
  def alphaMonoJson(names: Seq[String], series: Seq[(Long, Map[String, Double])],
      calibs: Seq[Double]): (String, String, String) = {
    val drift = if (calibs.nonEmpty && calibs.min > 0) calibs.max / calibs.min - 1.0 else 0.0
    val suppressed = drift > 0.25
    val ratio = series.last._1.toDouble / series.head._1
    val alphas = names.map { n =>
      val (tLo, tHi) = (series.head._2(n), series.last._2(n))
      val a = if (!suppressed && tLo > 0 && tHi > 0)
        Some(math.log(tHi / tLo) / math.log(ratio)) else None
      "\"" + n + "\":" + a.filter(x => !x.isNaN && !x.isInfinite)
        .map(x => BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString)
        .getOrElse("null")
    }.mkString(",")
    val mono = names.map { n =>
      val ts = series.map(_._2(n))
      val ok = ts.forall(_ > 0) && ts.zip(ts.tail).forall { case (a, b) => b >= a * 0.9 }
      "\"" + n + "\":" + ok
    }.mkString(",")
    val calibJson = s""""calib_points":[${calibs.mkString(",")}],""" +
      s""""calib_drift":${BigDecimal(drift).setScale(3, BigDecimal.RoundingMode.HALF_UP)},""" +
      s""""alpha_suppressed_calib_drift":$suppressed"""
    (alphas, mono, calibJson)
  }

  /** One deep decade family: per-point (extras, calib, best-of-N times),
    * endpoint-suspect re-timing, α/monotonicity with calib gating. Returns
    * the family's JSON fragment (`"tag":{...}`); degrades to `"tag":null`
    * on failure. */
  def deepFamily(spark: SparkSession, tag: String, names: Seq[String],
      pts: Seq[(Long, String)], benchRuns: Int,
      extras: String => String = _ => ""): String = try {
    val qs = Registry.all.filter(q => names.contains(q.name))
    val raw = pts.map { case (n, d) =>
      val ex = extras(d)
      val cal = calibSpin()
      (n, d, ex, cal, timeQs(spark, qs, d, benchRuns))
    }
    val data = raw.zip(retimeSuspects(spark, qs, pts, raw.map(_._5)))
      .map { case ((n, d, ex, cal, _), ts) => (n, d, ex, cal, ts) }
    val ptsJson = data.map { case (n, d, ex, cal, ts) =>
      s"""{"dir":"$d","rows":$n$ex,"calib":$cal,${
        ts.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")}}"""
    }.mkString(",")
    val (alphas, mono, calibJson) = alphaMonoJson(qs.map(_.name),
      data.map { case (n, _, _, _, ts) => (n, ts.toMap) }, data.map(_._4))
    s""""$tag":{"points":[$ptsJson],"alpha_2decades":{$alphas},"monotone":{$mono},$calibJson}"""
  } catch { case e: Throwable =>
    System.err.println(s"[bench] deep $tag family failed: ${e.getMessage}")
    s""""$tag":null"""
  }

  /** The SparkSession of every main: `local[n]` with n shuffle partitions,
    * n = SPARK_GRAFT_CPUS, else the host's available processors. The graft
    * extensions are not configured here: GraftExtensionsProvider
    * (META-INF/services) registers them once on every session. */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS); read as long, see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Synthetic-corpus decade points: `/tmp/graft_synth_docs_<tag>_<n>` per
    * row count n, written by `gen` only when absent. */
  def docPoints(spark: SparkSession, tag: String, ns: Seq[Long],
      gen: (SparkSession, Long) => DataFrame): Seq[(Long, String)] = ns.map { n =>
    val d = s"/tmp/graft_synth_docs_${tag}_$n"
    if (!new java.io.File(s"$d/documents.parquet").exists())
      gen(spark, n).write.mode("overwrite").parquet(s"$d/documents.parquet")
    n -> d
  }

  /** Best-of-N for the bench mains: SPARK_GRAFT_BENCH_RUNS when it is a
    * positive integer, else `default`. */
  def benchRuns(default: Int): Int = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
    .flatMap(_.toIntOption).filter(_ > 0).getOrElse(default)

  /** Classloading + parquet-footer warm-up: each query runs once at `dir`
    * (failures ignored) and its persists are dropped, so the timed runs
    * measure the plan, not classloading. */
  def warmUp(spark: SparkSession, qs: Seq[Q], dir: String = "/root/testdata/sf0.001"): Unit =
    qs.foreach { q =>
      try q.run(spark, dir).count()
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
}
