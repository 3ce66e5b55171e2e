package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftListenerDrain, SparkSession}

/** The one SparkSession factory every main uses, plus the measurement
  * machinery of the two timing mains, [[Bench]] and [[BenchDeep]]: warm-up,
  * best-of-N settings, calibration spin, best-of-N query timing with
  * shuffle-write bytes, the endpoint-suspect re-timer, the calib-gated
  * α/monotonicity fits, and the decade-family runner they feed.
  * Each decade family runs in its own fresh JVM ([[BenchDeep]]): a measured
  * within-JVM phantom (29.2 s vs 3.2 s on identical work, flat calib) is
  * JVM state that per-point calibration cannot see and the endpoint
  * re-timer only patches. */
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

  /** Warm + best-of-2 spin — the calibration stamp. Every headline run and
    * every decade point carries one; a decade's α fits are refused when
    * its calib drifts > 25% across the points ([[alphaMonoJson]]). */
  def calibSpin(): Double = { spinOnce(); (1 to 2).map(_ => spinOnce()).min }

  /** One query's best-of-N: seconds (-1 when every run failed) and the
    * shuffle-write bytes of the best run. */
  final case class Timing(name: String, sec: Double, shuffleBytes: Long)

  /** Best-of-N per query; min over SUCCESSFUL runs, -1 when every run
    * failed (never a timed failure). Cache cleared between runs so each
    * timing pays its own materialization. A stage listener sums each run's
    * shuffle-write bytes; the listener bus is drained before the count is
    * reset and before it is read. A failed run is logged to stderr and
    * passed to `onFail`. */
  def timeQs(spark: SparkSession, qs: Seq[Q], dir: String, runs: Int,
      onFail: (Q, Throwable) => Unit = (_, _) => ()): Seq[Timing] = {
    val sc = spark.sparkContext
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    try qs.map { q =>
      val ts = (1 to runs).flatMap { _ =>
        GraftListenerDrain.drain(sc)
        shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        val ok = try { q.run(spark, dir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED at $dir: ${e.toString.take(200)}")
            onFail(q, e)
            false
          }
        spark.catalog.clearCache()
        val sec = (System.nanoTime() - t0) / 1e9
        GraftListenerDrain.drain(sc)
        if (ok) Some((sec, shuffleBytes.get())) else None
      }
      if (ts.isEmpty) Timing(q.name, -1.0, 0L)
      else { val (sec, bytes) = ts.minBy(_._1); Timing(q.name, sec, bytes) }
    } finally sc.removeSparkListener(listener)
  }

  /** `timeQs` as (name, seconds) pairs, the form the decade fits read. */
  def secs(spark: SparkSession, qs: Seq[Q], dir: String, runs: Int): Seq[(String, Double)] =
    timeQs(spark, qs, dir, runs).map(t => t.name -> t.sec)

  /** Endpoint-suspect re-timing: within-JVM state — GC pressure
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
      val re = secs(spark, suspects, pts.last._2, 1).toMap
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

  /** One decade family: per-point (extras, calib, best-of-N times),
    * endpoint-suspect re-timing, α/monotonicity with calib gating. `extras`
    * returns a point's extra JSON fields, each led by a comma. Returns the
    * family's JSON fragment (`"tag":{...}`); degrades to `"tag":null` on
    * failure. */
  def deepFamily(spark: SparkSession, tag: String, names: Seq[String],
      pts: Seq[(Long, String)], benchRuns: Int,
      extras: String => String = _ => ""): String = try {
    val qs = Registry.all.filter(q => names.contains(q.name))
    val raw = pts.map { case (n, d) =>
      val ex = extras(d)
      val cal = calibSpin()
      (n, d, ex, cal, secs(spark, qs, d, benchRuns))
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

  /** MinHash-LSH band-bucket candidate pairs at `dir`, unpruned and
    * DF-pruned, as the extra JSON fields of a bench point. */
  def lshCandidates(spark: SparkSession, dir: String): String = {
    val c = operators.NearDup.lshCandidateCount(spark, dir)
    spark.catalog.clearCache()
    val p = operators.NearDup.lshPrunedCandidateCount(spark, dir)
    spark.catalog.clearCache()
    s""","candidates":$c,"candidates_pruned":$p"""
  }

  /** A JSON string literal: backslash, quote and every control character
    * (< 0x20) escaped, so a tab or CR in a query's SQL or an error message
    * cannot break the reader's JSON parse. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

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
