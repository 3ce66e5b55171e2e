package graft

/** Dev tool (like PlanDump): best-of-N wall times for an arbitrary
  * comma-separated registry query list — the source of the PLANS.md
  * engine-vs-DuckDB tables. Usage:
  *   runMain graft.TimeQueries <sfDir> <q1,q2,...> [runs=2]
  * Prints a calib spin stamp first (same spin as Bench) so cross-session
  * numbers can be host-normalized. SPARK_GRAFT_SHUFFLE_BYTES=1 adds per
  * best-run total shuffle-write bytes (stage-completion listener) — the
  * evidence channel for "shuffle fewer bytes" (§2.3) claims. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(",").toSeq)
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = BenchCore.session("graft-time-queries")
    val wantBytes = sys.env.get("SPARK_GRAFT_SHUFFLE_BYTES").contains("1")
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    if (wantBytes) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
    val unknown = names.filterNot(Registry.byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val qs = names.map(Registry.byName)
    println(f"CALIB ${BenchCore.calibSpin()}%7.3f")
    BenchCore.warmUp(spark, qs, sfDir) // the TARGET dir's parquet footers
    qs.foreach { q =>
      val samples = (1 to runs).map { _ =>
        shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        q.run(spark, sfDir).count()
        spark.catalog.clearCache()
        val dt = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; settle before reading
        // (listenerBus.waitUntilEmpty is private[spark] — a bounded sleep
        // is fine for a dev probe)
        if (wantBytes) Thread.sleep(400)
        (dt, shuffleBytes.get())
      }
      val (t, bytes) = samples.minBy(_._1)
      if (wantBytes) println(f"TIME ${q.name}%-34s $t%7.3f shuffleMB ${bytes / 1e6}%10.1f")
      else println(f"TIME ${q.name}%-34s $t%7.3f")
    }
    spark.stop()
  }
}
