package graft.perfbench

import graft.BenchCore
import org.apache.spark.sql.SparkSession

/** One benchmark JVM. `perfbench/run.py` launches it with
  * `--mode <batch_kpi|stream_kpi> --work <dir> --seconds <s> --trace <0|1>
  * --launch-ns <epoch ns of the launch>` and reads the single
  * `PERFBENCH {...}` line it prints.
  *
  * `setup_s` is the median of nine set-ups of a `BenchCore.session`
  * (graft extensions, sized by SPARK_GRAFT_CPUS) that has answered a
  * trivial query: the first from the launch of the JVM, then eight more, each
  * after stopping the session before it. The first is by far the slowest
  * (JVM class loading and JIT), so the median is a set-up in a JVM that has
  * built a session before; the first is reported per layer. With `--trace 1` the listener is
  * registered and the workload is measured both with spans off and on
  * (batch_kpi alternates its runs, stream_kpi runs the stream twice), so the
  * result carries the per-layer counters and the tracing overhead; the
  * traced batch_kpi run also times the registry's headline queries layer by
  * layer. */
object Main {
  private val SetUps = 9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val launchNs = opt("launch-ns").toLong
    def since(ns: Long) = (Jvm.epochNs() - ns) / 1e9
    val jvmS = since(launchNs)
    var spark = BenchCore.session("perfbench")
    val sessionS = since(launchNs)
    spark.sql("SELECT 1").collect()
    val coldS = since(launchNs)
    val again = (2 to SetUps).map { _ =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = Jvm.epochNs()
      spark = BenchCore.session("perfbench")
      spark.sql("SELECT 1").collect()
      since(t0)
    }

    val out = scala.collection.mutable.LinkedHashMap[String, Any]("setup_s" -> Workloads.median(coldS +: again),
      "setup_samples" -> (coldS +: again), "session.cold_s" -> coldS, "session.jvm_s" -> jvmS,
      "session.build_s" -> (sessionS - jvmS), "session.first_query_s" -> (coldS - sessionS),
      "session.again_s" -> Workloads.median(again))
    Jvm.watchHeap()
    out("calib") = BenchCore.calibSpin()
    val trace = new Trace(spark, Workloads.kpiTables)
    val traced = opt("trace") == "1"
    if (traced) trace.register()
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    def stream(tag: String): Map[String, Any] = {
      val before = Jvm.counters()
      trace.span("stream")(Workloads.streamKpi(spark, trace, work, tag, seconds, opt)) ++ Jvm.since(before)
    }
    val t0 = System.nanoTime()
    opt("mode") match {
      case "batch_kpi" =>
        out("untraced") = Workloads.batchKpi(spark, trace, work, seconds, opt, alternate = traced)
        if (traced) out("registry") = Workloads.registry(spark, trace, opt("registry-data"), s"$work/registry/out")
      case "stream_kpi" =>
        out("untraced") = stream("untraced")
        if (traced) {
          trace.on = true
          out("traced") = stream("traced")
          trace.on = false
        }
    }
    if (traced) out("spans") = trace.spanJson(t0)
    out("peak_rss_mb") = Jvm.peakRssMb()
    out("peak_heap_after_gc_mb") = Jvm.peakHeapAfterGcMb()
    println("PERFBENCH " + Json(out))
    System.out.flush()
    // Everything the run wrote lies under --work, which run.py clears;
    // halting skips Spark's shutdown, which takes seconds on a 4-core host.
    Runtime.getRuntime.halt(0)
  }
}
