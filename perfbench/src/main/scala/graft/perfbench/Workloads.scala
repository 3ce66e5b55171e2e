package graft.perfbench

import graft.Registry
import graft.pipeline.EcommercePipeline
import graft.streaming.{EventStreams, UpsertSink}
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The workloads, driven through the calls a user of the program makes.
  * Each returns raw samples; run.py turns them into metrics. */
object Workloads {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def mb(bytes: Double): Double = bytes / 1e6

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  // ----------------------------------------------------------- batch_kpi

  /** The KPI tables `run` writes, each with the layer its write counts to. */
  val kpiTables: Map[String, String] = Map("category_kpis" -> "kpi_category", "order_kpis" -> "kpi_order")

  /** Milliseconds from `startNs` (epoch) until `table`'s `_SUCCESS` marker
    * was written, i.e. until a reader could see the table; -1 without one. */
  private def publishedMs(table: String, startNs: Long): Double = {
    val f = new File(table, "_SUCCESS")
    if (!f.exists()) -1.0
    else {
      val t = Files.getLastModifiedTime(f.toPath).toInstant
      (t.getEpochSecond * 1000000000L + t.getNano - startNs) / 1e6
    }
  }

  /** `EcommercePipeline.run` repeated, untimed for `seconds` (at least two
    * runs) and then timed until `seconds` have passed again (at least three
    * runs), each timed run into its own output directory so run.py can check
    * every run against DuckDB. With `alternate`, runs are traced in the
    * order untraced, traced, traced, untraced, ... so the two kinds see the
    * same JVM warm-up, and their difference is the tracing overhead. A
    * traced run is the same `run` call inside one span; the listener splits
    * it into the two KPI writes (by the directory each writes) and the rest,
    * which is loading and validation. */
  def batchKpi(spark: SparkSession, trace: Trace, work: String, seconds: Double,
      opt: Map[String, String], alternate: Boolean): Map[String, Any] = {
    val data = s"$work/batch/data"
    val out = s"$work/batch/out"
    // Untimed runs for as long as the timed ones: with fewer, the JIT was
    // measured still cutting a run's CPU time by a third.
    val warmStart = System.nanoTime()
    var warm = 0
    while (warm < 2 || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      new EcommercePipeline(spark, data).run(s"$out/warm$warm")
      spark.catalog.clearCache()
      warm += 1
    }
    val reps = ArrayBuffer.empty[Map[String, Any]]
    val minReps = if (alternate) 4 else 3
    val t0 = System.nanoTime()
    while (reps.size < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val dir = s"$out/rep${reps.size}"
      val traced = alternate && (reps.size % 4 == 1 || reps.size % 4 == 2)
      System.gc()
      val before = Jvm.counters()
      trace.on = traced
      val startNs = Jvm.epochNs()
      val (rc, s) = timed(trace.span("batch")(new EcommercePipeline(spark, data).run(dir)))
      trace.on = false
      reps += Map("wall_s" -> s, "rc" -> rc, "out" -> dir, "traced" -> traced,
        "published_ms" -> kpiTables.keys.toSeq.sorted.map(t => publishedMs(s"$dir/$t", startNs))) ++
        Jvm.since(before)
      spark.catalog.clearCache()
    }
    // the validation gate must refuse the mutated copy and write nothing
    val mutOut = s"$out/mutated"
    val mutRc = new EcommercePipeline(spark, s"$work/batch/mutated").run(mutOut)
    spark.catalog.clearCache()
    val res = Map[String, Any]("reps" -> reps.toSeq, "mutated_rc" -> mutRc,
      "mutated_wrote" -> new File(mutOut).exists())
    if (!alternate) res
    else {
      val n = reps.count(_("traced") == true).toDouble
      val v = trace.stats("batch")
      val c = trace.stats("kpi_category")
      val o = trace.stats("kpi_order")
      val rows = opt("input-rows").toDouble
      val runs = trace.durations("batch")
      val (cs, os) = (trace.execSeconds("kpi_category"), trace.execSeconds("kpi_order"))
      // one write of each table per traced run, or the split is unknown and left out
      val split = if (cs.size == runs.size && os.size == runs.size) Map(
        "validate.s" -> median(runs.indices.map(i => runs(i) - cs(i) - os(i))),
        "kpi_category.s" -> median(cs), "kpi_order.s" -> median(os)) else Map.empty[String, Double]
      if (split.isEmpty) log(s"${runs.size} traced runs, ${cs.size} category and ${os.size} order writes")
      res + ("layers" -> (split ++ Map[String, Double](
        "validate.jobs" -> v.jobs / n,
        "validate.input_mb" -> mb(v.inputBytes / n),
        "kpi_category.catalyst_ms" -> c.catalystMs / n,
        "kpi_category.shuffle_mb" -> mb(c.shuffleWriteBytes / n),
        "kpi_order.catalyst_ms" -> o.catalystMs / n,
        "kpi_order.shuffle_mb" -> mb(o.shuffleWriteBytes / n),
        "csv.rows_read_per_row" -> (v.inputRecords + c.inputRecords + o.inputRecords) / n / rows,
        "keyed_sink.s" -> (c.commitMs + o.commitMs) / 1e3 / n,
        "keyed_sink.files" -> (c.writeFiles + o.writeFiles) / n,
        "keyed_sink.mb" -> mb((c.writeBytes + o.writeBytes) / n),
        "spill_mb" -> mb((v.spillBytes + c.spillBytes + o.spillBytes) / n))))
    }
  }

  // ------------------------------------------------- registry headliners

  /** Every `bench = true` registry query over the tables in `data`, once,
    * traced: each result is fully materialised by a `noop` write inside the
    * query's span, then written again as parquet, outside the span, for
    * run.py to check against the query's DuckDB oracle. */
  def registry(spark: SparkSession, trace: Trace, data: String, out: String): Map[String, Any] = {
    val qs = Registry.all.filter(_.bench)
    var errors = 0
    var used = Map("gc_s" -> 0.0, "cpu_s" -> 0.0)
    trace.on = true
    qs.foreach { q =>
      try {
        val before = Jvm.counters()
        val df = trace.span(q.name) {
          val df = trace.span(q.name + ".eager")(q.run(spark, data))
          df.write.format("noop").mode("overwrite").save()
          df
        }
        val d = Jvm.since(before)
        used = used.map { case (k, v) => k -> (v + d(k)) }
        df.write.mode("overwrite").parquet(s"$out/${q.name}")
      } catch { case e: Throwable => errors += 1; log(s"${q.name} failed: $e") }
      spark.catalog.clearCache()
    }
    val per = qs.flatMap { q =>
      val w = trace.stats(q.name)
      val e = trace.stats(q.name + ".eager")
      Seq(s"registry.${q.name}.s" -> trace.durations(q.name).sum,
        s"registry.${q.name}.catalyst_ms" -> (w.catalystMs + e.catalystMs),
        s"registry.${q.name}.shuffle_mb" -> mb((w.shuffleWriteBytes + e.shuffleWriteBytes).toDouble),
        s"registry.${q.name}.eager_jobs" -> e.jobs.toDouble)
    }
    val spill = qs.map(q => trace.stats(q.name).spillBytes + trace.stats(q.name + ".eager").spillBytes).sum
    trace.on = false
    Map("errors" -> errors, "queries" -> qs.map(q => Map("name" -> q.name, "oracle" -> q.oracle)),
      "layers" -> (per.toMap ++ Map("registry.spill_mb" -> mb(spill.toDouble),
        "registry.gc_s" -> used("gc_s"), "registry.cpu_s" -> used("cpu_s"))))
  }

  // ----------------------------------------------------------- stream_kpi

  private final case class Progress(recvNs: Long, runId: String, logOffset: Long,
      rows: Long, durations: Map[String, Long], stateRows: Long, stateBytes: Long)

  /** Every progress event of every query, stamped when it arrives. */
  private final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[Progress]()
    private val offset = "\"logOffset\"\\s*:\\s*(\\d+)".r
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val off = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(o => offset.findFirstMatchIn(o)).map(_.group(1).toLong).getOrElse(-1L)
      val st = p.stateOperators.headOption
      events.add(Progress(System.nanoTime(), p.runId.toString, off, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L)))
    }
    def of(runId: String): Seq[Progress] = events.asScala.filter(_.runId == runId).toSeq
    /** Arrival time of the first event whose source offset reaches `off`. */
    def await(runId: String, off: Long, deadlineNs: Long): Option[Long] = {
      var hit: Option[Long] = None
      while (hit.isEmpty && System.nanoTime() < deadlineNs) {
        hit = of(runId).filter(_.logOffset >= off).map(_.recvNs).sorted.headOption
        if (hit.isEmpty) Thread.sleep(2)
      }
      hit
    }
  }

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  /** The category-KPI stream with a keyed upsert after every micro-batch.
    * Closed loop first: `backlog` files are in place when the query starts
    * and drain one per micro-batch. Then open loop: the rest land one every
    * `period-ms` from a single thread, and each file's freshness runs from
    * when it was due to land to the arrival of the progress event of the
    * micro-batch that published it. */
  def streamKpi(spark: SparkSession, trace: Trace, work: String, tag: String,
      seconds: Double, opt: Map[String, String]): Map[String, Any] = {
    val base = s"$work/stream/$tag"
    val srcDir = new File(s"$base/data/order_items")
    val files = Option(new File(s"$base/arrivals").listFiles()).getOrElse(Array.empty[File])
      .sortBy(_.getName).toIndexedSeq
    val backlog = opt("backlog").toInt
    val periodNs = opt("period-ms").toLong * 1000000L
    val keys = Seq("category", "order_date")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val landed = new ConcurrentLinkedQueue[Long]()
    def land(f: File, mtimeMs: Long): Unit = {
      Files.setLastModifiedTime(f.toPath, FileTime.fromMillis(mtimeMs))
      Files.move(f.toPath, srcDir.toPath.resolve(f.getName), StandardCopyOption.ATOMIC_MOVE)
      landed.add(System.nanoTime())
    }
    def rowsOf(f: File): Long = {
      val s = scala.io.Source.fromFile(f)
      try s.getLines().size - 1L finally s.close()
    }

    if (tag == "untraced") {
      val w = UpsertSink.keyedParquetUpsert(EventStreams.kpiCategoryStream(spark, s"$base/warm"),
        keys, s"$base/warm_state", s"$base/warm_ck")
      w.processAllAvailable()
      w.stop()
    }

    val (catchUp, live) = files.splitAt(backlog)
    val catchUpRows = catchUp.map(rowsOf).sum
    val landedBytes = files.map(_.length).sum
    val now = System.currentTimeMillis()
    catchUp.zipWithIndex.foreach { case (f, i) => land(f, now - backlog + i) }
    val t0 = System.nanoTime()
    val q = UpsertSink.keyedParquetUpsert(EventStreams.kpiCategoryStream(spark, s"$base/data"),
      keys, s"$base/state", s"$base/ck")
    val runId = q.runId.toString
    val drained = progress.await(runId, backlog - 1, t0 + 120L * 1000000000L)

    val liveStart = System.nanoTime()
    val due = live.indices.map(j => liveStart + (j + 1) * periodNs)
    val late = new Array[Long](live.size)
    val lander = new Thread(() => live.indices.foreach { j =>
      val wait = due(j) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      land(live(j), System.currentTimeMillis())
      late(j) = System.nanoTime() - due(j)
    }, "perfbench-lander")
    lander.start()
    lander.join()
    val lastDue = due.lastOption.getOrElse(liveStart)
    progress.await(runId, files.size - 1L, lastDue + 60L * 1000000000L)
    q.stop()
    spark.streams.removeListener(progress)

    val evs = progress.of(runId).sortBy(_.recvNs)
    if (trace.on) evs.filter(_.rows > 0).foreach { e =>
      val d = e.durations.getOrElse("triggerExecution", 0L) * 1000000L
      trace.record(Span("micro_batch", "stream", e.recvNs - d, e.recvNs))
    }
    val published = live.indices.map(j => evs.find(_.logOffset >= backlog + j).map(_.recvNs))
    val freshMs = published.zip(due).collect { case (Some(t), d) => (t - d) / 1e6 }
    val unpublished = published.count(_.isEmpty) + (if (drained.isEmpty) backlog else 0)
    val landedAt = landed.asScala.toSeq.sorted
    val liveEvs = evs.filter(_.recvNs >= liveStart)
    val backlogMax = liveEvs.map(e => landedAt.count(_ <= e.recvNs) - (e.logOffset + 1)).foldLeft(0L)(_ max _)

    val got = canon(spark.read.parquet(s"$base/state"))
    val want = canon(new EcommercePipeline(spark, s"$base/data").categoryKpis)
    spark.catalog.clearCache()
    val mismatched = got.diff(want).size + want.diff(got).size

    val res = Map[String, Any](
      "files" -> files.size, "backlog" -> backlog, "live" -> live.size,
      "catch_up_rows" -> catchUpRows, "landed_bytes" -> landedBytes,
      "drain_s" -> drained.map(t => (t - t0) / 1e9).getOrElse(-1.0),
      "freshness_ms" -> freshMs, "unpublished" -> unpublished,
      "state_rows_expected" -> want.size, "state_mismatched" -> mismatched)
    if (!trace.on) res
    else {
      val batches = evs.filter(_.rows > 0)
      def med(keys: String*): Double = median(batches.map(e => keys.map(e.durations.getOrElse(_, 0L)).sum.toDouble))
      val s = trace.stats(runId)
      val last = batches.lastOption
      res + ("layers" -> Map[String, Any](
        "stream.trigger_ms" -> med("triggerExecution"),
        "stream.add_batch_ms" -> med("addBatch"),
        "stream.planning_ms" -> med("queryPlanning"),
        "stream.offsets_ms" -> med("latestOffset", "getBatch"),
        "stream.commit_ms" -> med("walCommit", "commitOffsets"),
        "stream.input_mb_per_landed_mb" -> s.inputBytes.toDouble / landedBytes,
        "stream.state.rows" -> last.map(_.stateRows).getOrElse(0L),
        "stream.state.memory_mb" -> mb(last.map(_.stateBytes).getOrElse(0L).toDouble),
        "stream.upsert.mb_written_per_batch" -> mb(s.writeBytes.toDouble / math.max(1, batches.size)),
        "stream.upsert.state_files" -> Option(new File(s"$base/state").listFiles()).getOrElse(Array.empty[File])
          .count(_.getName.endsWith(".parquet")),
        "stream.batches" -> batches.size,
        "stream.backlog_files_max" -> backlogMax,
        "stream.generator_late_ms_max" -> (if (late.isEmpty) 0.0 else late.max / 1e6),
        "spill_mb" -> mb(s.spillBytes.toDouble)))
    }
  }
}
