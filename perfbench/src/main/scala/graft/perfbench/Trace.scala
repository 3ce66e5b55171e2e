package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Counters of one layer. */
final class LayerStats {
  var jobs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var catalystMs = 0.0
  var commitMs = 0L
  var writeFiles = 0L
  var writeBytes = 0L

  def add(o: LayerStats): Unit = {
    jobs += o.jobs; shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
  }
}

final case class Span(name: String, parent: String, startNs: Long, endNs: Long)

/** One SQL execution: the job group it started in, the top-level execution
  * it belongs to, its start and end (epoch ms) and, once ended, its Catalyst
  * phase time, its write metrics and the name of the directory it wrote. */
private final class Exec(val group: String, val root: Long, val startMs: Long) {
  @volatile var endMs = -1L
  @volatile var output = ""
  @volatile var catalystMs = 0.0
  @volatile var commitMs = 0L
  @volatile var writeFiles = 0L
  @volatile var writeBytes = 0L
}

/** Spans around each call into a layer, plus a SparkListener that
  * attributes jobs, stages, Catalyst phases and file writes to layers. Work
  * counts to the innermost open span (through its job group), except that a
  * SQL execution writing into a directory named in `outputLayers` counts to
  * that directory's layer. Spans are recorded while `on`; the listener
  * counts every job once `register` is called, and jobs outside any span
  * fall in the group "", which no layer reads. */
final class Trace(spark: SparkSession, outputLayers: Map[String, String] = Map.empty) extends SparkListener {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[String]
  private val execs = new ConcurrentHashMap[Long, Exec]()
  // counters per (job group, SQL execution id or -1 for jobs outside one)
  private val byJob = new ConcurrentHashMap[(String, Long), LayerStats]()
  private val stageKey = new ConcurrentHashMap[Int, (String, Long)]()

  def register(): Unit = spark.sparkContext.addSparkListener(this)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val parent = open.headOption.getOrElse("")
      open = name :: open
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        if (parent.isEmpty) sc.clearJobGroup() else sc.setJobGroup(parent, parent)
        record(Span(name, parent, t0, t1))
      }
    }

  def record(s: Span): Unit = spans.synchronized(spans += s)

  /** Durations in seconds of every span named `name`, in start order. */
  def durations(name: String): Seq[Double] = spans.synchronized(
    spans.filter(_.name == name).sortBy(_.startNs).map(s => (s.endNs - s.startNs) / 1e9).toSeq)

  private def layerOf(group: String, exec: Long): String =
    if (group.isEmpty) group
    else Option(execs.get(exec)).flatMap(e => Option(execs.get(e.root)))
      .flatMap(r => outputLayers.get(r.output)).getOrElse(group)

  /** Counters of a layer, after the listener bus has delivered every event. */
  def stats(layer: String): LayerStats = {
    PerfbenchAccess.drain(spark.sparkContext)
    val a = new LayerStats
    byJob.asScala.foreach { case ((g, id), s) => if (layerOf(g, id) == layer) s.synchronized(a.add(s)) }
    execs.asScala.foreach { case (id, e) =>
      if (layerOf(e.group, id) == layer) {
        a.catalystMs += e.catalystMs; a.commitMs += e.commitMs
        a.writeFiles += e.writeFiles; a.writeBytes += e.writeBytes
      }
    }
    a
  }

  /** Seconds of each ended top-level SQL execution of a layer, in start order. */
  def execSeconds(layer: String): Seq[Double] = {
    PerfbenchAccess.drain(spark.sparkContext)
    execs.asScala.toSeq.filter { case (id, e) => e.root == id && e.endMs >= 0 && layerOf(e.group, id) == layer }
      .map(_._2).sortBy(_.startMs).map(e => (e.endMs - e.startMs) / 1e3)
  }

  def spanJson(t0: Long): Seq[Map[String, Any]] = spans.synchronized(spans.sortBy(_.startNs).map { s =>
    Map[String, Any]("name" -> s.name, "parent" -> s.parent,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)
  }.toSeq)

  private def acc(key: (String, Long)): LayerStats = byJob.computeIfAbsent(key, _ => new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val key = (props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
      props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).map(_.toLong).getOrElse(-1L))
    e.stageIds.foreach(stageKey.put(_, key))
    val a = acc(key)
    a.synchronized(a.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val key = stageKey.get(e.stageInfo.stageId)
    val m = e.stageInfo.taskMetrics
    if (key != null && m != null) {
      val a = acc(key)
      a.synchronized {
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, new Exec(s.jobGroupId.getOrElse(""),
        s.rootExecutionId.getOrElse(s.executionId), s.time))
    case end: SparkListenerSQLExecutionEnd =>
      Option(execs.get(end.executionId)).foreach { x =>
        PerfbenchAccess.queryExecution(end).foreach { qe =>
          val writes = writeNodes(qe.executedPlan)
          def sum(k: String) = writes.map(_.cmd.metrics.get(k).map(_.value).getOrElse(0L)).sum
          x.catalystMs = qe.tracker.phases.values.map(_.durationMs).sum
          x.commitMs = sum("taskCommitTime") + sum("jobCommitTime")
          x.writeFiles = sum("numFiles")
          x.writeBytes = sum("numOutputBytes")
          x.output = writes.map(_.cmd).collectFirst { case w: InsertIntoHadoopFsRelationCommand =>
            w.outputPath.getName }.getOrElse("")
        }
        x.endMs = end.time
      }
    case _ =>
  }

  private def writeNodes(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case c: CommandResultExec => writeNodes(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeNodes(a.executedPlan)
    case s: QueryStageExec => writeNodes(s.plan)
    case other => other.children.flatMap(writeNodes)
  }
}

/** Whole-JVM resource counters: GC time from the collector beans, process
  * CPU time, and peak resident memory from /proc. */
object Jvm {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** The process-wide counters each batch run and each stream reports. */
  def counters(): Map[String, Double] = Map("gc_s" -> gcMs() / 1e3, "cpu_s" -> cpuNs() / 1e9,
    "jit_s" -> jitMs() / 1e3, "codegen.classes" -> org.apache.spark.sql.PerfbenchAccess.codegenCompiles().toDouble)

  /** `counters()` now minus `before`. */
  def since(before: Map[String, Double]): Map[String, Double] =
    counters().map { case (k, v) => k -> (v - before(k)) }

  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  @volatile private var heapAfterGc = 0L

  /** Largest heap occupancy right after a collection, since `watchHeap`. */
  def peakHeapAfterGcMb(): Double = heapAfterGc / 1048576.0

  def watchHeap(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (used > heapAfterGc) heapAfterGc = used }
          }
        }, null, null)
      case _ =>
    }
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
