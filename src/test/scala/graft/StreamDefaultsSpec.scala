package graft

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Deployment presets (streaming/StreamDefaults.scala): `production` must
  * leave no bounding knob disabled, `replay` must reproduce each twin's
  * parameter defaults exactly, and the appliers must actually wire the
  * preset's knobs into the twin (a short-TTL production copy evicts idle
  * state the way a direct TTL call does). Every stream file is either a
  * `Ttl.keyed` twin or an exemption named in StreamDefaults' scaladoc. */
class StreamDefaultsSpec extends SparkSuite {
  import spark.implicits._

  test("production engages every bounding knob") {
    assert(StreamDefaults.production.fullyBounded)
    // the per-key caps are the same ones replay runs with — production
    // only ADDS the key-count TTLs, it never loosens a cap
    assert(StreamDefaults.production.touchCap === StreamDefaults.replay.touchCap)
    assert(StreamDefaults.production.basketCap === StreamDefaults.replay.basketCap)
    assert(StreamDefaults.production.timesCap === StreamDefaults.replay.timesCap)
    assert(StreamDefaults.production.journeyCap === StreamDefaults.replay.journeyCap)
  }

  test("replay is exactly each twin's parameter defaults") {
    val r = StreamDefaults.replay
    assert(r.idleTtl.isEmpty && r.idleTtlProcMs.isEmpty)
    assert(r.touchCap === AttributionStream.DefaultTouchCap)
    assert(r.basketCap === BasketStream.DefaultBasketCap)
    assert(r.timesCap === DebounceStream.DefaultTimesCap)
    assert(r.journeyCap === TransitionStream.DefaultJourneyCap)
  }

  test("preset applier wires the TTL through: idle journey evicted under a short-TTL production copy") {
    import TransitionStream.Ev
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def sec(n: Long): Long = n * 1000000L
    // production shape with a test-sized horizon (60s event time, 0 lateness)
    val preset = StreamDefaults.production.copy(idleTtl = Some(Ttl(60000L)))
    val input = MemoryStream[Ev]
    val out = preset.userTransitions(spark, input.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("preset_trans")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("preset_trans_ck").toString)
      .start()
    try {
      input.addData(Ev(1L, sec(1000), 1L, "C"), Ev(1L, sec(1001), 2L, "C"))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal === 1L)
      // clock keys push the watermark past user 1's deadline -> evicted
      input.addData(Ev(98L, sec(2000), 3L, "X"), Ev(99L, sec(2000), 4L, "X"))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal === 2L,
        "idle key not evicted under the production preset's TTL")
    } finally q.stop()
  }

  test("replay preset applier matches a direct default-parameter call") {
    import DebounceStream.Ev
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Seq(
      Ev(1L, "click", 1000000L, 1L), Ev(1L, "click", 1100000L, 2L),
      Ev(1L, "click", 9000000L, 3L), Ev(2L, "view", 1000000L, 4L))
    def run(mk: (org.apache.spark.sql.Dataset[Ev]) => org.apache.spark.sql.Dataset[DebounceStream.Burst],
        name: String): Set[DebounceStream.Burst] = {
      val input = MemoryStream[Ev]
      val q = mk(input.toDS()).toDF().writeStream.format("memory")
        .queryName(name).outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"${name}_ck").toString)
        .start()
      try {
        input.addData(events: _*)
        q.processAllAvailable()
        spark.table(name).as[DebounceStream.Burst].collect().toSet
      } finally q.stop()
    }
    val viaPreset = run(ds => StreamDefaults.replay.bursts(spark, ds), "sd_preset")
    val direct = run(ds => DebounceStream.bursts(spark, ds), "sd_direct")
    assert(viaPreset === direct && viaPreset.nonEmpty)
  }

  test("every streaming file is a Ttl.keyed twin or an exemption StreamDefaults names") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val ls = Files.list(Paths.get("src/main/scala/graft/streaming"))
    val files = try ls.iterator().asScala.toList
      .map(p => p.getFileName.toString.stripSuffix(".scala") -> Files.readString(p)).toMap
    finally ls.close()
    val twins = Set("AttributionStream", "BasketStream", "CdcStream", "DebounceStream",
      "Stateful", "TransitionStream")
    val exempt = Set("AbtestMonitor", "CmsMonitor", "DocIngest", "DriftMonitor", "EventStreams",
      "ForecastMonitor", "IngestPipeline", "KmvMonitor", "NearDupStream", "RevenueMonitor",
      "UpsertSink")
    assert(files.keySet === twins ++ exempt ++ Set("Ttl", "StreamDefaults"))
    assert(files.collect { case (f, src) if src.contains("Ttl.keyed(") => f }.toSet === twins)
    val doc = files("StreamDefaults").split("Exemptions")(1).split("\\*/")(0)
    assert(exempt.filterNot(doc.contains) === Set.empty)
  }
}
