package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source tripwire for the code's single points of definition:
  *  - sessions: every main builds its session through `BenchCore.session`,
  *    and no session sets `spark.sql.extensions` (GraftExtensionsProvider
  *    already registers the extensions; the config would register them a
  *    second time);
  *  - streaming: every stream monitor publishes through
  *    `UpsertSink.keyedParquetUpsert` (only it and `IngestPipeline`'s
  *    exactly-once merge run `foreachBatch` or call `swapInto`), admission
  *    is fixed at one file per trigger (no `maxFilesPerTrigger` parameter),
  *    and the events `ts` normalization exists once, in `Tables`;
  *  - keyed state: idle eviction (watermark, timeout mode, remove on
  *    timeout, deadline) is decided once, in `Ttl.keyed`; only
  *    `Stateful.customSessions`, which finalizes on the watermark and has
  *    no idle TTL, sets its own event-time timeout;
  *  - tooling: five mains, three `SPARK_GRAFT_*` switches, and the decade
  *    re-timer and fits called only from `BenchCore.deepFamily`. */
class SessionTripwireSpec extends AnyFunSuite {

  /** Scala files under `root` that contain `needle`, as repo-relative paths. */
  private def filesContaining(root: String, needle: String): Set[String] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).toSet
    finally walk.close()
  }

  test("only BenchCore builds a SparkSession under src/main/scala") {
    assert(filesContaining("src/main/scala", "SparkSession." + "builder") ===
      Set("src/main/scala/graft/BenchCore.scala"))
  }

  test("no file under src/ sets spark.sql.extensions") {
    val needle = ".config(\"spark.sql." + "extensions\""
    assert(filesContaining("src", needle) === Set.empty)
  }

  private val sinkFiles = Set(
    "src/main/scala/graft/streaming/UpsertSink.scala",
    "src/main/scala/graft/streaming/IngestPipeline.scala")

  test("only UpsertSink and IngestPipeline run foreachBatch under src/main/scala") {
    assert(filesContaining("src/main/scala", ".foreachBatch") === sinkFiles)
  }

  test("only UpsertSink and IngestPipeline call swapInto under src/main/scala") {
    assert(filesContaining("src/main/scala", "swapInto(") === sinkFiles)
  }

  test("no method under src/main/scala takes a maxFilesPerTrigger parameter") {
    assert(filesContaining("src/main/scala", "maxFilesPerTrigger: Int") === Set.empty)
  }

  test("only Tables matches on TimestampNTZType under src/main/scala") {
    assert(filesContaining("src/main/scala", "TimestampNTZType =>") ===
      Set("src/main/scala/graft/sources/Tables.scala"))
  }

  private def graftFiles(names: String*): Set[String] =
    names.map(n => s"src/main/scala/graft/$n.scala").toSet

  test("the mains under src/main/scala are Bench, BenchDeep, Explain, Verify and RegistryDoc") {
    assert(filesContaining("src/main/scala", "def main(") ===
      graftFiles("Bench", "BenchDeep", "Explain", "Verify", "RegistryDoc"))
  }

  test("the SPARK_GRAFT_* variables read under src/main/scala are CPUS, SF_DIR and BENCH_RUNS") {
    val read = "\"SPARK_GRAFT_([A-Z_]+)\"".r
    val names = filesContaining("src/main/scala", "\"SPARK_GRAFT_").flatMap { f =>
      read.findAllMatchIn(Files.readString(Paths.get(f))).map(_.group(1))
    }
    assert(names === Set("CPUS", "SF_DIR", "BENCH_RUNS"))
  }

  test("only BenchCore calls retimeSuspects and alphaMonoJson under src/main/scala") {
    for (call <- Seq("retimeSuspects(", "alphaMonoJson("))
      assert(filesContaining("src/main/scala", call) === graftFiles("BenchCore"), call)
  }

  test("only Ttl.scala and customSessions' two lines hold timeout tokens under streaming/") {
    val tokens = Seq("GroupStateTimeout.EventTimeTimeout", "GroupStateTimeout.ProcessingTimeTimeout",
      "hasTimedOut", "setTimeoutTimestamp", "setTimeoutDuration", "Ttl.watermarked")
    val root = "src/main/scala/graft/streaming"
    val ttl = s"$root/Ttl.scala"
    val hits = tokens.flatMap(t => filesContaining(root, t) - ttl).distinct.flatMap { f =>
      Files.readAllLines(Paths.get(f)).asScala.map(_.trim)
        .filter(l => tokens.exists(l.contains)).map(f -> _)
    }.sorted
    val stateful = s"$root/Stateful.scala"
    assert(hits === Seq(
      stateful -> "OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {",
      stateful -> "state.setTimeoutTimestamp(math.max(fireMs, state.getCurrentWatermarkMs() + 1))"))
  }
}
