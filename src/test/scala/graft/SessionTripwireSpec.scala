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
  *    and the events `ts` normalization exists once, in `Tables`. */
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
}
