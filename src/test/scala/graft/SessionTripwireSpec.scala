package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source tripwire for session configuration: every main builds its session
  * through `BenchCore.session`, and no session sets `spark.sql.extensions`
  * (GraftExtensionsProvider already registers the extensions; the config
  * would register them a second time). */
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
}
