package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (JVM-wide; Spark session
  * startup dominates test wall-clock otherwise). UTC and the nanos-as-long
  * parquet read match `BenchCore.session`; the core and shuffle-partition
  * counts are a fixed 4 so test plans do not depend on the host's cores.
  * The graft extensions come from GraftExtensionsProvider, as for every
  * session. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  /** The oracle's correctness scale, a sibling of [[sf0001]]. */
  val sf001: String = java.nio.file.Paths.get(sf0001).resolveSibling("sf0.01").toString
  val referenceData = "/root/reference/Data"
  /** The reference CSV layout at test size, committed under
    * src/test/resources/reference_layout (see its README for the expected
    * category-KPI row count). */
  val referenceFixture: String = getClass.getResource("/reference_layout").getPath
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  /** Write a DataFrame as `<tmpdir>/<table>.parquet` so (spark, dir) query
    * functions can run against controlled fixture input. */
  def fixtureDir(tables: (String, org.apache.spark.sql.DataFrame)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_spec").toString
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }
}
