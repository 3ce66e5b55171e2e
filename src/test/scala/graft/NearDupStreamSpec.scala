package graft

import graft.operators.NearDup
import graft.sources.Tables
import graft.streaming.NearDupStream
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Streaming ≡ batch for incremental near-dedup: the new-batch docs
  * (doc_id % 5 == 0, the batch twin's split) arrive file by file — with a
  * kill + checkpoint restart in the middle — and the verified pair set
  * must equal `q_dedup_incremental_near` over the same corpus. */
class NearDupStreamSpec extends SparkSuite {
  import spark.implicits._

  private val base1 =
    "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
  private val base2 =
    "a completely different story about the catalyst optimizer and its many clever rules indeed"

  // corpus = ids % 5 != 0; arriving batch = ids % 5 == 0
  private val allDocs = Seq(
    1L -> base1,
    2L -> base2,
    3L -> "unrelated text about nothing in particular with many random words here",
    5L -> base1.replace("tonight", "today"), // near-dup of 1
    10L -> base2,                            // exact dup of 2
    15L -> "totally disjoint set of tokens nobody else uses anywhere around these parts")

  private def docsDf(rows: Seq[(Long, String)]) =
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("id_a"), col("id_b"), col("jaccard")).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("file-by-file replay with mid-stream restart equals the batch incremental query") {
    val dir = fixtureDir("documents" -> docsDf(allDocs))
    val corpus = Tables.documents(spark, dir).filter(col("doc_id") % 5 =!= 0)

    val srcDir = Files.createTempDirectory("neardup_src").toString
    val outDir = Files.createTempDirectory("neardup_out").toString + "/pairs"
    val ck = Files.createTempDirectory("neardup_ck").toString
    def land(ids: Long*): Unit =
      docsDf(allDocs.filter(d => ids.contains(d._1))).repartition(1)
        .write.mode("append").parquet(srcDir)
    def run() = NearDupStream.pairsStream(spark, srcDir, corpus).writeStream
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ck).outputMode("append").start()

    land(5L)
    val q1 = run(); q1.processAllAvailable(); q1.stop()
    land(10L); land(15L)
    val q2 = run(); q2.processAllAvailable(); q2.stop()

    val streamed = spark.read.parquet(outDir)
    val batch = NearDup.incrementalNearPairs(spark, dir)
    assert(canon(streamed) === canon(batch))
    val pairs = streamed.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((5L, 1L)) && pairs.contains((10L, 2L))) // near + exact
    assert(!pairs.exists(_._1 == 15L)) // the disjoint doc matches nothing
  }

  test("size gate routes the stream: replay parity with incrementalNearPairsAuto on both sides") {
    // 150 standing docs sharing a 12-word boilerplate tail, so DF pruning
    // has real work (BoilerplateCorpus has the layout and the two arrivals)
    val corpusDocs = BoilerplateCorpus.corpus
    val arrivals = BoilerplateCorpus.arrivals
    val dir = fixtureDir("documents" -> docsDf(corpusDocs ++ arrivals))
    val corpus = Tables.documents(spark, dir).filter(col("doc_id") % 5 =!= 0)

    def runOnce(minDocs: Long): org.apache.spark.sql.DataFrame = {
      val srcDir = Files.createTempDirectory(s"ndg_src_$minDocs").toString
      val outDir = Files.createTempDirectory(s"ndg_out_$minDocs").toString + "/pairs"
      val ck = Files.createTempDirectory(s"ndg_ck_$minDocs").toString
      docsDf(arrivals).repartition(1).write.mode("append").parquet(srcDir)
      val q = NearDupStream.pairsStream(spark, srcDir, corpus, minDocs = minDocs)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ck).outputMode("append").start()
      q.processAllAvailable(); q.stop()
      spark.read.parquet(outDir)
    }

    // BELOW the gate (150 < 1000): stream ≡ the unpruned batch twin
    val below = runOnce(minDocs = 1000L)
    assert(canon(below) === canon(NearDup.incrementalNearPairsAuto(spark, dir, minDocs = 1000L)))
    assert(canon(below) === canon(NearDup.incrementalNearPairs(spark, dir)))
    // AT/ABOVE the gate (150 >= 100): stream ≡ the DF-pruned batch twin
    val above = runOnce(minDocs = 100L)
    assert(canon(above) === canon(NearDup.incrementalNearPairsAuto(spark, dir, minDocs = 100L)))

    // and the gate observably ROUTED: the boilerplate-only arrival pairs
    // with its exact corpus duplicate unpruned (jaccard 1.0, identical
    // signatures), but prunes to an empty banding set above the gate
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairSet(below).contains((10L, 2L)))
    assert(!pairSet(above).exists(_._1 == 10L))
    // while the rare-shingle arrival survives pruning on BOTH sides
    assert(pairSet(below).contains((5L, 1L)) && pairSet(above).contains((5L, 1L)))
    assert(pairSet(above).subsetOf(pairSet(below)))
  }
}
