package graft

import graft.operators.NearDup
import graft.sources.Tables
import graft.streaming.IngestPipeline
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The composed end-to-end stream (streaming/IngestPipeline.scala):
  * ingest → near-dup gate → keyed KPI upsert chained through one
  * checkpointed run, killed and restarted from its checkpoint mid-stream,
  * against a HAND-PINNED expected state (the gate's keep/drop decisions
  * are asserted from the fixture, not re-derived through the same code). */
class IngestPipelineSpec extends SparkSuite {

  private val base1 =
    "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
  private val base2 =
    "a completely different story about the catalyst optimizer and its many clever rules indeed"
  private val uniqEn =
    "totally disjoint set of tokens nobody else uses anywhere around these parts"
  private val uniqFr =
    "contenu unique en francais qui ne ressemble a rien d autre dans le corpus existant"

  // corpus (standing) docs
  private val corpusRows = Seq(
    (1L, base1, "en", "web"),
    (2L, base2, "en", "web"),
    (3L, "unrelated text about nothing in particular with many random words here", "en", "web"))
  // arriving docs: 5 near-dups 1, 10 exactly dups 2 -> both DROPPED;
  // 15 (en) and 20 (fr) are unique -> KEPT
  private val arrivingRows = Seq(
    (5L, base1.replace("tonight", "today"), "en", "s"),
    (10L, base2, "en", "s"),
    (15L, uniqEn, "en", "s"),
    (20L, uniqFr, "fr", "s"))

  private def docsDf(rows: Seq[(Long, String, String, String)]) = {
    import spark.implicits._
    rows.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("ingest → near-dup gate → KPI upsert: one checkpointed run with mid-stream restart and replay guard") {
    val corpusDir = fixtureDir("documents" -> docsDf(corpusRows))
    val corpus = Tables.documents(spark, corpusDir)
    val srcDir = Files.createTempDirectory("ingest_src").toString
    val stateDir = Files.createTempDirectory("ingest_state").toString + "/kpi"
    val ck = Files.createTempDirectory("ingest_ck").toString
    def land(ids: Long*): Unit =
      docsDf(arrivingRows.filter(d => ids.contains(d._1))).repartition(1)
        .write.mode("append").parquet(srcDir)
    def run() = IngestPipeline.run(spark, srcDir, corpus, stateDir, ck)

    // wave 1: the near-dup (5) and one keeper (15) land; stop the query
    land(5L); land(15L)
    val q1 = run(); q1.processAllAvailable(); q1.stop()
    val mid = spark.read.parquet(stateDir)
    assert(mid.filter(col("lang") === "en").select(col("n_docs")).collect()
      .map(_.getLong(0)).toSeq === Seq(1L), "wave 1: only doc 15 survives the gate")

    // snapshot the (en, s) store partition — md5("en" + \\u0001 + "s") first byte
    // mod 16 = 13 — before wave 2, whose only surviving key (fr, s)
    // hashes to part=2: the partition-pruned merge must publish wave 1's
    // partition files BYTE-IDENTICALLY (hard-linked, not rewritten), both
    // for wave 2's empty-delta batch (doc 10 is gated) and its fr batch.
    def partFiles(p: Int): Map[String, Seq[Byte]] = {
      val d = new java.io.File(stateDir, s"part=$p")
      assert(d.isDirectory, s"expected store partition $d")
      d.listFiles().filter(_.isFile).map(f =>
        f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val enBefore = partFiles(13)
    assert(enBefore.nonEmpty)

    // wave 2: restart from the checkpoint; exact dup (10) and keeper (20)
    land(10L); land(20L)
    val q2 = run(); q2.processAllAvailable(); q2.stop()

    assert(partFiles(13) === enBefore,
      "untouched store partition must survive a batch byte-identically")

    val got = spark.read.parquet(stateDir)
      .select(col("lang"), col("source"), col("n_docs"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // hand-pinned: 5 and 10 dropped by the gate, 15 and 20 counted once
    assert(got === Set(
      ("en", "s", 1L, uniqEn.length.toLong),
      ("fr", "s", 1L, uniqFr.length.toLong)))

    // replay guard: re-applying an already-applied batch id is a no-op
    // (foreachBatch is at-least-once; the additive merge must not double)
    val lastId = IngestPipeline.lastAppliedBatch(spark, stateDir)
    assert(lastId >= 0L)
    val index = NearDup.corpusIndex(corpus, NearDup.DfPruneMinDocs)
    IngestPipeline.applyBatch(docsDf(arrivingRows), lastId, index, stateDir)
    val afterReplay = spark.read.parquet(stateDir)
      .select(col("lang"), col("source"), col("n_docs"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(afterReplay === got, "replayed batch id must not re-merge")

    // crash-window replay: a crash between the
    // staging write and the swap leaves a stale tmp tree; the replayed
    // batch — including the EMPTY-delta shape, whose hard-link publish
    // would otherwise collide with the leftovers — must start clean
    val staleTmp = new java.io.File(stateDir + ".tmp")
    (existingParts(stateDir) + 0).foreach { p =>
      val d = new java.io.File(staleTmp, s"part=$p"); d.mkdirs()
      // duplicate a real published file name so a naive link collides
      Option(new java.io.File(stateDir, s"part=$p").listFiles()).toSeq.flatten
        .filter(_.isFile).take(1).foreach { f =>
          Files.write(new java.io.File(d, f.getName).toPath, Array[Byte](1, 2, 3))
        }
    }
    // doc 10 is an exact dup of corpus doc 2 -> its whole batch is gated
    // out -> empty delta -> pure hard-link publish over the stale tmp
    IngestPipeline.applyBatch(
      docsDf(arrivingRows.filter(_._1 == 10L)), lastId + 1, index, stateDir)
    assert(!staleTmp.exists(), "publish must consume (not leak) the staging dir")
    val afterCrashReplay = spark.read.parquet(stateDir)
      .select(col("lang"), col("source"), col("n_docs"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(afterCrashReplay === got, "stale tmp must not corrupt or dup state")
    assert(IngestPipeline.lastAppliedBatch(spark, stateDir) === lastId + 1)
  }

  test("ingest gate on the boilerplate corpus: the pure-boilerplate arrival is dropped below the gate, kept above") {
    import BoilerplateCorpus.{arrivals, boiler, corpus}
    val corpusDf = Tables.documents(spark,
      fixtureDir("documents" -> docsDf(corpus.map { case (id, t) => (id, t, "en", "web") })))
    // each arrival is its own KPI key, so the store shows which were counted:
    // 5 (exact text of corpus doc 1) is dropped on both sides of the gate,
    // 10 (pure boilerplate, identical to corpus doc 2) only below it
    val landed = arrivals.map { case (id, t) => (id, t, "en", s"doc$id") } :+
      ((15L, uniqEn, "en", "doc15"))
    def counted(minDocs: Long): Set[(String, Long, Long)] = {
      val srcDir = Files.createTempDirectory(s"ingest_gate_src_$minDocs").toString
      val stateDir = Files.createTempDirectory(s"ingest_gate_state_$minDocs").toString + "/kpi"
      val ck = Files.createTempDirectory(s"ingest_gate_ck_$minDocs").toString
      docsDf(landed).repartition(1).write.mode("append").parquet(srcDir)
      val q = IngestPipeline.run(spark, srcDir, corpusDf, stateDir, ck, minDocs)
      q.processAllAvailable(); q.stop()
      spark.read.parquet(stateDir).select(col("source"), col("n_docs"), col("n_chars"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    // below the gate (150 < 1000 standing docs): 10 is a near-dup of doc 2
    assert(counted(1000L) === Set(("doc15", 1L, uniqEn.length.toLong)))
    // at/above it (150 >= 100): 10 prunes to an empty banding set, is counted
    assert(counted(100L) === Set(
      ("doc10", 1L, boiler.length.toLong), ("doc15", 1L, uniqEn.length.toLong)))
  }

  test("the corpus index is cached while the query runs and released when it stops or fails to start") {
    val corpus = Tables.documents(spark, fixtureDir("documents" -> docsDf(corpusRows)))
    val index = NearDup.corpusIndex(corpus, NearDup.DfPruneMinDocs)
    def cached: Boolean =
      index.bands.storageLevel != StorageLevel.NONE || index.shingles.storageLevel != StorageLevel.NONE
    val srcDir = Files.createTempDirectory("ingest_cache_src").toString
    docsDf(arrivingRows.take(1)).repartition(1).write.mode("append").parquet(srcDir)
    val stateDir = Files.createTempDirectory("ingest_cache_state").toString + "/kpi"
    val q = IngestPipeline.run(spark, srcDir, corpus, stateDir,
      Files.createTempDirectory("ingest_cache_ck").toString)
    assert(cached, "a running query keeps its corpus index cached")
    q.processAllAvailable(); q.stop()
    eventually(timeout(30.seconds)) { assert(!cached, "a stopped query releases it") }

    // a checkpoint location that is a regular file makes start() throw
    val ckFile = Files.createTempFile("ingest_cache_ck", ".file").toString
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      IngestPipeline.run(spark, srcDir, corpus, stateDir, ckFile)
    }
    assert(!cached, "a start() that throws must not leave the index cached")
  }

  private def existingParts(stateDir: String): Set[Int] =
    Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
      .map(_.getName).collect { case s if s.startsWith("part=") => s.drop(5).toInt }
      .toSet

  test("pre-partitioned legacy store migrates: rows kept, high-water mark derived") {
    import spark.implicits._
    val root = Files.createTempDirectory("ingest_legacy").toString
    val stateDir = root + "/kpi"
    // the OLD layout: root-level parquet rows carrying a last_batch column
    Seq(("en", "web", 7L, 700L, 4L), ("fr", "web", 2L, 150L, 4L))
      .toDF("lang", "source", "n_docs", "n_chars", "last_batch")
      .write.parquet(stateDir)
    assert(IngestPipeline.lastAppliedBatch(spark, stateDir) === 4L,
      "high-water mark must come from max(last_batch), not reset to -1")
    // migrated in place: partitioned layout, sidecar present, rows intact
    assert(new java.io.File(stateDir, "_last_batch").exists())
    assert(existingParts(stateDir).nonEmpty)
    val rows = spark.read.parquet(stateDir)
      .select(col("lang"), col("n_docs"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set(("en", 7L, 700L), ("fr", 2L, 150L)))
    // idempotent: a second read leaves the migrated store alone
    assert(IngestPipeline.lastAppliedBatch(spark, stateDir) === 4L)
  }

  test("partitioned store missing its sidecar fails loudly instead of guessing") {
    val root = Files.createTempDirectory("ingest_nosidecar").toString
    val stateDir = root + "/kpi"
    new java.io.File(stateDir, "part=3").mkdirs()
    val e = intercept[IllegalStateException] {
      IngestPipeline.lastAppliedBatch(spark, stateDir)
    }
    assert(e.getMessage.contains("_last_batch"))
  }
}
