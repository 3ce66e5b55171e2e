package graft.streaming

import graft.operators.NearDup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The COMPOSED continuous pipeline — ingest → near-dup gate → keyed KPI
  * upsert chained through ONE checkpointed streaming query, the end-to-end
  * shape the per-stage twins (DocIngest, NearDupStream, UpsertSink) are
  * individually spec'd for:
  *
  *  - **Ingest**: file-source stream over a watched documents directory
  *    (the S3-arrival model; checkpoint makes file pickup exactly-once).
  *  - **Near-dup gate** (per micro-batch): arriving docs probe the
  *    STANDING corpus through the LSH band index — the same
  *    [[graft.operators.NearDup.probePairs]] plan as NearDupStream,
  *    O(batch · collisions), never corpus² — and verified near-dups are
  *    dropped.
  *  - **KPI upsert**: the survivors' per-(lang, source) doc/char counts
  *    are merged ADDITIVELY into a keyed store via the UpsertSink swap
  *    (crash-safe two-rename publish).
  *
  * Exactly-once on top of foreachBatch's at-least-once: `foreachBatch`
  * REPLAYS the in-flight batch after a restart, and an additive merge is
  * not idempotent — so the published state carries the batch id that
  * produced it (the `_last_batch` sidecar, an underscore file Spark's
  * parquet reader ignores), and a replayed batch (id ≤ the stored
  * high-water mark) is skipped. The id rides the SAME atomic rename as
  * the data, so no crash window separates "merged" from "recorded" — the
  * transactional pattern a production deployment gets from a Delta/
  * Iceberg MERGE, here on plain parquet. LOCAL-FILESYSTEM ONLY: the
  * swap's atomicity and the state probes are java.io rename/exists
  * semantics (shared with UpsertSink); on HDFS/S3 the whole sidecar +
  * two-rename pattern is replaced by the table format's transaction, not
  * re-implemented.
  *
  * Scale notes: the stream side never holds state (the gate's joins are
  * batch-local inside foreachBatch; `dropDuplicates` there dedups one
  * micro-batch's candidate pairs, not history); the corpus index is built
  * once, persisted, and unpersisted when the query terminates or fails to
  * start ([[run]]). The KPI store is hash-partitioned by key
  * ([[NumStateParts]] `part=` directories): each batch reads ONLY the
  * partitions its delta touches (partition-pruned scan), rewrites those,
  * and HARD-LINKS the untouched partition files into the new published
  * tree byte-identically — per-batch work is O(touched partitions), not
  * O(store), the plain-parquet form of a partition-pruned MERGE INTO. */
object IngestPipeline {

  val KpiKeys: Seq[String] = Seq("lang", "source")

  /** Hash partitions of the keyed KPI store: each published state tree is
    * `part=<k>` directories, k = md5 byte of the concatenated key mod
    * this. 16 partitions over an O(lang × source) key space keeps every
    * partition file small while making the per-batch rewrite proportional
    * to the TOUCHED key range, not the store. */
  val NumStateParts = 16

  /** Deterministic store partition of a key row — md5-derived (the
    * engine's portable-hash convention), so the mapping survives Spark
    * upgrades, repartitioning, and replays. */
  private def partCol: org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("\u0001", KpiKeys.map(col): _*)), 1, 2), 16, 10)
      .cast("int") % NumStateParts

  /** Start the composed pipeline. `corpusDocs` is the standing corpus the
    * near-dup gate screens against (static side of every join). The
    * corpus band index and shingle table are persisted for the query's
    * lifetime and released exactly once: when THIS query terminates (stop
    * or crash, seen by a self-removing listener, or already over by the
    * time the listener is added), or when `start()` throws — so repeated
    * starts in one session don't accumulate cached blocks. */
  def run(spark: SparkSession, srcDir: String, corpusDocs: DataFrame,
      stateDir: String, checkpointDir: String,
      minDocs: Long = NearDup.DfPruneMinDocs): StreamingQuery = {
    val index = NearDup.corpusIndex(corpusDocs, minDocs)
    index.bands.persist()
    index.shingles.persist()
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit = if (released.compareAndSet(false, true)) {
      index.bands.unpersist(); index.shingles.unpersist()
    }
    val query =
      try DocIngest.docsStream(spark, srcDir)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          applyBatch(batch, batchId, index, stateDir)
        }
        .start()
      catch { case e: Throwable => release(); throw e }
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          release()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // a query marks itself inactive before it posts its termination event,
    // so one found inactive here may have ended unseen by the listener
    if (!query.isActive) {
      release()
      spark.streams.removeListener(listener)
    }
    query
  }

  /** High-water batch id in the published state (−1 when absent), after
    * recovering any interrupted swap. Read from the `_last_batch` sidecar
    * that rides every swap (local-FS java.io probe — see the class
    * scaladoc's exactly-once paragraph). */
  private[graft] def lastAppliedBatch(spark: SparkSession, stateDir: String): Long = {
    UpsertSink.recoverState(stateDir)
    migrateLegacyState(spark, stateDir)
    val f = new java.io.File(stateDir, "_last_batch")
    if (!f.exists()) -1L
    else java.nio.file.Files.readString(f.toPath).trim.toLong
  }

  /** One-time upgrade of a store written by the pre-partitioned layout
    * (root-level parquet rows carrying a `last_batch` COLUMN, no sidecar).
    * Without this, the new reader would report -1 for an old store (so a
    * replayed in-flight batch double-applies) and [[mergeAdd]]'s `part=`
    * scan would silently drop every legacy row at the first swap. The
    * rewrite — hash-partition the rows, derive the sidecar from
    * max(last_batch) — publishes under the same atomic swap as a normal
    * merge. A partitioned tree MISSING its sidecar is no layout this code
    * ever wrote (they ride one rename), so that case fails loudly instead
    * of guessing a high-water mark. */
  private def migrateLegacyState(spark: SparkSession, stateDir: String): Unit = {
    val root = new java.io.File(stateDir)
    if (!root.exists() || new java.io.File(root, "_last_batch").exists()) return
    val entries = Option(root.listFiles()).toSeq.flatten
    val legacyFiles = entries.filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (legacyFiles.isEmpty) {
      if (entries.exists(_.getName.startsWith("part=")))
        throw new IllegalStateException(
          s"IngestPipeline state at $stateDir is partitioned but has no _last_batch " +
            "sidecar; refusing to guess the replay high-water mark")
      return // empty / unrelated dir: nothing to migrate
    }
    val legacy = spark.read.parquet(stateDir)
    require(legacy.columns.contains("last_batch"),
      s"unrecognized IngestPipeline state layout at $stateDir: " +
        "root-level parquet without a last_batch column")
    val hwRow = legacy.agg(max(col("last_batch")).cast("long")).collect()(0)
    val hw = if (hwRow.isNullAt(0)) -1L else hwRow.getLong(0)
    val tmp = stateDir + ".tmp"
    UpsertSink.rmTree(new java.io.File(tmp))
    legacy.drop("last_batch").withColumn("part", partCol)
      .write.mode("overwrite").partitionBy("part").parquet(tmp)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tmp, "_last_batch"), hw.toString)
    UpsertSink.swapInto(tmp, stateDir)
  }

  /** One micro-batch: near-dup gate then additive KPI merge. Public to the
    * package so the spec can force a REPLAY of an already-applied id. */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      index: NearDup.CorpusIndex, stateDir: String): Unit = {
    val spark = batch.sparkSession
    if (lastAppliedBatch(spark, stateDir) >= batchId) return // replayed batch
    val dupIds = NearDup.probePairs(batch, index).select(col("id_a").as("doc_id")).distinct()
    val kept = batch.join(dupIds, Seq("doc_id"), "left_anti")
    val delta = kept.groupBy(KpiKeys.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    mergeAdd(delta, batchId, stateDir)
  }

  /** Additive keyed merge, PARTITION-PRUNED: the store is `part=` hash
    * partitions of the key; this batch reads only the partitions its delta
    * touches (a partition-pruned scan — `part` is a directory column),
    * merges and rewrites those, and hard-links every untouched partition's
    * files into the new tree unchanged (byte-identical, spec-pinned). The
    * `_last_batch` sidecar and the whole tree publish under ONE atomic
    * swap (UpsertSink's two-rename with crash recovery) — deleting the
    * displaced `.old` tree only drops link counts, never the live files. */
  private def mergeAdd(delta: DataFrame, batchId: Long, stateDir: String): Unit = {
    val spark = delta.sparkSession
    val d = delta.withColumn("part", partCol).persist()
    // O(NumStateParts) driver rows by construction
    val touched = d.select("part").distinct().collect().map(_.getInt(0)).toSet
    val stateRoot = new java.io.File(stateDir)
    val existingParts: Set[Int] =
      if (!stateRoot.exists()) Set.empty
      else Option(stateRoot.listFiles()).toSeq.flatten
        .map(_.getName).collect { case s if s.startsWith("part=") => s.drop(5).toInt }.toSet
    val touchedExisting = touched intersect existingParts
    val merged =
      if (touchedExisting.isEmpty) d
      else spark.read.parquet(stateDir)
        .filter(col("part").isin(touchedExisting.toSeq: _*))
        .unionByName(d)
        .groupBy((KpiKeys :+ "part").map(col): _*)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val tmp = stateDir + ".tmp"
    // A crash between staging-write and swapInto leaves a stale tmp tree;
    // every publish attempt must start from an EMPTY staging dir or the
    // empty-delta branch below would hard-link into already-present files
    // and crash-loop the replayed batch. (The Spark write clears it too,
    // via mode("overwrite") — this makes both branches safe.)
    UpsertSink.rmTree(new java.io.File(tmp))
    if (touched.nonEmpty)
      merged.write.mode("overwrite").partitionBy("part").parquet(tmp)
    else
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
    (existingParts -- touched).foreach { p =>
      linkTree(new java.io.File(stateRoot, s"part=$p"), new java.io.File(tmp, s"part=$p"))
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tmp, "_last_batch"), batchId.toString)
    d.unpersist()
    UpsertSink.swapInto(tmp, stateDir)
  }

  /** Hard-link `src`'s file tree under `dst` (byte-identical publish of an
    * untouched partition without copying data); falls back to a real copy
    * on filesystems without link support. */
  private def linkTree(src: java.io.File, dst: java.io.File): Unit = {
    dst.mkdirs()
    Option(src.listFiles()).toSeq.flatten.foreach { f =>
      val t = new java.io.File(dst, f.getName)
      if (f.isDirectory) linkTree(f, t)
      else try java.nio.file.Files.createLink(t.toPath, f.toPath)
      catch {
        // ONLY "this filesystem has no hard links" falls back to a copy;
        // genuine IO errors (including a collision, which a cleared staging
        // tree makes impossible) propagate instead of being masked by a
        // second, uncaught failure from the copy.
        case _: UnsupportedOperationException =>
          java.nio.file.Files.copy(f.toPath, t.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
