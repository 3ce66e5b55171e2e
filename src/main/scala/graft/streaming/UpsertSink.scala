package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming keyed-upsert sink via `foreachBatch` — the Spark-native form of
  * the reference's per-run DynamoDB overwrite (transform.py:149-202 put_items
  * keyed (category, order_date) / (order_date); SURVEY.md §1.3): each
  * micro-batch's updated groups replace the rows with the same key in the
  * keyed store, other rows persist.
  *
  * State layout here is a plain parquet directory merged read-modify-write
  * per batch (local-filesystem demo; production swaps the merge body for a
  * transactional table format's MERGE or a KV store's batch put without
  * touching the streaming plan). Merge = the store's rows whose key is
  * absent from the batch plus every batch row, executed distributed in one
  * pass over the batch ([[upsertBatch]]). The store is read with the
  * batch's schema, so no batch runs a parquet footer-reading job to infer
  * it.
  *
  * This is the one sink every stream monitor ends in. A monitor whose
  * published table is DERIVED from the keyed store (a rollup, a matrix, a
  * statistic) passes it as a `view`: after each micro-batch's upsert the
  * store is read once and every view is recomputed from it and published
  * whole by [[publish]]. A view is swapped, never upserted, because its
  * rows can vanish (a re-attributed purchase empties a channel, a
  * retraction removes a matrix cell). [[publish]] — write `dir.tmp`, then
  * the checked two-rename [[swapInto]] — is the only publish path for the
  * store and its views; `IngestPipeline`'s partitioned exactly-once merge
  * is the one other caller of [[swapInto]].
  */
object UpsertSink {

  /** Files admitted per micro-batch by every file source here: one landed
    * object, one trigger (why it is not a parameter: [[EventStreams]]). */
  private[graft] val FilesPerTrigger = 1

  /** Start an update-mode stream writing keyed upserts into `stateDir`.
    * Each `views` entry `(dir, f)` publishes `f(store)` at `dir` after
    * every micro-batch, `store` being the keyed store just written. With
    * no views the store is never read back. */
  def keyedParquetUpsert(df: DataFrame, keys: Seq[String], stateDir: String,
      checkpointDir: String,
      views: Seq[(String, DataFrame => DataFrame)] = Nil): StreamingQuery =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, keys, stateDir)
        if (views.nonEmpty) {
          val store = readStore(batch, stateDir)
          views.foreach { case (dir, view) => publish(view(store), dir) }
        }
      }
      .start()

  /** One merge step: the store's rows whose key is absent from `batch`,
    * plus every row of `batch` — the result of a left-anti join of the
    * store against the batch keys, unioned with the batch. Store and batch
    * rows are tagged and unioned, and a store row is dropped only when a
    * batch row has the same key and no key component is null (a null
    * never equals a key, so such a store row is always kept).
    *
    * `batch` is referenced once on purpose. A foreachBatch `batch` is a
    * plan over the micro-batch's incremental execution, and every
    * reference to it executes that plan again: a merge that reads it twice
    * (anti-join, then union) runs a stateful stream's state-store stage
    * twice per trigger — twice the state-store instances, every updated
    * row counted twice in the progress metrics, two commits. Caching does
    * not prevent it: with `batch.persist()` the union's copy of the batch
    * plan is not replaced by the cached one, and the stage still ran twice
    * per trigger, as measured.
    *
    * Entry first recovers a swap that crashed between its two renames
    * ([[recoverState]]): update-mode batches carry only the groups they
    * touched, so merging against a state dir that LOOKS absent (because
    * the only copy sits in `.old`) would silently drop every untouched
    * group from the published table. */
  private[graft] def upsertBatch(batch: DataFrame, keys: Seq[String],
      stateDir: String): Unit = {
    recoverState(stateDir)
    val merged =
      if (!new java.io.File(stateDir).exists()) batch
      else {
        val keyCols = keys.map(col)
        readStore(batch, stateDir).withColumn(FromBatch, lit(false))
          .unionByName(batch.withColumn(FromBatch, lit(true)))
          .withColumn(KeyInBatch, max(col(FromBatch)).over(Window.partitionBy(keyCols: _*)))
          .where(col(FromBatch) || !col(KeyInBatch) || keyCols.map(_.isNull).reduce(_ || _))
          .drop(FromBatch, KeyInBatch)
      }
    publish(merged, stateDir)
  }

  /** Merge-only tag columns: is the row from the batch, does the batch
    * hold the row's key. */
  private val FromBatch = "_upsert_from_batch"
  private val KeyInBatch = "_upsert_key_in_batch"

  /** The keyed store at `stateDir`, read with the schema of the batches
    * that wrote it (no footer-reading inference job). */
  private def readStore(batch: DataFrame, stateDir: String): DataFrame =
    batch.sparkSession.read.schema(batch.schema).parquet(stateDir)

  /** Replace `dir` with the rows of `df`: materialize into `dir.tmp` first
    * (so `df` may read `dir` itself — nothing is overwritten while it is
    * read; a stale tmp from a crash is overwritten), then [[swapInto]]. */
  private[graft] def publish(df: DataFrame, dir: String): Unit = {
    val tmp = dir + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    swapInto(tmp, dir)
  }

  /** Crash recovery for the two-rename swap: if `destDir` is missing but
    * `destDir.old` exists, the previous swap died after displacing dest
    * and before publishing tmp — `.old` is the ONLY copy of accumulated
    * state, so rename it back (never delete it). A leftover `.old` NEXT TO
    * an existing dest is the opposite case (crash after publish, before
    * cleanup) and is safe to drop — [[swapInto]] does that. */
  private[graft] def recoverState(destDir: String): Unit = {
    val dest = new java.io.File(destDir)
    val old = new java.io.File(destDir + ".old")
    if (!dest.exists() && old.exists() && !old.renameTo(dest))
      throw new java.io.IOException(
        s"recoverState: cannot restore $destDir from interrupted swap")
  }

  /** Publish `tmpDir` as `destDir` via rename, displacing any previous
    * contents. Renames are CHECKED — a false return (stale `.old` from a
    * crash mid-swap, cross-filesystem tmp, permissions) throws instead of
    * silently publishing nothing. A leftover `.old` is cleared ONLY when
    * dest exists (a completed swap's litter); with dest missing it is the
    * sole surviving state copy and is restored instead ([[recoverState]]).
    * The dest is momentarily absent between the two renames — callers that
    * need read-while-publish use a manifest pointer (sources.ManifestSink)
    * instead; here the only readers are the next foreachBatch and
    * post-stop consumers. */
  private[graft] def swapInto(tmpDir: String, destDir: String): Unit = {
    def rm(f: java.io.File): Unit = rmTree(f)
    val dest = new java.io.File(destDir)
    val old = new java.io.File(destDir + ".old")
    if (old.exists()) {
      if (dest.exists()) rm(old) // completed-swap leftover: safe to drop
      else recoverState(destDir) // mid-swap crash: .old is the only copy
    }
    if (dest.exists() && !dest.renameTo(old))
      throw new java.io.IOException(s"swapInto: cannot displace $destDir")
    if (!new java.io.File(tmpDir).renameTo(dest))
      throw new java.io.IOException(s"swapInto: cannot publish $tmpDir -> $destDir")
    if (old.exists()) rm(old)
  }

  /** Recursive delete (no-op on a missing path). Shared by the swap cleanup
    * and by callers that must start a publish from an EMPTY staging tree
    * (a crash between staging-write and swap leaves a stale tmp dir). */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  /** File-source stream over a directory of parquet files, admitting
    * [[FilesPerTrigger]] file per micro-batch — every parquet stream here
    * reads through this except CdcStream's, which admits every landed
    * change file at once. Callers that know their column set pass `schema`
    * so the monitor can start BEFORE the first file lands; without it the
    * schema is inferred from files already present (which throws on an
    * empty or absent source dir). */
  private[graft] def fileStream(spark: SparkSession, srcDir: String,
      schema: Option[StructType] = None): DataFrame =
    spark.readStream
      .schema(schema.getOrElse(spark.read.parquet(srcDir).schema))
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .parquet(srcDir)
}
