package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

/** The batch-partitioned state table behind every [[StreamOps]] sink:
  * each micro-batch lands as one `batch_id=N` parquet partition by dynamic
  * partition overwrite, so a replayed micro-batch (foreachBatch is
  * at-least-once) overwrites its own partition instead of double-appending
  * — idempotent without a transactional sink. The table's lifecycle lives
  * here too: compaction folds the partitions up to a pinned watermark into
  * a NEW directory with a `through` sidecar, the combined read serves that
  * snapshot plus the live partitions above it, and [[vacuum]] retires the
  * partitions the snapshot covers. A store supplies only its merge rule
  * (state rows → merged rows); because its live reader, its compaction
  * and its combined reader all apply that one rule to the frames read
  * here, the three agree by construction.
  */
private[graft] object StateTable {

  /** Sidecar inside a compacted table recording the highest batch_id it
    * folded. Leading `_` keeps it out of parquet file listings (the
    * [[graft.engine.PublishGuard.SidecarFile]] convention).
    */
  val CompactedThroughFile = "_GRAFT_COMPACTED_THROUGH"

  /** The checkpointed append-mode foreachBatch stream under every sink
    * (the reference's checkpoint/ dir, srapk_structure_streaming.py:176,184).
    */
  def foreachBatch(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** A sink landing `frame(batch)` as each micro-batch's partition of the
    * table at `dir`, behind the continuation guard.
    */
  def sink(
      df: DataFrame, dir: String, checkpoint: String,
      partitionBy: Seq[String] = Nil)(
      frame: DataFrame => DataFrame): StreamingQuery =
    foreachBatch(df, checkpoint) { (batch, batchId) =>
      guardBatchContinuation(batch.sparkSession, dir, batchId)
      land(frame(batch), dir, batchId, partitionBy)
    }

  /** Write `frame` as partition `batch_id=batchId` (split further by
    * `partitionBy`) of the table at `dir`, replacing only that partition.
    */
  def land(
      frame: DataFrame, dir: String, batchId: Long,
      partitionBy: Seq[String] = Nil): Unit =
    frame.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: partitionBy: _*)
      .parquet(dir)

  /** batch_id partition ids present under a state table dir, from one FS
    * listing — no parquet footers touched.
    */
  def batchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
  }

  /** Fail a foreachBatch body whose batch id runs BEHIND the state table:
    * that only happens when a sink was restarted with a FRESH checkpoint
    * against an existing table, restarting batch ids at 0 — the dynamic
    * partition overwrite would then silently clobber historical
    * partitions with unrelated data. (A same-checkpoint replay targets
    * only the LAST, possibly-uncommitted batch, so `max == batchId` is
    * legitimate and idempotent; `max > batchId` never is.) Returns the
    * table's highest batch id before this batch lands, from the same
    * listing.
    */
  def guardBatchContinuation(
      spark: SparkSession, dir: String, batchId: Long): Option[Long] = {
    val max = batchIds(spark, dir).maxOption
    max.foreach { mx =>
      if (mx > batchId)
        throw new IllegalStateException(
          s"state table $dir already holds batch_id=$mx but this " +
            s"query is at batch $batchId — it was started with a fresh " +
            "checkpoint against an existing state table. Reuse the " +
            "original checkpoint dir, or point the sink at a new table.")
    }
    max
  }

  /** Guard for snapshot-as-of reads over LIVE batch partitions: the whole
    * prefix of batches up to `asOf` must still be present. Vacuum only
    * ever retires a PREFIX (ids ≤ its cutoff), so a surviving minimum
    * above 0 means history below it is gone and an as-of read there
    * would silently undercount — refuse loudly instead. A gap ABOVE the
    * surviving minimum is an empty micro-batch (sinks land no partition
    * for an empty batch) and is fine. Conservative by design: an empty
    * batch 0 is indistinguishable from a vacuumed one in the listing, so
    * it refuses that case too rather than guess.
    */
  def requireAsOfCoverage(
      spark: SparkSession, dir: String, asOf: Long): Unit = {
    require(asOf >= 0, s"asOfBatch must be >= 0, got $asOf")
    val ids = batchIds(spark, dir)
    if (ids.isEmpty || ids.min > 0)
      throw new IllegalStateException(
        s"$dir cannot serve an as-of-batch=$asOf read: the batch " +
          s"prefix below ${if (ids.isEmpty) "any surviving partition"
            else s"batch_id=${ids.min}"} has been vacuumed (or never " +
          "landed) — read through a compacted snapshot whose watermark " +
          "is ≤ the requested batch, or retain more live history")
  }

  /** The table's rows, `batch_id` included, from the partitions in
    * (`sinceBatch`, `upToBatch`]. `asOfBatch` = the table as it stood
    * after batch N: it lowers the upper bound to N after
    * [[requireAsOfCoverage]] confirms batches 0..N all survive.
    */
  def read(
      spark: SparkSession, dir: String,
      asOfBatch: Option[Long] = None,
      sinceBatch: Long = Long.MinValue,
      upToBatch: Long = Long.MaxValue): DataFrame = {
    asOfBatch.foreach(requireAsOfCoverage(spark, dir, _))
    val upTo = asOfBatch.fold(upToBatch)(math.min(_, upToBatch))
    val raw = spark.read.parquet(dir)
    val above =
      if (sinceBatch == Long.MinValue) raw
      else raw.where(col("batch_id") > sinceBatch)
    if (upTo == Long.MaxValue) above else above.where(col("batch_id") <= upTo)
  }

  /** Fold the table's partitions into a compacted snapshot published to a
    * NEW directory `outDir`, with `fold` (the store's merge; its output
    * carries no batch_id). The live sink keeps appending to `dir`
    * untouched, so compaction never races the stream (the alternative —
    * rewriting `dir` in place — has an unfixable window where a crash
    * leaves both the folded partitions and their compacted sum
    * double-counting).
    */
  def compact(spark: SparkSession, dir: String, outDir: String)(
      fold: DataFrame => DataFrame): Unit = {
    // pin the fold's coverage BEFORE reading: the live sink may land a new
    // batch mid-compaction, and a partition folded without being recorded
    // in the watermark would double-count through the combined reader
    val through = batchIds(spark, dir).maxOption.getOrElse(throw
      new IllegalStateException(s"no batch partitions to compact at $dir"))
    fold(read(spark, dir, upToBatch = through))
      .write.mode("errorifexists").parquet(outDir)
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(outDir, CompactedThroughFile), true)
    try out.write(s"$through\n".getBytes("UTF-8")) finally out.close()
  }

  /** The compacted table's coverage watermark — loud when absent, because
    * every consumer (combined readers, [[vacuum]]) uses it to decide which
    * live partitions still matter; guessing would either double-count or
    * delete uncovered data.
    */
  def readCompactedThrough(spark: SparkSession, compactedDir: String): Long = {
    val f = new Path(compactedDir, CompactedThroughFile)
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(f))
      throw new IllegalStateException(
        s"$compactedDir has no $CompactedThroughFile sidecar — not a " +
          "compacted state table (or written by a pre-compaction version); " +
          "refusing to guess its batch coverage")
    val in = fs.open(f)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    txt.trim.toLong
  }

  /** The combined read: the snapshot at `compactedDir` standing in as
    * batch `through` (its watermark) for every batch it folded, unioned
    * with the live partitions of `dir` in (through, upToBatch]. A store's
    * merge over these rows equals its merge over the uncompacted table —
    * and because the partitions ≤ the watermark are never consulted,
    * [[vacuum]] can retire them without changing any reader's result.
    */
  def readCompacted(
      spark: SparkSession, compactedDir: String, dir: String,
      upToBatch: Long = Long.MaxValue): DataFrame = {
    val through = readCompactedThrough(spark, compactedDir)
    read(spark, dir, sinceBatch = through, upToBatch = upToBatch)
      .unionByName(spark.read.parquet(compactedDir)
        .withColumn("batch_id", lit(through)))
  }

  /** Retire live batch partitions a compacted table supersedes, keeping
    * the newest `keepLast` for replay headroom. Deletes exactly the
    * partitions with batch_id ≤ min(compacted watermark, max − keepLast):
    * the combined readers filter to batch_id > watermark, so nothing they
    * consult is ever removed — results are identical before and after —
    * and a replayed (at-least-once) vacuumed batch merely recreates a
    * partition below the watermark that those readers keep ignoring.
    * Returns the number of partitions removed. Without periodic vacuum a
    * long-running sink regrows the unbounded small-file accumulation that
    * compaction exists to fold.
    */
  def vacuum(
      spark: SparkSession, dir: String, compactedDir: String,
      keepLast: Int): Long = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val through = readCompactedThrough(spark, compactedDir)
    val ids = batchIds(spark, dir)
    if (ids.isEmpty) return 0L
    val cutoff = math.min(through, ids.max - keepLast)
    val doomed = ids.filter(_ <= cutoff)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach(id => fs.delete(new Path(dir, s"batch_id=$id"), true))
    doomed.size.toLong
  }
}
