package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.table.{GenericTable, GraftTable}

/** Structured Streaming ingest into the encoded table: each micro-batch is
  * appended as its own set of blocks via [[GraftTable.append]] inside
  * `foreachBatch`, so the batch and streaming paths share one encode
  * implementation and one table format.
  *
  * Exactly-once at the table level (single-writer stream): Spark replays
  * the last uncommitted batch after a crash, so the sink must be
  * idempotent per batchId. The applied batchId is recorded in the snapshot
  * metadata at commit; a replayed batch whose id is ≤ the recorded one is
  * skipped (the crash happened AFTER the table commit but before the
  * streaming checkpoint commit — the rows are already in the table).
  * Without that check the replay would append the same rows again as a new
  * version (at-least-once, ADVICE r1).
  *
  * The reference had no streaming surface (batch MapReduce only); this is
  * the Spark-native extension: the same `doc_id/tokens/n_tok/source` rows
  * arriving as a stream (file source, Kafka, rate…) land in the same
  * Iceberg-shaped table that [[GraftTable.decode]] reads.
  */
object StreamingEncode {

  private[streaming] val BatchKey = "stream_batch_id"

  /** Runs `append(cur)` for a batch that is neither empty nor already
    * applied (its id at or below the recorded one), `cur` being the
    * current snapshot; returns whether it ran. `append` must commit
    * `batchMeta(batchId)` with the batch's last commit.
    */
  private def applyOnce(batch: DataFrame, batchId: Long, tableDir: String)(
      append: Option[GraftTable.Snapshot] => Any): Boolean = {
    val cur = GraftTable.currentSnapshot(batch.sparkSession, tableDir)
    val applied = cur.flatMap(_.stats.toMap.get(BatchKey)).map(_.toLong)
    if (applied.exists(batchId <= _) || batch.isEmpty) false
    else { append(cur); true }
  }

  private def batchMeta(batchId: Long): Map[String, String] = Map(BatchKey -> batchId.toString)

  /** The stream's sink: `apply` on each micro-batch, checkpointed at
    * `checkpointDir`.
    */
  private def sink(stream: DataFrame, checkpointDir: String, outputMode: String,
      trigger: Trigger)(apply: (DataFrame, Long) => Boolean): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(outputMode)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => apply(batch, batchId); () }
      .start()

  /** Idempotent per-batch apply; returns true when the batch was appended,
    * false when skipped as already applied. Exposed for direct testing of
    * the replay path.
    */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      tableDir: String,
      opts: GraftTable.Options = GraftTable.Options()): Boolean =
    applyOnce(batch, batchId, tableDir)(_ =>
      GraftTable.append(batch, tableDir, opts, extraMeta = batchMeta(batchId)))

  def start(
      stream: DataFrame,
      tableDir: String,
      checkpointDir: String,
      opts: GraftTable.Options = GraftTable.Options(),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    sink(stream, checkpointDir, "append", trigger)(applyBatch(_, _, tableDir, opts))

  /** Generic-lane twin of [[applyBatch]]: any supported schema, same
    * batchId-idempotent exactly-once contract, schema evolution included
    * (a stream whose schema gains a column keeps appending; earlier rows
    * read null for it).
    */
  def applyBatchGeneric(
      batch: DataFrame,
      batchId: Long,
      tableDir: String,
      keyCol: String = "",
      opts: GraftTable.Options = GraftTable.Options()): Boolean =
    applyOnce(batch, batchId, tableDir) { cur =>
      // the first batch picks the key column; append has no keyCol
      if (cur.isEmpty)
        GenericTable.encode(batch, tableDir, keyCol, opts, extraMeta = batchMeta(batchId))
      else GenericTable.append(batch, tableDir, opts, extraMeta = batchMeta(batchId))
    }

  /** CDC-style upsert ingest: each micro-batch's rows REPLACE same-key
    * rows and new keys append ([[GenericTable.deleteKeys]] + append),
    * batchId-idempotent. The upsert is two commits; a replay after a
    * crash between them re-applies the key delete (a content no-op when
    * the keys are already gone) and then appends — BatchKey advances only
    * with the final append commit, so the applied-batch contract stays
    * exactly-once. Within one batch, later rows of a key win is NOT
    * guaranteed — feed pre-deduplicated batches (e.g. last_value by key).
    */
  def applyBatchUpsert(
      batch: DataFrame,
      batchId: Long,
      tableDir: String,
      keyCol: String,
      opts: GraftTable.Options = GraftTable.Options()): Boolean =
    applyOnce(batch, batchId, tableDir) {
      case None =>
        GenericTable.encode(batch, tableDir, keyCol, opts, extraMeta = batchMeta(batchId))
      case Some(cur) =>
        val key = GenericTable.keyNameOf(cur)
        GenericTable.deleteKeys(batch.sparkSession, tableDir, batch.select(batch(key)), opts)
        GenericTable.append(batch, tableDir, opts, extraMeta = batchMeta(batchId))
    }

  /** Streaming upsert-by-key into a generic table (CDC apply). */
  def startUpsert(
      stream: DataFrame,
      tableDir: String,
      checkpointDir: String,
      keyCol: String,
      opts: GraftTable.Options = GraftTable.Options(),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    sink(stream, checkpointDir, "update", trigger)(applyBatchUpsert(_, _, tableDir, keyCol, opts))

  /** Micro-batch ingest of ANY supported schema into a generic table. */
  def startGeneric(
      stream: DataFrame,
      tableDir: String,
      checkpointDir: String,
      keyCol: String = "",
      opts: GraftTable.Options = GraftTable.Options(),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    sink(stream, checkpointDir, "append", trigger)(applyBatchGeneric(_, _, tableDir, keyCol, opts))
}
