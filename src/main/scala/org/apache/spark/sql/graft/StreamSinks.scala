/* Shim-packaged: each sink re-wraps a micro-batch's executed rows as a
 * batch frame through `internalCreateDataFrame`, which is private[sql]. */
package org.apache.spark.sql.graft

import graft.ingest.Versioned
import graft.interop.{DeltaLake, Iceberg}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.Sink

/** Streaming SINK over a Delta table —
  * `df.writeStream.format("delta").start(tbl)` — with the protocol's
  * EXACTLY-ONCE contract: every batch commit carries a `txn` action
  * `(appId, batchId)`, and `addBatch` first consults the snapshot's
  * latest txn watermark for this appId — a batch at-or-below it is a
  * CHECKPOINT REPLAY after a crash between the table commit and the
  * streaming checkpoint advance, and is skipped instead of
  * double-appended. The watermark folds into checkpoints, so
  * vacuuming the JSON tail never reopens the replay window. `appId`
  * defaults to a hash of the query's checkpointLocation (one sink,
  * one app), overridable via option("txnAppId") when several
  * queries feed one table. */
class DeltaSink(
    path: String, appId: String, partitionBy: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (DeltaLake.isDeltaTable(path) &&
      DeltaLake.snapshot(data.sparkSession, path).txns.get(appId).exists(_ >= batchId))
      return // replayed batch: already committed exactly once
    val spark = data.sparkSession.asInstanceOf[ClassicSession]
    val batch = spark.internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema, isStreaming = false)
    DeltaLake.write(batch, path, partitionBy, SaveMode.Append,
      txn = Some(appId -> batchId)): Unit
  }

  override def toString: String = s"DeltaSink[$path]"
}

/** Streaming SINK over an Iceberg table —
  * `df.writeStream.format("iceberg").start(tbl)`: each micro-batch
  * commits as ONE snapshot whose summary carries the
  * `(streaming-app-id, streaming-epoch-id)` watermark, and `addBatch`
  * skips any batch at-or-below the highest committed epoch — the
  * crash-between-commit-and-checkpoint replay lands exactly once, the
  * same summary-property mechanism the spec's real streaming
  * integrations use. O(new data) per batch: an Iceberg append carries
  * the prior manifests untouched and adds one manifest. */
class IcebergSink(
    path: String, appId: String, partitionBy: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (Iceberg.lastCommittedEpoch(path, appId).exists(_ >= batchId))
      return // replayed batch: already committed exactly once
    val spark = data.sparkSession.asInstanceOf[ClassicSession]
    val batch = spark.internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema, isStreaming = false)
    Iceberg.write(batch, path, partitionBy, SaveMode.Append,
      summaryProps = Map("streaming-app-id" -> appId,
        "streaming-epoch-id" -> batchId.toString)): Unit
  }

  override def toString: String = s"IcebergSink[$path]"
}

/** The v1 [[Sink]] behind `writeStream.format("graft-versioned")`.
  *
  * `addBatch`'s DataFrame carries the micro-batch's INCREMENTAL plan
  * with the streaming flag still set — a direct `.write` would be
  * rejected, and every extra action would re-run the stateful plan. The
  * sink re-wraps the executed rows (`queryExecution.toRdd`) as a batch
  * frame, the same de-streaming every v1 table-format sink performs,
  * then lands it through ONE idempotent manifest commit. */
private[graft] class VersionedSink(
    path: String, sinkId: String, statsCols: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession.asInstanceOf[ClassicSession]
    val batch = spark.internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema, isStreaming = false)
    Versioned.appendCommitOnce(batch, path, s"$sinkId#$batchId", statsCols = statsCols): Unit
  }

  override def toString: String = s"VersionedSink[$path]"
}
