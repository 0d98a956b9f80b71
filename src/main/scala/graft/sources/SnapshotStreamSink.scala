package graft.sources

import graft.sink.Snapshots
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink

/**
 * Structured Streaming SINK over a snapshot dataset:
 * `df.writeStream.format("graft-snapshot").option("path", root)
 * .option("partitionBy", "p").start()` — every micro-batch lands as one
 * audited snapshot through the full commit protocol, tagged
 * `stream-<queryTag>-<batchId>`. SS batch ids are STABLE across failure
 * replays, so the dataset's rolling replay-tag window converges
 * redeliveries: exactly-once end-to-end with no `foreachBatch`
 * boilerplate, and composed with the [[SnapshotStreamSource]] it makes
 * a snapshot-to-snapshot mirror a one-liner.
 *
 * `queryTag` scopes the replay window PER QUERY: batch ids alone are
 * not a global identity — two streaming queries writing the same root,
 * or one query restarted on a FRESH checkpoint (batch ids reset to 0),
 * would otherwise emit colliding tags and have real batches silently
 * converged as redeliveries. The tag derives from the query's
 * checkpoint location (stable across restarts of the SAME query — the
 * one case that IS a redelivery — and distinct for different queries /
 * fresh checkpoints), or from an explicit `streamTag` option when the
 * caller wants to name the lineage (e.g. a checkpoint that migrates
 * paths).
 *
 * Append output mode only (a snapshot dataset is an append-of-batches
 * log; updates belong to `mergeDeltas`/`foreachBatch`). The dataset is
 * created by the first batch when `partitionBy` is given; afterwards
 * the recorded spec governs (a conflicting redeclaration fails loudly,
 * as everywhere). An empty micro-batch publishes nothing.
 */
class SnapshotStreamSink(
    sqlContext: SQLContext, root: String, queryTag: String,
    partitionBy: Seq[String],
    statsColumns: Seq[String], bloomColumns: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = sqlContext.sparkSession
    // the engine hands a streaming-flagged frame batch writers reject —
    // re-wrap its executed rows (the ForeachBatchSink pattern)
    val batch = org.apache.spark.sql.graft.GraftSqlBridge
      .asBatchFrame(spark, data)
    if (batch.isEmpty) return
    val fields = Snapshots.currentSnapshot(spark, root) match {
      case Some(_) =>
        val recorded = Snapshots.recordedPartitionCols(spark, root)
        require(partitionBy.isEmpty || partitionBy == recorded,
          s"dataset at $root is partitioned by ${recorded.mkString(",")}; " +
            s"cannot stream under ${partitionBy.mkString(",")}")
        recorded
      case None =>
        require(partitionBy.nonEmpty,
          "creating a snapshot dataset through the stream sink needs " +
            "partitionBy (comma-separated partition fields)")
        partitionBy
    }
    Snapshots.write(batch, root, fields, Snapshots.SnapAppend,
      statsColumns = statsColumns, bloomColumns = bloomColumns,
      batchTag = Some(s"stream-$queryTag-$batchId")): Unit
  }

  override def toString: String = s"SnapshotStreamSink[$root]"
}
