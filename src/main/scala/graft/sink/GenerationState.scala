package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Shared machinery for PERSISTED SKETCH/COUNTER STATE trees — the
 * "index is the state" lanes whose whole state is a handful of small
 * parquet parts (heavy-hitter counters, quantile bucket histograms)
 * republished whole per fold: each generation is one immutable
 * `.staging_*`→`v<N>/` tree behind [[FsOps.publishGeneration]]'s atomic
 * MANIFEST flip, carrying a `seen/` ledger of (batch id, content
 * fingerprint) replay tags so at-least-once streaming delivery folds
 * exactly once.
 *
 * One home for the replay-guard contract: the id+fingerprint match (a
 * fresh checkpoint lineage re-issues ids from 0, so id-only dedup would
 * drop real data — [[graft.streaming.ReplayGuard]]). Keeping the rule
 * here means every state lane hardens together instead of drifting copy
 * by copy.
 */
private[graft] object GenerationState {

  /** The `seen/` ledger keeps only this many newest tags: a re-delivered
    * foreachBatch can only be the most recent uncommitted batch (the
    * checkpoint advances past everything older), so an unbounded ledger
    * buys nothing and costs a per-batch driver collect + republish that
    * grows linearly with LIFETIME batch count — a long-running stream's
    * slow leak. Tags append newest-last, so the suffix is the window. */
  val MaxSeenTags: Int = 64

  /** Publish one generation: every named part plus the `seen/` ledger
    * lands under a fresh staging tree, then ONE atomic pointer flip
    * makes it live (readers of the previous generation are never
    * disturbed; a crashed publish leaves only an unreferenced staging
    * tree). Parts are state-sized by contract — each coalesces to one
    * file. */
  def publish(
      spark: SparkSession, path: String,
      parts: Seq[(String, DataFrame)], seen: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val (f, root) = FsOps.fs(spark, path)
    f.mkdirs(root)
    val staging = new org.apache.hadoop.fs.Path(root,
      s".staging_${java.util.UUID.randomUUID().toString.take(12)}")
    parts.foreach { case (name, df) =>
      // driver-local parts (meta rows, hh counter tables — O(k) by
      // contract) write without a Spark job; distributed parts keep it
      LocalParquet.writeOrFallback(df, s"$staging/$name")
    }
    // bound the ledger at write: callers pass `priorSeen ++ newTag`
    // (newest last), and only the newest suffix can ever match a replay.
    // The append position is PERSISTED (`pos`) so the round-trip order
    // never depends on parquet split order — batch ids themselves are NOT
    // a safe sort key (a fresh checkpoint lineage re-issues ids from 0,
    // and id-sorting would evict the new lineage's recent tags while
    // keeping the old lineage's ancient high ones)
    LocalParquet.writeOrFallback(
      seen.takeRight(MaxSeenTags).zipWithIndex
        .map { case ((id, fp), i) => (id, fp, i.toLong) }
        .toDF("batch_id", "fp", "pos"),
      s"$staging/seen")
    FsOps.publishGeneration(f, root, staging): Unit
  }

  /** Resolve the live generation root, failing loudly when nothing has
    * published (`what` names the state kind in the message). */
  def liveRoot(spark: SparkSession, path: String, what: String): String = {
    val (f, root) = FsOps.fs(spark, path)
    FsOps.readManifest(f, root).map(v => s"$path/$v")
      .getOrElse(throw new IllegalStateException(
        s"no $what published under $path"))
  }

  /** The live generation's replay tags in APPEND ORDER — restored from
    * the persisted `pos` column (a multi-split read may scramble row
    * order; `takeRight` truncation must see newest-last). */
  def seenTags(spark: SparkSession, liveRoot: String): Seq[(Long, Long)] =
    spark.read.parquet(s"$liveRoot/seen")
      .select("batch_id", "fp", "pos").collect()
      .sortBy(_.getLong(2)).toSeq
      .map(r => (r.getLong(0), r.getLong(1)))

  /** Whether this batch tag was already folded into the state — the
    * exactly-once check. */
  def isReplay(
      seen: Seq[(Long, Long)], tag: Option[(Long, Long)]): Boolean =
    tag.exists(seen.contains)
}
