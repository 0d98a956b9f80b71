package graft.sources

import graft.SparkSpec
import graft.sink.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `spark.readStream.format("graft-snapshot")` — the snapshot dataset
  * behind Spark's own streaming engine: checkpointed offsets, restart
  * recovery, exactly-once landing through the replay-tag window, and
  * the follower's mode dispatch (maintenance skips, non-appends are
  * policy). */
class SnapshotStreamSpec extends SparkSpec {

  private def orders = graft.Tables(spark, sf0001, "orders")
    .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderpriority")

  private def keysOf(df: DataFrame): Set[Long] =
    df.select("o_orderkey").collect().map(_.getLong(0)).toSet

  test("bootstrap + incremental batches mirror exactly-once across restarts; compact never re-emits") {
    val root = java.nio.file.Files.createTempDirectory("sstream_src").toString
    val mirror = java.nio.file.Files.createTempDirectory("sstream_mir").toString
    val cp = java.nio.file.Files.createTempDirectory("sstream_cp").toString
    val k = col("o_orderkey")
    Snapshots.write(orders.filter(k % 3 === 0).coalesce(1), root,
      Seq("o_orderpriority"))
    Snapshots.write(orders.filter(k % 3 === 1).coalesce(1), root,
      Seq("o_orderpriority"), Snapshots.SnapAppend)

    def runStream(extraOpts: Map[String, String] = Map.empty): Unit = {
      var reader = spark.readStream.format("graft-snapshot")
      extraOpts.foreach { case (kk, v) => reader = reader.option(kk, v) }
      val stream = reader.load(root)
      assert(stream.isStreaming)
      val q = stream.writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, id: Long) =>
          // stable SS batch ids + the sink's replay-tag window =
          // exactly-once landing even if a batch redelivers
          if (!df.isEmpty)
            Snapshots.write(df, mirror, Seq("o_orderpriority"),
              Snapshots.SnapAppend, batchTag = Some(s"sqlstream-$id")): Unit
        }
        .start()
      try { q.processAllAvailable() } finally q.stop()
    }

    // both pre-stream snapshots arrive as ONE bootstrap batch
    runStream()
    assert(keysOf(Snapshots.read(spark, mirror))
      == keysOf(orders.filter(k % 3 <= 1)))
    // an append plus an interleaved compact: restart on the SAME
    // checkpoint picks up only the new rows — the compact (a
    // row-preserving rewrite) must not re-emit
    Snapshots.write(orders.filter(k % 3 === 2).coalesce(1), root,
      Seq("o_orderpriority"), Snapshots.SnapAppend)
    Snapshots.compact(spark, root, Seq("o_orderpriority"))
    runStream()
    assert(keysOf(Snapshots.read(spark, mirror)) == keysOf(orders))
    assert(Snapshots.read(spark, mirror).count() == orders.count(),
      "no duplicates: maintenance snapshots contribute nothing")
    // caught up: another run emits nothing (mirror state unchanged)
    val before = Snapshots.currentSnapshot(spark, mirror)
    runStream()
    assert(Snapshots.currentSnapshot(spark, mirror) == before)

    // a non-append (predicate delete) FAILS the stream by default…
    val minKey = orders.agg(min(k)).head().getLong(0)
    assert(Snapshots.deleteWhere(spark, root, Seq("o_orderpriority"),
      k === minKey).isDefined)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStream()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    assert(messages(ex).contains("not an append"), messages(ex))
    // …and option("onNonAppend","skip") opts past it; a later append
    // still streams through
    Snapshots.write(orders.filter(k % 3 === 0).coalesce(1)
        .withColumn("o_orderkey", k + 5000000L), root,
      Seq("o_orderpriority"), Snapshots.SnapAppend)
    runStream(Map("onNonAppend" -> "skip"))
    assert(keysOf(Snapshots.read(spark, mirror))
      == keysOf(orders) ++ keysOf(orders.filter(k % 3 === 0)
        .select((k + 5000000L).as("o_orderkey"))))
    // pins cannot stream — the option set is validated loudly
    intercept[Exception] {
      spark.readStream.format("graft-snapshot").option("asOf", "1")
        .load(root)
    }
    // a checkpoint left behind the retention window names the STALE
    // condition on restart instead of a missing-manifest error
    Snapshots.write(orders.limit(3).coalesce(1), root,
      Seq("o_orderpriority"), Snapshots.SnapAppend)
    Snapshots.write(orders.limit(2).coalesce(1), root,
      Seq("o_orderpriority"), Snapshots.SnapAppend)
    Snapshots.expire(spark, root, keepLast = 1)
    val exStale =
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runStream()
      }
    assert(messages(exStale).contains("STALE"), messages(exStale))
  }

  test("a WAL-replayed bootstrap past the retention window names the STALE condition") {
    val root = java.nio.file.Files.createTempDirectory("sstale_boot").toString
    Snapshots.write(orders.limit(4).coalesce(1), root, Seq("o_orderpriority"))
    Snapshots.write(orders.limit(2).coalesce(1), root,
      Seq("o_orderpriority"), Snapshots.SnapAppend)
    Snapshots.expire(spark, root, keepLast = 1)
    // a crash between the WAL write and the commit replays the bootstrap
    // batch (start=None) pinned at its recorded end offset — if expire
    // reclaimed that snapshot, the retention remedy must be named, not a
    // raw missing-manifest error from deep inside the read
    val source = new SnapshotStreamSource(spark.sqlContext, root,
      userSchema = None, skipNonAppend = false)
    val ex = intercept[IllegalStateException] {
      source.getBatch(None,
        org.apache.spark.sql.execution.streaming.SerializedOffset("1"))
    }
    assert(ex.getMessage.contains("STALE") &&
      ex.getMessage.contains("retention"), ex.getMessage)
  }

  test("maxSnapshotsPerTrigger bounds catch-up batches to per-trigger units") {
    val root = java.nio.file.Files.createTempDirectory("scap_src").toString
    val mirror = java.nio.file.Files.createTempDirectory("scap_mir").toString
    val cp = java.nio.file.Files.createTempDirectory("scap_cp").toString
    val k = col("o_orderkey")
    Snapshots.write(orders.filter(k % 4 === 0).coalesce(1), root,
      Seq("o_orderpriority"))
    def run(opts: Map[String, String]): Unit = {
      var reader = spark.readStream.format("graft-snapshot")
      opts.foreach { case (kk, v) => reader = reader.option(kk, v) }
      val q = reader.load(root).writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!df.isEmpty)
            Snapshots.write(df, mirror, Seq("o_orderpriority"),
              Snapshots.SnapAppend, batchTag = Some(s"cap-$id")): Unit
        }.start()
      try { q.processAllAvailable() } finally q.stop()
    }
    run(Map.empty) // bootstrap: one batch
    assert(Snapshots.currentSnapshot(spark, mirror).contains(1))
    // three publishes land while the stream is down; a capped restart
    // takes them one snapshot per trigger — three mirror batches, not
    // one unbounded union
    for (m <- 1 to 3)
      Snapshots.write(orders.filter(k % 4 === m).coalesce(1), root,
        Seq("o_orderpriority"), Snapshots.SnapAppend)
    run(Map("maxSnapshotsPerTrigger" -> "1"))
    assert(Snapshots.currentSnapshot(spark, mirror).contains(4),
      s"expected three capped batches: ${Snapshots
        .currentSnapshot(spark, mirror)}")
    assert(keysOf(Snapshots.read(spark, mirror)) == keysOf(orders))
    intercept[Exception] {
      spark.readStream.format("graft-snapshot")
        .option("maxSnapshotsPerTrigger", "0").load(root)
    }
  }

  test("maxRowsPerTrigger / maxBytesPerTrigger bound catch-up by manifest-recorded size") {
    val root = java.nio.file.Files.createTempDirectory("srows_src").toString
    val mirror = java.nio.file.Files.createTempDirectory("srows_mir").toString
    val cp = java.nio.file.Files.createTempDirectory("srows_cp").toString
    val k = col("o_orderkey")
    def slice(m: Int) = orders.filter(k % 10 === m).limit(10).coalesce(1)
    Snapshots.write(slice(0), root, Seq("o_orderpriority"),
      statsColumns = Seq("o_orderkey"))
    var tick = 0
    def run(opts: Map[String, String]): Unit = {
      var reader = spark.readStream.format("graft-snapshot")
      opts.foreach { case (kk, v) => reader = reader.option(kk, v) }
      val q = reader.load(root).writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!df.isEmpty)
            Snapshots.write(df, mirror, Seq("o_orderpriority"),
              Snapshots.SnapAppend,
              batchTag = Some(s"rows$tick-$id")): Unit
        }.start()
      try { q.processAllAvailable() } finally { q.stop(); tick += 1 }
    }
    run(Map.empty) // bootstrap
    assert(Snapshots.currentSnapshot(spark, mirror).contains(1))
    // three 10-row appends land while the stream is down; a 20-row
    // budget takes them as {s2,s3} then {s4} — the manifest-recorded
    // counts, no data file opened
    for (m <- 1 to 3)
      Snapshots.write(slice(m), root, Seq("o_orderpriority"),
        Snapshots.SnapAppend)
    run(Map("maxRowsPerTrigger" -> "20"))
    assert(Snapshots.currentSnapshot(spark, mirror).contains(3),
      s"expected two budgeted batches: ${Snapshots
        .currentSnapshot(spark, mirror)}")
    assert(Snapshots.read(spark, mirror).count() == 40L)
    // a snapshot alone over the BYTE budget is its own batch — bounded
    // progress, never a stall (a snapshot is the atomic emission unit)
    for (m <- 4 to 5)
      Snapshots.write(slice(m), root, Seq("o_orderpriority"),
        Snapshots.SnapAppend)
    run(Map("maxBytesPerTrigger" -> "1"))
    assert(Snapshots.currentSnapshot(spark, mirror).contains(5),
      "each oversized snapshot must arrive as its own batch")
    assert(Snapshots.read(spark, mirror).count() == 60L)
    // option validation is loud at load() time
    intercept[Exception] {
      spark.readStream.format("graft-snapshot")
        .option("maxRowsPerTrigger", "0").load(root)
    }
    intercept[Exception] {
      spark.readStream.format("graft-snapshot")
        .option("maxBytesPerTrigger", "lots").load(root)
    }
  }

  test("writeStream sink: snapshot-to-snapshot mirroring is a one-liner with exactly-once batch tags") {
    val src = java.nio.file.Files.createTempDirectory("ssink_src").toString
    val dst = java.nio.file.Files.createTempDirectory("ssink_dst").toString
    val cp = java.nio.file.Files.createTempDirectory("ssink_cp").toString
    val k = col("o_orderkey")
    Snapshots.write(orders.filter(k % 2 === 0).coalesce(1), src,
      Seq("o_orderpriority"))
    def run(): Unit = {
      val q = spark.readStream.format("graft-snapshot").load(src)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", cp)
        .partitionBy("o_orderpriority")
        .start(dst)
      try { q.processAllAvailable() } finally q.stop()
    }
    run()
    assert(keysOf(Snapshots.read(spark, dst))
      == keysOf(orders.filter(k % 2 === 0)))
    // a mid-stream publish flows through on the next run; every landed
    // batch is an audited, stream-tagged snapshot
    Snapshots.write(orders.filter(k % 2 === 1).coalesce(1), src,
      Seq("o_orderpriority"), Snapshots.SnapAppend)
    run()
    assert(keysOf(Snapshots.read(spark, dst)) == keysOf(orders))
    assert(Snapshots.read(spark, dst).count() == orders.count())
    val log = Snapshots.snapshotLog(spark, dst).collect()
    assert(log.forall(_.getString(1) == "append"))
    // a caught-up rerun lands nothing (no empty snapshots, no dupes)
    val before = Snapshots.currentSnapshot(spark, dst)
    run()
    assert(Snapshots.currentSnapshot(spark, dst) == before)
    // a FRESH checkpoint resets batch ids to 0 — the per-query tag scope
    // (checkpoint-derived) makes its bootstrap NEW data, not a replay of
    // the first checkpoint's batch 0, which a bare `stream-<batchId>`
    // tag would silently converge away (real data dropped, no error)
    val cpFresh = java.nio.file.Files.createTempDirectory("ssink_cpB").toString
    val qf = spark.readStream.format("graft-snapshot").load(src)
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", cpFresh)
      .partitionBy("o_orderpriority")
      .start(dst)
    try { qf.processAllAvailable() } finally qf.stop()
    assert(Snapshots.read(spark, dst).count() == orders.count() * 2,
      "a fresh checkpoint's bootstrap must LAND (append duplication is " +
        "the fresh-stream contract), never be dropped as a fake replay")
    // an explicit streamTag names the lineage: a second fresh checkpoint
    // sharing the tag converges same-id batches as genuine redeliveries —
    // the tag, not the checkpoint path, is the replay scope
    def runTagged(tag: String): Unit = {
      val q = spark.readStream.format("graft-snapshot").load(src)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("ssink_cpT").toString)
        .option("streamTag", tag)
        .partitionBy("o_orderpriority")
        .start(dst)
      try { q.processAllAvailable() } finally q.stop()
    }
    runTagged("mirror-lineage")
    val afterTagged = Snapshots.read(spark, dst).count()
    assert(afterTagged == orders.count() * 3)
    runTagged("mirror-lineage") // same tag + same batch id = redelivery
    assert(Snapshots.read(spark, dst).count() == afterTagged)
    // a conf-default-only checkpoint is invisible to the sink's tag
    // derivation — it demands an explicit scope, loudly
    val exNoCp = intercept[Exception] {
      spark.readStream.format("graft-snapshot").load(src)
        .writeStream.format("graft-snapshot")
        .partitionBy("o_orderpriority")
        .start(java.nio.file.Files
          .createTempDirectory("ssink_dstN").toString)
    }
    assert(s"${exNoCp.getMessage}".contains("streamTag"), exNoCp.getMessage)
    // writeStream.partitionBy and the option must AGREE — a first batch
    // creating the dataset has no recorded spec to catch the conflict
    val exPb = intercept[Exception] {
      spark.readStream.format("graft-snapshot").load(src)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("ssink_cpC").toString)
        .option("partitionBy", "o_orderstatus")
        .partitionBy("o_orderpriority")
        .start(java.nio.file.Files
          .createTempDirectory("ssink_dstC").toString)
    }
    assert(s"${exPb.getMessage}".contains("conflicts"), exPb.getMessage)
    // non-append output modes are rejected loudly
    val exMode = intercept[Exception] {
      spark.readStream.format("graft-snapshot").load(src)
        .groupBy("o_orderpriority").count()
        .writeStream.format("graft-snapshot")
        .outputMode("complete")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ssink_cp2").toString)
        .start(java.nio.file.Files
          .createTempDirectory("ssink_dst2").toString)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    assert(messages(exMode).contains("append-of-batches"),
      messages(exMode))
  }
}
