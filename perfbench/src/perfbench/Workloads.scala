package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.ops.Dedup
import graft.sink.{CreateOrAppend, ParquetFormat, PartitionedSink, SinkConfig, Snapshots}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import perfbench.Gen._

/** Order-independent (row count, checksum) of a frame, computed on the
  * executors with the same row hash the generator side uses. */
object ReadBack {
  def checksum(df: DataFrame, hash: Row => Long): (Long, Long) = {
    val parts = df.rdd.mapPartitions { it =>
      var n = 0L; var s = 0L
      it.foreach { r => n += 1; s += hash(r) }
      Iterator((n, s))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def del(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}

// ------------------------------------------------------------------ dml_mix

/** SQL row-level DML against a registered snapshot table, beside point
  * reads and partition-range scans, checked against a key model. */
final class DmlMix(seed: Long) extends Workload {
  val Keys = 4500
  val PreloadAppends = 3
  val Table = "bench_t"
  private val schema = StructType(Seq(
    StructField("k", LongType, false), StructField("grp", StringType, false),
    StructField("v", LongType, false), StructField("tag", StringType, false)))

  private var root = ""
  private var model = new KeyModel
  private var bytes0 = 0L
  private var rawChanged = 0L
  private var statements = 0.0
  var writeAmp = Double.NaN
  var spaceAmp = Double.NaN

  /** Two rounds of the kinds: the first round after the warm-up still runs
    * slower than later ones, and every run must hold the same share of it. */
  val cycleSteps: Int = 2 * Gen.DmlCycle
  def items: Double = statements
  val writeOp = "delete"

  private def frame(spark: SparkSession, recs: Seq[Rec]): DataFrame =
    spark.createDataFrame(recs.map(r => Row(r.k, r.grp, r.v, r.tag)).asJava, schema)

  private def sql(op: DmlOp): String = op match {
    case PointRead(k) => s"SELECT k, grp, v, tag FROM $Table WHERE k = $k"
    case Scan(lo, hi) =>
      s"SELECT count(*), coalesce(sum(v), 0) FROM $Table WHERE grp BETWEEN '$lo' AND '$hi'"
    case PointDelete(k) => s"DELETE FROM $Table WHERE k = $k"
    case RangeDelete(lo, hi) => s"DELETE FROM $Table WHERE k >= $lo AND k <= $hi"
    case Update(lo, hi, dv, g) =>
      val set = s"v = v + $dv" + g.map(x => s", grp = '$x'").getOrElse("")
      val where = if (lo == hi) s"k = $lo" else s"k >= $lo AND k <= $hi"
      s"UPDATE $Table SET $set WHERE $where"
    case Merge(_) =>
      s"""MERGE INTO $Table t USING bench_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin
  }

  private def run(ctx: Ctx, idx: Int, step: Int): Unit = {
    val (read, write) = Gen.dmlStep(seed, idx, Keys, model.get(_).isDefined)
    ctx.timed(read.name, step)(ctx.spark.sql(sql(read)).collect()).foreach { rows =>
      read match {
        case PointRead(k) =>
          val want = model.get(k).map(r => (r.k, r.grp, r.v, r.tag)).toSeq
          val got = rows.toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
          ctx.check(s"point read k=$k", got == want, s"$got != $want")
        case Scan(lo, hi) =>
          val got = (rows(0).getLong(0), rows(0).getLong(1))
          val want = model.scan(lo, hi)
          ctx.check(s"scan $lo..$hi", got == want, s"$got != $want")
        case _ => ()
      }
    }
    write match {
      case Merge(src) => frame(ctx.spark, src).createOrReplaceTempView("bench_src")
      case _ => ()
    }
    ctx.timed(write.name, step)(ctx.spark.sql(sql(write)))
    rawChanged += model.apply(write).map(Gen.rawBytes).sum
    if (ctx.timing) statements += 2
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    if (rep > 0) ReadBack.del(root)
    root = ctx.data(s"dml$rep/table")
    model = new KeyModel
    Gen.dmlInitial(seed, Keys, PreloadAppends).foreach { part =>
      model.load(part)
      ctx.timed("preload", -1)(Snapshots.write(frame(ctx.spark, part), root,
        Seq("grp"), Snapshots.SnapAppend, statsColumns = Seq("k"),
        bloomColumns = Seq("k")))
    }
    Snapshots.registerTable(ctx.spark, root, Table)
  }

  def warmUp(ctx: Ctx): Unit = {
    (0 until Gen.DmlCycle).foreach(i => run(ctx, i, -1))
    bytes0 = FsCounters.bytesWritten.get
    rawChanged = 0
  }

  def step(ctx: Ctx, s: Int): Unit = {
    run(ctx, Gen.DmlCycle + s, s)
    if (s + 1 == cycleSteps) {
      writeAmp = (FsCounters.bytesWritten.get - bytes0).toDouble / rawChanged
      spaceAmp = Main.duBytes(root).toDouble / model.rawBytes
    }
  }

  def liveFiles(ctx: Ctx): Long = Snapshots.liveFiles(ctx.spark, root).count()

  def verify(ctx: Ctx): Unit = {
    val got = ReadBack.checksum(ctx.spark.table(Table).select("k", "grp", "v", "tag"),
      RowHash.recRow)
    ctx.check("dml final table vs key model", got == model.checksum,
      s"$got != ${model.checksum}")
  }
}

// -------------------------------------------------------------- corpus_dedup

/** The LLM-data dedup pipeline over generated multi-language shards with
  * planted near-duplicates, then the paper's own job on its output: the
  * survivors land two ways, through the dynamic-partition sink onto a plain
  * tree and as a snapshot append, both partitioned by language, and every
  * `CycleShards` shards one maintenance cycle compacts, expires and vacuums
  * the snapshot table. */
final class CorpusDedup(seed: Long) extends Workload {
  val DocsPerShard = 600
  val WarmDocs = 400
  val CycleShards = 3
  val Ngram = 3
  val Threshold = 0.8
  /** Share of the qualifying planted near-duplicate pairs the verify
    * stage must report: PPJoin is exact, so all of them. */
  val RecallFloor = 1.0
  private val schema = StructType(Seq(
    StructField("id", LongType, false), StructField("lang", StringType, false),
    StructField("text", StringType, false)))
  private val partCols = Seq("lang")

  private var plain = ""
  private var snap = ""
  private var shards = 0
  private var wantRows = 0L
  private var wantHash = 0L
  private var wantLangs = Set.empty[String]
  private var rawLive = 0L
  private var rawWritten = 0L
  private var bytes0 = 0L
  private var docs = 0.0
  var writeAmp = Double.NaN
  var spaceAmp = Double.NaN

  val cycleSteps: Int = CycleShards
  def items: Double = docs
  val writeOp = "append"

  private def pass(ctx: Ctx, step: Int, nDocs: Int): Unit = {
    val spark = ctx.spark
    val shard = Gen.corpusShard(seed, shards, nDocs)
    val text = shard.docs.map(d => d.id -> d.text).toMap
    val df = spark.createDataFrame(
      shard.docs.map(d => Row(d.id, d.lang, d.text)).asJava, schema)
    // plain-Scala exact survivors: the lowest id per distinct text
    val exactKeep = shard.docs.groupBy(_.text).values.map(_.minBy(_.id)).toSeq
    var surv: DataFrame = null
    var sigs: DataFrame = null
    var cands: DataFrame = null
    var candSet = Set.empty[(Long, Long)]
    var removed = Set.empty[Long]
    ctx.timed("exact", step) {
      val ex = Dedup.exact(df, "id", "text")
      surv = df.join(ex.select(col("keep_id").as("id")), "id").cache()
      surv.count()
    }.foreach(n => ctx.check("exact survivors", n == exactKeep.size, s"$n != ${exactKeep.size}"))
    ctx.timed("signatures", step) {
      sigs = Dedup.minhashSignatures(surv, "id", "text").cache()
      sigs.count()
    }
    ctx.timed("candidates", step) {
      cands = Dedup.minhashCandidatePairs(sigs)
      candSet = cands.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    ctx.countLast("ops.candidate_pairs", candSet.size)
    ctx.timed("components", step) {
      val comps = Dedup.connectedComponents(surv.select(col("id").as("doc_id")),
        cands.select("a_id", "b_id"))
      removed = comps.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    ctx.timed("verify", step) {
      Dedup.ngramJaccardPairsPrefix(surv, "id", "text", Ngram, Threshold)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }.foreach { pairs =>
      ctx.countLast("ops.verified_pairs", pairs.count(candSet))
      val bad = PairCheck.belowThreshold(pairs, text, Ngram, Threshold)
      ctx.check("reported pairs at or above threshold", bad.isEmpty, s"below: ${bad.take(3)}")
      PairCheck.recall(shard.planted, pairs.toSet, text, Ngram, Threshold).foreach(r =>
        ctx.check("planted-pair recall", r >= RecallFloor, s"$r < $RecallFloor"))
    }
    val survivors = exactKeep.filterNot(d => removed(d.id))
    val out = surv.filter(!col("id").isin(removed.toSeq: _*)).select("id", "lang", "text")
    ctx.timed("sink_write", step)(PartitionedSink.write(out, plain,
      SinkConfig(ParquetFormat, partCols, disposition = CreateOrAppend)))
    ctx.timed("append", step)(Snapshots.write(out, snap, partCols,
      Snapshots.SnapAppend, statsColumns = Seq("id"), bloomColumns = Seq("id")))
    wantRows += survivors.size
    survivors.foreach { d =>
      wantHash += RowHash.of(d.id, d.lang, d.text); wantLangs += d.lang
      rawLive += Gen.rawBytes(d); rawWritten += Gen.rawBytes(d)
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    shards += 1
    if (ctx.timing) docs += shard.docs.size
    if (step % CycleShards == CycleShards - 1) maintain(ctx, step)
  }

  private def maintain(ctx: Ctx, step: Int): Unit = {
    ctx.timed("maintain", step) {
      Snapshots.compact(ctx.spark, snap, partCols)
      Snapshots.expire(ctx.spark, snap, keepLast = 1)
      Snapshots.vacuum(ctx.spark, snap, graceMs = 0L)
    }
    if (step + 1 == cycleSteps) {
      writeAmp = (FsCounters.bytesWritten.get - bytes0).toDouble / (2.0 * rawWritten)
      spaceAmp = (Main.duBytes(plain) + Main.duBytes(snap)).toDouble / (2.0 * rawLive)
    }
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    if (rep > 0) { ReadBack.del(plain); ReadBack.del(snap) }
    plain = ctx.data(s"dedup$rep/plain")
    snap = ctx.data(s"dedup$rep/snap")
    shards = 0; wantRows = 0; wantHash = 0; rawLive = 0
    wantLangs = Set.empty
  }

  /** A small shard and a maintenance cycle: every op kind runs once
    * before timing starts; the first pass's cost is JIT and codegen. */
  def warmUp(ctx: Ctx): Unit = {
    pass(ctx, -1, WarmDocs)
    maintain(ctx, -1)
    bytes0 = FsCounters.bytesWritten.get
    rawWritten = 0
  }

  def step(ctx: Ctx, s: Int): Unit = pass(ctx, s, DocsPerShard)

  def liveFiles(ctx: Ctx): Long = Snapshots.liveFiles(ctx.spark, snap).count()

  def verify(ctx: Ctx): Unit = {
    val want = (wantRows, wantHash)
    val gotSnap = ReadBack.checksum(
      Snapshots.read(ctx.spark, snap).select("id", "lang", "text"), RowHash.docRow)
    ctx.check("survivor snapshot rows/checksum", gotSnap == want, s"$gotSnap != $want")
    val gotPlain = ReadBack.checksum(
      PartitionedSink.readBack(ctx.spark, plain).select("id", "lang", "text"), RowHash.docRow)
    ctx.check("survivor plain tree rows/checksum", gotPlain == want, s"$gotPlain != $want")
    val wantParts = wantLangs.map(l => s"lang=$l")
    val snapParts = Snapshots.liveFiles(ctx.spark, snap).select("partition")
      .distinct().collect().map(_.getString(0)).toSet
    ctx.check("snapshot partitions", snapParts == wantParts, s"$snapParts != $wantParts")
    val plainParts = Files.list(Paths.get(plain)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    ctx.check("plain tree partitions", plainParts == wantParts, s"$plainParts != $wantParts")
  }
}
