package perfbench

import java.nio.file.{Files, Path => JPath, Paths}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Everything one run shares: the session, the optional tracer, the op
  * log and the failure count. */
final class Ctx(val spark: SparkSession, val scratch: JPath,
    val tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Live data files of the table under test after each traced step,
    * read untimed through `Snapshots.liveFiles`. */
  val liveFiles = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var timing = false
  private var nextId = 0

  def data(name: String): String = {
    val p = scratch.resolve("data").resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** One timed call into the program. A call that throws counts as a
    * failed op and returns None. */
  def timed[T](name: String, step: Int)(body: => T): Option[T] = {
    val op = new OpRec(nextId, name, step)
    nextId += 1
    attempted += 1
    tracer.foreach(_.open(op))
    op.start = Clock.nowMs()
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        Console.err.println(s"perfbench: op $name failed: $e")
        None
    } finally {
      op.end = Clock.nowMs()
      tracer.foreach(_.close(op))
      if (timing) ops += op
    }
  }

  /** One correctness check; a mismatch counts as a failed op. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      Console.err.println(s"perfbench: check failed: $what $detail")
    }
  }

  /** Add a count the benchmark itself observed to the last timed op. */
  def countLast(k: String, v: Double): Unit =
    if (timing && ops.nonEmpty) ops.last.add(k, v)

  def walls(name: String): Seq[Double] = ops.filter(_.name == name).map(_.wallMs).toSeq
  def stepWalls: Seq[Double] =
    ops.groupBy(_.step).values.map(_.map(_.wallMs).sum).toSeq
}

/** One workload: fresh set-up onto new table roots, then client steps. */
trait Workload {
  /** Generate and preload onto the table roots of repetition `rep`. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Untimed ops on the last repetition's tables, so JIT and codegen
    * caches are warm before the first timed op. */
  def warmUp(ctx: Ctx): Unit
  /** One closed-loop client step (timed ops inside). */
  def step(ctx: Ctx, s: Int): Unit
  /** The loop runs whole cycles of this many steps, at least one, so every
    * run holds the same mix of ops. Amplification is read after the first
    * cycle, and traced runs report the first cycle. */
  def cycleSteps: Int
  /** Work units done by the timed steps (rows, statements, docs). */
  def items: Double
  /** The op whose latency is `write_p50_ms`. */
  def writeOp: String
  def writeAmp: Double
  def spaceAmp: Double
  /** Untimed gauge: live data files of the table under test. */
  def liveFiles(ctx: Ctx): Long
  /** Read everything back and check it against the generator. */
  def verify(ctx: Ctx): Unit
}

object Main {
  val SetupReps = 3

  def session(scratch: JPath): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.maxConcurrentOutputFileWriters", "16")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingAfs].getName)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // drop any local filesystem cached before the session config existed,
    // so every later lookup (driver and tasks) gets the counting one
    FileSystem.closeAll()
    val f = new Path(scratch.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.isInstanceOf[CountingFs], s"file: resolves to ${f.getClass}, not CountingFs")
    spark
  }

  private def graftTrees(dir: JPath): Int =
    if (!Files.isDirectory(dir)) 0
    else Files.list(dir).iterator().asScala.count(_.getFileName.toString.startsWith("graft_"))

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Heap in use after a forced GC, once Spark's ContextCleaner has had
    * time to drop the blocks the first collection made unreachable. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def duBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "write_p50_ms" -> "ms", "write_amp" -> "ratio", "space_amp" -> "ratio",
    "retained_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.actions" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.task_wait_ms" -> "ms", "spark.input_bytes" -> "bytes",
    "spark.input_records" -> "count", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "fs.pointer_reads" -> "count", "fs.manifest_reads" -> "count",
    "fs.manifest_bytes_read" -> "bytes", "fs.data_files_opened" -> "count",
    "fs.data_files_live" -> "count", "fs.prune_ratio" -> "ratio",
    "fs.creates" -> "count", "fs.renames" -> "count", "fs.deletes" -> "count",
    "fs.lists" -> "count", "fs.stats" -> "count",
    "fs.data_bytes_written" -> "bytes", "fs.meta_bytes_written" -> "bytes",
    "fs.meta_ms" -> "ms",
    "driver.gap_ms" -> "ms", "driver.self_ms" -> "ms",
    "ops.candidate_pairs" -> "count", "ops.verified_pairs" -> "count",
    "ops.candidate_precision" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.heap_after_gc_mb" -> "MB",
    "trace.items_per_s" -> "1/s", "trace.spans" -> "count")

  /** Per-op layer figures: the op's counters plus its span-derived times. */
  def opFigures(op: OpRec): Map[String, Double] =
    op.counts.toMap ++ op.layerTimes + ("fs.data_files_opened" -> op.dataOpened.size.toDouble)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val scratch = Paths.get(a("scratch")).toAbsolutePath
    val launchedMs = a("launched-ms").toDouble
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val treesBefore = graftTrees(tmp)

    val spark = session(scratch)
    val sessionReadyMs = System.currentTimeMillis().toDouble
    val ctx = new Ctx(spark, scratch, if (trace) Some(new Tracer(spark)) else None)
    val w: Workload = workloadName match {
      case "dml_mix" => new DmlMix(seed)
      case "corpus_dedup" => new CorpusDedup(seed)
      case other => sys.error(s"unknown workload $other")
    }

    def time(body: => Unit): Double = { val t0 = Clock.nowMs(); body; Clock.nowMs() - t0 }
    // the last repetition's tables are warmed up and measured: the first
    // timed cycle then meets the same table layout as later ones
    val setupMs = (0 until SetupReps).map(rep => time(w.setup(ctx, rep)))
    val warmMs = time(w.warmUp(ctx))
    val setupS = (sessionReadyMs - launchedMs + Stats.median(setupMs) + warmMs) / 1000.0
    println(f"perfbench: setup session=${(sessionReadyMs - launchedMs) / 1000}%.2fs " +
      s"reps=${setupMs.map(x => f"${x / 1000}%.2f").mkString("/")}s " +
      f"warm_up=${warmMs / 1000}%.2fs")

    ctx.timing = true
    val gc0 = gcMs()
    val loop0 = Clock.nowMs()
    var s = 0
    var gcTrace = Double.NaN
    while (s == 0 || s % w.cycleSteps != 0 || (Clock.nowMs() - loop0) < seconds * 1000.0) {
      w.step(ctx, s)
      if (trace) ctx.liveFiles += w.liveFiles(ctx).toDouble
      s += 1
      if (s == w.cycleSteps) gcTrace = gcMs() - gc0
    }
    val loopMs = Clock.nowMs() - loop0
    ctx.timing = false
    ctx.tracer.foreach(_.stop())

    w.verify(ctx)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val heapMb = heapAfterGcMb()
    val treesAfter = graftTrees(tmp)

    val p = (name: String) => Stats.median(ctx.walls(name))
    // human-readable detail first; the result is the last line
    val byOp = ctx.ops.groupBy(_.name).toSeq.sortBy(_._1)
    byOp.foreach { case (name, os) =>
      val ws = os.map(_.wallMs).toSeq
      val tail = Stats.tail(ws).map { case (pct, v) => f"p$pct%.1f=$v%.2fms" }
        .getOrElse("tail=n/a")
      println(f"perfbench: op $name%-12s n=${ws.size}%4d p50=${p(name)}%.2fms $tail")
    }
    val stepTail = Stats.tail(ctx.stepWalls).map { case (pct, v) => f"p$pct%.1f=$v%.2fms" }
      .getOrElse("tail=n/a")
    val writeWalls = ctx.walls(w.writeOp)
    val writeTail = Stats.tail(writeWalls).map { case (pct, v) => f"p$pct%.1f=$v%.2fms" }
      .getOrElse("tail=n/a")
    println("perfbench: step_walls_ms=" + ctx.ops.groupBy(_.step).toSeq.sortBy(_._1)
      .map { case (_, os) => f"${os.map(_.wallMs).sum}%.0f" }.mkString(","))
    println(f"perfbench: steps=$s loop=${loopMs / 1000}%.2fs step_tail $stepTail " +
      f"(n=${ctx.stepWalls.size}) write_tail $writeTail (n=${writeWalls.size})")
    println(s"perfbench: failed_frac=${ctx.failed.toDouble / math.max(1L, ctx.attempted)} " +
      s"(failed=${ctx.failed} attempted=${ctx.attempted})")
    println(s"perfbench: hygiene graft_trees_in_tmpdir before=$treesBefore after=$treesAfter")

    val rate = Stats.medianRate(w.items, ctx.ops.map(o => o.name -> o.wallMs).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val values = Map(
          "setup_s" -> setupS,
          "items_per_s" -> rate,
          "write_p50_ms" -> Stats.median(writeWalls),
          "write_amp" -> w.writeAmp,
          "space_amp" -> w.spaceAmp,
          "retained_heap_mb" -> heapMb)
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val window = ctx.ops.filter(_.step < w.cycleSteps).toSeq
        val n = w.cycleSteps.toDouble
        val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        window.foreach(op => opFigures(op).foreach { case (k, v) => sums(k) += v })
        val live = ctx.liveFiles.take(w.cycleSteps).sum
        val derived = Map(
          "fs.data_files_live" -> live / n,
          "fs.prune_ratio" -> (if (live > 0) sums("fs.data_files_opened") / live else 0.0),
          "ops.candidate_precision" ->
            (if (sums("ops.candidate_pairs") > 0)
              sums("ops.verified_pairs") / sums("ops.candidate_pairs") else 0.0),
          "jvm.gc_ms" -> gcTrace / n,
          "jvm.heap_after_gc_mb" -> heapMb,
          "trace.items_per_s" -> rate,
          "trace.spans" -> window.map(_.spansJson.size).sum.toDouble)
        // per-op layer table: the split the per-step means average over
        byOp.foreach { case (name, os) =>
          val inWin = os.filter(_.step < w.cycleSteps)
          if (inWin.nonEmpty) {
            val f = inWin.map(opFigures)
            def mean(k: String) = f.map(_.getOrElse(k, 0.0)).sum / inWin.size
            println(f"perfbench: trace op=$name n=${inWin.size} " +
              f"wall_p50_ms=${Stats.median(inWin.map(_.wallMs).toSeq)}%.2f " +
              Seq("driver.self_ms", "driver.gap_ms", "spark.job_ms",
                "catalyst.analysis_ms", "catalyst.optimization_ms",
                "catalyst.planning_ms", "fs.meta_ms", "catalyst.actions",
                "spark.jobs", "spark.tasks", "fs.pointer_reads",
                "fs.manifest_reads", "fs.data_files_opened", "fs.creates",
                "fs.renames", "fs.deletes")
                .map(k => f"$k=${mean(k)}%.2f").mkString(" "))
          }
        }
        a.get("spans").foreach { out =>
          Files.write(Paths.get(out), window.flatMap(_.spansJson).asJava)
        }
        PerLayer.map { case (k, u) =>
          (k, derived.getOrElse(k, sums(k) / n), u)
        }
      }

    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val correct = ctx.failed == 0
    val mjson = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": $mjson}""")
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }
}
