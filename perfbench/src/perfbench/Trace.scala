package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same scale
  * as the epoch-ms times Spark's listener events carry. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(name: String, start: Double, end: Double)

/** One timed call of the client into the program, with what each layer
  * did on its behalf. Spans and counters are filled only under tracing. */
final class OpRec(val id: Int, val name: String, val step: Int) {
  var start = 0.0
  var end = 0.0
  def wallMs: Double = end - start

  val counts: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val jobs = mutable.ArrayBuffer.empty[Span]
  val phases = mutable.ArrayBuffer.empty[Span]
  val fsSpans = mutable.ArrayBuffer.empty[Span]
  val dataOpened = mutable.HashSet.empty[String]

  def add(k: String, v: Double): Unit = synchronized { counts(k) += v }

  def fsCall(what: String): Unit = what match {
    case "create" => add("fs.creates", 1)
    case "rename" => add("fs.renames", 1)
    case "delete" => add("fs.deletes", 1)
    case "list" => add("fs.lists", 1)
    case "stat" => add("fs.stats", 1)
    case _ => ()
  }

  def fsSpan(what: String, t0: Double, t1: Double): Unit =
    synchronized { fsSpans += Span("fs." + what, t0, t1) }

  def opened(p: Path, cls: PathClass.Value, metaBytes: Long): Unit = cls match {
    case PathClass.Pointer => add("fs.pointer_reads", 1)
    case PathClass.Manifest =>
      add("fs.manifest_reads", 1); add("fs.manifest_bytes_read", metaBytes)
    case PathClass.Data => synchronized { dataOpened += p.toUri.getPath }
    case PathClass.Stage => ()
  }

  def wrote(meta: Boolean, n: Long): Unit =
    add(if (meta) "fs.meta_bytes_written" else "fs.data_bytes_written", n)

  /** Time within [start, end] covered by at least one of `spans`. */
  private def covered(spans: Seq[Span]): Double = {
    val iv = spans.map(s => (math.max(s.start, start), math.min(s.end, end)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Derived per-op layer times, from the spans. */
  def layerTimes: Map[String, Double] = synchronized {
    val jobMs = covered(jobs.toSeq)
    Map(
      "spark.job_ms" -> jobMs,
      "fs.meta_ms" -> covered(fsSpans.toSeq),
      "driver.gap_ms" -> (wallMs - jobMs),
      "driver.self_ms" ->
        (wallMs - covered(jobs.toSeq ++ phases.toSeq ++ fsSpans.toSeq)))
  }

  def spansJson: Seq[String] = synchronized {
    def j(s: Span, parent: String) =
      f"""{"op":$id,"name":"${s.name}","parent":"$parent","start":${s.start}%.3f,"end":${s.end}%.3f}"""
    j(Span(name, start, end), "") +:
      (jobs.map(j(_, name)) ++ phases.map(j(_, name)) ++ fsSpans.map(j(_, name))).toSeq
  }
}

/** Observes the program only from outside: a SparkListener (jobs, stages,
  * tasks, attributed to ops through a local property every job inherits),
  * a QueryExecutionListener (Catalyst phases from each query's
  * QueryPlanningTracker), and the counting filesystem. */
final class Tracer(spark: SparkSession) {
  private val OpProp = "perfbench.op"
  private val ops = new java.util.concurrent.ConcurrentHashMap[Int, OpRec]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, OpRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (OpRec, Double)]()
  @volatile private var current: OpRec = null

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
        .flatMap(id => Option(ops.get(id.toInt))).orNull
      if (op != null) {
        op.add("spark.jobs", 1)
        e.stageIds.foreach(stageOp.put(_, op))
        jobStart.put(e.jobId, (op, e.time.toDouble))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        op.synchronized { op.jobs += Span(s"spark.job", t0, e.time.toDouble) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach(_.add("spark.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        op.add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          op.add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
          val busy = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime
          op.add("spark.task_wait_ms",
            math.max(0L, e.taskInfo.duration - busy).toDouble)
          op.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
          op.add("spark.input_records", m.inputMetrics.recordsRead.toDouble)
          op.add("spark.shuffle_read_bytes",
            m.shuffleReadMetrics.totalBytesRead.toDouble)
          op.add("spark.shuffle_write_bytes",
            m.shuffleWriteMetrics.bytesWritten.toDouble)
          op.add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
          op.add("spark.spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
  }

  private def onQuery(qe: QueryExecution): Unit = {
    val op = current
    if (op != null) {
      op.add("catalyst.actions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        op.add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
        op.synchronized {
          op.phases += Span(s"catalyst.$phase", s.startTimeMs.toDouble,
            s.endTimeMs.toDouble)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      onQuery(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      onQuery(qe)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  FsCounters.clientThread = Thread.currentThread()

  def open(op: OpRec): Unit = {
    // events of untraced work in between (the live-files gauge) must land
    // before this op becomes the current one
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    ops.put(op.id, op)
    current = op
    FsCounters.current = op
    spark.sparkContext.setLocalProperty(OpProp, op.id.toString)
  }

  /** Close the op once every event it caused has been delivered. */
  def close(op: OpRec): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    FsCounters.current = null
    current = null
    spark.sparkContext.setLocalProperty(OpProp, null)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    FsCounters.current = null
  }
}
