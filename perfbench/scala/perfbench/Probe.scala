package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional for the
  * benchmark's own spans, whole for Spark's listener events). `parent` is
  * the id of the enclosing span, 0 at the top; `trace` groups all spans of
  * one query, batch or job.
  */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, trace: Long)

/** In-memory span store. Spans the benchmark opens itself nest explicitly;
  * spans built from Spark's listener events are attached afterwards to the
  * innermost benchmark span that contains them (the client is a single
  * closed loop, so at most one operation is open at a time).
  */
final class Spans {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private var nextId = 1L
  private val open = mutable.Stack.empty[(Long, Long)] // (id, trace)
  val own = mutable.ArrayBuffer.empty[Span]
  val events = mutable.ArrayBuffer.empty[(String, Double, Double)]

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val (parent, trace) = open.headOption.getOrElse((0L, id))
    open.push((id, trace))
    val start = nowMs
    try body finally {
      open.pop()
      own += Span(id, name, start, nowMs, parent, trace)
    }
  }

  def event(name: String, startMs: Double, endMs: Double): Unit =
    synchronized { events += ((name, startMs, endMs)) }

  /** Own spans plus listener spans, each nested under the innermost span
    * that contains it (longest listener spans are placed first, so a job
    * nests inside the sink write that started it). Listener spans outside
    * every benchmark span are dropped.
    */
  def all: Seq[Span] = {
    val placed = mutable.ArrayBuffer.from(own)
    synchronized(events.toSeq).sortBy { case (_, s, e) => s - e }.foreach { case (name, s, e) =>
      // listener times are whole milliseconds: allow 1 ms at either end
      placed.filter(o => o.start <= s + 1 && e <= o.end + 1)
        .minByOption(o => o.end - o.start)
        .foreach { o => nextId += 1; placed += Span(nextId, name, s, e, o.id, o.trace) }
    }
    placed.sortBy(s => (s.start, -s.end)).toSeq
  }
}

/** Spark-side layer counters, fed by a SparkListener (executor, exchange,
  * scheduler) and a QueryExecutionListener (driver phases, sink writes).
  * Attached only in traced runs.
  */
final class Probe(spark: SparkSession, spans: Spans) {
  val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val shuffleReadByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val codegenCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def add(k: String, v: Double): Unit = counters.synchronized { counters(k) += v }

  private val sparkListener = new SparkListener {
    private val jobStart = mutable.Map.empty[Int, Long]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("scheduler.jobs", 1)
      jobStart.synchronized(jobStart(e.jobId) = e.time)
      if (Option(e.properties).exists(_.getProperty("perfbench.phase") == "build"))
        add("driver.hidden_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.synchronized(jobStart.remove(e.jobId)).foreach { s =>
        spans.event("spark.job", s.toDouble, e.time.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      if (e.reason != org.apache.spark.Success) add("executor.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("executor.task_s", m.executorRunTime / 1000.0)
        add("executor.gc_s", m.jvmGCTime / 1000.0)
        add("executor.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("exchange.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        val read = m.shuffleReadMetrics.totalBytesRead
        add("exchange.shuffle_read_bytes", read.toDouble)
        if (read > 0) shuffleReadByStage.synchronized {
          shuffleReadByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += read
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      Seq("analysis", "optimization", "planning").foreach { p =>
        qe.tracker.phases.get(p).foreach { ph =>
          add(s"driver.${p}_s", (ph.endTimeMs - ph.startTimeMs) / 1000.0)
          spans.event(s"driver.$p", ph.startTimeMs.toDouble, ph.endTimeMs.toDouble)
        }
      }
      writePath(qe).foreach { path =>
        val sink = if (path.contains("/logs_v2/data/")) "logs_v2" else "side"
        add(s"sinks.write_s.$sink", durationNs / 1e9)
        // the listener runs after the fact: place the write after planning
        qe.tracker.phases.get("planning").foreach { ph =>
          spans.event(s"sinks.write.$sink", ph.endTimeMs.toDouble,
            ph.endTimeMs + durationNs / 1e6)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Output path of a file write, from the executed command. */
  private def writePath(qe: QueryExecution): Option[String] = {
    def fromLogical(p: LogicalPlan): Option[String] = p.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    val fromExec = scala.util.Try(qe.executedPlan.collectFirst {
      case CommandResultExec(_, DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _), _) =>
        c.outputPath.toString
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath.toString
    }).toOption.flatten
    fromExec
      .orElse(scala.util.Try(fromLogical(qe.logical)).toOption.flatten)
      .orElse(scala.util.Try(fromLogical(qe.commandExecuted)).toOption.flatten)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Drain the listener bus, detach, and return the counters. */
  def finish(): Map[String, Double] = {
    PerfbenchAccess.drainListeners(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    // CodegenMetrics counts every compile exactly but keeps the compile
    // times as a sampled histogram: the time is compiles x sampled mean
    val compileMs = CodegenMetrics.METRIC_COMPILATION_TIME
    val classes = compileMs.getCount - codegenCount0
    add("codegen.classes", classes.toDouble)
    add("codegen.compile_s", classes * compileMs.getSnapshot.getMean / 1000.0)
    val reads = shuffleReadByStage.values.maxByOption(_.sum).map(_.sorted).getOrElse(Nil)
    val skew =
      if (reads.isEmpty) 0.0
      else reads.last.toDouble / math.max(1L, reads(reads.length / 2)).toDouble
    add("exchange.skew", skew)
    counters.toMap
  }
}
