package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer recorder for the traced run. A SparkListener collects
  * job intervals, stage and task counts and task metrics; a
  * QueryExecutionListener collects Catalyst's phase timings
  * (`QueryExecution.tracker`) and SQL execution intervals. Everything is
  * attributed to the op whose wall-clock window it falls in; `end`
  * drains the listener bus first, so no event of the op is still queued.
  *
  * Per op it yields (all times in ms):
  *  - sql.analysis/optimization/planning: Catalyst phase durations
  *  - sql.exec: SQL execution time not already counted as a phase
  *  - spark.in_jobs: union of job intervals; spark.driver_gap: the rest
  *    of the op's wall time (planning, commits, collects, barriers)
  *  - spark.task/gc and byte counters: task metric sums
  *  - covered: union of phase, execution and job intervals — the share
  *    of wall time the sql and spark layers account for. */
final class Tracer(spark: SparkSession) {
  import Tracer.Interval

  private val lock = new Object
  private val jobStarts = mutable.Map.empty[Int, (Long, Int, Int)]
  private val jobs = mutable.ArrayBuffer.empty[(Interval, Int, Int)]
  private val execStarts = mutable.Map.empty[Long, Long]
  private val execs = mutable.ArrayBuffer.empty[Interval]
  private val phases = mutable.ArrayBuffer.empty[(String, Interval)]
  private val planned = mutable.ArrayBuffer.empty[QueryExecution]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStarts(e.jobId) = (e.time, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, st, tk) =>
        jobs += ((Interval(t0, e.time), st, tk))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        counters("task_ms") += m.executorRunTime
        counters("gc_ms") += m.jvmGCTime
        counters("input_bytes") += m.inputMetrics.bytesRead
        counters("input_records") += m.inputMetrics.recordsRead
        counters("output_bytes") += m.outputMetrics.bytesWritten
        counters("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counters("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counters("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lock.synchronized { execStarts(s.executionId) = s.time }
      case x: SparkListenerSQLExecutionEnd => lock.synchronized {
        execStarts.remove(x.executionId).foreach(t0 => execs += Interval(t0, x.time))
      }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, Interval(p.startTimeMs, p.endTimeMs)))
      }
      planned += qe
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private var opStart = 0L
  private var outputRows = 0L
  val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val plansOfOp = mutable.ArrayBuffer.empty[Seq[QueryExecution]]

  /** Rows the current op produced (result rows, rows written, docs
    * kept) — the denominator of rows examined per row. */
  def noteOutputRows(n: Long): Unit = outputRows += n

  def drain(): Unit = org.apache.spark.lakebench.ListenerDrain.drain(spark.sparkContext)

  def begin(): Unit = {
    drain()
    lock.synchronized {
      jobs.clear(); execs.clear(); phases.clear(); planned.clear(); counters.clear()
    }
    outputRows = 0L
    Steps.takeSpans()
    opStart = System.currentTimeMillis()
  }

  def end(kind: String, wallMs: Double): Unit = {
    val opEnd = System.currentTimeMillis()
    drain()
    lock.synchronized {
      def clip(i: Interval) = Interval(math.max(i.start, opStart), math.min(i.end, opEnd))
      val ph = phases.map { case (n, i) => (n, clip(i)) }
      def phaseMs(n: String) = ph.collect { case (`n`, i) => (i.end - i.start).max(0L) }.sum.toDouble
      val phaseIv = ph.map(_._2).toSeq
      val jobIv = jobs.map(j => clip(j._1)).toSeq
      val execIv = execs.map(clip).toSeq
      val inJobs = Tracer.unionMs(jobIv.map(i => (i.start, i.end)))
      val covered = Tracer.unionMs((phaseIv ++ jobIv ++ execIv).map(i => (i.start, i.end)))
      val phaseUnion = Tracer.unionMs(phaseIv.map(i => (i.start, i.end)))
      val execAndPhase = Tracer.unionMs((phaseIv ++ execIv).map(i => (i.start, i.end)))
      // a step's own time: its span minus the part Spark covered
      val spark = (phaseIv ++ jobIv ++ execIv).map(i => (i.start, i.end))
      val selfMs = Steps.takeSpans().groupBy(_._1).map { case (name, spans) =>
        s"self.$name" -> spans.map { case (_, s, e) =>
          (e - s) - Tracer.unionMs(spark.map { case (a, b) => (math.max(a, s), math.min(b, e)) })
        }.sum.toDouble
      }
      perOp += selfMs ++ Map(
        "wall_ms" -> wallMs,
        "sql.analysis_ms" -> phaseMs("analysis"),
        "sql.optimization_ms" -> phaseMs("optimization"),
        "sql.planning_ms" -> phaseMs("planning"),
        "sql.exec_ms" -> (execAndPhase - phaseUnion).toDouble,
        "sql.input_records" -> counters("input_records"),
        "sql.output_rows" -> outputRows.toDouble,
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> jobs.map(_._2).sum.toDouble,
        "spark.tasks" -> jobs.map(_._3).sum.toDouble,
        "spark.in_jobs_ms" -> inJobs.toDouble,
        "spark.driver_gap_ms" -> (wallMs - inJobs).max(0.0),
        "spark.task_ms" -> counters("task_ms"),
        "spark.gc_ms" -> counters("gc_ms"),
        "spark.input_bytes" -> counters("input_bytes"),
        "spark.shuffle_read_bytes" -> counters("shuffle_read_bytes"),
        "spark.shuffle_write_bytes" -> counters("shuffle_write_bytes"),
        "spark.spill_bytes" -> counters("spill_bytes"),
        "spark.output_bytes" -> counters("output_bytes"),
        "covered_ms" -> covered.toDouble)
      plansOfOp += planned.toSeq
    }
  }

  /** The query executions recorded during op `i`. */
  def plans(i: Int): Seq[QueryExecution] = plansOfOp(i)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  private final case class Interval(start: Long, end: Long)

  /** The recorder of the op running now, if the run is traced. */
  @volatile var active: Option[Tracer] = None

  /** Notes result rows of the running op; a no-op when untraced. */
  def outputRows(n: Long): Unit = active.foreach(_.noteOutputRows(n))

  /** Total length of the union of half-open intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
