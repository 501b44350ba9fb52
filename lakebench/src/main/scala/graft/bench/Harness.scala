package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `rows` is the logical input the op
  * covers (rows of the snapshot a query addresses, events landed by a
  * batch, documents of a dedup pass); `run` returns whether the op's
  * output passed its check. */
final case class Op(kind: String, rows: Long, run: () => Boolean)

/** Raw measurements of one run. The driver script turns them into
  * percentiles and rates; nothing here summarizes. */
final class RunRecord {
  /** When the benchmark's main started, in [[Harness.nowMs]] time. */
  val startMs = Harness.nowMs()
  var setupS = 0.0
  var warmupS = 0.0
  var warmupRounds = 0
  val opKind = mutable.ArrayBuffer.empty[String]
  val opMs = mutable.ArrayBuffer.empty[Double]
  val opRows = mutable.ArrayBuffer.empty[Long]
  var attempted = 0
  var failed = 0
  var heapRetainedMb = 0.0
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val context = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Any]
  val phases = mutable.LinkedHashMap.empty[String, Double]
}

object Harness {

  def nowMs(): Double = System.nanoTime() / 1e6

  /** Notes that a phase ended, in seconds since JVM start. */
  def mark(rec: RunRecord, phase: String): Unit =
    rec.phases(phase) =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Runs `ops` in order, timing each. `between` runs after every op,
    * outside the timed region (block purge + GC). An op that throws or
    * whose check fails counts as failed; the sequence continues. */
  def timedLoop(rec: RunRecord, ops: Seq[Op], tracer: Option[Tracer],
      between: Int => Unit): Unit =
    ops.zipWithIndex.foreach { case (op, i) =>
      tracer.foreach(_.begin())
      val t0 = nowMs()
      val ok =
        try op.run()
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[lakebench] op $i (${op.kind}) failed: $e")
            false
        }
      val ms = nowMs() - t0
      tracer.foreach(_.end(op.kind, ms))
      rec.attempted += 1
      if (!ok) rec.failed += 1
      rec.opKind += op.kind
      rec.opMs += ms
      rec.opRows += op.rows
      between(i)
    }

  /** Runs the workload's input build once and marks the end of it. */
  def setUp[T](rec: RunRecord)(build: => T): T = {
    val out = build
    mark(rec, "setup")
    out
  }

  /** Untimed warm-up: repeat `round` until its time stops falling, that
    * is until a round is no more than 5 % faster than the fastest before
    * it (JIT and codegen caches settled), within [minRounds, maxRounds].
    * `between` runs after each round, outside its time. Records the round
    * times and count, and whether the times had stopped falling; returns
    * the rounds' results. */
  def warmUp[T](rec: RunRecord, minRounds: Int, maxRounds: Int,
      between: () => Unit = () => ())(round: Int => T): Seq[T] = {
    val times = mutable.ArrayBuffer.empty[Double]
    val out = mutable.ArrayBuffer.empty[T]
    var settled = false
    while (times.size < maxRounds && !(settled && times.size >= minRounds)) {
      val t0 = nowMs()
      out += round(times.size)
      val t = nowMs() - t0
      between()
      settled = times.nonEmpty && t > 0.95 * times.min
      times += t
    }
    rec.warmupRounds = times.size
    rec.context("warmup_round_ms") = times.toSeq
    rec.context("warmup_settled") = settled
    out.toSeq
  }

  /** Free persisted blocks and collect garbage, so one op's leftovers do
    * not slow the next and no collection of theirs lands in a timed op. */
  def clean(spark: SparkSession): Unit = {
    graft.Bench.freeBlocks(spark)
    System.gc()
  }

  /** Used heap after full collections, in MB. */
  def heapRetainedMb(spark: SparkSession): Double = {
    clean(spark)
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** (steal ticks, total ticks) of the aggregate cpu line of /proc/stat. */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).flatMap { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        if (f.length < 8) None else Some((f(7), f.sum))
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  def loadAvg(): Option[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().nextOption().map(_.split(" ")(0).toDouble)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: java.io.File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty).map { f =>
      if (f.isDirectory) dirBytes(f) else f.length()
    }.sum

  /** Parquet data files under `dir`. */
  def fileCount(dir: java.io.File): Int =
    Option(dir.listFiles()).getOrElse(Array.empty).map { f =>
      if (f.isDirectory) fileCount(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  /** A stable digest of a result: each row rendered as text, the rows
    * sorted, the whole hashed. Row order never matters. */
  def resultHash(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Wall-clock spans of named pipeline or operator steps while a tracer
  * is active, taken from outside the engine around its public calls.
  * Durations feed the per-step medians; the spans of the running op let
  * the tracer split a step into time covered by Spark and the step's own
  * driver time. */
object Steps {
  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val opSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  def time[T](name: String)(f: => T): T =
    if (Tracer.active.isEmpty) f
    else {
      val wall0 = System.currentTimeMillis()
      val t0 = Harness.nowMs()
      try f
      finally {
        times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Harness.nowMs() - t0
        opSpans += ((name, wall0, System.currentTimeMillis()))
      }
    }

  def medians(): Map[String, Double] = times.map { case (k, v) => k -> Harness.median(v.toSeq) }.toMap

  /** Spans recorded since the last call, as (name, start, end) in epoch ms. */
  def takeSpans(): Seq[(String, Long, Long)] = {
    val out = opSpans.toSeq
    opSpans.clear()
    out
  }
}

/** Minimal JSON rendering for the run record (numbers, strings, booleans,
  * sequences and maps). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
