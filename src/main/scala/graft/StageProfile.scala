package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Optimization-loop profiler (guide §1: measure first): runs selected
  * queries with the exact Bench session confs and prints a per-stage
  * breakdown — stage wall-clock, task-time sum, shuffle bytes, GC — plus
  * the DRIVER GAPS between jobs (planning/collect/checkpoint barriers),
  * which per-stage views hide. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.StageProfile q159_triangles [reps]"
  */
object StageProfile {

  private final case class St(id: Int, name: String, tasks: Int,
      wallMs: Long, taskMs: Long, gcMs: Long, shufRead: Long,
      shufWrite: Long, input: Long, spill: Long)

  private final class Recorder extends SparkListener {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      stages.add(St(si.stageId,
        si.name.takeWhile(_ != '\n'),
        si.numTasks,
        (for {s <- si.submissionTime; c <- si.completionTime} yield c - s)
          .getOrElse(-1L),
        tm.executorRunTime, tm.jvmGCTime,
        tm.shuffleReadMetrics.totalBytesRead,
        tm.shuffleWriteMetrics.bytesWritten,
        tm.inputMetrics.bytesRead,
        tm.memoryBytesSpilled))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = Option(jobStart.get(e.jobId)).getOrElse(e.time)
      jobs.add((e.jobId, s, e.time))
    }
    def clear(): Unit = { stages.clear(); jobs.clear() }
  }

  def main(args: Array[String]): Unit = {
    val names = args.filterNot(_.forall(_.isDigit)).toSeq
    val reps = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Ckpt.setLevelFromEnv(spark)
    // exploratory runtime confs: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';')
      .filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    // SPARK_GRAFT_DUMP_PLANS=<dir>: write every executed plan (including
    // the checkpoint-materialization jobs the final plan hides) to
    // numbered files — the only way to attribute stages of multi-action
    // operators to their operators
    sys.env.get("SPARK_GRAFT_DUMP_PLANS").foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val n = new java.util.concurrent.atomic.AtomicInteger()
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              d: Long): Unit = {
            val i = n.incrementAndGet()
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, f"plan_$i%03d_$f.txt"),
              qe.executedPlan.toString
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          override def onFailure(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              e: Exception): Unit = ()
        })
    }

    val warmupDir = "/root/testdata/sf0.001"
    // profile the SAME physical layout the bench times (size-gated split
    // unless SPARK_GRAFT_SPLIT_INPUT=0 — see Bench.splitInputCopy)
    val dataDir: String =
      if (sys.env.getOrElse("SPARK_GRAFT_SPLIT_INPUT", "1") != "1") sfDir
      else Bench.splitInputCopy(spark, sfDir)

    names.foreach { name =>
      // warmup: JIT + codegen at tiny scale, then once unrecorded at sfDir
      try SparkEntry.queries(name)(spark, warmupDir).count()
      catch { case _: Throwable => () }
      Bench.freeBlocks(spark)

      (1 to reps).foreach { rep =>
        rec.clear()
        val t0Epoch = System.currentTimeMillis()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dataDir).count()
        val total = (System.nanoTime() - t0) / 1e6
        println(f"\n==== $name rep $rep: total $total%.0f ms ====")
        val js = rec.jobs.toArray(Array.empty[(Int, Long, Long)]).sortBy(_._2)
        if (js.nonEmpty) {
          val spanStart = js.head._2
          var prevEnd = spanStart
          var gapSum = 0L
          js.foreach { case (id, s, e) =>
            if (s > prevEnd) gapSum += s - prevEnd
            prevEnd = math.max(prevEnd, e)
          }
          val inJobs = js.map { case (_, s, e) => e - s }.sum
          // epoch base: listener event times are epoch millis, so the lag
          // must subtract an epoch start, not the nanoTime origin
          println(f"jobs=${js.length} firstJobLag=${js.head._2 - t0Epoch}%d ms " +
            f"inJobs=$inJobs ms interJobGaps=$gapSum ms")
        }
        rec.stages.toArray(Array.empty[St]).sortBy(-_.wallMs).take(14)
          .foreach { s =>
            println(f"  stage ${s.id}%4d wall=${s.wallMs}%5d ms task=${s.taskMs}%6d ms " +
              f"gc=${s.gcMs}%4d tasks=${s.tasks}%3d in=${s.input / 1024}%6d KB " +
              f"sr=${s.shufRead / 1024}%6d KB sw=${s.shufWrite / 1024}%6d KB " +
              f"spill=${s.spill / 1024}%d KB  ${s.name.take(70)}")
          }
        Bench.freeBlocks(spark)
      }
    }
    spark.stop()
  }
}
