package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** Command line of the benchmark JVM (see run.py). `work` is a scratch
  * directory the run owns; `out` receives the run record as JSON. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, out: String, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"), need("cores").toInt)
  }
}

object Workloads {

  val all: Map[String, (SparkSession, Args, RunRecord) => Unit] = Map(
    "analyst_sql" -> AnalystSql.run,
    "daily_pipeline" -> DailyPipeline.run,
    "corpus_dedup" -> CorpusDedup.run)

  /** The timed phase shared by every workload: the op sequence with
    * `afterOp` and a block purge + GC after every `cleanEvery` ops (both
    * outside the timed region), host context sampled around it, then the
    * retained heap. `setup_s` ends here: it spans everything from main to
    * the first timed op (session start, input build and warm-up). In
    * a traced run the sequence runs three times, each on `fresh` state:
    * untraced, with the recorder attached, untraced again. The tracing
    * overhead is the traced pass against the two untraced ones around it,
    * which cancels the JIT warming up across the passes; the record keeps
    * the traced pass's ops and layers. */
  def timed(spark: SparkSession, rec: RunRecord, ops: Seq[Op], trace: Boolean,
      cleanEvery: Int = 1, fresh: () => Unit = () => (),
      afterOp: Int => Unit = _ => ()): Option[Tracer] = {
    def between(i: Int): Unit = {
      afterOp(i)
      if ((i + 1) % cleanEvery == 0) Harness.clean(spark)
    }
    // set-up ends where the first timed op starts
    rec.setupS = (Harness.nowMs() - rec.startMs) / 1000.0
    def untraced(name: String): Unit = {
      val plain = new RunRecord
      Harness.timedLoop(plain, ops, None, between)
      rec.layers(s"untraced_${name}_op_ms") = plain.opMs.toSeq
      rec.checks(s"untraced_${name}_ok") = plain.failed == 0
    }
    if (trace) {
      untraced("before")
      fresh()
      Harness.clean(spark)
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None
    Tracer.active = tracer
    Harness.mark(rec, "warmed")
    val steal0 = Harness.cpuTicks()
    val load0 = Harness.loadAvg()
    Harness.timedLoop(rec, ops, tracer, between)
    val steal1 = Harness.cpuTicks()
    Tracer.active = None
    Harness.mark(rec, "timed")
    rec.context("steal_pct") = steal0.zip(steal1).map { case (a, b) =>
      if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0
    }
    rec.context("loadavg_start") = load0
    rec.context("loadavg_end") = Harness.loadAvg()
    tracer.foreach { t => t.close(); rec.layers("per_op") = t.perOp.toSeq }
    rec.heapRetainedMb = Harness.heapRetainedMb(spark)
    Harness.mark(rec, "heap")
    if (trace) {
      fresh()
      untraced("after")
      Harness.clean(spark)
    }
    tracer
  }

  /** Data files the executed plan of `qe` planned to read over its DSv2
    * batch scans (the catalog serves every table as DSv2). */
  def filesPlanned(qe: QueryExecution): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => leaves(q.plan)
        case other => other +: (other.children ++ other.subqueries).flatMap(leaves)
      }
    leaves(qe.executedPlan).map {
      case b: BatchScanExec => b.inputPartitions.map {
        case fp: FilePartition => fp.files.length
        case _ => 0
      }.sum
      case _ => 0
    }.sum
  }
}

object Main {
  /** The engine's session on local[cores], with its scratch dirs under
    * `work` and shuffle partitions equal to the core count. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    graft.expressions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val rec = new RunRecord
    val t0 = rec.startMs
    val args = Args.parse(argv)
    val body = Workloads.all.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val spark = session(args.cores, args.work)
    rec.context("session_s") = (Harness.nowMs() - t0) / 1000.0
    Harness.mark(rec, "session")
    try { body(spark, args, rec); Harness.mark(rec, "done") }
    finally {
      val out = Map(
        "workload" -> args.workload,
        "seed" -> args.seed,
        "setup_s" -> rec.setupS,
        "warmup_s" -> rec.warmupS,
        "warmup_rounds" -> rec.warmupRounds,
        "op_kind" -> rec.opKind.toSeq,
        "op_ms" -> rec.opMs.toSeq,
        "op_rows" -> rec.opRows.toSeq,
        "attempted" -> rec.attempted,
        "failed" -> rec.failed,
        "heap_retained_mb" -> rec.heapRetainedMb,
        "checks" -> rec.checks,
        "context" -> (rec.context ++ Map(
          "nproc" -> Runtime.getRuntime.availableProcessors,
          "cores" -> args.cores,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0))),
        "layers" -> rec.layers,
        "phases" -> rec.phases)
      java.nio.file.Files.write(java.nio.file.Paths.get(args.out),
        Json.render(out).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.stop()
    }
  }
}

/** The class-loading training run behind the JVM's class data sharing
  * archive (see run.py): session start, a versioned write, a parquet
  * round trip and a catalog join-aggregate, on a few rows. It times and
  * checks nothing. Usage: `Train <work dir> <cores>`. */
object Train {
  def main(argv: Array[String]): Unit = {
    val Array(work, cores) = argv
    val spark = Main.session(cores.toInt, work)
    try {
      val sizes = Data.StarSizes(customers = 100, parts = 100, orders = 1000)
      val wh = s"$work/wh"
      spark.conf.set("spark.sql.catalog.train", classOf[graft.sql.GraftProcedureCatalog].getName)
      spark.conf.set("spark.sql.catalog.train.warehouse", wh)
      val sales = Data.sales(spark, 0L, sizes)
      graft.pipeline.VersionedTable.create(s"$wh/gold/fact", sales.schema)
      graft.pipeline.VersionedTable.write(sales, s"$wh/gold/fact")
      Data.customer(spark, 0L, sizes).write.parquet(s"$work/customer")
      spark.read.parquet(s"$work/customer").createOrReplaceTempView("train_customer")
      spark.sql("""SELECT c.c_nationkey, COUNT(*) AS n, SUM(f.l_extendedprice) AS v
                   |FROM train.gold.fact f JOIN train_customer c ON f.o_custkey = c.c_custkey
                   |GROUP BY c.c_nationkey ORDER BY v DESC""".stripMargin).collect()
    } finally spark.stop()
  }
}
