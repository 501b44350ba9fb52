package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * The same line is also written to `target/bench.json`, so the full
  * per-query map survives even when the harness captures only a log
  * tail (r7's artifact lost 104 of 168 timings to truncation).
  *
  * A warmup pass at sf0.001 runs first (unmeasured) so JIT/codegen/classload
  * cost lands there instead of inflating whichever measured query happens to
  * run first. Each query then runs `reps` times (default 3) and reports the
  * MINIMUM — on a shared box a single rep can catch a 10x contention spike
  * and record it as the official number (r1's q02 did exactly that). A query
  * that throws reports the string "err" instead of a bogus ~0s time. */
object Bench {

  /** Samples `/proc/stat` hypervisor CPU-steal time alongside the run
    * (r17): on this benching box the host steals CPU in BURSTS of up
    * to ~16% of all cores, completely invisible to loadavg (which
    * counts only our own runnable threads) — a contaminated run can
    * read 1.7× with a 0.16 start loadavg. Emitting the run's own
    * steal percentage (and the worst 15 s window) inside the JSON
    * artifact makes every bench self-adjudicating: a high
    * `steal_max15s_pct` explains an elevated total without needing a
    * parallel sampler. Returns None off Linux / when unreadable. */
  private final class StealMeter {
    // (steal ticks, total ticks) from the aggregate cpu line
    private def sample(): Option[(Long, Long)] =
      try {
        val line = java.nio.file.Files
          .lines(java.nio.file.Paths.get("/proc/stat"))
          .filter(_.startsWith("cpu ")).findFirst()
        if (!line.isPresent) None
        else {
          val f = line.get.trim.split("\\s+").drop(1).map(_.toLong)
          if (f.length < 8) None else Some((f(7), f.sum))
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    private val start = sample()
    @volatile private var maxWindowPct = 0.0
    private val sampler = new Thread(() => {
      var prev = sample()
      while (true) {
        Thread.sleep(15000)
        val cur = sample()
        for ((p, c) <- prev.zip(cur)) {
          val dTot = c._2 - p._2
          if (dTot > 0) {
            val pct = 100.0 * (c._1 - p._1) / dTot
            if (pct > maxWindowPct) maxWindowPct = pct
          }
        }
        prev = cur
      }
    }, "graft-bench-steal-meter")
    sampler.setDaemon(true)
    if (start.nonEmpty) sampler.start()

    /** `"steal_pct":p,"steal_max15s_pct":m,` or "" when unavailable. */
    def jsonField(): String =
      start.zip(sample()).map { case (s, e) =>
        val dTot = e._2 - s._2
        val pct = if (dTot > 0) 100.0 * (e._1 - s._1) / dTot else 0.0
        f""""steal_pct":$pct%.2f,"steal_max15s_pct":$maxWindowPct%.2f,"""
      }.getOrElse("")
  }

  /** Free every persisted/localCheckpointed block synchronously before
    * the next query runs. The ContextCleaner only drops a checkpointed
    * RDD's blocks after the JVM GCs its reference — asynchronous and
    * late — so in a 168-query run the blocks of 150+ earlier queries
    * pile up in the block manager and the heavy tail queries (q60,
    * q159) measure GC/memory pressure, not their own plan (observed
    * 2-2.6x inflation in full-catalog runs vs solo). Safe here because
    * every cross-query cache in the repo holds driver-side values
    * (paths, models), never persisted DataFrames — the query catalog's
    * per-input fixtures all go through `graft.queries.Fixtures`, whose
    * contract states it — so any block alive between queries is garbage
    * by construction. The System.gc() still
    * runs afterward so the ContextCleaner also releases dead SHUFFLE
    * files, which blocking unpersist does not cover. */
  def freeBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // The two lines above miss blocks whose owning RDD object was
    // ALREADY GC'd (gone from persistentRdds, blocks still resident
    // until the async ContextCleaner drains its queue) — the round-8
    // q60 contamination: dead blocks accumulate across the catalog,
    // fill the storage pool, and push later queries' localCheckpoints
    // to disk. Purge every RDD/broadcast block synchronously.
    org.apache.spark.graft.BlockPurge.purge(spark.sparkContext)
    if (sys.env.contains("SPARK_GRAFT_DEBUG_MEM")) {
      val (used, total) =
        org.apache.spark.graft.BlockPurge.storageInUse(spark.sparkContext)
      System.err.println(s"BENCH MEM storage used=$used total=$total")
    }
    System.gc()
  }

  /** Re-write the big tables of `sfDir` as multi-file copies in a fresh
    * temp dir (deleted on JVM exit); small tables are copied verbatim.
    * See the call site for the measured rationale. Returns the new data
    * dir. */
  def splitInputCopy(spark: SparkSession, sfDir: String): String = {
    val target = sys.env.getOrElse("SPARK_GRAFT_SPLIT_TARGET_BYTES",
      "524288").toLong.max(65536L)
    // eligibility floor: only tables with MULTIPLE MBs of single-file
    // decode work split at all. Splitting the 2-3 MB orders/events
    // tables was measured as a pure tax on the versioned-table/CDC
    // family (each query's per-dir warehouse build re-scans its split
    // source: q206 +0.5 s, q201 +0.3 s, q190 +0.2 s in a like-for-like
    // subset A/B) with no offsetting win — their scans cost ~0.1 s
    // single-task. At sf0.1 only lineitem (10.8 MB, the 600 k-row
    // decode that dominates q02 and the graph edge builds) clears it.
    val eligible = 8L * target
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_split_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.util.Fs.deleteRecursively(tmp.toFile)))
    val t0 = System.nanoTime()
    Tables.all.foreach { n =>
      val src = new java.io.File(s"$sfDir/$n.parquet")
      if (src.exists()) {
        val nFiles = math.min(64L, src.length() / target).toInt
        if (src.length() >= eligible && nFiles >= 2)
          Tables.load(spark, sfDir, n).repartition(nFiles)
            .write.mode("overwrite").parquet(s"$tmp/$n.parquet")
        else
          java.nio.file.Files.copy(src.toPath,
            java.nio.file.Paths.get(s"$tmp/$n.parquet"))
      }
    }
    System.err.println(
      f"BENCH split input -> $tmp (${(System.nanoTime() - t0) / 1e9}%.1f s)")
    tmp.toString
  }

  def main(args: Array[String]): Unit = {
    val stealMeter = new StealMeter
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Round-8's q60 full-catalog-only inflation, root-caused: the
      // default 100-entry codegen cache cannot hold a 170-query
      // catalog, so every query (and every REP) re-Janino-compiles
      // nearly all its codegen units — thousands of generated classes
      // accumulate, and the heavy tail (q60: official 7.6 s vs 2.95 s
      // solo) measures compile + code-cache pressure, not its plan.
      // With the cache sized to the catalog, the measured 130-query
      // prefix + q60 reads 2.29 s (reps=3) — BELOW the solo number.
      // Static conf: must be set before the session is created.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional A/B knob for the checkpoint storage level (see
    // graft.util.Ckpt); unset = Spark's localCheckpoint default
    graft.util.Ckpt.setLevelFromEnv(spark)

    // ---- input layout setup (untimed, guide §6) ----------------------
    // The driver fixture writes each table as ONE parquet file with ONE
    // row group, so every scan in the catalog is a single task at any
    // core count: the bench measured fixed per-query overhead, never
    // parallel work (r17 verdict: all 8-vs-32-core ratios ≈ 1). File
    // layout determines reader fan-out — at 100 TB input is never a
    // single row group — so re-split the BIG fixture tables ONCE per
    // invocation into multi-file copies in a temp dir and bench against
    // that. Rows are byte-identical (a pure re-write of the same data);
    // nothing is persisted across invocations (the temp dir is deleted
    // on exit and rebuilt from the raw fixture every run); the per-query
    // timing methodology is unchanged. Scan parallelism then adapts to
    // the core count automatically via Spark's filesMinPartitionNum =
    // defaultParallelism split sizing — the same mechanism that sizes
    // splits on a production cluster — so the driver's 8-core sweep can
    // measure real scan scaling.
    //
    // The split is SIZE-GATED (only tables ≥ 8× the target file size
    // split at all): a full every-table split was measured catalog-wide
    // at sf0.1 and is a pessimization — 60.5 s → 84.6 s total — because
    // a 0.6 MB documents table in 37 files turns every one of a query's
    // many scans into 37 scheduled tasks of ~15 KB each, pure per-task
    // overhead at fixture bytes (only the genuinely decode-bound q02
    // improved, 2.0×). At the 512 KB default and sf0.1 only lineitem
    // splits (~21 files) — the one table whose single-task decode
    // dominates queries; orders and events (2-3 MB) stay single-file
    // (see splitInputCopy). SPARK_GRAFT_SPLIT_INPUT=0
    // restores the raw layout; SPARK_GRAFT_SPLIT_TARGET_BYTES tunes the
    // target (both honored by StageProfile so profiles match the bench).
    val splitInput = sys.env.getOrElse("SPARK_GRAFT_SPLIT_INPUT", "1") == "1"
    val benchDir: String =
      if (!splitInput) sfDir else Bench.splitInputCopy(spark, sfDir)

    // dev-loop filter (regex on query name); the driver leaves it unset
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.findFirstIn(n).isDefined))
    val warmupDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmupDir).isDirectory) {
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, warmupDir).count()
        catch { case _: Throwable => () }
      }
      freeBlocks(spark)
    }

    // name -> Right(min seconds over reps) | Left(error class)
    val results: Seq[(String, Either[String, Double])] = names.map { name =>
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, benchDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable => System.err.println(
          s"BENCH ERR $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        }
      }
      freeBlocks(spark)
      name -> (if (times.isEmpty) Left("err") else Right(times.min))
    }

    // ----- end-to-end gates -------------------------------------------
    // Each gate reports its min-rep total AND that rep's per-stage
    // breakdown (r7 verdict item 6: one opaque 10.8s ann number told
    // nobody whether fit, encode, or probe regressed). A `Stages`
    // recorder wraps the sections; the stage map published is the one
    // from the fastest rep, so stages always sum to ~the reported total.
    final class Stages {
      val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      def apply[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        acc += name -> (System.nanoTime() - t0) / 1e9
        r
      }
    }

    /** Run `gate` (warmup once at sf0.001, then `reps` timed reps at
      * sfDir); returns (min total | err, stages of the fastest rep).
      * Respects SPARK_GRAFT_ONLY like the query loop does — a filtered
      * gate is skipped entirely and omitted from the output (not
      * reported as an error), so a scale probe of two queries doesn't
      * pay for six end-to-end gates. The driver leaves ONLY unset, so
      * official runs always carry every gate. */
    def gateIncluded(label: String): Boolean =
      only.forall(_.findFirstIn(label).isDefined)
    def runGate(label: String)(gate: (String, Stages) => Unit)
        : (Option[Double], Seq[(String, Double)]) = {
      if (!gateIncluded(label)) return (None, Nil)
      if (new java.io.File(warmupDir).isDirectory) {
        try gate(warmupDir, new Stages) catch { case _: Throwable => () }
        freeBlocks(spark)
      }
      val runs = (1 to reps).flatMap { _ =>
        val st = new Stages
        val t0 = System.nanoTime()
        try {
          gate(benchDir, st)
          val r = Some(((System.nanoTime() - t0) / 1e9, st.acc.toSeq))
          freeBlocks(spark)
          r
        } catch { case e: Throwable => System.err.println(
          s"BENCH ERR $label: ${e.getClass.getSimpleName}: ${e.getMessage}")
          freeBlocks(spark)
          None
        }
      }
      if (runs.isEmpty) (None, Nil)
      else { val best = runs.minBy(_._1); (Some(best._1), best._2) }
    }

    // End-to-end medallion pipeline (ingest → silver → gold →
    // maintenance) — the reference's actual daily job
    // (reference: terraform/stepfunctions.tf:72-179). A fresh warehouse
    // per rep keeps every rep a cold full run. Reported as its own
    // field, not in `total`, so query totals stay comparable.
    val (pipeT, pipeStages) = runGate("pipeline_e2e") { (src, stage) =>
      val root = java.nio.file.Files.createTempDirectory("graft_bench_wh_")
      try stage("run") {
        graft.pipeline.LakehousePipeline.run(spark, s"$src/events.parquet",
          graft.pipeline.Warehouse(root.toString))
      } finally graft.util.Fs.deleteRecursively(root.toFile)
    }

    // End-to-end training-corpus prep (lang/quality filter → exact dedup →
    // near-dup dedup → context chunking → 512-token packing → parquet).
    val (corpusT, corpusStages) = runGate("corpus_e2e") { (src, stage) =>
      import org.apache.spark.sql.functions._
      val out = java.nio.file.Files.createTempDirectory("graft_bench_corpus_")
      try {
        val docs = Tables.load(spark, src, "documents")
        val cleaned = stage("clean") {
          graft.operators.DocPipeline
            .clean(docs, "doc_id", "text", collectStats = false).cleaned
            .localCheckpoint()
        }
        stage("chunk_pack") {
          val chunks = cleaned.select(col("doc_id"),
            posexplode(graft.expressions.GraftFunctions.tokenChunks(
              graft.functions.TextFunctions.tokens(col("text")), 50, 40))
              .as(Seq("chunk_id", "chunk")))
            .select(
              (col("doc_id") * 1000 + col("chunk_id")).as("cid"),
              (col("doc_id") % 8).cast("int").as("shard"),
              col("chunk"),
              size(split(col("chunk"), "\\s+")).as("n_tokens"))
          graft.operators.Packing
            .packBins(chunks, "cid", "n_tokens", Seq("shard"), 512)
            .write.mode("overwrite").parquet(out.toString + "/packed")
        }
      } finally graft.util.Fs.deleteRecursively(out.toFile)
    }

    // The keeper-policy pipeline (keepBestQuality = true: score once,
    // keep the best copy per near-dup cluster — the C4/RefinedWeb
    // policy) as its own gate, so the keeper path has a perf budget
    // separate from corpus_e2e's min-id policy.
    val (corpusBestT, corpusBestStages) = runGate("corpus_best_e2e") {
      (src, stage) =>
        val out = java.nio.file.Files
          .createTempDirectory("graft_bench_corpus_best_")
        try stage("clean_best") {
          val docs = Tables.load(spark, src, "documents")
          graft.operators.DocPipeline
            .clean(docs, "doc_id", "text",
              graft.operators.DocPipeline.Config(keepBestQuality = true),
              collectStats = false)
            .cleaned
            .write.mode("overwrite").parquet(out.toString + "/cleaned")
        } finally graft.util.Fs.deleteRecursively(out.toFile)
    }

    // Image corpus e2e: synthesize one REAL PNG per document row (cell
    // patterns, ~10 copies per pattern), then run the real decode →
    // perceptual hash → guarded Hamming join → cluster dedup path.
    val (imageT, imageStages) = runGate("image_e2e") { (src, stage) =>
      import spark.implicits._
      val docs = Tables.load(spark, src, "documents").select("doc_id")
      val hashes = stage("synth_hash") {
        val imgs = docs.as[Long].map { id =>
          val (w, h) = ((id % 3).toInt: @unchecked) match {
            case 0 => (36, 32)
            case 1 => (72, 64)
            case _ => (45, 40)
          }
          (id, graft.multimodal.Images.cellPatternPng(id % 500, w, h))
        }.toDF("image_id", "content")
        graft.multimodal.Images
          .hashImages(imgs, "image_id", "content").localCheckpoint()
      }
      stage("dedup") {
        graft.multimodal.Images.dedupByContent(hashes).count()
      }
    }

    // ANN serving e2e: fit coarse IVF + PQ codebooks, materialize the
    // cluster-partitioned IVF-PQ codes index, then run a batch of
    // pruned-ADC + exact-refine probes — the full build+serve path of
    // the billion-scale layout. Stage split: fit (k-means), encode
    // (index write), probe (the serving path).
    val (annT, annStages) = runGate("ann_e2e") { (src, stage) =>
      import org.apache.spark.sql.functions._
      val out = java.nio.file.Files.createTempDirectory("graft_bench_ann_")
      try {
        val emb = Tables.load(spark, src, "embeddings")
        val (coarse, pq) = stage("fit") {
          (graft.operators.Ivf.fit(emb, "vec_id", "embedding",
              k = 8, iters = 3),
            graft.operators.Pq.fit(emb, "vec_id", "embedding",
              m = 8, k = 16, iters = 3))
        }
        val idx = out.toString + "/ivfpq"
        stage("encode") {
          graft.operators.Pq.writeIvfPqIndex(emb, "vec_id", "embedding",
            coarse, pq, idx)
        }
        stage("probe") {
          val probes = emb.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id"), col("embedding").cast("array<double>"))
            .collect()
            .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
            .toSeq
          // the batch-serving path: probes run as concurrent jobs
          graft.operators.Pq.topKRefinedIndexedMany(spark, idx, emb,
            "vec_id", "embedding", pq, coarse, probes, k = 10,
            candidates = 100, nProbe = 2)
        }
      } finally graft.util.Fs.deleteRecursively(out.toFile)
    }

    // End-to-end incremental gold maintenance: versioned gold commit,
    // a day's increment merged in O(day) (exact sums + HLL distinct +
    // KLL quantile sketches). Stage split: history build (the one-time
    // cost), increment merge (the daily cost — the number that must
    // stay O(day)), serve (read-back).
    val (goldT, goldStages) = runGate("gold_e2e") { (src, stage) =>
      import org.apache.spark.sql.functions._
      val out = java.nio.file.Files.createTempDirectory("graft_bench_gold_")
      try {
        val ev = Tables.load(spark, src, "events")
          .select(to_date(col("ts")).as("event_date"), col("user_id"),
            col("value"))
        val cut = ev.select(max(col("event_date"))).head().getDate(0)
        val cutoff = java.time.LocalDate.parse(cut.toString).minusDays(2)
        def aggOf(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(col("event_date"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).as("v"),
            hll_sketch_agg(col("user_id")).as("users"),
            kll_sketch_agg_double(col("value").cast("double"), 200)
              .as("vq"))
        val table = out.toString + "/gold"
        stage("history") {
          val hist = ev.filter(col("event_date") < lit(cutoff.toString))
          graft.pipeline.VersionedTable.write(aggOf(hist), table)
        }
        stage("merge_increment") {
          val inc = ev.filter(col("event_date") >= lit(cutoff.toString))
          val merged = graft.pipeline.IncrementalAgg.mergeWithSketches(
            graft.pipeline.VersionedTable.read(spark, table), aggOf(inc),
            keys = Seq("event_date"), sums = Seq("n", "v"),
            sketches = Seq("users"), kllSketches = Seq("vq"))
          graft.pipeline.VersionedTable.write(merged, table)
        }
        stage("serve") {
          graft.pipeline.VersionedTable.read(spark, table).count()
        }
      } finally graft.util.Fs.deleteRecursively(out.toFile)
    }

    // ----- JSON assembly ----------------------------------------------
    def num(o: Option[Double]): String =
      o.map(_.toString).getOrElse("\"err\"")
    def stagesJson(s: Seq[(String, Double)]): String =
      s.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val gates: Seq[(String, Option[Double], Seq[(String, Double)])] = Seq(
      ("pipeline_e2e", pipeT, pipeStages),
      ("corpus_e2e", corpusT, corpusStages),
      ("corpus_best_e2e", corpusBestT, corpusBestStages),
      ("image_e2e", imageT, imageStages),
      ("ann_e2e", annT, annStages),
      ("gold_e2e", goldT, goldStages))
      .filter { case (n, _, _) => gateIncluded(n) }

    val qs = results.map {
      case (k, Right(v)) => "\"" + k + "\":" + v
      case (k, Left(_))  => "\"" + k + "\":\"err\""
    }.mkString("{", ",", "}")
    val errs = (results.collect { case (k, Left(_)) => "\"" + k + "\"" } ++
      gates.collect { case (n, None, _) => "\"" + n + "\"" })
      .mkString("[", ",", "]")
    val total = results.collect { case (_, Right(v)) => v }.sum
    val gateFields = gates
      .map { case (n, t, _) => "\"" + n + "\":" + num(t) + "," }.mkString
    val stageField = gates
      .map { case (n, _, s) => "\"" + n + "\":" + stagesJson(s) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"split_input":$splitInput,${stealMeter.jsonField()}"errors":$errs,$gateFields"stages":$stageField,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // survive log-tail truncation: the full line as a file artifact
    try {
      val outPath = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(outPath.getParent)
      java.nio.file.Files.write(outPath,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"BENCH WARN: could not write target/bench.json: $e")
    }
    spark.stop()
    // An erroring query must fail the run: its 0-contribution would
    // otherwise make a regression-to-throw read as a faster total.
    val nErrs = results.count(_._2.isLeft) + gates.count(_._2.isEmpty)
    if (nErrs > 0) {
      System.err.println(s"BENCH FAILED: $nErrs entries errored")
      sys.exit(2)
    }
  }
}
