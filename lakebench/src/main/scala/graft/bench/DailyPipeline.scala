package graft.bench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cleanse, Dedup}
import graft.pipeline.{IncrementalAgg, Maintenance, Medallion, VersionedTable, Warehouse}

/** The write path, on a fresh warehouse each run: 30 generated days of
  * events are replayed as consecutive months, each copy shifting
  * `event_id`, `user_id` and `ts` the way ScaleGen shifts keys, so every
  * batch lands new data. A batch is ingest → cleanse + dedup → silver
  * partition overwrite → fact append → sketch merge into the Gold daily
  * aggregate; every 7th batch is followed by a maintenance cycle. */
object DailyPipeline {

  /** A day of a 10x copy of the sf0.1 fixture's events: 3 333 rows and
    * 1 500 users per copy. */
  val RowsPerDay = 33330L
  val Users = 15000L
  val Days = 30
  /** Nominal seconds per week of batches (7 batches + maintenance) on a
    * 4-core box; sizes the fixed op sequence from --seconds. */
  val NominalWeekS = 12.0

  final case class Batch(index: Int, date: java.sql.Date, path: String, rows: Long, bytes: Long)

  /** Writes one parquet file per batch under `dir/landing`, in the seeded
    * replay order: one range partition per batch, so task j writes batch
    * j's file without a shuffle. */
  def land(spark: SparkSession, seed: Long, dir: String, batches: Int): Seq[Batch] = {
    val order = new scala.util.Random(seed).shuffle((0 until Days).toList)
    val plan = (0 until batches).map(j => (j, j / Days, order(j % Days)))
    // batch j lands day order(j mod 30) of copy j / 30; the copy shifts
    // event_id, user_id and ts past every earlier copy
    val j = (col("row") / RowsPerDay).cast("int")
    val copy = (j / Days).cast("long")
    val keys = spark.range(0, batches * RowsPerDay, 1, batches).select(col("id").as("row"))
      .select(copy.as("copy"), (col("row") % RowsPerDay).as("id"),
        element_at(typedLit(order), (j % Days + 1).cast("int")).as("day"))
    val all = Data.events(keys, seed, RowsPerDay, Users, keep = Seq("copy"))
      .select(Seq(
        (col("event_id") + col("copy") * (Days * RowsPerDay)).as("event_id"),
        (col("user_id") + col("copy") * Users).as("user_id"),
        timestamp_micros(unix_micros(col("ts")) + col("copy") * (Days * 86400L * 1000000L)).as("ts"))
        ++ Seq("event_type", "value", "props").map(col): _*)
    val landing = s"$dir/landing"
    all.write.parquet(landing)
    val files = new java.io.File(landing).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(files.length == batches, s"$batches batches landed ${files.length} files")
    plan.zip(files).map { case ((j, copy, d), file) =>
      require(file.getName.startsWith(f"part-$j%05d"), s"batch $j landed as ${file.getName}")
      // one source file per day, named for its day: the bronze zone keys
      // idempotent ingest on the file name
      val date = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(copy * Days + d))
      val named = new java.io.File(s"$landing/events-$date.parquet")
      require(file.renameTo(named), s"cannot name the landing file of batch $j")
      Batch(j, date, named.getPath, RowsPerDay, named.length())
    }
  }

  /** The warehouse a run writes, plus what the batches reported. */
  final class Run(val spark: SparkSession, val root: String) {
    val wh = Warehouse(root)
    val fact = wh.table(Medallion.Gold, "fact_events")
    val agg = wh.table(Medallion.Gold, "agg_daily")
    var silverRows = 0L

    def batch(b: Batch): Boolean = {
      Steps.time("pipeline.ingest_ms") {
        val (copied, _) = Medallion.ingestPaths(Seq(b.path), wh, "events")
        require(copied == 1, s"batch ${b.index} was not landed")
      }
      val silverObs = Observation("silver_rows")
      Steps.time("pipeline.silver_ms") {
        val name = new java.io.File(b.path).getName
        val raw = spark.read.parquet(s"${wh.table(Medallion.Bronze, "events")}/$name")
        val cleansed = Cleanse.rangeRules(raw, Seq(col("value").isNotNull,
          col("value") >= 0, col("event_type").isNotNull && col("event_type") =!= ""))
        val deduped = Dedup.byKey(cleansed, keys = Seq("user_id", "event_type", "ts"),
          tieBreak = Seq(col("event_id")))
        val silver = deduped.withColumn("event_date", to_date(col("ts")))
          .observe(silverObs, count(lit(1)).as("n"))
        Medallion.overwritePartitions(silver, wh, Medallion.Silver, "events", Seq("event_date"))
      }
      val n = silverObs.get("n").asInstanceOf[Long]
      silverRows += n
      Tracer.outputRows(n)
      val day = Medallion.readTable(spark, wh, Medallion.Silver, "events")
        .where(col("event_date") === lit(b.date))
      Steps.time("pipeline.fact_commit_ms") {
        VersionedTable.append(day.select(col("event_id"), col("user_id"), col("event_type"),
          col("event_date"), col("value")), fact)
      }
      Steps.time("pipeline.agg_merge_ms") {
        val inc = day.groupBy(col("event_date"), col("event_type")).agg(
          count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("v"),
          hll_sketch_agg(col("user_id"), 12).as("users"))
        val merged =
          if (VersionedTable.latestVersion(agg).isEmpty) inc
          else IncrementalAgg.mergeWithSketches(VersionedTable.read(spark, agg), inc,
            keys = Seq("event_date", "event_type"), sums = Seq("n", "v"),
            sketches = Seq("users"))
        VersionedTable.write(merged.coalesce(1), agg)
      }
      true
    }

    def maintain(): Boolean = {
      Steps.time("pipeline.maint_expire_ms") {
        VersionedTable.expire(fact, keepLast = 2)
        VersionedTable.expire(agg, keepLast = 2)
      }
      val compacted = Steps.time("pipeline.maint_compact_ms") {
        Maintenance.compactVersioned(spark, fact)
      }
      val orphans = Steps.time("pipeline.maint_orphans_ms") {
        Seq(fact, agg).map(Maintenance.removeOrphans(spark, _))
      }
      compacted.ok && orphans.forall(_.ok)
    }

    /** Bytes under the Gold tables ÷ bytes of the data dirs the retained
      * snapshots reference. */
    def storageAmp(): Double = {
      def live(t: String): Long =
        VersionedTable.versions(t).flatMap(v => VersionedTable.dataDirs(t, Some(v))).distinct
          .map(d => Harness.dirBytes(new java.io.File(d.stripPrefix("file:")))).sum
      val all = Seq(fact, agg).map(t => Harness.dirBytes(new java.io.File(t))).sum
      all.toDouble / Seq(fact, agg).map(live).sum
    }

    /** The end-of-run checks: fact rows equal the silver rows the batches
      * reported, and the aggregate's n/v equal a recomputation from
      * silver. */
    def check(rec: RunRecord): Unit = {
      val factRows = VersionedTable.read(spark, fact).count()
      val silver = Medallion.readTable(spark, wh, Medallion.Silver, "events")
      val recomputed = silver.groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("v"))
      val gold = VersionedTable.read(spark, agg).select("event_date", "event_type", "n", "v")
      // both sides hold one row per (day, event type): compare them as
      // multisets in the driver
      val want = recomputed.collect().map(_.toString).toSeq
      val got = gold.collect().map(_.toString).toSeq
      val diff = (want.diff(got).size + got.diff(want).size).toLong
      rec.checks("silver_rows") = silverRows
      rec.checks("fact_rows") = factRows
      rec.checks("fact_rows_ok") = factRows == silverRows
      rec.checks("agg_rows_differing") = diff
      rec.checks("agg_ok") = diff == 0L
    }
  }

  def run(spark: SparkSession, args: Args, rec: RunRecord): Unit = {
    val weeks = math.max(1, math.round(args.seconds / NominalWeekS).toInt)
    val nBatches = 7 * weeks
    val batches = Harness.setUp(rec)(land(spark, args.seed, s"${args.work}/setup", nBatches))
    // warm-up on a throwaway warehouse: one batch (the cold one), then one
    // maintenance cycle
    val tw = Harness.nowMs()
    val warm = new Run(spark, s"${args.work}/warm")
    Harness.warmUp(rec, 1, 1, () => Harness.clean(spark)) { w =>
      warm.batch(batches(w % batches.size))
    }
    val warmAmp = warm.storageAmp()
    warm.maintain()
    rec.context("warmup_storage_amp_before_after_maint") = Seq(warmAmp, warm.storageAmp())
    rec.warmupS = (Harness.nowMs() - tw) / 1000.0
    Harness.clean(spark)

    // every pass gets a fresh warehouse; a traced run makes two passes
    // (see Workloads.timed) and the traced one is the second
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    def fresh(): Unit = runs += new Run(spark, s"${args.work}/wh${runs.size}")
    fresh()
    val ops = batches.flatMap { b =>
      val op = Op("batch", b.rows, () => runs.last.batch(b))
      if ((b.index + 1) % 7 == 0) Seq(op, Op("maint", 0L, () => runs.last.maintain())) else Seq(op)
    }
    rec.context("batches") = nBatches
    rec.context("rows_per_batch") = RowsPerDay
    // storage amplification on the measured warehouse before and after
    // each maintenance cycle, taken outside the timed ops
    val ampBefore = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ampAfter = scala.collection.mutable.ArrayBuffer.empty[Double]
    def afterOp(i: Int): Unit =
      if (i + 1 < ops.size && ops(i + 1).kind == "maint") ampBefore += runs.last.storageAmp()
      else if (ops(i).kind == "maint") ampAfter += runs.last.storageAmp()
    val tracer = Workloads.timed(spark, rec, ops, args.trace, fresh = () => fresh(),
      afterOp = afterOp)
    val measured = runs(if (args.trace) 1 else 0)
    rec.context("storage_amp") = measured.storageAmp()
    rec.context("storage_amp_before_maint") = ampBefore.takeRight(weeks).toSeq
    rec.context("storage_amp_after_maint") = ampAfter.takeRight(weeks).toSeq
    measured.check(rec)
    tracer.foreach { t =>
      rec.layers ++= Steps.medians()
      // bytes Spark tasks wrote (silver, fact, aggregate, compaction) plus
      // the bronze copy of each landed file, per landed byte
      val landed = batches.map(_.bytes).sum
      val written = t.perOp.map(_("spark.output_bytes")).sum + landed
      rec.layers("pipeline.bytes_written_per_input_byte") = written / landed
      val dirs = VersionedTable.dataDirs(measured.fact)
      rec.layers("pipeline.files_per_version") =
        dirs.map(d => Harness.fileCount(new java.io.File(d.stripPrefix("file:")))).sum.toDouble / dirs.size
      rec.layers("pipeline.versions_live") = VersionedTable.versions(measured.fact).size.toDouble
      rec.layers("storage_amp") = measured.storageAmp()
    }
  }
}
