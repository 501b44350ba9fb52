package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Components, DocPipeline, Dedup, NearDup}
import graft.util.Ckpt.CkptOps

/** The compute path: set-up writes an N× copy of a generated `documents`
  * corpus with ScaleGen's shifted-copy scheme (ids offset per copy,
  * non-stopword tokens tagged per copy, so copies share no shingles); the
  * loop repeats `DocPipeline.clean(collectStats = false)` passes and
  * counts the kept rows. */
object CorpusDedup {

  /** Documents per copy: 12 % of the sf0.1 fixture's 5 000, so that a
    * run fits the benchmark's time budget. */
  val BaseDocs = 600L
  val Copies = 4
  /** Nominal seconds per dedup pass on a 4-core box; sizes the fixed op
    * sequence from --seconds. */
  val NominalPassS = 2.5

  def write(spark: SparkSession, seed: Long, dir: String): String = {
    val base = Data.documents(spark, seed, BaseDocs)
    val copies = (0 until Copies)
      .map(k => graft.ScaleGen.shifted(base, k, Map("doc_id" -> BaseDocs), Seq("text")))
      .reduce(_ unionByName _)
      .withColumn("n_chars", length(col("text")).cast("long"))
    val path = s"$dir/documents.parquet"
    copies.repartition(8).write.parquet(path)
    path
  }

  def cleanPass(spark: SparkSession, path: String, oneCopy: Boolean = false): Long = {
    val docs = spark.read.parquet(path)
    val in = if (oneCopy) docs.where(col("doc_id") < BaseDocs) else docs
    DocPipeline.clean(in, "doc_id", "text", collectStats = false).cleaned.count()
  }

  def run(spark: SparkSession, args: Args, rec: RunRecord): Unit = {
    val path = Harness.setUp(rec)(write(spark, args.seed, s"${args.work}/setup"))
    val tw = Harness.nowMs()
    // ScaleGen's cross-copy disjointness predicts kept(N×) = N × kept(1×),
    // and it holds exactly, so every timed pass is checked against it.
    // The 1× pass is the warm-up: it pays the JVM's cold start on one
    // copy of the data.
    val one = Harness.warmUp(rec, 1, 1, () => Harness.clean(spark)) { _ =>
      cleanPass(spark, path, oneCopy = true)
    }.head
    rec.warmupS = (Harness.nowMs() - tw) / 1000.0
    val expected = Copies * one
    rec.checks("kept_1x") = one
    rec.checks("kept_nx_expected") = expected

    val passes = math.max(5, math.round(args.seconds / NominalPassS).toInt)
    val total = BaseDocs * Copies
    val ops = Seq.fill(passes)(Op("pass", total, () => {
      val kept = cleanPass(spark, path)
      Tracer.outputRows(kept)
      kept == expected
    }))
    rec.context("docs") = total
    rec.context("copies") = Copies
    val tracer = Workloads.timed(spark, rec, ops, args.trace)
    tracer.foreach(_ => replaySteps(spark, path, rec))
  }

  /** `DocPipeline.clean` is one public call over several layers; replay
    * its stages as separate public calls, each materialized, and report
    * their times beside the fused pass. Also reports LSH verify
    * selectivity: verified pairs ÷ candidate pairs implied by the bands. */
  def replaySteps(spark: SparkSession, path: String, rec: RunRecord): Unit = {
    val cfg = DocPipeline.Config()
    val docs = spark.read.parquet(path)
    val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def step[T](name: String)(f: => T): T = {
      val t0 = Harness.nowMs(); val r = f; steps(name) = Harness.nowMs() - t0; r
    }
    val filtered = step("operators.filter_ms") {
      val f = docs
        .filter(TextFunctions.languageId(col("text")).isInCollection(cfg.allowedLangs))
        .filter(TextFunctions.qualityScore(col("text"), cfg.stopwords) >= cfg.minQuality)
        .ckpt()
      f.count(); f
    }
    val exact = step("operators.exact_dedup_ms") {
      val e = Dedup.exactKeepFirst(filtered, "text", "doc_id").ckpt(); e.count(); e
    }
    val pairs = step("operators.minhash_pairs_ms") {
      val p = NearDup.minhashPairs(exact, "doc_id", "text", cfg.shingleSize, cfg.bands,
        cfg.rowsPerBand, cfg.jaccardThreshold, cfg.maxBucketSize).ckpt()
      p.count(); p
    }
    step("operators.components_ms") {
      Components.keepClusterRepresentatives(exact, "doc_id", pairs).count()
    }
    val candidates = NearDup.minhashBands(exact, "doc_id", "text", cfg.shingleSize,
        cfg.bands, cfg.rowsPerBand)
      .groupBy(col("band"), col("band_hash")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - 1) / 2)).head().getDouble(0)
    rec.layers ++= steps
    rec.layers("operators.pairs_per_candidate") = pairs.count().toDouble / math.max(candidates, 1.0)
    rec.layers("operators.steps_sum_ms") = steps.values.sum
    rec.layers("operators.fused_pass_ms") = Harness.median(rec.opMs.toSeq)
    Harness.clean(spark)
  }
}
