package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable any-rank quantiles via KLL sketches (Karnin-Lang-Liberty,
  * FOCS'16) — the third member of the sketch family ([[Sketches]] =
  * distinct/HLL, [[Cms]] = frequency, [[Theta]] = set algebra), built
  * on Spark's own `kll_sketch_agg_double` / `kll_merge_agg_double` /
  * `kll_sketch_get_quantile_double` / `kll_sketch_get_n_double`.
  * Per-partition sketch tables union in O(new partitions) (blobs, never
  * raw rows) and answer arbitrary-rank quantile queries without a known
  * value range, unlike the fixed-grid histogram path
  * ([[Profile.histogramQuantiles]], q162). Rank error ~1.65% at k=200;
  * EXACT while a group's item count stays <= k (KLL retains everything
  * until capacity), which is the oracle regime q164 pins.
  *
  * The blobs are DataSketches `KllDoublesSketch.toByteArray` images, so
  * state written by any DataSketches-6 KLL writer folds in unchanged.
  *
  * 100 TB shape: `build` is one scan with map-side partial aggregation
  * (ObjectHashAggregate over heap sketches); the shuffle carries
  * |groups| sketch blobs of O(k) doubles. `rollup` reads only the
  * sketch table. `quantiles` explodes |groups|×|percents| rows — all
  * serving-side sizes.
  */
object Kll {

  /** Per-group sketch table: (groupCols…, kll binary). */
  def build(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = 200): DataFrame = {
    val agg = kll_sketch_agg_double(col(valueCol).cast("double"), k).as("kll")
    if (groupCols.isEmpty) df.agg(agg)
    else df.groupBy(groupCols.map(col): _*).agg(agg)
  }

  /** Fold a sketch table to coarser grouping (drop columns, union the
    * sketches — the incremental/rollup path). The merge takes its k
    * from its inputs, so the result's accuracy is the inputs'. */
  def rollup(sketches: DataFrame, groupCols: Seq[String],
      sketchCol: String = "kll"): DataFrame = {
    val agg = kll_merge_agg_double(col(sketchCol)).as(sketchCol)
    if (groupCols.isEmpty) sketches.agg(agg)
    else sketches.groupBy(groupCols.map(col): _*).agg(agg)
  }

  /** (groupCols…, pct, q_value): read integer-percent quantiles off a
    * sketch table (INCLUSIVE rank rule — `100·cum >= p·N`, exactly
    * q162's selection rule, so exact-regime sketches replay in SQL).
    * The built-in probe takes its ranks as a literal, so one probe per
    * group reads every percent and the rows pair up by position. An
    * empty sketch (all-null group) yields NULL q_values: the probe
    * rejects empty sketches, so it runs only when n > 0. */
  def quantiles(sketches: DataFrame, groupCols: Seq[String],
      percents: Seq[Int], sketchCol: String = "kll"): DataFrame = {
    val sk = col(sketchCol)
    val qs = when(kll_sketch_get_n_double(sk) > 0,
      kll_sketch_get_quantile_double(sk,
        array(percents.map(p => lit(p / 100d)): _*)))
    sketches
      .select(groupCols.map(col) :+ qs.as("__qs") :+
        posexplode(array(percents.map(p => lit(p.toLong)): _*))
          .as(Seq("__i", "pct")): _*)
      .select(groupCols.map(col) :+ col("pct") :+
        col("__qs")(col("__i")).as("q_value"): _*)
  }

  /** Exact item count seen by each sketch (n is tracked exactly). */
  def counts(sketches: DataFrame, groupCols: Seq[String],
      sketchCol: String = "kll"): DataFrame =
    sketches.select(groupCols.map(col) :+
      kll_sketch_get_n_double(col(sketchCol)).as("n_items"): _*)

  /** Stream-maintained quantile profile: drain available files from
    * `srcDir` (checkpoint = bookmark, each file once across restarts)
    * and land each microbatch's per-group sketches under
    * `stateDir/batch_id=N/`. Exactly-once WITHOUT a transactional sink:
    * a retried batch carries the same batchId, and dynamic partition
    * overwrite rewrites that batch's own partition instead of appending
    * a duplicate — the same idempotence discipline as
    * `Medallion.overwritePartitions`. Serving reads fold the batch
    * sketches with [[rollup]] (|batches|×|groups| KB blobs, never raw
    * rows), so maintenance cost tracks the increment and profile cost
    * tracks the number of drains — the [[graft.operators.Bm25]]
    * stream-index shape applied to quantiles. */
  def sketchIngestOnce(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, schema: org.apache.spark.sql.types.StructType,
      stateDir: String, checkpointDir: String, groupCols: Seq[String],
      valueCol: String, k: Int = 200): Unit = {
    graft.streaming.BatchPartitionIngest.writeStateMeta(stateDir,
      graft.streaming.BatchPartitionIngest.StateMeta("kll", groupCols))
    graft.streaming.BatchPartitionIngest.ingestOnce(
      spark, srcDir, schema, stateDir, checkpointDir)(
      build(_, groupCols, valueCol, k))
  }

  /** Fold a [[sketchIngestOnce]] state dir's batch partitions into one
    * (blob union per group) — serving rollups stay O(|groups|) after
    * many drains; sketch union is associative, so [[profile]] is
    * unchanged across compaction. */
  def compactState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, groupCols: Seq[String]): Unit =
    graft.streaming.BatchPartitionIngest.compactState(spark, stateDir)(
      rollup(_, groupCols))

  /** Quantiles + exact counts off a [[sketchIngestOnce]] state dir —
    * identical to a direct [[build]]+[[quantiles]] over the union of
    * all drained rows (sketch union is associative; exact in the
    * n <= k regime, within KLL rank error above it). */
  def profile(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      groupCols: Seq[String], percents: Seq[Int]): DataFrame = {
    val merged = rollup(
      graft.streaming.BatchPartitionIngest.readState(spark, stateDir)
        .drop("batch_id"), groupCols)
      .withColumn("n_items", kll_sketch_get_n_double(col("kll")))
    quantiles(merged, groupCols :+ "n_items", percents)
  }
}
