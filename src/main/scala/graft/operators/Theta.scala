package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable distinct-set algebra via theta sketches (Dasgupta et al.,
  * "Theta-Sketch Framework", 2016) — the set-operation member of the
  * sketch family ([[Sketches]]/HLL = distinct counts, [[Cms]] =
  * frequency, [[Kll]] = quantiles), built on Spark's own
  * `theta_sketch_agg` / `theta_union_agg` / `theta_sketch_estimate` /
  * `theta_intersection` / `theta_difference`. A per-segment sketch
  * table answers |A|, |A ∪ B|, |A ∩ B| and |A \ B| from KB blobs: the
  * audience-overlap / cross-segment-retention questions whose exact
  * form is a distinct self-join over raw ids (O(corpus) shuffle per
  * question) become O(|segments|²) blob algebra after ONE scan.
  *
  * 100 TB shape: `build` partial-aggregates map-side (object-buffer
  * Union per group, same path as hll_sketch_agg); per-day sketch tables
  * [[rollup]] in O(new partitions); every set-operation probe is
  * serving-side on group rows. Exact while each segment's distinct
  * count stays under 2^lgK (θ = 1), estimation-mode beyond — size the
  * lgK to the segment cardinality you need exact, or accept the
  * ~1/√(2^lgK) relative error.
  *
  * The blobs are DataSketches compact theta images (default seed), so
  * state written by any DataSketches-6 theta writer folds in unchanged. */
object Theta {

  /** Per-group sketch table: (groupCols…, theta binary). */
  def build(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lgK: Int = 14): DataFrame = {
    val agg = theta_sketch_agg(col(valueCol), lgK).as("theta")
    if (groupCols.isEmpty) df.agg(agg)
    else df.groupBy(groupCols.map(col): _*).agg(agg)
  }

  /** Union buffer size for [[rollup]]: 26, DataSketches' maximum
    * lgNomEntries. A union never adds error beyond its inputs', but a
    * smaller buffer (the built-in default is 12) caps nominal entries
    * and drops exact-mode inputs built at a larger lgK into estimation
    * mode — 5 000 distinct ids from lgK=14 sketches read back as 4 984. */
  private[graft] val UnionLgK = 26

  /** Fold a sketch table to coarser grouping (blob union; the result's
    * theta is governed entirely by the input sketches). */
  def rollup(sketches: DataFrame, groupCols: Seq[String],
      sketchCol: String = "theta"): DataFrame = {
    val agg = theta_union_agg(col(sketchCol), UnionLgK).as(sketchCol)
    if (groupCols.isEmpty) sketches.agg(agg)
    else sketches.groupBy(groupCols.map(col): _*).agg(agg)
  }

  /** Stream-maintained segment sketches: per-microbatch theta sketches
    * landed exactly-once under batch_id=N/ (the
    * [[graft.streaming.BatchPartitionIngest]] primitive shared with
    * [[Kll.sketchIngestOnce]]); serve with [[rollup]] over the state
    * dir, then [[pairwiseOverlap]] / `theta_sketch_estimate`. */
  def sketchIngestOnce(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, schema: org.apache.spark.sql.types.StructType,
      stateDir: String, checkpointDir: String, groupCols: Seq[String],
      valueCol: String, lgK: Int = 14): Unit = {
    graft.streaming.BatchPartitionIngest.writeStateMeta(stateDir,
      graft.streaming.BatchPartitionIngest.StateMeta("theta", groupCols))
    graft.streaming.BatchPartitionIngest.ingestOnce(
      spark, srcDir, schema, stateDir, checkpointDir)(
      build(_, groupCols, valueCol, lgK))
  }

  /** Fold a [[sketchIngestOnce]] state dir's batch partitions into one
    * (theta union per group) — the [[Kll.compactState]] discipline for
    * the set-operation family; union associativity keeps every overlap
    * answer unchanged across compaction. */
  def compactState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, groupCols: Seq[String]): Unit =
    graft.streaming.BatchPartitionIngest.compactState(spark, stateDir)(
      rollup(_, groupCols))

  /** All segment pairs (a < b on `segCol`) with distinct sizes, overlap
    * |A ∩ B| and difference |A \ B| — pure blob algebra over the sketch
    * table self-join (|segments|² pair rows, corpus never re-read). */
  def pairwiseOverlap(sketches: DataFrame, segCol: String,
      sketchCol: String = "theta"): DataFrame = {
    val a = sketches.select(col(segCol).as("seg_a"),
      col(sketchCol).as("__ta"))
    val b = sketches.select(col(segCol).as("seg_b"),
      col(sketchCol).as("__tb"))
    a.join(b, col("seg_a") < col("seg_b"))
      .select(col("seg_a"), col("seg_b"),
        theta_sketch_estimate(col("__ta")).as("users_a"),
        theta_sketch_estimate(col("__tb")).as("users_b"),
        theta_sketch_estimate(theta_intersection(col("__ta"), col("__tb")))
          .as("overlap"),
        theta_sketch_estimate(theta_difference(col("__ta"), col("__tb")))
          .as("only_a"))
  }
}
