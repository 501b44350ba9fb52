package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Mergeable frequency sketches (Count-Min, Cormode & Muthukrishnan '05)
  * through Spark's public `count_min_sketch` aggregate + `o.a.s.util
  * .sketch.CountMinSketch` — the frequency member of the sketch trio
  * ([[Sketches]] = distinct via HLL, `Decontaminate` = membership via
  * bloom; [[Kll]] = quantiles and [[Theta]] = set algebra ride Spark's
  * built-in `kll_sketch_*` / `theta_*` aggregates the same way). A
  * per-partition CMS table answers "how often does term X appear" over
  * 100 TB in O(new partitions) maintenance and O(1) probe,
  * with the guarantee est ∈ [true, true + ε·N] at the configured
  * confidence — the bounded-memory substitute for a full (term, count)
  * table when the key universe is unbounded (URLs, n-grams, user ids).
  *
  * Merge: CMS of a union is the cell-wise SUM of same-shaped CMS — the
  * [[union]] aggregator folds sketch BLOBS (a few KB each), never raw
  * rows, so incremental rollup shuffles kilobytes per partition.
  *
  * Determinism: `count_min_sketch` seeds its hash family from the
  * explicit seed — same input multiset + same (eps, confidence, seed) ⇒
  * bit-identical sketch on every engine run, so estimates are stable
  * across runs/partitionings and probes replay exactly. */
object Cms {

  /** Per-group CMS table: (groupCols…, cms binary). */
  def build(df: DataFrame, groupCols: Seq[String], valueCol: String,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val agg = count_min_sketch(col(valueCol), lit(eps), lit(confidence),
      lit(seed)).as("cms")
    if (groupCols.isEmpty) df.agg(agg)
    else df.groupBy(groupCols.map(col): _*).agg(agg)
  }

  private def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      val s = CountMinSketch.readFrom(a)
      s.mergeInPlace(CountMinSketch.readFrom(b))
      s.toByteArray
    }

  /** Sketch-union aggregate (the `hll_union_agg` analog Spark lacks for
    * CMS): fold same-shaped sketch blobs cell-wise. Differently-shaped
    * sketches (other eps/confidence/seed) are refused by CountMinSketch
    * itself (IncompatibleMergeException) rather than silently degraded. */
  val union: Column = {
    val aggr = new Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
      def zero: Array[Byte] = Array.emptyByteArray
      def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] =
        mergeBytes(b, a)
      def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
        mergeBytes(b1, b2)
      def finish(b: Array[Byte]): Array[Byte] = b
      def bufferEncoder = Encoders.BINARY
      def outputEncoder = Encoders.BINARY
    }
    udaf(aggr, Encoders.BINARY)(col("cms")).as("cms")
  }

  /** Fold a sketch table to coarser grouping (the incremental rollup:
    * drop the day column, union the days). */
  def rollup(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    if (groupCols.isEmpty) sketches.agg(union)
    else sketches.groupBy(groupCols.map(col): _*).agg(union)

  /** Probe one sketch blob for `items` (driver-side: a sketch is KBs and
    * a probe is O(depth) — this is the serving-tier call, not a scan). */
  def estimate(sketch: Array[Byte], items: Seq[String]): Seq[(String, Long)] = {
    val s = CountMinSketch.readFrom(sketch)
    items.map(i => i -> s.estimateCount(i))
  }

  /** Stream-maintained frequency sketches: per-microbatch CMS blobs
    * landed exactly-once under `stateDir/batch_id=N/` — the
    * [[graft.streaming.BatchPartitionIngest]] primitive shared with
    * [[Kll.sketchIngestOnce]] / [[Theta.sketchIngestOnce]] /
    * [[Sketches.sketchIngestOnce]], completing the sketch-family
    * symmetry. Serve by [[rollup]]-ing the state dir and probing with
    * [[estimate]]; CMS merge is cell-wise sum (associative +
    * commutative) and the hash family is seed-pinned, so the streamed
    * state folds to the BIT-IDENTICAL sketch of a one-shot build. */
  def sketchIngestOnce(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, schema: org.apache.spark.sql.types.StructType,
      stateDir: String, checkpointDir: String, groupCols: Seq[String],
      valueCol: String, eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): Unit = {
    graft.streaming.BatchPartitionIngest.writeStateMeta(stateDir,
      graft.streaming.BatchPartitionIngest.StateMeta("cms", groupCols))
    graft.streaming.BatchPartitionIngest.ingestOnce(
      spark, srcDir, schema, stateDir, checkpointDir)(
      build(_, groupCols, valueCol, eps, confidence, seed))
  }

  /** Fold a [[sketchIngestOnce]] state dir's batch partitions into one
    * (cell-wise CMS sum per group) — the [[Kll.compactState]]
    * discipline; merge associativity keeps every probe unchanged. */
  def compactState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, groupCols: Seq[String]): Unit =
    graft.streaming.BatchPartitionIngest.compactState(spark, stateDir)(
      rollup(_, groupCols))

  /** Per-group folded sketches off a [[sketchIngestOnce]] state dir —
    * the serving read (|batches|×|groups| KB blobs, never raw rows). */
  def serveState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, groupCols: Seq[String]): DataFrame =
    rollup(graft.streaming.BatchPartitionIngest.readState(spark, stateDir)
      .drop("batch_id"), groupCols)
}
