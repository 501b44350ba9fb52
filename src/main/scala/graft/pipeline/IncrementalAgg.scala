package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental maintenance of keyed gold aggregates.
  *
  * The reference's silver→gold job recomputes its aggregate tables from
  * the full silver table every day (reference:
  * glue-jobs/noaa_ghcn_silver_to_gold.py — full-table GROUP BY each run).
  * That is O(history) work for O(day) new data; at 100 TB the standing
  * table must be maintained incrementally: aggregate ONLY the new
  * partition, then merge it into the gold table by key. This works for
  * any commutative-mergeable measure kept in mergeable form — sums,
  * counts, min/max (avg is stored as sum+count and divided at read time;
  * the same discipline the streaming windowed agg uses).
  *
  * Scale shape: `merge` is union → re-aggregate, so partial aggregation
  * combines map-side and the single shuffle carries |gold keys| +
  * |increment keys| rows — never the facts. The increment side is the
  * day's aggregate (tiny); gold is read and rewritten once per refresh,
  * or per-partition when gold itself is partitioned (e.g. by month).
  */
object IncrementalAgg {

  /** Merge an aggregated increment into a standing aggregate: rows are
    * combined per key with SUM over `sums` (counts are sums), MIN over
    * `mins`, MAX over `maxs`. Both inputs must carry exactly
    * keys ++ sums ++ mins ++ maxs. */
  def merge(gold: DataFrame, increment: DataFrame, keys: Seq[String],
      sums: Seq[String], mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil): DataFrame = {
    val expect = (keys ++ sums ++ mins ++ maxs).sorted
    require(gold.columns.sorted.sameElements(expect) &&
      increment.columns.sorted.sameElements(expect),
      s"aggregate merge expects columns $expect, got " +
        s"gold=${gold.columns.sorted.toSeq} inc=${increment.columns.sorted.toSeq}")
    val measures: Seq[Column] =
      sums.map(c => sum(col(c)).as(c)) ++
        mins.map(c => min(col(c)).as(c)) ++ maxs.map(c => max(col(c)).as(c))
    gold.unionByName(increment)
      .groupBy(keys.map(col): _*)
      .agg(measures.head, measures.tail: _*)
  }

  /** [[merge]] extended with sketch-form measures: `sketches` names
    * binary HLL sketch columns ([[graft.operators.Sketches.build]]'s
    * output, distinct counts), `kllSketches` names binary KLL sketch
    * columns ([[graft.operators.Kll.build]]'s output, quantiles) and
    * `thetaSketches` names binary theta sketch columns
    * ([[graft.operators.Theta.build]]'s output, set algebra), each
    * combined per key with a lossless sketch union. Exact distinct and
    * exact quantiles are NOT mergeable — `distinct(a ∪ b)` / an exact
    * percentile of `a ∪ b` cannot be computed from the per-side results
    * — which is exactly why the reference recomputes gold from full
    * history; keeping the MEASURE in mergeable sketch form closes the
    * last gap in O(day) maintenance. Read estimates off with
    * [[graft.operators.Sketches.estimate]] /
    * [[graft.operators.Kll.quantiles]]. */
  def mergeWithSketches(gold: DataFrame, increment: DataFrame,
      keys: Seq[String], sums: Seq[String], mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil, sketches: Seq[String] = Nil,
      kllSketches: Seq[String] = Nil,
      thetaSketches: Seq[String] = Nil): DataFrame = {
    val expect = (keys ++ sums ++ maxs ++ mins ++ sketches ++ kllSketches ++
      thetaSketches).sorted
    require(gold.columns.sorted.sameElements(expect) &&
      increment.columns.sorted.sameElements(expect),
      s"aggregate merge expects columns $expect, got " +
        s"gold=${gold.columns.sorted.toSeq} inc=${increment.columns.sorted.toSeq}")
    val measures: Seq[Column] =
      sums.map(c => sum(col(c)).as(c)) ++
        mins.map(c => min(col(c)).as(c)) ++
        maxs.map(c => max(col(c)).as(c)) ++
        sketches.map(c => hll_union_agg(col(c),
          allowDifferentLgConfigK = false).as(c)) ++
        kllSketches.map(c => kll_merge_agg_double(col(c)).as(c)) ++
        thetaSketches.map(c => theta_union_agg(col(c),
          graft.operators.Theta.UnionLgK).as(c))
    gold.unionByName(increment)
      .groupBy(keys.map(col): _*)
      .agg(measures.head, measures.tail: _*)
  }
}
