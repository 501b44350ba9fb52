package graft.queries

import graft.SparkSpec

/** Structural plan assertions: these queries must keep the physical shape
  * that makes them scale (pushdown into the scan, broadcast for bounded
  * dims, TakeOrderedAndProject for top-k). A regression here is a
  * performance bug even while results stay correct. */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q03 cleanse pushes every predicate into the parquet scan") {
    val p = plan("q03_cleanse_lineitem")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.01)"), p)
    assert(!p.contains("PushedFilters: []"), p)
  }

  test("q02 star join broadcasts the dimension sides") {
    val p = plan("q02_star_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q18 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q18_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q30 cosine top-k broadcasts the query vector (no shuffle of the corpus)") {
    val p = plan("q30_cosine_topk")
    assert(p.contains("Broadcast"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("graft_cosine"), p) // custom codegen'd expression in use
  }

  test("q01 aggregate is partial+final (map-side combine)") {
    val p = plan("q01_lineitem_agg")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
    assert(p.split("HashAggregate").length >= 3, p) // partial + final
  }

  test("q95 chunking is scan-side: zero exchanges in the whole plan") {
    val p = plan("q95_chunk_docs")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("graft_token_chunks"), p) // codegen expression in use
  }

  test("q87 merge broadcasts the change-set key side of the anti join") {
    val p = plan("q87_merge_upsert")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("q91 quantized top-k: quantization inside the scan projection, " +
      "broadcast query, TakeOrderedAndProject") {
    val p = plan("q91_quantized_topk")
    assert(p.contains("graft_quantize_int8"), p)
    assert(p.contains("Broadcast"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q103 keyword top-k prunes groups before the shuffle (WindowGroupLimit)") {
    val p = plan("q103_keywords")
    // partial group-limit on the map side AND final after the exchange —
    // without it the full (doc, term) score stream shuffles into the rank
    assert(p.split("WindowGroupLimit").length >= 3, p)
    assert(p.contains("BroadcastHashJoin"), p) // df joined broadcast, never shuffled-merge
  }

  test("q104 span dedup partial-aggregates before both exchanges (skew guard)") {
    val p = plan("q104_span_dedup")
    // the winner SortAggregate must appear on BOTH sides of its exchange:
    // partial (map-side collapse of hot spans) + final
    assert(p.split("SortAggregate").length >= 3, p)
    assert(!p.contains("Window"), p) // the hot-key window-rank form is banned
  }

  test("q164 KLL build partial-aggregates sketches map-side (ObjectHashAggregate)") {
    val p = plan("q164_kll_quantiles")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_kll_sketch_agg_double"), p)
    // the scan reads only the three needed columns
    assert(p.contains("ReadSchema: struct<lang:string,source:string,n_chars:bigint>"), p)
  }

  test("q167 theta build partial-aggregates sketches map-side") {
    val p = plan("q167_theta_overlap")
    assert(p.contains("partial_theta_sketch_agg"), p)
    assert(p.contains("partial_theta_union_agg"), p)
  }

  test("pagerank iteration broadcasts the rank state under the gate") {
    // the checkpointed form's final plan is an RDD scan, so inspect the
    // operator's lazy form: the |V|-row state must broadcast — the
    // static |E| edge table is never exchanged per iteration
    import org.apache.spark.sql.functions.col
    val edges = graft.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
    val p = graft.operators.PageRank
      .run(edges, "src", "dst", iters = 1, materializePerIteration = false)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q159 triangles: edge-iterator path under the default gate " +
      "(no wedge stream, no bloom, no closing join)") {
    val p = plan("q159_triangles")
    // sf0.001 is far below the derived intersect gate, so the plan must
    // be the Chiba–Nishizeki form: a Union of two scans over the
    // checkpointed (u, v, ws, n) intersections — the wedge Generate
    // (slice over the neighbor array), the bloom filter and the closing
    // join are all legitimately absent. graft_sorted_intersect itself
    // executes while materializing the ws checkpoint, so the FINAL plan
    // is checked by shape (SortedIntersectSpec pins the expression).
    assert(!p.contains("might_contain"), p)
    assert(!p.contains("slice("), p)         // wedge-stream generator
    assert(!p.contains("Join"), p)           // closing join eliminated
    assert(p.contains("Union"), p)
    assert(p.split("Scan ExistingRDD").length >= 3, p) // ws scanned twice
  }

  test("q159 triangles: bloom semi-join guards the closing join when the " +
      "edge-iterator path is disabled") {
    val key = graft.operators.Triangles.IntersectGateConfKey
    spark.conf.set(key, "0")
    try {
      val p = plan("q159_triangles")
      // the wedge stream is filtered by might_contain BEFORE the closing
      // join's exchange — without it 20x the triangle count crosses the wire
      assert(p.contains("might_contain"), p)
    } finally spark.conf.unset(key)
  }

  test("q27 pins the banded-candidates window exchange to the configured " +
      "parallelism (REPARTITION_BY_NUM, exempt from byte-based coalescing)") {
    val p = plan("q27_minhash_pairs")
    // the whole candidate+verify chain fuses into the window's stage;
    // an AQE-coalesced 1-partition exchange serializes it (r18: one
    // 1.1 s task while 31 cores idled)
    assert(p.contains("REPARTITION_BY_NUM"), p)
  }

  test("q108 outliers broadcast the per-group moments over the scan") {
    val p = plan("q108_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    // moment aggregation is partial+final, one scan feeding each side
    assert(p.split("HashAggregate").length >= 3, p)
  }

  // Shuffle budgets: every Exchange is a full network pass over the
  // operator's data; these counts ARE the scale design. A regression
  // that adds one is a performance bug even while results stay correct.
  private def shuffles(name: String): Int =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllMatchIn(plan(name)).length

  test("shuffle budgets hold for the data-movement-critical operators") {
    assert(shuffles("q22_dedup_exact") == 1,
      s"q22: ${shuffles("q22_dedup_exact")}")
    assert(shuffles("q104_span_dedup") == 2, // winner agg + reassembly
      s"q104: ${shuffles("q104_span_dedup")}")
    assert(shuffles("q80_pack_bins") == 1,   // the sharded window
      s"q80: ${shuffles("q80_pack_bins")}")
    // packBins' shard partitioning must be REUSED by the (shard, bin)
    // reassembly group — a second exchange means the subset rule broke
    assert(shuffles("q118_packed_sequences") == 1,
      s"q118: ${shuffles("q118_packed_sequences")}")
    assert(shuffles("q110_funnel") == 1,     // three stages, ONE exchange
      s"q110: ${shuffles("q110_funnel")}")
    // q27 verifies candidates against per-doc sorted shingle-hash arrays
    // (one checkpointed row per doc): no shingle explode, and no join,
    // aggregate or exchange over a per-shingle `sh` column. At this scale
    // an exploded verify's (id_b, sh) join plans as a broadcast, so the
    // check covers every operator, not only exchanges.
    val q27 = plan("q27_minhash_pairs")
    // band-cell stats once per consumer branch (3), the three pinned
    // doc-id window exchanges, the candidate distinct
    assert(shuffles("q27_minhash_pairs") == 7,
      s"q27: ${shuffles("q27_minhash_pairs")}")
    assert(!q27.contains("Generate explode"), q27)
    assert("""\bsh#\d""".r.findFirstIn(q27).isEmpty, q27)
  }
}
