package graft.operators

import graft.util.Ckpt.CkptOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact triangle counting (public algorithm: degree-oriented
  * node-iterator — Cohen, "Graph twiddling in a MapReduce world", 2009;
  * Suri & Vassilvitskii, WWW 2011) — the clustering-coefficient /
  * community-density primitive of the graph family alongside
  * [[PageRank]] and [[LabelProp]].
  *
  * Every edge is oriented from its lower-(degree, id) endpoint to the
  * higher one; wedges are enumerated only at each edge's SOURCE, so the
  * per-node wedge count is bounded by out-degree², and under degree
  * orientation max out-degree is O(√|E|) — total wedge volume is
  * O(|E|^1.5) regardless of skew (a raw id-orientation puts all wedges
  * on low-id hubs and can be quadratic on one reducer). Each triangle
  * has exactly one vertex with out-edges to the other two, and its
  * closing edge appears in exactly one orientation, so each triangle
  * materializes exactly once — no post-hoc dedup. All arithmetic is
  * integer; the oracle can replay with the simpler a<b<c 3-way
  * self-join (orientation changes intermediate sizes, never results).
  *
  * Scale shape: degrees are one partial agg; orientation one join; the
  * wedge self-join and the closing-edge join shuffle on node ids only
  * (12–24 bytes/row). localCheckpoints keep the oriented edge table
  * single-derivation across its three consumers. */
object Triangles {

  /** Sentinel default for `bloomMaxEdges`: derive the gate from the
    * deployment's memory via [[derivedGate]] at call time, unless the
    * session pins it with [[GateConfKey]]. */
  val DeriveGate: Long = -1L

  /** Session-conf override for the bloom gate (edges; 0 disables the
    * filter) — lets operations re-budget a deployment without a code
    * change when the heap heuristic misjudges (e.g. the JVM is shared
    * with a memory-hungry co-tenant). An explicit `bloomMaxEdges`
    * argument still wins over the conf. */
  val GateConfKey = "spark.graft.triangles.bloomMaxEdges"

  /** Session-conf override for the edge-iterator gate (edges; 0 disables
    * the path) — same override ladder as [[GateConfKey]]. */
  val IntersectGateConfKey = "spark.graft.triangles.intersectMaxEdges"

  /** Two-sided memory budget for the bloom wedge filter, in EDGES
    * (blob bytes = edges × 10 / 8):
    *  - driver side: the blob is collected to, and rebroadcast from,
    *    the driver — cap it at 1/32 of the driver heap (the JVM this
    *    code runs in, so `Runtime.maxMemory` is the real number, not a
    *    conf default);
    *  - executor side: BloomFilterAggregate allocates a FULL-numBits
    *    sketch per build task, so the bound is per-JVM concurrent
    *    build tasks × blob ≤ 1/4 of executor heap. Concurrent tasks =
    *    `spark.executor.cores` when set (cluster), else the local[n]
    *    thread count (single-JVM deployments), else 4.
    * The min of the two sides is the gate; a 1M-edge floor keeps a
    * tiny test heap from silently disabling the filter (1.25 MB blob
    * fits any JVM that can run Spark at all). */
  def derivedGate(spark: org.apache.spark.sql.SparkSession): Long = {
    val sc = spark.sparkContext
    val driverHeap = Runtime.getRuntime.maxMemory
    val execHeap = sc.getConf.getOption("spark.executor.memory")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(driverHeap)
    val tasksPerJvm = sc.getConf.getOption("spark.executor.cores")
      .map(_.toInt)
      .getOrElse(if (sc.master.startsWith("local")) sc.defaultParallelism
      else 4)
    val blobBudgetBytes =
      math.min(driverHeap / 32, execHeap / (4L * tasksPerJvm.max(1)))
    (blobBudgetBytes * 8L / 10L).max(1000000L)
  }

  /** THE gate resolution — explicit argument > session conf (the ops
    * knob: re-budget a deployment with no code change) > derived from
    * memory. Shared by [[perNode]] and every probe/report that records
    * which gate a run used ([[graft.ScaleProbe]]): a second copy of
    * this order is how a probe ends up logging a different gate than
    * the run actually resolved. */
  def resolveGate(spark: org.apache.spark.sql.SparkSession,
      bloomMaxEdges: Long): Long =
    if (bloomMaxEdges != DeriveGate) bloomMaxEdges
    else spark.conf.getOption(GateConfKey).map(_.toLong)
      .getOrElse(derivedGate(spark))

  /** Edge-iterator gate (same ladder): the whole oriented ADJACENCY
    * (|E| longs in per-source arrays, ~16 bytes/edge hashed with row
    * overhead and safety margin vs the bloom's 1.25) must fit the same
    * two-sided blob budget as the bloom, so the derived gate is the
    * bloom gate ÷ 12.8 — ~4M edges on an 8 GB/local[32] sandbox, ~64M
    * on a 64 GB-driver production profile. */
  def resolveIntersectGate(spark: org.apache.spark.sql.SparkSession,
      intersectMaxEdges: Long): Long =
    if (intersectMaxEdges != DeriveGate) intersectMaxEdges
    else spark.conf.getOption(IntersectGateConfKey).map(_.toLong)
      .getOrElse(derivedGate(spark) / 13L)

  /** Whether the degree table is broadcast for the orientation joins. It
    * holds |V| ≤ 2|E| rows of ~16 bytes — a hash relation, not a bloom
    * blob — so its budget is the edge-iterator gate, the one sized for a
    * relation of ~16 bytes per edge; the bloom gate budgets 1.25 bytes
    * per edge and would admit a multi-GB build near its limit. A
    * disabled gate (0) never broadcasts. */
  private[operators] def broadcastDegrees(nEdges: Long,
      intersectGate: Long): Boolean =
    intersectGate > 0L && nEdges <= intersectGate

  /** (node, n_triangles) — exact per-node triangle memberships over the
    * undirected simple graph induced by `edges` (direction and
    * duplicates ignored, self-loops dropped). Nodes in no triangle are
    * omitted.
    *
    * `bloomMaxEdges`: the wedge stream is |E|·out-deg rows — 40M+ on
    * dense co-occurrence graphs, 20× the triangle count — and pushing
    * it through the closing join's exchange is most of the query's
    * cost. When the edge count is under the gate, a BLOOM of the
    * oriented edge keys (xxhash64(u,v), 10 bits/edge ⇒ fpp <1%, 16M
    * edges = 20 MB blob) is aggregated once and applied as a codegen'd
    * scan-side filter on (n2,n3) BEFORE the join — the semi-join
    * reduction Spark's runtime bloom filters perform when stats
    * trigger them (localCheckpointed frames have none). Only true
    * closing pairs and <1% false positives reach the exchange; the
    * exact join then discharges the fps, so results cannot change
    * (advisory-filter discipline). Above the gate the plain join runs
    * and O(|E|^1.5) wedge volume is the scale story.
    *
    * The gate is a MEMORY budget, not a correctness bound: 10
    * bits/edge means blob bytes = bloomMaxEdges × 10 / 8 (held once on
    * the driver, shipped once per stage with the task binary) — the
    * round-10 30× scale run measured the cliff of gating too low: at
    * 36M edges a 16M gate fell back to the plain join and the full
    * 1.2B-row wedge stream hit the exchange (q159 went 8.8× for 3×
    * data); raising the gate dropped >95% of wedges scan-side and the
    * ratio was linear again. The same number also bounds the build's
    * PARTIAL aggregation buffers — BloomFilterAggregate allocates a
    * full-numBits sketch per build task — so the gate is simultaneously
    * a per-task executor-memory budget during the one-pass build, which
    * is why it cannot just be "whatever the driver heap fits".
    *
    * Default ([[DeriveGate]]): computed from the deployment's memory at
    * call time by [[derivedGate]] rather than a sandbox constant —
    * min(driver-heap/32, executor-heap/(4 × concurrent tasks per
    * executor)) bytes of blob, both sides of the budget above. On this
    * sandbox (8 GB heap, local[32]) that lands at ~51M edges —
    * the same regime as round 10's hand-set 64M (the 30× probe's 35.9M
    * edges stay gated); a production 64 GB driver with 8-core/32 GB
    * executors derives ~800M edges (1 GB blob) without a code change.
    * Pass an explicit positive gate to pin it, or 0 to disable. */
  def perNode(edges: DataFrame, srcCol: String, dstCol: String,
      bloomMaxEdges: Long = DeriveGate,
      intersectMaxEdges: Long = DeriveGate): DataFrame = {
    val und = edges
      .select(least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .ckpt()
    // one explode pass, not a 2-arm union: each union arm is a separate
    // full read of the checkpointed edge blocks (~98 MB at sf0.1 — the
    // profiler showed this stage reading 196 MB); explode emits both
    // endpoints from a single pass and the partial agg dedups map-side
    val deg = und
      .select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // count() is a cheap block-manager scan on the checkpointed table
    // and is the exact statistic every gate decision needs. Counted on
    // `und`, BEFORE the orientation join: orientation maps each
    // undirected edge to exactly one oriented row (no filter, no dedup),
    // so |und| == |oriented| — and knowing it here lets the orientation
    // join pick its build side deliberately instead of from the
    // checkpointed table's static estimate (the planner was observed
    // BROADCASTING the |E|-row edge table and streaming the degree
    // table: a driver-side hash build of 1.2 M rows to avoid a 1.8 MB
    // exchange, guide §3.1 backwards).
    val nEdges = und.count()
    val gate = resolveGate(edges.sparkSession, bloomMaxEdges)
    val iGate = resolveIntersectGate(edges.sparkSession, intersectMaxEdges)
    // orient low-(d, n) → high-(d, n): struct comparison gives the
    // lexicographic (degree, id) total order directly
    // dv (degree of the edge's high endpoint) rides along so wedge tips
    // can be ordered by the SAME (degree, id) total order the closing
    // edge is oriented by — each tip pair is then emitted exactly once,
    // already in closing-edge orientation (halves the wedge volume vs
    // emitting both orders and letting the join discard one).
    // Build side: under the relation-size gate broadcast deg EXPLICITLY
    // and reuse the one relation for both endpoint joins (rename the
    // payload after each join, as with `adj` below); above it leave the
    // planner free — at that scale both sides are huge and sort-merge is
    // the right call anyway.
    val degB = if (broadcastDegrees(nEdges, iGate)) broadcast(deg) else deg
    val oriented = und
      .join(degB, col("a") === col("n"))
      .withColumnRenamed("d", "da").drop("n")
      .join(degB, col("b") === col("n"))
      .withColumnRenamed("d", "db").drop("n")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      .ckpt()
    // EDGE-ITERATOR fast path (Chiba–Nishizeki / Schank–Wagner forward
    // algorithm — the merge-intersection formulation of the same
    // degree-oriented enumeration): when the whole oriented adjacency
    // fits the broadcast budget, a triangle (u→v, u→w, v→w) is found at
    // its (u,v) edge as w ∈ N⁺(u) ∩ N⁺(v) — per-edge sorted-merge
    // intersection of broadcast neighbor arrays, NO wedge stream at all.
    // The wedge path below materializes |E|·out-deg candidate rows (41M
    // at sf0.1 for 1.9M triangles) just to re-discover this set through
    // a bloom filter + closing join; here the same answer costs one
    // adjacency groupBy plus a single |E|-row scan whose intersections
    // run as codegen'd primitive merges (SortedLongIntersect — the
    // built-in array_intersect hash-sets per ROW and measured 7× slower
    // on this stage). Identical results by the same exactly-once
    // orientation argument (TrianglesSpec pins path equality); the
    // bloom/wedge path stays the at-scale story — adjacency costs ~16
    // bytes/edge broadcast vs the bloom's 1.25, so its gate is 13×
    // lower and a 100 TB graph still runs the wedge form.
    if (nEdges <= iGate && iGate > 0L) {
      val adj = oriented.groupBy(col("u"))
        .agg(sort_array(collect_list(col("v"))).as("nbrs"))
        .select(col("u").as("k"), col("nbrs"))
      // ONE broadcast relation probed by both joins (rename the payload
      // AFTER each join, so the two broadcast subtrees stay canonically
      // identical and ReuseExchange ships the adjacency once) — the
      // aliased-before-join form built two separate broadcast exchanges,
      // doubling peak broadcast memory near the gate
      val adjB = broadcast(adj)
      // repartition before the intersect stage: AQE sizes the upstream
      // plan by SHUFFLE BYTES and coalesces the ≤12 MB oriented-edge
      // exchange to a handful of partitions, but the per-row work here
      // is a full Σ(|N⁺(u)|+|N⁺(v)|) merge — 130 M merge steps at sf0.1
      // were running on 3 tasks (2.4 s CPU, 0.8 s wall). The gate
      // BOUNDS the edge set (this branch only runs when |E| fits the
      // broadcast budget), so one extra exchange of the bounded set is
      // always cheap relative to the intersection compute it fans out.
      val wsAll = oriented.select(col("u"), col("v"))
        .repartition(col("u"))
        .join(adjB, col("u") === col("k"))
        .withColumnRenamed("nbrs", "anu").drop("k")
        .join(adjB, col("v") === col("k"))
        .withColumnRenamed("nbrs", "anv").drop("k")
        .select(col("u"), col("v"),
          org.apache.spark.sql.graft.ArrayFunctions
            .sortedIntersect(col("anu"), col("anv")).as("ws"))
        .withColumn("n", size(col("ws")).cast("long"))
        // checkpoint BEFORE the n > 0 filter: filtering first pushes the
        // predicate into the join as size(intersect) > 0, and the
        // projection then re-evaluates the intersect for every surviving
        // row — the checkpoint is a pushdown barrier, so each edge's
        // intersection is computed exactly once (the empty-intersection
        // rows the blocks now hold are 24-byte rows with empty arrays)
        .ckpt()
      // two consumers (corner counts, w explode) — same checkpoint
      // rationale as `oriented`
      val ws = wsAll.filter(col("n") > 0L)
      return ws
        .select(explode(array(
          struct(col("u").as("node"), col("n").as("c")),
          struct(col("v").as("node"), col("n").as("c")))).as("s"))
        .select(col("s.node").as("node"), col("s.c").as("c"))
        .unionAll(ws.select(explode(col("ws")).as("node"), lit(1L).as("c")))
        .groupBy(col("node")).agg(sum(col("c")).as("n_triangles"))
    }
    // wedges at u close against the oriented edge between the two tips;
    // tips ordered low-(d, n) → high-(d, n) match the closing edge's
    // orientation directly, so each triangle lands exactly once.
    // COMPACT-ADJACENCY enumeration, not a self-join: collect each
    // source's (dv, v)-sorted out-neighbor array (bounded O(√|E|) under
    // degree orientation) and emit its ordered pairs with codegen'd
    // generators — same 41M-row wedge stream, no merge-join machinery
    // per row (measured 4.3× on the wedge stage: 2.8 s → 0.64 s), and
    // one exchange of |E| rows instead of the join's two.
    val wedges = oriented
      .groupBy(col("u"))
      .agg(sort_array(collect_list(struct(col("dv"), col("v")))).as("nbrs"))
      .select(col("u").as("n1"),
        posexplode(col("nbrs")).as(Seq("i", "x")), col("nbrs"))
      .select(col("n1"), col("x.v").as("n2"),
        explode(expr("slice(nbrs, i + 2, size(nbrs) - i - 1)")).as("y"))
      .select(col("n1"), col("n2"), col("y.v").as("n3"))
    val candidates =
      if (nEdges > gate) wedges
      else {
        // one blob on the driver, bounded by the gate (10 bits/edge).
        // BloomFilterAggregate SILENTLY clamps to the runtime-filter
        // session caps (default 64M bits / 4M items — built for AQE's
        // auto-injected filters, not an explicit build): near the 16M
        // edge gate the requested 160M bits would quietly become an
        // 8 MB, ~4 bits/edge, ~10%-fpp filter. Raise the caps in an
        // ISOLATED session (newSession shares the SparkContext and the
        // checkpointed blocks but not the SQL conf — a concurrent query
        // on the caller's session never plans under the inflated caps,
        // and concurrent perNode calls cannot clobber each other's
        // save/restore) so 10 bits/edge (fpp <1%, 16M edges = 20 MB
        // blob) is what actually runs.
        val iso = edges.sparkSession.newSession()
        iso.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
          (10L * nEdges.max(1L)).toString)
        iso.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
          nEdges.max(1L).toString)
        val blob = org.apache.spark.sql.graft.BloomFunctions
          .inSession(iso, oriented)
          .agg(org.apache.spark.sql.graft.BloomFunctions.bloomAgg(
            xxhash64(col("u"), col("v")), nEdges.max(1L),
            10L * nEdges.max(1L)))
          .head().getAs[Array[Byte]](0)
        wedges.filter(org.apache.spark.sql.graft.BloomFunctions
          .mightContain(blob, xxhash64(col("n2"), col("n3"))))
      }
    val tri = candidates
      .join(oriented.as("c"),
        col("n2") === col("c.u") && col("n3") === col("c.v"))
      .select(col("n1"), col("n2"), col("n3"))
    // explode, not union-of-projections: a 3-branch Union re-derives the
    // two expensive joins three times (no auto plan reuse across
    // branches); explode counts all three corners in ONE derivation
    tri.select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }
}
