package graft.operators

import graft.SparkSpec

class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  // brute-force per-node triangle memberships over the simple graph
  private def local(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .filter(p => p._1 < p._2).distinct.toSet
    val nodes = und.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val tris = for {
      i <- nodes; j <- nodes if i < j && und((i, j))
      k <- nodes if j < k && und((j, k)) && und((i, k))
    } yield (i, j, k)
    tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Triangles.perNode(edges.toDF("src", "dst"), "src", "dst")
      .rows.map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("one triangle counts once at each corner") {
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("direction, duplicates and self-loops are ignored") {
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 1L), (2L, 2L))
    assert(run(e) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("K4 gives every node 3 triangles; nodes outside triangles are absent") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val e = k4 ++ Seq((3L, 9L)) // pendant node 9: in no triangle
    val got = run(e)
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("hub-heavy skew graph matches brute force (orientation stress)") {
    // hub 0 connected to all; ring among the spokes creates triangles
    val n = 14L
    val hub = (1L until n).map(i => (0L, i))
    val ring = (1L until n).map(i => (i, if (i == n - 1) 1L else i + 1))
    val e = hub ++ ring
    assert(run(e) == local(e))
  }

  test("matches brute force on random graphs") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val e = Seq.fill(80)(
        (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      assert(run(e) == local(e), s"drift at seed=$seed")
    }
  }

  test("derived bloom gate: two-sided memory budget, floor applied, " +
      "results identical with the gate forced on and off") {
    val gate = Triangles.derivedGate(spark)
    // floor and ceiling sanity: at least the 1M floor, and the blob
    // the gate allows (10 bits/edge) fits inside 1/32 of this heap
    assert(gate >= 1000000L)
    assert(gate * 10L / 8L <= Runtime.getRuntime.maxMemory / 32)
    // executor side binds on this box: heap/(4*threads) < heap/32
    // whenever local[n] has n > 8 — recompute the expected min here
    val threads = spark.sparkContext.defaultParallelism
    val expected = (math.min(Runtime.getRuntime.maxMemory / 32,
      Runtime.getRuntime.maxMemory / (4L * threads)) * 8L / 10L)
      .max(1000000L)
    assert(gate == expected, s"gate=$gate expected=$expected")
    // the session-conf knob overrides derivation; an explicit argument
    // overrides both (resolution order is part of the ops contract)
    spark.conf.set(Triangles.GateConfKey, "0")
    try {
      // conf gate 0 ⇒ the DeriveGate default must take the no-bloom
      // branch — identical results either way, so assert via plan-free
      // equality against an explicit-arg run below
      val confGated = Triangles
        .perNode(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"),
          "src", "dst", intersectMaxEdges = 0L)
        .rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(confGated == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      // and the conf is genuinely consulted: an unparseable value fails
      // loudly on the DeriveGate path (bad config must not be ignored)
      spark.conf.set(Triangles.GateConfKey, "not-a-number")
      intercept[NumberFormatException] {
        Triangles.perNode(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst")
          .rows
      }
    } finally spark.conf.unset(Triangles.GateConfKey)
    // semantics never depend on the gate (advisory filter discipline)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val withBloom = Triangles
      .perNode(e.toDF("src", "dst"), "src", "dst", bloomMaxEdges = 1000000L,
        intersectMaxEdges = 0L)
      .rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val noBloom = Triangles
      .perNode(e.toDF("src", "dst"), "src", "dst", bloomMaxEdges = 0L,
        intersectMaxEdges = 0L)
      .rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withBloom == noBloom && withBloom == run(e))
  }

  test("edge-iterator path == wedge/bloom path == brute force (r17)") {
    // the r17 merge-intersection fast path must be indistinguishable
    // from the wedge enumeration on every graph shape: random, skewed,
    // and triangle-free
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new scala.util.Random(seed)
      val e = Seq.fill(150)(
        (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      val df = e.toDF("src", "dst")
      def m(iGate: Long) = Triangles
        .perNode(df, "src", "dst", intersectMaxEdges = iGate)
        .rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaIntersect = m(1000000L) // forced on (edge count ≪ gate)
      val viaWedges = m(0L)          // forced off
      assert(viaIntersect == viaWedges, s"path drift at seed=$seed")
      assert(viaIntersect == local(e), s"brute-force drift at seed=$seed")
    }
    // triangle-free graph: both paths return zero rows (not a crash on
    // the empty-checkpoint edge)
    val path2 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Triangles.perNode(path2, "src", "dst",
      intersectMaxEdges = 1000000L).rows.isEmpty)
    assert(Triangles.perNode(path2, "src", "dst",
      intersectMaxEdges = 0L).rows.isEmpty)
  }

  test("degree-table broadcast is gated by the edge-iterator budget, " +
      "inclusive at the boundary; a disabled gate never broadcasts") {
    assert(Triangles.broadcastDegrees(nEdges = 1000L, intersectGate = 1000L))
    assert(!Triangles.broadcastDegrees(nEdges = 1001L, intersectGate = 1000L))
    assert(Triangles.broadcastDegrees(nEdges = 0L, intersectGate = 1L))
    assert(!Triangles.broadcastDegrees(nEdges = 0L, intersectGate = 0L))
  }

  test("intersect gate: conf knob overrides derivation, argument wins") {
    val df = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // derived default: bloom gate / 13
    assert(Triangles.resolveIntersectGate(spark, Triangles.DeriveGate) ==
      Triangles.derivedGate(spark) / 13L)
    spark.conf.set(Triangles.IntersectGateConfKey, "7")
    try {
      assert(Triangles.resolveIntersectGate(spark,
        Triangles.DeriveGate) == 7L)
      // explicit argument still wins over the conf
      assert(Triangles.resolveIntersectGate(spark, 42L) == 42L)
      // a conf-disabled intersect path (0) still answers correctly
      spark.conf.set(Triangles.IntersectGateConfKey, "0")
      assert(Triangles.perNode(df, "src", "dst")
        .rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    } finally spark.conf.unset(Triangles.IntersectGateConfKey)
  }
}
