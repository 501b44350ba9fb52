package graft.pipeline

import graft.SparkSpec

class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  test("merge combines overlapping and disjoint keys; min/max/sum semantics") {
    val gold = Seq(("a", 2L, 10.0, 1.0, 5.0), ("b", 1L, 3.0, 3.0, 3.0))
      .toDF("k", "n", "total", "vmin", "vmax")
    val inc = Seq(("a", 1L, 7.0, 0.5, 2.0), ("c", 4L, 8.0, 2.0, 2.0))
      .toDF("k", "n", "total", "vmin", "vmax")
    val out = IncrementalAgg.merge(gold, inc, Seq("k"),
        sums = Seq("n", "total"), mins = Seq("vmin"), maxs = Seq("vmax"))
      .orderBy("k")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq(
      ("a", 3L, 17.0, 0.5, 5.0),
      ("b", 1L, 3.0, 3.0, 3.0),
      ("c", 4L, 8.0, 2.0, 2.0)))
  }

  test("mergeWithSketches: incremental distinct == full recompute, sums exact") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches
    val facts = (1 to 2000).map { i =>
      (if (i % 3 == 0) "a" else "b", i % 2 + 1, (i * 31) % 700L, i.toLong)
    }.toDF("k", "day", "uid", "amount")
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(
        sum(col("amount")).as("total"),
        hll_sketch_agg(col("uid"), 12).as("users"))
    val gold = aggOf(facts.filter(col("day") === 1))
    val inc = aggOf(facts.filter(col("day") === 2))
    val merged = IncrementalAgg.mergeWithSketches(gold, inc, Seq("k"),
      sums = Seq("total"), sketches = Seq("users"))
    val got = Sketches.estimate(merged, Seq("k", "total"), "users")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // sums merge EXACTLY; distinct estimates are gated against exact
    // counts (sketch union is not bit-identical to a direct sketch)
    val exactTotals = facts.groupBy("k").agg(
        sum(col("amount")).as("t"), countDistinct(col("uid")).as("d"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    exactTotals.foreach { case (k, (t, d)) =>
      val (gt, gd) = got(k)
      assert(gt == t, s"key $k: merged sum $gt != exact $t")
      assert(math.abs(gd - d).toDouble / d < 0.05,
        s"key $k: merged distinct est $gd vs exact $d")
    }
  }

  test("mergeWithSketches: KLL quantile columns union losslessly (exact regime)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Kll
    val facts = (1 to 600).map { i =>
      (if (i % 2 == 0) "old" else "new", s"k${i % 3}",
        ((i.toLong * 131) % 1000).toDouble)
    }.toDF("batch", "k", "v")
    def aggOf(b: String) = Kll.build(
      facts.filter(col("batch") === b).drop("batch"), Seq("k"), "v", k = 2048)
    val merged = IncrementalAgg.mergeWithSketches(aggOf("old"), aggOf("new"),
      Seq("k"), sums = Nil, kllSketches = Seq("kll"))
    val direct = Kll.build(facts.drop("batch"), Seq("k"), "v", k = 2048)
    val qs = Seq(25, 50, 75, 100)
    def read(df: org.apache.spark.sql.DataFrame) =
      Kll.quantiles(df, Seq("k"), qs).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(read(merged) == read(direct),
      "incrementally merged KLL diverged from direct build in exact regime")
  }

  test("mergeWithSketches: theta columns union losslessly (exact mode)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Theta
    val facts = (0 until 800).map { i =>
      (if (i % 2 == 0) "old" else "new", s"k${i % 2}", (i % 300).toLong)
    }.toDF("batch", "k", "uid")
    def aggOf(b: String) = Theta.build(
      facts.filter(col("batch") === b).drop("batch"), Seq("k"), "uid",
      lgK = 12)
    val merged = IncrementalAgg.mergeWithSketches(aggOf("old"), aggOf("new"),
      Seq("k"), sums = Nil, thetaSketches = Seq("theta"))
    val est = merged
      .select(col("k"), theta_sketch_estimate(col("theta")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // k0 holds even i: uid = i%300 over even i → 150 distinct... replay:
    val exact = facts.groupBy("k").agg(countDistinct(col("uid")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == exact, s"merged theta $est != exact $exact")
  }

  test("q163: incremental refresh == full recompute on the events fixture") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.ExtQueries.q163IncrementalRefresh(
      spark, "/root/testdata/sf0.001")
    val full = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(to_date(col("ts")).as("event_date"), col("user_id"), col("value"))
      .groupBy("event_date")
      .agg(count(lit(1)).as("event_count"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"),
        min(col("value")).as("value_min"), max(col("value")).as("value_max"))
      .orderBy("event_date")
    val gotRows = out.collect()
    assert(gotRows.nonEmpty)
    assert(gotRows.forall(_.getLong(5) == 1L),
      "HLL estimate drifted >5% from exact distinct on some day")
    val got = gotRows.map(r => (r.getDate(0).toString, r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    val exp = full.collect().map(r => (r.getDate(0).toString, r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == exp, "merged exact measures differ from full recompute")
  }

  test("merge rejects mismatched columns") {
    val gold = Seq(("a", 1L)).toDF("k", "n")
    val inc = Seq(("a", 1L, 2.0)).toDF("k", "n", "extra")
    intercept[IllegalArgumentException] {
      IncrementalAgg.merge(gold, inc, Seq("k"), sums = Seq("n"))
    }
  }
}
