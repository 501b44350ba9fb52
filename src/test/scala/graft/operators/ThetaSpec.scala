package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ThetaSpec extends SparkSpec {
  import spark.implicits._

  test("exact mode: estimate, intersection and difference are exact") {
    // segments with known overlap structure: A = 0..599, B = 300..899,
    // C = 600..1199 — all under nominal 2^12
    val rows =
      (0 until 600).map(i => ("A", i.toLong)) ++
      (300 until 900).map(i => ("B", i.toLong)) ++
      (600 until 1200).map(i => ("C", i.toLong))
    val df = rows.toDF("seg", "uid")
    val sk = Theta.build(df, Seq("seg"), "uid", lgK = 12)
    val got = Theta.pairwiseOverlap(sk, "seg").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(("A", "B")) == ((600L, 600L, 300L, 300L)))
    assert(got(("B", "C")) == ((600L, 600L, 300L, 300L)))
    assert(got(("A", "C")) == ((600L, 600L, 0L, 600L)))
  }

  test("rollup union == direct build (daily sketches fold losslessly)") {
    val rows = (0 until 2000).map(i => (s"d${i % 4}", (i % 500).toLong))
    val df = rows.toDF("day", "uid")
    val direct = Theta.build(df.withColumn("all", lit(1)), Seq("all"),
      "uid", lgK = 12)
    val merged = Theta.rollup(
      Theta.build(df.withColumn("all", lit(1)), Seq("all", "day"), "uid",
        lgK = 12), Seq("all"))
    def est(x: org.apache.spark.sql.DataFrame) =
      x.select(theta_sketch_estimate(col("theta"))).collect().head.getLong(0)
    assert(est(direct) == 500L)
    assert(est(merged) == 500L)
    // lgK=14 day sketches whose union (5 000 ids) outgrows 2^12: every
    // input is exact, so the rollup must be too — a union buffer below
    // lgK 14 would drop the result into estimation mode
    val big = (0 until 8000).map(i =>
      (s"d${i / 2000}", (i % 2000 + (i / 2000) * 1000).toLong))
      .toDF("day", "uid").withColumn("all", lit(1))
    val bigMerged = Theta.rollup(
      Theta.build(big, Seq("all", "day"), "uid", lgK = 14), Seq("all"))
    assert(est(bigMerged) == 5000L)
  }

  test("estimation mode: relative error within theta bounds") {
    val n = 200000
    val df = (1 to n).map(_.toLong).toDF("uid")
    val sk = Theta.build(df, Nil, "uid", lgK = 12)
    val est = sk.select(theta_sketch_estimate(col("theta")))
      .collect().head.getLong(0)
    // RSE ~ 1/sqrt(2^12) ≈ 1.6%; allow 5%
    assert(math.abs(est.toDouble - n) / n < 0.05, s"estimate $est vs $n")
  }

  test("string keys hash consistently across build and union") {
    val df = Seq("x", "y", "z", "x", "y").map(Tuple1(_)).toDF("k")
    val direct = Theta.build(df, Nil, "k", lgK = 12)
    assert(direct.select(theta_sketch_estimate(col("theta")))
      .collect().head.getLong(0) == 3L)
  }
}
