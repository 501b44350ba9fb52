package graft.props

import org.scalacheck.{Gen, Prop, Properties}

import graft.TestSpark
import graft.operators.{Kll, Theta}
import org.apache.spark.sql.functions._

/** Randomized cross-checks for the sketch families' EXACT regimes — the
  * regimes the DuckDB oracles (q164–q167) rely on. For random seeded
  * inputs under capacity:
  *  - theta: estimate / intersection / difference over two random sets
  *    equal the exact Scala Set algebra (any inexactness here would
  *    silently poison q167's oracle claim);
  *  - KLL: every integer-percent quantile equals the exact order
  *    statistic under the INCLUSIVE rank rule `100·cum >= p·n`.
  * Inputs are seeded per trial so failures reproduce exactly; trial
  * count is bounded (Spark jobs are not free).
  */
object SketchProps extends Properties("graft.sketches") {
  private lazy val spark = TestSpark.spark

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(8)

  property("theta exact-mode set algebra == Set algebra") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue / 2)) { seed =>
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      val universe = 2000
      val a = Set.fill(200 + rnd.nextInt(400))(rnd.nextInt(universe).toLong)
      val b = Set.fill(200 + rnd.nextInt(400))(rnd.nextInt(universe).toLong)
      val df = (a.toSeq.map(("A", _)) ++ b.toSeq.map(("B", _)))
        .toDF("seg", "uid")
      val got = Theta.pairwiseOverlap(
          Theta.build(df, Seq("seg"), "uid", lgK = 12), "seg")
        .collect().head
      got.getLong(2) == a.size.toLong &&
        got.getLong(3) == b.size.toLong &&
        got.getLong(4) == (a intersect b).size.toLong &&
        got.getLong(5) == (a diff b).size.toLong
    }

  // r7 verdict item 7: the incremental-gold merge path (q163/q165/q167
  // family) replayed under a RANDOM history/increment cut — any split
  // point (including 0 and n: one side a completely empty day set),
  // STRING keys and uids, all three sketch families merged at once.
  // merged == full recompute: counts and theta exactly (exact mode),
  // KLL median exactly (exact retention ⇒ union is the same multiset),
  // HLL within 5% of exact distinct (the union path drops the
  // order-dependent HIP estimator, so bit-equality to the one-shot
  // sketch is NOT guaranteed — the q163 users_est_ok discipline).
  property("random day-split sketch merge == full recompute") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue / 2)) { seed =>
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      val days = IndexedSeq("2026-01-01", "2026-01-02", "2026-01-03")
      val n = 60 + rnd.nextInt(240)
      val rows = IndexedSeq.fill(n)((days(rnd.nextInt(days.size)),
        s"u${rnd.nextInt(500)}", rnd.nextInt(1000).toDouble))
      val cut = rnd.nextInt(n + 1)
      def aggOf(part: Seq[(String, String, Double)]) = {
        val df =
          if (part.isEmpty)
            Seq.empty[(String, String, Double)].toDF("day", "uid", "v")
          else part.toDF("day", "uid", "v")
        df.groupBy(col("day")).agg(count(lit(1)).as("n"),
          hll_sketch_agg(col("uid")).as("h"),
          theta_sketch_agg(col("uid"), 12).as("th"),
          kll_sketch_agg_double(col("v"), 1024).as("vq"))
      }
      val merged = graft.pipeline.IncrementalAgg.mergeWithSketches(
        aggOf(rows.take(cut)), aggOf(rows.drop(cut)),
        keys = Seq("day"), sums = Seq("n"), sketches = Seq("h"),
        kllSketches = Seq("vq"), thetaSketches = Seq("th"))
      val got = merged.select(col("day"), col("n"),
          hll_sketch_estimate(col("h")).as("hest"),
          theta_sketch_estimate(col("th")).as("test"),
          kll_sketch_get_quantile_double(col("vq"), lit(0.5d)).as("med"),
          kll_sketch_get_n_double(col("vq")).as("kn"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
            r.getLong(5))))
        .toMap
      val byDay = rows.groupBy(_._1)
      byDay.keySet == got.keySet && byDay.forall { case (d, rs) =>
        val (cnt, hest, test, med, kn) = got(d)
        val distinct = rs.map(_._2).distinct.size.toLong
        val sorted = rs.map(_._3).sorted
        val exactMed = sorted(
          sorted.indices.find(i => 2L * (i + 1) >= rs.size).get)
        cnt == rs.size.toLong && kn == rs.size.toLong &&
          test == distinct &&
          math.abs(hest - distinct) <= math.max(1L, distinct / 20) &&
          med == exactMed
      }
    }

  property("KLL exact-regime quantiles == order statistics") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue / 2)) { seed =>
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      val n = 50 + rnd.nextInt(900)            // < k=1024: exact retention
      val vals = IndexedSeq.fill(n)(rnd.nextInt(10000).toDouble)
      val pcts = Seq(1, 10, 25, 50, 75, 90, 99, 100)
      val got = Kll.quantiles(
          Kll.build(vals.map(Tuple1(_)).toDF("v"), Nil, "v", k = 1024),
          Nil, pcts)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val sorted = vals.sorted
      pcts.forall { p =>
        val exact = sorted(
          sorted.indices.find(i => 100L * (i + 1) >= p.toLong * n).get)
        got(p.toLong) == exact
      }
    }
}
