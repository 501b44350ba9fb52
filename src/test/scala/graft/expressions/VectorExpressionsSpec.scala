package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column) =
    spark.range(1).select(c.as("v")).rows.head

  test("CosineSimilarity matches the HOF formulation bit-for-bit") {
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val ad = a.cast("array<double>")
      val bd = b.cast("array<double>")
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
      dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
    }
    val vecs = Seq(
      (Seq(0.3f, -0.7f, 0.2f, 0.9f), Seq(0.1f, 0.5f, -0.4f, 0.8f)),
      (Seq(1.0f, 2.0f, 3.0f, 4.0f), Seq(4.0f, 3.0f, 2.0f, 1.0f))
    ).toDF("a", "b")
    val out = vecs.select(
      GraftFunctions.cosine(col("a"), col("b")).as("fast"),
      hofCosine(col("a"), col("b")).as("ref")).rows
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("DotProduct computes the inner product") {
    val d = one(GraftFunctions.dot(
      typedLit(Seq(1.0, 2.0, 3.0)), typedLit(Seq(4.0, 5.0, 6.0)))).getDouble(0)
    assert(d == 32.0)
  }

  test("null inputs propagate null") {
    val r = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
      .select(GraftFunctions.cosine(col("a"), col("b"))).rows.head
    assert(r.isNullAt(0))
  }

  test("zero-norm and empty vectors score 0.0, never NaN (top-k safety)") {
    // NaN sorts above every double in Spark, so a NaN cosine would rank
    // first in every descending top-k — both eval paths must emit 0.0.
    val rows = Seq(
      (Seq(0.0, 0.0), Seq(1.0, 2.0)),
      (Seq(1.0, 2.0), Seq(0.0, 0.0)),
      (Seq.empty[Double], Seq(1.0, 2.0))
    ).toDF("a", "b")
    // codegen path
    rows.select(GraftFunctions.cosine(col("a"), col("b")).as("c"))
      .rows.foreach(r => assert(r.getDouble(0) == 0.0))
    // interpreted path: call nullSafeEval directly on the expression tree
    // (a projection would re-enter codegen and never exercise it)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.CosineSimilarity
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def litArr(xs: Seq[Double]) = Literal.create(xs, ArrayType(DoubleType))
    val cases = Seq(
      (Seq(0.0, 0.0), Seq(1.0, 2.0)),
      (Seq(1.0, 2.0), Seq(0.0, 0.0)),
      (Seq.empty[Double], Seq(1.0, 2.0)))
    cases.foreach { case (a, b) =>
      assert(CosineSimilarity(litArr(a), litArr(b)).eval(null) == 0.0)
    }
  }

  test("NearestCellId: parity with the unrolled struct-argmin, ties to " +
      "the lower id, offset subspace, both eval paths") {
    // cell 2 duplicates cell 0 → any vector nearest cell 0 must report
    // 0, never 2 (tie toward the lower id, like array_min on struct)
    val cells = IndexedSeq(
      IndexedSeq(1.0, 0.0), IndexedSeq(0.0, 1.0), IndexedSeq(1.0, 0.0))
    val flat = cells.flatten.toArray
    val vecs = Seq(
      Seq(0.9, 0.1), Seq(0.1, 0.9), Seq(1.0, 0.0),
      Seq(0.5, 0.5), // exact tie between cells 0 and 1 → 0
      Seq(-0.2, -0.4), Seq(0.0, 0.0)).toDF("v")
    def unrolled(vd: org.apache.spark.sql.Column) = {
      val cands = cells.zipWithIndex.map { case (c, i) =>
        val cc = c.map(x => x * x).sum
        struct(
          (lit(cc) - lit(2.0) *
            GraftFunctions.dot(vd, typedLit(c))).as("d"),
          lit(i).as("c"))
      }
      array_min(array(cands: _*)).getField("c")
    }
    val rows = vecs.select(
      GraftFunctions.nearestCell(col("v"), flat, 3, 2).as("fast"),
      unrolled(col("v").cast("array<double>")).as("ref")).rows
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    assert(vecs.filter(col("v") === typedLit(Seq(0.5, 0.5)))
      .select(GraftFunctions.nearestCell(col("v"), flat, 3, 2))
      .rows.head.getInt(0) == 0)
    // offset form == slicing the subspace out first
    val vecs4 = Seq(Seq(9.0, 9.0, 0.8, 0.3), Seq(0.0, 0.0, 0.1, 0.9))
      .toDF("v")
    val off = vecs4.select(
      GraftFunctions.nearestCell(col("v"), flat, 3, 2, offset = 2)
        .as("off"),
      GraftFunctions.nearestCell(
        slice(col("v").cast("array<double>"), 3, 2), flat, 3, 2)
        .as("sliced")).rows
    off.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // interpreted path: same answers as codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.NearestCellId
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    Seq(Seq(0.9, 0.1) -> 0, Seq(0.1, 0.9) -> 1, Seq(0.5, 0.5) -> 0)
      .foreach { case (v, want) =>
        val got = NearestCellId(
          Literal.create(v, ArrayType(DoubleType)),
          flat.toIndexedSeq, 3, 2, 0).eval(null)
        assert(got == want, s"interpreted $v -> $got, want $want")
      }
    // short vector: missing tail treated as absent terms (dot over the
    // available prefix), matching GraftFunctions.dot's min-length loop
    val short = NearestCellId(
      Literal.create(Seq(0.9), ArrayType(DoubleType)),
      flat.toIndexedSeq, 3, 2, 0).eval(null)
    assert(short == 0)
  }

  test("SQL surface: graft_cosine / graft_dot registered functions") {
    GraftFunctions.register(spark)
    Seq((Seq(1.0, 0.0), Seq(1.0, 0.0))).toDF("a", "b")
      .createOrReplaceTempView("vecs_test")
    val r = spark.sql(
      "SELECT graft_cosine(a, b) c, graft_dot(a, b) d FROM vecs_test").rows.head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0)
  }

  test("SQL surface: graft_shingles / graft_rolling_xxhash64") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_shingles(split('a b c d', ' '), 2) sh,
        |  graft_rolling_xxhash64(split('a b c d', ' ')) h""".stripMargin)
      .rows.head
    assert(r.getSeq[String](0) == Seq("a b", "b c", "c d"))
    // bit-identical to the aggregate-HOF fold it replaces
    val ref = spark.sql(
      "SELECT aggregate(split('a b c d', ' '), 0L, (acc, t) -> xxhash64(acc, t))")
      .rows.head.getLong(0)
    assert(r.getLong(1) == ref)
    val r2 = spark.sql(
      """SELECT graft_language_id('el perro es un animal que vive en la casa') l,
        |  graft_token_stats('the cat the', array('the')) st""".stripMargin)
      .rows.head
    assert(r2.getString(0) == "es")
    assert(r2.getStruct(1).getInt(0) == 3 && r2.getStruct(1).getInt(2) == 2)
  }

  test("expression works inside WholeStageCodegen (no fallback errors)") {
    val df = spark.range(1000).select(
      col("id"),
      transform(sequence(lit(0), lit(63)), i => (i + col("id")).cast("double"))
        .as("vec"))
    val q = df.select(GraftFunctions.cosine(col("vec"), col("vec")).as("c"))
    assert(q.filter(abs(col("c") - 1.0) < 1e-9).count() == 1000)
  }

  test("SignLshBandBuckets: structural equality and compact explain string") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.SignLshBandBuckets
    val planes = graft.operators.Similarity.hyperplanes(4, 8).flatten.toArray
    val mk = () => SignLshBandBuckets(Literal(1.0),
      planes.clone().toIndexedSeq, 2, 2, 8)
    // two independently-built instances must compare equal, or
    // subexpression elimination and exchange reuse silently break
    assert(mk() == mk())
    assert(mk().semanticEquals(mk()))
    val s = mk().toString
    assert(s.contains("bands=2") && !s.contains(planes(0).toString),
      s"plane matrix leaked into explain string: $s")
  }

  test("l2Normalize: unit output, zero passthrough, codegen + SQL parity") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(3.0, 4.0)),
      (2L, Seq(0.0, 0.0)),
      (3L, Seq(-1.0, 1.0, 1.0, 1.0))
    ).toDF("id", "v")
    val out = df.select(col("id"),
        GraftFunctions.l2Normalize(col("v")).as("u"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == Seq(0.6, 0.8))
    assert(out(2L) == Seq(0.0, 0.0))
    assert(math.abs(out(3L).map(x => x * x).sum - 1.0) < 1e-12)
    // SQL registration path produces the same values
    GraftFunctions.register(spark)
    df.createOrReplaceTempView("l2norm_in")
    val sqlOut = spark.sql(
      "SELECT id, graft_l2_normalize(v) AS u FROM l2norm_in")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(sqlOut == out)
  }

  test("LanguageIdExpr rejects profiles beyond the bitmask bounds") {
    intercept[IllegalArgumentException] {
      GraftFunctions.languageId(lit("x"),
        Seq("xx" -> (1 to 33).map(i => s"w$i")))
    }
  }

  test("Int8Quantize: known values, bounds, zero vector, both eval paths") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, -0.5, 0.25, 0.0)),
      (2L, Seq(0.0, 0.0)),          // zero vector → zeros
      (3L, Seq(-2.0, 2.0))          // extremes hit exactly ±127
    ).toDF("id", "v")
    val out = df.select(col("id"), GraftFunctions.quantizeInt8(col("v")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(out(1L) == Seq[Byte](127, -63, 32, 0))
    assert(out(2L) == Seq[Byte](0, 0))
    assert(out(3L) == Seq[Byte](-127, 127))
    // interpreted path: direct eval must agree with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{ArrayMaxAbs, Int8Quantize}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def litArr(xs: Seq[Double]) = Literal.create(xs, ArrayType(DoubleType))
    val ev = Int8Quantize(litArr(Seq(1.0, -0.5, 0.25, 0.0))).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(ev.toByteArray().toSeq == Seq[Byte](127, -63, 32, 0))
    assert(ArrayMaxAbs(litArr(Seq(-3.0, 2.0))).eval(null) == 3.0)
  }

  test("quantized cosine approximates float cosine (scale invariance)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian()))).toDF("id", "v")
    val err = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(abs(
        GraftFunctions.cosine(col("a.v"), col("b.v")) -
        GraftFunctions.cosine(
          GraftFunctions.quantizeInt8(col("a.v")).cast("array<double>"),
          GraftFunctions.quantizeInt8(col("b.v")).cast("array<double>")))
        .as("err"))
      .agg(max(col("err"))).rows.head.getDouble(0)
    assert(err < 0.01, s"max |cos - cos_q8| = $err")
  }

  test("binary int8 form: parity with array form, both eval paths") {
    import spark.implicits._
    val df = Seq((Seq(0.3, -0.7, 0.2, 0.9), Seq(0.1, 0.5, -0.4, 0.8)))
      .toDF("a", "b")
    // binary quantization carries the same bytes as the array form
    val r = df.select(
      GraftFunctions.quantizeInt8(col("a")).as("qa"),
      GraftFunctions.quantizeInt8Binary(col("a")).as("ba"),
      GraftFunctions.cosineInt8(
        GraftFunctions.quantizeInt8Binary(col("a")),
        GraftFunctions.quantizeInt8Binary(col("b"))).as("cb"),
      GraftFunctions.cosine(
        GraftFunctions.quantizeInt8(col("a")).cast("array<double>"),
        GraftFunctions.quantizeInt8(col("b")).cast("array<double>"))
        .as("ca")).rows.head
    assert(r.getSeq[Byte](0) == r.getAs[Array[Byte]](1).toSeq)
    assert(r.getDouble(2) == r.getDouble(3)) // bit-identical cosine
    // interpreted path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{CosineInt8, Int8QuantizeBinary}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def litArr(xs: Seq[Double]) = Literal.create(xs, ArrayType(DoubleType))
    val bin = Int8QuantizeBinary(litArr(Seq(1.0, -0.5))).eval(null)
      .asInstanceOf[Array[Byte]]
    assert(bin.toSeq == Seq[Byte](127, -63))
    val c = CosineInt8(Literal.create(bin), Literal.create(bin)).eval(null)
    assert(c == 1.0)
    // zero-norm binary vectors score 0.0, never NaN (top-k safety)
    val z = Int8QuantizeBinary(litArr(Seq(0.0, 0.0))).eval(null)
      .asInstanceOf[Array[Byte]]
    assert(CosineInt8(Literal.create(z), Literal.create(bin)).eval(null) == 0.0)
  }

  test("SQL surface: graft_quantize_int8 / graft_maxabs registered") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_quantize_int8(array(1.0d, -0.5d)) AS q, " +
        "graft_maxabs(array(1.0d, -0.5d)) AS m").rows.head
    assert(r.getSeq[Byte](0) == Seq[Byte](127, -63))
    assert(r.getDouble(1) == 1.0)
  }

  test("SQL surface: built-in KLL functions exact on small input") {
    val r = spark.sql(
      """WITH t AS (SELECT explode(array(1.0d, 2.0d, 3.0d, 4.0d)) AS v),
        |sk AS (SELECT kll_sketch_agg_double(v, 200) AS kll FROM t),
        |m AS (SELECT kll_merge_agg_double(kll) AS kll FROM sk)
        |SELECT kll_sketch_get_quantile_double(kll, 0.5d) AS p50,
        |       kll_sketch_get_n_double(kll) AS n FROM m""".stripMargin).rows.head
    assert(r.getDouble(0) == 2.0) // inclusive rank: 2 of 4 <= 2.0
    assert(r.getLong(1) == 4L)
  }
}
