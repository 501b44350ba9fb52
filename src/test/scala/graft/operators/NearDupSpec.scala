package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  // doc 1 and 2 are near-duplicates (one word changed); 3 is unrelated.
  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox leaps over the lazy dog again and again"),
    (3L, "completely different content about spark catalyst optimizer rules")
  ).toDF("doc_id", "text")

  test("shingles produces n-grams; n=1 passes tokens through") {
    val toks = TextFunctions.tokens(lit("a b c d"))
    val out = spark.range(1)
      .select(NearDup.shingles(toks, 2).as("sh")).rows.head.getSeq[String](0)
    assert(out == Seq("a b", "b c", "c d"))
  }

  test("shingle build is a pure scan-side projection (no exchange, no window)") {
    // WordShingles assembles n-grams inside the row projection; the old
    // lead()-over-(id,pos) formulation shuffled and sorted every shingle
    // row. Pin the plan shape so that regression cannot sneak back.
    val plan = NearDup.shingleRows(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in shingle plan:\n$plan")
    assert(!plan.contains("Exchange"), s"exchange in shingle plan:\n$plan")
  }

  // ShingleHashes / MinHashSig: the per-doc expressions behind the
  // minhash family must reproduce the exploded formulation they replace
  // value for value, through both the codegen and the interpreted path.
  private def interpreted(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Long] =
    Option(e.eval(null)).map(_.asInstanceOf[
      org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq)
      .orNull

  test("ShingleHashes == distinct xxhash64 over shingleRows (non-ASCII, " +
      "short and duplicate-heavy docs), codegen and interpreted agree") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{ShingleHashes, TextExpressionFunctions}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val rnd = new scala.util.Random(17)
    val vocab = Seq("a", "b", "the", "é", "日本", "straße", "😀x", "")
    val seps = Seq(" ", "  ", "\t", " \n")
    val texts: Seq[Option[String]] = Seq(None, Some(""), Some(" a"),
      Some("a a a a a a a a"), Some("é 日本")) ++ Seq.fill(150) {
      val len = rnd.nextInt(9)
      val pool = if (rnd.nextBoolean()) vocab.take(2) else vocab
      Some((0 until len).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString(seps(rnd.nextInt(seps.size))))
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val toks = df.select(col("doc_id"), TextFunctions.tokens(col("text")))
      .rows.map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    for (n <- Seq(1, 2, 3)) {
      val want = NearDup.shingleRows(df, "doc_id", "text", n)
        .select(col("doc_id"), xxhash64(col("shingle")).as("sh")).distinct()
        .rows.groupBy(_.getLong(0)).map { case (id, rs) =>
          id -> rs.map(_.getLong(1)).sorted }
      val got = df.select(col("doc_id"), TextExpressionFunctions
          .shingleHashes(TextFunctions.tokens(col("text")), n))
        .rows.map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
      texts.indices.map(_.toLong).foreach { id =>
        val interp = toks(id).map(t =>
          interpreted(ShingleHashes(Literal.create(t, ArrayType(StringType)), n)))
        val expect = toks(id).map(_ => want.getOrElse(id, Seq.empty[Long]))
        assert(got(id) == expect, s"codegen n=$n doc=$id ${texts(id.toInt)}")
        assert(interp == expect, s"interpreted n=$n doc=$id ${texts(id.toInt)}")
      }
    }
  }

  test("MinHashSig == k x min(xxhash64(seed, sh)) aggregate (random, empty, " +
      "duplicate-heavy, near Long.MinValue/MaxValue), both eval paths") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{MinHashSig, TextExpressionFunctions}
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val rnd = new scala.util.Random(23)
    val edge = Seq(Long.MinValue, Long.MinValue + 1, Long.MaxValue,
      Long.MaxValue - 1, 0L, -1L)
    val arrays: Seq[Seq[Long]] = Seq(Seq.empty, edge, Seq.fill(40)(7L)) ++
      Seq.fill(150) {
        rnd.nextInt(4) match {
          case 0 => Seq.empty[Long]
          case 1 => Seq.fill(rnd.nextInt(30) + 1)(edge(rnd.nextInt(edge.size)))
          case 2 =>
            val few = Seq.fill(3)(rnd.nextLong())
            Seq.fill(rnd.nextInt(50) + 1)(few(rnd.nextInt(3)))
          case _ => Seq.fill(rnd.nextInt(60) + 1)(rnd.nextLong())
        }
      }
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "hs")
    for (k <- Seq(1, 16)) {
      val want = df.select(col("id"), explode(col("hs")).as("sh"))
        .groupBy(col("id"))
        .agg(array((0 until k).map(s => min(xxhash64(lit(s), col("sh")))): _*))
        .rows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val got = df.select(col("id"), TextExpressionFunctions.minHashSig(col("hs"), k))
        .rows.map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
      arrays.zipWithIndex.foreach { case (a, i) =>
        val expect = want.get(i.toLong)
        assert(got(i.toLong) == expect, s"codegen k=$k array=$a")
        assert(Option(interpreted(MinHashSig(
          Literal.create(a, ArrayType(LongType)), k))) == expect,
          s"interpreted k=$k array=$a")
      }
    }
    // a null element hashes like the aggregate's null `sh`
    val withNull = Seq[java.lang.Long](5L, null, -3L)
    val nullDf = Seq((0L, withNull)).toDF("id", "hs")
    val wantNull = nullDf.select(col("id"), explode(col("hs")).as("sh"))
      .groupBy(col("id"))
      .agg(array((0 until 4).map(s => min(xxhash64(lit(s), col("sh")))): _*))
      .rows.head.getSeq[Long](1)
    assert(nullDf.select(TextExpressionFunctions.minHashSig(col("hs"), 4))
      .rows.head.getSeq[Long](0) == wantNull)
    assert(interpreted(MinHashSig(
      Literal.create(withNull, ArrayType(LongType)), 4)) == wantNull)
  }

  test("minhashPairs plan fuses the adjusted-key pass into one window op") {
    // the per-doc adjusted-array construction must collapse all `bands`
    // max(when) aggregates into a SINGLE WindowExec per consumer branch
    // (one shuffle by doc id); per-band windows — 8 shuffles — would
    // show up here as Window nodes missing the last fused aggregate,
    // and a rank-style pair dedup as a window NOT keyed on doc_id
    val plan = NearDup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 2, bands = 8, rowsPerBand = 2, threshold = 0.5)
      .queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, s"no Window node in minhashPairs plan:\n$plan")
    assert(windows.forall(w => w.contains("_we7") && w.contains("doc_id")),
      s"unfused or mis-keyed Window nodes:\n${windows.mkString("\n")}")
    assert(windows.size <= 3, // a/b pair sides + stars, pre-AQE-reuse
      s"${windows.size} Window nodes in minhashPairs plan:\n$plan")
  }

  test("minhashPairs finds the planted near-dup pair and only it") {
    val out = NearDup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 2, bands = 8, rowsPerBand = 2, threshold = 0.5).rows
    assert(out.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
    val j = out.head.getDouble(2)
    assert(j > 0.5 && j < 1.0)
  }

  test("identical texts have identical simhash; near-dups are close") {
    val sigs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r"))
      .toDF("id", "text")
      .select(col("id"), NearDup.simhash64(TextFunctions.tokens(col("text"))).as("sig"))
      .rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("simhashPairs reports hamming distance for banded candidates") {
    val out = NearDup.simhashPairs(docs, "doc_id", "text",
      bands = 4, maxHamming = 20).rows
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("ngramJaccardPairs computes exact jaccard over shingle sets") {
    val out = NearDup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.3, maxDocFreq = 10).rows
    assert(out.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
    // 12 tokens -> 11 bigrams each; one word changed kills bigrams i-1,i
    // shared = 9 distinct bigrams, union = 13 -> jaccard = 9/13
    assert(math.abs(out.head.getDouble(2) - 9.0 / 13.0) < 1e-12)
  }

  test("maxDocFreq drops ubiquitous shingles from the index") {
    val many = (1L to 20L).map(i => (i, "common words everywhere")).toDF("doc_id", "text")
    val out = NearDup.ngramJaccardPairs(many, "doc_id", "text",
      shingleSize = 2, threshold = 0.9, maxDocFreq = 5)
    assert(out.count() == 0) // every shingle has df=20 > 5
  }

  test("lshParams hits the S-curve threshold within the hash budget") {
    // (1/b)^(1/r) = 0.5 exactly at b=4, r=2 within a 16-hash budget
    assert(NearDup.lshParams(0.5, 16) == ((4, 2)))
    // every choice respects the budget and lands near the target
    for (t <- Seq(0.3, 0.5, 0.7, 0.9); budget <- Seq(8, 16, 64)) {
      val (b, r) = NearDup.lshParams(t, budget)
      assert(b * r <= budget && b >= 1 && r >= 1)
      val curve = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(curve - t) < 0.15,
        s"target $t budget $budget -> (b=$b, r=$r) curve $curve")
    }
    // the probability curve: 0 at s=0, 1 at s=1, monotone increasing
    assert(NearDup.candidateProbability(0.0, 4, 2) == 0.0)
    assert(NearDup.candidateProbability(1.0, 4, 2) == 1.0)
    val probs = (0 to 10).map(i => NearDup.candidateProbability(i / 10.0, 4, 2))
    assert(probs.sliding(2).forall { case Seq(a, b) => a <= b })
    // at the curve threshold the candidate probability is substantial
    assert(NearDup.candidateProbability(0.5, 4, 2) > 0.5)
  }
}
