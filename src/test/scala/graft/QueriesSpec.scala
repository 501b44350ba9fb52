package graft

/** Contract guard over the whole driver surface: every registered query
  * runs at sf0.001, every oracle key points at a real query, and the
  * rows-only set stays non-empty (an empty rows-only result would make the
  * driver's weaker check meaningless). */
class QueriesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracles without queries: $extra")
  }

  test("every query executes at sf0.001; rows-only queries are non-empty") {
    val oracle = SparkEntry.oracleSql.keySet
    val failures = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val n = fn(spark, dir).count()
        if (!oracle.contains(name) && n == 0)
          failures += s"$name: rows-only query returned 0 rows"
      } catch {
        case e: Throwable => failures += s"$name: ${e.getMessage}"
      }
    }
    assert(failures.result().isEmpty, failures.result().mkString("\n"))
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q142/q158 node-space guard trips on a colliding key space") {
    // assumeDistinct's structural-uniqueness argument requires
    // suppkey ≤ 100000 (< the customer offset); at a synthetic SF where
    // suppliers collide with the offset space, the guard must throw
    // loudly rather than let PageRank silently double-count edges
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory("graft-collide-sf-").toString
    try {
      Seq((1L, 200001L), (2L, 3L))
        .toDF("l_orderkey", "l_suppkey")
        .write.parquet(s"$d/lineitem.parquet")
      Seq((1L, 10L)).toDF("o_orderkey", "o_custkey")
        .write.parquet(s"$d/orders.parquet")
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("q142_pagerank")(spark, d).count()
      }
      assert(e.getMessage.contains("node spaces collide"), e.getMessage)
    } finally graft.util.Fs.deleteRecursively(new java.io.File(d))
  }
}
