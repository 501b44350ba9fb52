package graft.queries

import graft.SparkSpec

/** The q142/q158 node-space guard: supplier ids and customer ids offset
  * by +100000 must stay disjoint, or the edge union double-counts. */
class NodeSpaceSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(suppkeys: Seq[Long], custkeys: Seq[Long]): String = {
    val dir = java.nio.file.Files.createTempDirectory("node_space_").toString
    suppkeys.toDF("l_suppkey").write.parquet(s"$dir/lineitem.parquet")
    custkeys.toDF("o_custkey").write.parquet(s"$dir/orders.parquet")
    dir
  }

  test("fixture node spaces are disjoint") {
    ExtQueries.requireDisjointNodeSpaces(spark, "/root/testdata/sf0.001")
  }

  private def assertTrips(suppkeys: Seq[Long], custkeys: Seq[Long],
      msg: String): Unit = {
    val dir = fixture(suppkeys, custkeys)
    try {
      val e = intercept[IllegalArgumentException](
        ExtQueries.requireDisjointNodeSpaces(spark, dir))
      assert(e.getMessage.contains(msg), e.getMessage)
    } finally graft.util.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("an orders table with custkey 0 trips the check") {
    // supplier 100000 and customer 0 + 100000 are the same node; a
    // max-suppkey-only bound (<= 100000) accepted this
    assertTrips(Seq(1L, 100000L), Seq(0L, 5L),
      "max l_suppkey = 100000 is not below min o_custkey + 100000 = 100000")
  }

  test("a suppkey past the customer offset trips the check") {
    assertTrips(Seq(1L, 100001L), Seq(1L),
      "max l_suppkey = 100001 is not below min o_custkey + 100000 = 100001")
  }
}
