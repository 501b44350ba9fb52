package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StreamKllSpec extends SparkSpec {
  import spark.implicits._

  test("stream-maintained profile == direct build; drains are exactly-once") {
    val root = java.nio.file.Files.createTempDirectory("kll_stream_")
      .toString
    val src = s"$root/src"; val state = s"$root/state"
    val ckpt = s"$root/ckpt"
    try {
      val all = (1 to 400).map(i =>
        (s"g${i % 3}", ((i.toLong * 131) % 997).toDouble)).toDF("g", "v")
      val schema = all.schema
      // drain 1: first half
      all.filter(col("v") < 500).write.mode("append").parquet(src)
      Kll.sketchIngestOnce(spark, src, schema, state, ckpt,
        Seq("g"), "v", k = 2048)
      // drain 2: the rest, arriving later
      all.filter(col("v") >= 500).write.mode("append").parquet(src)
      Kll.sketchIngestOnce(spark, src, schema, state, ckpt,
        Seq("g"), "v", k = 2048)
      val qs = Seq(25, 50, 75, 100)
      def readProfile(df: org.apache.spark.sql.DataFrame) = df
        .collect()
        .map(r => (r.getString(0), r.getLong(2)) ->
          ((r.getDouble(3), r.getLong(1)))).toMap
      // profile columns: (g, n_items, pct, q_value) — order per
      // Kll.quantiles(groupCols :+ n_items, …)
      val streamed = Kll.profile(spark, state, Seq("g"), qs)
        .select(col("g"), col("n_items"), col("pct"), col("q_value"))
        .collect()
        .map(r => (r.getString(0), r.getLong(2)) ->
          ((r.getDouble(3), r.getLong(1)))).toMap
      val direct0 = Kll.build(all, Seq("g"), "v", k = 2048)
      val direct = Kll.quantiles(
          direct0.withColumn("n_items", kll_sketch_get_n_double(col("kll"))),
          Seq("g", "n_items"), qs)
        .select(col("g"), col("n_items"), col("pct"), col("q_value"))
        .collect()
        .map(r => (r.getString(0), r.getLong(2)) ->
          ((r.getDouble(3), r.getLong(1)))).toMap
      assert(streamed == direct,
        "stream-maintained profile diverged from direct build")
      // exactly-once: a drain with nothing new leaves the state as-is
      val before = spark.read.parquet(state).count()
      Kll.sketchIngestOnce(spark, src, schema, state, ckpt,
        Seq("g"), "v", k = 2048)
      assert(spark.read.parquet(state).count() == before)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
      ()
    }
  }

  test("state compaction: profile unchanged, one partition, ingest continues") {
    val root = java.nio.file.Files.createTempDirectory("kll_cmp_")
      .toString
    val src = s"$root/src"; val state = s"$root/state"
    val ckpt = s"$root/ckpt"
    try {
      val all = (1 to 300).map(i =>
        (s"g${i % 2}", ((i.toLong * 131) % 997).toDouble)).toDF("g", "v")
      all.filter(col("v") < 500).write.mode("append").parquet(src)
      Kll.sketchIngestOnce(spark, src, all.schema, state, ckpt,
        Seq("g"), "v", k = 2048)
      all.filter(col("v") >= 500 && col("v") < 800)
        .write.mode("append").parquet(src)
      Kll.sketchIngestOnce(spark, src, all.schema, state, ckpt,
        Seq("g"), "v", k = 2048)
      def prof() = Kll.profile(spark, state, Seq("g"), Seq(25, 50, 100))
        .collect()
        .map(r => (r.getString(0), r.getLong(2)) ->
          ((r.getDouble(3), r.getLong(1)))).toMap
      val before = prof()
      Kll.compactState(spark, state, Seq("g"))
      assert(prof() == before, "compaction changed the profile")
      assert(spark.read.parquet(state)
        .select("batch_id").distinct().count() == 1L)
      // ingest keeps working after compaction, and the profile still
      // equals the full direct build
      all.filter(col("v") >= 800).write.mode("append").parquet(src)
      Kll.sketchIngestOnce(spark, src, all.schema, state, ckpt,
        Seq("g"), "v", k = 2048)
      val direct = Kll.quantiles(
          Kll.build(all, Seq("g"), "v", k = 2048)
            .withColumn("n_items", kll_sketch_get_n_double(col("kll"))),
          Seq("g", "n_items"), Seq(25, 50, 100))
        .select(col("g"), col("n_items"), col("pct"), col("q_value"))
        .collect()
        .map(r => (r.getString(0), r.getLong(2)) ->
          ((r.getDouble(3), r.getLong(1)))).toMap
      assert(prof() == direct,
        "post-compaction ingest diverged from the direct build")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
      ()
    }
  }

  test("theta ingest via the shared primitive: streamed overlap == direct") {
    val root = java.nio.file.Files.createTempDirectory("theta_stream_")
      .toString
    try {
      val all = (0 until 600).map(i =>
        (if (i < 400) "A" else "B", (i % 450).toLong)).toDF("seg", "uid")
      all.filter(col("uid") < 225).write.mode("append").parquet(s"$root/src")
      Theta.sketchIngestOnce(spark, s"$root/src", all.schema,
        s"$root/state", s"$root/ckpt", Seq("seg"), "uid", lgK = 12)
      all.filter(col("uid") >= 225).write.mode("append").parquet(s"$root/src")
      Theta.sketchIngestOnce(spark, s"$root/src", all.schema,
        s"$root/state", s"$root/ckpt", Seq("seg"), "uid", lgK = 12)
      def overlap(sk: org.apache.spark.sql.DataFrame) =
        Theta.pairwiseOverlap(Theta.rollup(
            sk, Seq("seg")), "seg")
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val streamed = overlap(
        spark.read.parquet(s"$root/state").drop("batch_id"))
      val direct = overlap(Theta.build(all, Seq("seg"), "uid", lgK = 12))
      assert(streamed == direct)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
      ()
    }
  }

  test("pre-upgrade state (DataSketches-written blobs) folds like a fresh build") {
    // State drained before the move to Spark's built-in sketch
    // aggregates holds blobs written straight through DataSketches: a
    // heap KllDoublesSketch / a theta Union's compact result, each
    // .toByteArray. A later drain appends built-in blobs to the same
    // dir; serving and compaction must fold both kinds as one.
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.theta.SetOperation
    import graft.streaming.BatchPartitionIngest
    val root = java.nio.file.Files.createTempDirectory("sketch_upgrade_")
      .toString
    try {
      val oldKll = udf { (vs: Seq[Double]) =>
        val sk = KllDoublesSketch.newHeapInstance(2048)
        vs.foreach(v => sk.update(v))
        sk.toByteArray
      }
      val oldTheta = udf { (ids: Seq[Long]) =>
        val u = SetOperation.builder().setLogNominalEntries(12).buildUnion()
        ids.foreach(id => u.update(id))
        u.getResult.toByteArray
      }
      def drain(kind: String, all: org.apache.spark.sql.DataFrame,
          pre: org.apache.spark.sql.Column)(
          oldAgg: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.DataFrame)(
          newDrain: (String, String, String) => Unit): String = {
        val src = s"$root/$kind/src"; val state = s"$root/$kind/state"
        val ckpt = s"$root/$kind/ckpt"
        all.filter(pre).write.parquet(src)
        BatchPartitionIngest.ingestOnce(spark, src, all.schema, state,
          ckpt)(oldAgg)
        all.filter(!pre).write.mode("append").parquet(src)
        newDrain(src, state, ckpt)
        assert(spark.read.parquet(state).select("batch_id").distinct()
          .count() == 2L)
        state
      }

      val kv = (1 to 300).map(i =>
        (s"g${i % 3}", ((i.toLong * 131) % 997).toDouble)).toDF("g", "v")
      val kllState = drain("kll", kv, col("v") < 500)(
        _.groupBy("g").agg(oldKll(collect_list(col("v"))).as("kll")))(
        Kll.sketchIngestOnce(spark, _, kv.schema, _, _, Seq("g"), "v",
          k = 2048))
      val qs = Seq(25, 50, 75, 100)
      def prof(df: org.apache.spark.sql.DataFrame) = df
        .select(col("g"), col("n_items"), col("pct"), col("q_value"))
        .collect()
        .map(r => (r.getString(0), r.getLong(2)) ->
          ((r.getDouble(3), r.getLong(1)))).toMap
      val fresh = prof(Kll.quantiles(
        Kll.build(kv, Seq("g"), "v", k = 2048)
          .withColumn("n_items", kll_sketch_get_n_double(col("kll"))),
        Seq("g", "n_items"), qs))
      assert(prof(Kll.profile(spark, kllState, Seq("g"), qs)) == fresh)
      Kll.compactState(spark, kllState, Seq("g"))
      assert(prof(Kll.profile(spark, kllState, Seq("g"), qs)) == fresh)

      // every id of the post-upgrade drain was also seen before it, in
      // the same segment: a hash mismatch between the two writers
      // would double-count
      val tv = ((0 until 300).map(("A", _, true)) ++
        (200 until 500).map(("B", _, true)) ++
        (250 until 400).map(("A", _, false)) ++
        (100 until 250).map(("B", _, false)))
        .map { case (seg, uid, pre) => (seg, uid.toLong, pre) }
        .toDF("seg", "uid", "pre")
      val thetaState = drain("theta", tv, col("pre"))(
        _.groupBy("seg").agg(oldTheta(collect_list(col("uid"))).as("theta")))(
        Theta.sketchIngestOnce(spark, _, tv.schema, _, _, Seq("seg"), "uid",
          lgK = 12))
      def overlap(sk: org.apache.spark.sql.DataFrame) =
        Theta.pairwiseOverlap(Theta.rollup(sk, Seq("seg")), "seg")
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
          .toMap
      val direct = overlap(Theta.build(tv, Seq("seg"), "uid", lgK = 12))
      assert(direct == Map(("A", "B") -> ((400L, 400L, 300L, 100L))))
      assert(overlap(BatchPartitionIngest.readState(spark, thetaState)
        .drop("batch_id")) == direct)
      Theta.compactState(spark, thetaState, Seq("seg"))
      assert(overlap(BatchPartitionIngest.readState(spark, thetaState)
        .drop("batch_id")) == direct)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
      ()
    }
  }
}
