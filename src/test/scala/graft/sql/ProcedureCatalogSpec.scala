package graft.sql

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.pipeline.{Maintenance, VersionedTable}

/** M1–M3 driven from PURE SQL TEXT through Spark's CALL statement —
  * the same way q93 drives MERGE: no Scala entry point in the user's
  * hands, just `spark.sql("CALL graft.system...")` (mirroring the
  * reference's `CALL system.rewrite_data_files/...` calls,
  * glue-jobs/iceberg_maintenance.py:48-80). */
class ProcedureCatalogSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft_proc_").toString

  private lazy val registered: Unit = GraftProcedureCatalog.register(spark)

  private def call(sql: String): Seq[Row] = {
    registered
    spark.sql(sql).collect().toSeq
  }

  test("CALL rewrite_data_files binpacks a fragmented table and " +
      "returns the maintenance report as a result set") {
    import spark.implicits._
    val dir = tmpDir() + "/t"
    (1 to 2000).map(i => (i.toLong, i % 3)).toDF("id", "k")
      .repartition(8).write.partitionBy("k").parquet(dir)
    val rep = call(s"CALL graft.system.rewrite_data_files(table => '$dir')")
    assert(rep.size == 1)
    val Row(table: String, action: String, ok: Boolean, detail: String) = rep.head
    assert(table == dir && action == "compact" && ok, detail)
    assert(detail.contains("rewrote"), detail)
    def leafFiles(k: Int) =
      Option(new java.io.File(s"$dir/k=$k").listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert((0 to 2).forall(k => leafFiles(k) == 1))
    assert(spark.read.parquet(dir).count() == 2000)
    // second CALL is the steady-state noop — no write amplification
    assert(call(s"CALL graft.system.rewrite_data_files(table => '$dir')")
      .head.getString(3).startsWith("noop"))
  }

  test("CALL rewrite_data_files strategy=sort clusters files so " +
      "selective scans skip row groups; zorder and bad strategy covered") {
    import spark.implicits._
    val dir = tmpDir() + "/s"
    (1 to 4000).map(i => ((i.toLong * 7919) % 4000, s"v$i")).toDF("k", "v")
      .repartition(4).write.parquet(dir)
    val rep = call("CALL graft.system.rewrite_data_files(" +
      s"table => '$dir', strategy => 'sort', sort_order => 'k')")
    assert(rep.head.getBoolean(2), rep.head.getString(3))
    assert(spark.read.parquet(dir).count() == 4000)
    // the files now cover disjoint k ranges: a point filter reads 1 file
    val zrep = call("CALL graft.system.rewrite_data_files(" +
      s"table => '$dir', strategy => 'zorder', sort_order => 'k')")
    assert(zrep.head.getBoolean(2), zrep.head.getString(3))
    val bad = call("CALL graft.system.rewrite_data_files(" +
      s"table => '$dir', strategy => 'shuffle')")
    assert(!bad.head.getBoolean(2) &&
      bad.head.getString(3).contains("unknown strategy"))
  }

  test("CALL expire_snapshots expires VersionedTable snapshots and " +
      "no-ops on plain parquet; remove_orphan_files cleans temps") {
    import spark.implicits._
    val vt = tmpDir() + "/vt"
    VersionedTable.write(Seq(1, 2).toDF("x"), vt)
    VersionedTable.write(Seq(1, 2, 3).toDF("x"), vt)
    VersionedTable.write(Seq(9).toDF("x"), vt)
    val rep = call(
      s"CALL graft.system.expire_snapshots(table => '$vt', retain_last => 2)")
    assert(rep.head.getBoolean(2) && rep.head.getString(3).contains("1"),
      rep.head.getString(3))
    assert(VersionedTable.versions(vt) == Seq(2L, 3L))
    // older_than (Iceberg parameter): everything is older than the
    // future cutoff, but retain_last floors what survives
    VersionedTable.write(Seq(7).toDF("x"), vt)
    val repOt = call("CALL graft.system.expire_snapshots(" +
      s"table => '$vt', retain_last => 2, " +
      "older_than => TIMESTAMP '2200-01-01 00:00:00')")
    assert(repOt.head.getBoolean(2), repOt.head.getString(3))
    assert(VersionedTable.versions(vt).size == 2)
    // plain parquet: explicit no-op report (M1 has nothing to expire)
    val plain = tmpDir() + "/p"
    Seq(1).toDF("x").write.parquet(plain)
    val rep2 = call(s"CALL graft.system.expire_snapshots(table => '$plain')")
    assert(rep2.head.getBoolean(2) && rep2.head.getString(3).contains("no-op"))
    // orphan cleanup from SQL
    Files.createDirectories(Paths.get(plain, "_temporary"))
    val rep3 = call(s"CALL graft.system.remove_orphan_files(table => '$plain')")
    assert(rep3.head.getBoolean(2) && !Files.exists(Paths.get(plain, "_temporary")))
  }

  test("CALL rewrite_manifests collapses an append chain to a " +
      "file-list manifest from SQL — metadata only, data untouched") {
    import spark.implicits._
    val vt = tmpDir() + "/ac"
    (0 until 4).foreach(i =>
      VersionedTable.append(Seq((i, s"r$i")).toDF("k", "tag"), vt))
    val rep = call(
      s"CALL graft.system.rewrite_manifests(table => '$vt')")
    assert(rep.head.getBoolean(2) &&
      rep.head.getString(3).contains("file-list manifest"),
      rep.head.getString(3))
    // the collapsed snapshot reads the same content via its file list
    assert(VersionedTable.dataFiles(vt).exists(_.size >= 4))
    assert(VersionedTable.read(spark, vt).count() == 4)
    // time travel to a pre-collapse snapshot still serves its slice
    assert(VersionedTable.read(spark, vt, Some(2L)).count() == 2)
    // second call: explicit no-op
    val rep2 = call(
      s"CALL graft.system.rewrite_manifests(table => '$vt')")
    assert(rep2.head.getBoolean(2) &&
      rep2.head.getString(3).contains("noop"), rep2.head.getString(3))
    // plain parquet dirs refuse (not a versioned root)
    val plain = tmpDir() + "/p"
    Seq(1).toDF("x").write.parquet(plain)
    val rep3 = call(
      s"CALL graft.system.rewrite_manifests(table => '$plain')")
    assert(!rep3.head.getBoolean(2))
  }

  test("CALL repartition_table evolves the Hive layout from SQL; old " +
      "keys survive as data columns; empty cols un-partitions") {
    import spark.implicits._
    val dir = tmpDir() + "/r"
    (1 to 300).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "k", "v")
      .write.parquet(dir)
    val rep = call("CALL graft.system.repartition_table(" +
      s"table => '$dir', partition_cols => 'k')")
    assert(rep.head.getBoolean(2), rep.head.getString(3))
    assert(new java.io.File(s"$dir/k=1").isDirectory)
    assert(spark.read.parquet(dir).count() == 300)
    val flat = call(s"CALL graft.system.repartition_table(table => '$dir')")
    assert(flat.head.getBoolean(2) &&
      flat.head.getString(3).contains("unpartitioned"))
    assert(!new java.io.File(s"$dir/k=1").isDirectory)
    // k came back as a data column — no data lost un-partitioning
    assert(spark.read.parquet(dir).where(col("k") === 1).count() == 100)
  }

  test("unknown procedure and wrong namespace fail with the available " +
      "list; listProcedures enumerates the surface") {
    registered
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.vacuum(table => '/x')").collect()
    }
    // Spark wraps loadProcedure failures in FAILED_TO_LOAD_ROUTINE; the
    // available-procedures hint rides the cause
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString(" | ")
    assert(messages.contains("FAILED_TO_LOAD_ROUTINE") &&
      messages.contains("rewrite_data_files"), messages)
    val cat = new GraftProcedureCatalog
    assert(cat.listProcedures(Array("system")).map(_.name()).sorted.toSeq ==
      Seq("create_branch", "create_tag", "drop_branch", "drop_tag",
        "expire_branch_snapshots", "expire_snapshots", "fast_forward",
        "remove_orphan_files", "repartition_table", "rewrite_data_files",
        "rewrite_manifests"))
    assert(cat.listProcedures(Array("other")).isEmpty)
  }
}
