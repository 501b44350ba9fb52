package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The versioned-table commit protocol — the only one, on every scheme
  * and with no conf: claim a version by create-if-absent marker, write
  * data DIRECTLY into the claimed `v=N`, publish the manifest by
  * conditional create — zero renames on the commit path. The graftnr
  * suite runs every verb on a simulated object store whose rename()
  * THROWS for any commit target, so "no rename" is proven structurally,
  * not argued. Also here: the create-if-absent helper's race test, and
  * tables written by the retired rename protocol. */
class CreateProtocolSpec extends SparkSpec {
  import spark.implicits._

  /** A graftnr:// root over a fresh local temp dir. */
  private def graftnrRoot(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.graftnr.impl",
      classOf[graft.util.NoCommitRenameFileSystem].getName)
    "graftnr://" + Files.createTempDirectory(prefix).toString
  }

  test("create protocol: full verb lifecycle, no claims left behind") {
    val table = Files.createTempDirectory("graft_cp_").toString + "/t"
    val v1 = VersionedTable.write(Seq(1, 2).toDF("x"), table)
    val v2 = VersionedTable.append(Seq(3).toDF("x"), table)
    assert((v1, v2) == (1L, 2L))
    assert(VersionedTable.read(spark, table).count() == 3)
    assert(VersionedTable.read(spark, table, Some(1L)).count() == 2)
    // append keeps prior data BY REFERENCE (dirs= manifest)
    assert(VersionedTable.dataDirs(table).size == 2)

    // replace: keep v1 by reference, rewrite v2's content
    val v3 = VersionedTable.replace(Seq(30).toDF("x"), table,
      keepDataVersions = Seq(1L), baseVersion = Some(2L))
    assert(v3 == 3L)
    assert(VersionedTable.read(spark, table).collect().map(_.getInt(0))
      .sorted.toSeq == Seq(1, 2, 30))

    // rollback + rewrite_manifests + truncate + expire
    val v4 = VersionedTable.rollback(table, 1L)
    assert(VersionedTable.read(spark, table).count() == 2)
    VersionedTable.rollback(table, v3)
    val collapsed = VersionedTable.rewriteManifests(table)
    assert(collapsed.nonEmpty)
    assert(VersionedTable.read(spark, table).count() == 3)
    VersionedTable.truncate(spark, table)
    assert(VersionedTable.read(spark, table).count() == 0)
    VersionedTable.rollback(table, v4)
    assert(VersionedTable.read(spark, table).count() == 2)
    VersionedTable.expire(table, keepLast = 2)

    // the protocol cleans up after itself: no claim markers remain
    val (fs, root) = graft.util.Fs.fsFor(s"$table/_versions")
    assert(!fs.listStatus(root).exists(
      _.getPath.getName.startsWith(".claim-")))
  }

  test("create protocol: two concurrent appends both land, later " +
      "manifest carries the earlier's dirs") {
    val table = Files.createTempDirectory("graft_cp2_").toString + "/t"
    VersionedTable.write(Seq(0).toDF("x"), table)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs2 = Seq(1, 2).map(i => scala.concurrent.Future {
      VersionedTable.append(Seq(i * 10).toDF("x"), table)
    })
    val got = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(fs2),
      scala.concurrent.duration.Duration(120, "s")).sorted
    pool.shutdown()
    assert(got == Seq(2L, 3L))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(0, 10, 20))
    assert(VersionedTable.dataDirs(table).size == 3)
  }

  test("a dead foreign claim with a half-written dir does not delay an " +
      "append — it lands past it at once — and remove_orphan_files " +
      "removes it once cold") {
    val table = Files.createTempDirectory("graft_cp3_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    // a committer in another process reserved v=2 and died long ago: an
    // epoch-0 claim line and a half-written dir whose mtimes are all
    // old (real crash debris has old mtimes everywhere)
    val (fs, root) = graft.util.Fs.fsFor(table)
    val claim = new org.apache.hadoop.fs.Path(root, "_versions/.claim-2")
    val out = fs.create(claim, false)
    out.write("dead-token\n0\n".getBytes); out.close()
    val dead = new org.apache.hadoop.fs.Path(root, "v=2")
    val part = new org.apache.hadoop.fs.Path(dead, "part-0-dead.parquet")
    val o2 = fs.create(part, false); o2.write(1); o2.close()
    fs.setTimes(part, 1000L, -1L)
    fs.setTimes(dead, 1000L, -1L)

    // nothing waits on the dead claim: the append reserves the next dir
    // id and publishes the next manifest number, naming its dirs
    val v = VersionedTable.append(Seq(2).toDF("x"), table)
    assert(v == 2L, s"append must publish the next number: $v")
    assert(dirNames(table) == Seq("v=1", "v=3"))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(fs.exists(claim) && fs.exists(part),
      "the commit path leaves foreign debris to remove_orphan_files")

    // cold marker + cold dir: crash debris, removed with its dir
    assert(Maintenance.removeOrphans(spark, table).ok)
    assert(!fs.exists(claim))
    assert(!fs.exists(dead))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, "_versions"))
      .map(_.getPath.getName).count(_.startsWith(".claim-")) == 0)
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("a young foreign claim with in-flight _temporary files does not " +
      "delay an append either, and survives remove_orphan_files") {
    val table = Files.createTempDirectory("graft_cp7_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    val (fs, root) = graft.util.Fs.fsFor(table)
    // a LIVE cross-process committer mid-write: a fresh claim line and
    // executors still landing task files under v=2
    val claim = new org.apache.hadoop.fs.Path(root, "_versions/.claim-2")
    def writeClaim(ts: Long): Unit = {
      fs.delete(claim, false)
      val out = fs.create(claim, false)
      out.write(s"live-token\n$ts\n".getBytes); out.close()
    }
    writeClaim(System.currentTimeMillis())
    val inflight = new org.apache.hadoop.fs.Path(root,
      "v=2/_temporary/0/part-inflight")
    fs.mkdirs(inflight.getParent)
    val f = fs.create(inflight, false); f.write(1); f.close()

    val v = VersionedTable.append(Seq(2).toDF("x"), table)
    assert(v == 2L)
    assert(dirNames(table) == Seq("v=1", "v=3"))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))

    assert(Maintenance.removeOrphans(spark, table).ok)
    assert(fs.exists(claim) && fs.exists(inflight),
      "a young claim's marker and in-flight data must survive the " +
        "orphan walk")
    // a timestamp-old claim line is not enough to remove it either:
    // the fresh task files under v=2 still show life
    writeClaim(0L)
    assert(Maintenance.removeOrphans(spark, table).ok)
    assert(fs.exists(claim) && fs.exists(inflight),
      "fresh files under the reserved dir must keep the claim alive")
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  /** A graftrace:// root over a fresh local temp dir. */
  private def raceRoot(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.graftrace.impl",
      classOf[graft.util.ForeignManifestFileSystem].getName)
    "graftrace://" + Files.createTempDirectory(prefix).toString
  }

  private def dirNames(table: String): Seq[String] =
    VersionedTable.dataDirs(table)
      .map(new org.apache.hadoop.fs.Path(_).getName)

  private def claimsLeft(table: String): Seq[String] = {
    val (fs, root) = graft.util.Fs.fsFor(s"$table/_versions")
    fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(".claim-")).toSeq
  }

  test("lost publish race: a foreign manifest lands at N first — an " +
      "append re-lists and publishes at N+1 carrying both commits; a " +
      "replace based on N-1 refuses and cleans only its own claim") {
    import graft.util.ForeignManifestFileSystem
    val table = raceRoot("graft_race_") + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    // another process reserved dir 3, wrote it, and publishes manifest 2
    // (dirs 1 and 3) the instant this append creates manifest 2
    Seq(30).toDF("x").write.parquet(s"$table/v=3")
    ForeignManifestFileSystem.foreign.set(
      s"${System.currentTimeMillis()}\ndirs=1,3\nop=append\n")
    val v = VersionedTable.append(Seq(2).toDF("x"), table)
    assert(ForeignManifestFileSystem.foreign.get == null,
      "the foreign commit never landed")
    assert(v == 3L)
    assert(VersionedTable.versions(table) == Seq(1L, 2L, 3L))
    assert(dirNames(table) == Seq("v=1", "v=3", "v=2"))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 30))
    assert(claimsLeft(table).isEmpty)

    val t2 = raceRoot("graft_race2_") + "/t"
    VersionedTable.write(Seq(1).toDF("x"), t2)
    Seq(30).toDF("x").write.parquet(s"$t2/v=3")
    ForeignManifestFileSystem.foreign.set(
      s"${System.currentTimeMillis()}\ndirs=1,3\nop=append\n")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.replace(Seq(9).toDF("x"), t2,
        keepDataVersions = Seq(1L), baseVersion = Some(1L))
    }
    assert(e.getMessage.contains("table moved to snapshot 2"), e.getMessage)
    val (fs, root) = graft.util.Fs.fsFor(t2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v=2")),
      "the loser's own reserved dir is removed")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "v=3")),
      "the winner's dir stands")
    assert(claimsLeft(t2).isEmpty)
    assert(VersionedTable.versions(t2) == Seq(1L, 2L))
    assert(VersionedTable.read(spark, t2).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 30))
  }

  test("lost publish race across lines: main and branch manifests " +
      "share one name per number — a branch manifest landing at N " +
      "pushes a main append to N+1, a main append landing at N pushes " +
      "a branch commit to N+1, and no commit's rows are lost") {
    import graft.util.ForeignManifestFileSystem
    val table = raceRoot("graft_race_br_") + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    VersionedTable.createBranch(table, "b")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.collect().map(_.getInt(0)).sorted.toSeq

    // another process's branch commit (dir 3) lands manifest 2 the
    // instant this main append creates manifest 2
    Seq(30).toDF("x").write.parquet(s"$table/v=3")
    ForeignManifestFileSystem.foreign.set(
      s"${System.currentTimeMillis()}\ndirs=1,3\nop=append\nbranch=b\n")
    assert(VersionedTable.append(Seq(2).toDF("x"), table) == 3L)
    assert(ForeignManifestFileSystem.foreign.get == null,
      "the foreign commit never landed")
    assert(VersionedTable.versions(table) == Seq(1L, 3L))
    assert(VersionedTable.branches(table) == Map("b" -> 2L))
    assert(rows(VersionedTable.read(spark, table)) == Seq(1, 2))
    assert(rows(VersionedTable.readBranch(spark, table, "b")) == Seq(1, 30))
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, table, Some(2L))
    }

    // another process's main append (dir 5, based on main 3) lands
    // manifest 4 the instant this branch commit creates manifest 4
    Seq(50).toDF("x").write.parquet(s"$table/v=5")
    ForeignManifestFileSystem.foreign.set(
      s"${System.currentTimeMillis()}\ndirs=1,2,5\nop=append\n")
    assert(VersionedTable.appendToBranch(Seq(4).toDF("x"), table, "b") == 5L)
    assert(VersionedTable.branches(table) == Map("b" -> 5L))
    assert(rows(VersionedTable.readBranch(spark, table, "b")) ==
      Seq(1, 4, 30))
    // the next main append builds on the foreign main manifest 4, not
    // on the branch manifest 5 or on main 3
    assert(VersionedTable.append(Seq(6).toDF("x"), table) == 6L)
    assert(VersionedTable.versions(table) == Seq(1L, 3L, 4L, 6L))
    assert(rows(VersionedTable.read(spark, table)) == Seq(1, 2, 6, 50))
    assert(claimsLeft(table).isEmpty)
    val (fs, root) = graft.util.Fs.fsFor(s"$table/_versions")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, "branch-b"))
      .map(_.getPath.getName).toSeq == Seq(".base"),
      "branch manifests live in the shared namespace")

    VersionedTable.dropBranch(table, "b")
    assert(fs.listStatus(root).map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).sorted.toSeq == Seq("1", "3", "4", "6"))
    assert(VersionedTable.versions(table) == Seq(1L, 3L, 4L, 6L))
  }

  test("branch manifests that older code wrote under " +
      "_versions/branch-<b>/N are read, counted and dropped") {
    val table = Files.createTempDirectory("graft_oldbr_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    val old = java.nio.file.Paths.get(table, "_versions", "branch-old")
    Files.createDirectories(old)
    Files.write(old.resolve(".base"),
      s"1\n${System.currentTimeMillis()}\n".getBytes)
    Seq(2).toDF("x").write.parquet(s"$table/v=2")
    Files.write(old.resolve("2"),
      s"${System.currentTimeMillis()}\ndirs=1,2\nop=append\n".getBytes)
    assert(VersionedTable.branches(table) == Map("old" -> 2L))
    assert(VersionedTable.versions(table) == Seq(1L))
    // the next commit of any line takes the number past the old manifest
    assert(VersionedTable.appendToBranch(Seq(3).toDF("x"), table, "old") ==
      3L)
    assert(VersionedTable.branchHistory(table, "old").map(_._1) ==
      Seq(2L, 3L))
    assert(VersionedTable.readBranch(spark, table, "old").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    assert(VersionedTable.readRef(spark, table, "old@2").count() == 2)
    VersionedTable.dropBranch(table, "old")
    assert(!Files.exists(old))
    assert(!Files.exists(java.nio.file.Paths.get(table, "_versions", "3")))
    assert(!Files.exists(java.nio.file.Paths.get(table, "v=2")))
    assert(!Files.exists(java.nio.file.Paths.get(table, "v=3")))
    assert(VersionedTable.append(Seq(4).toDF("x"), table) == 2L)
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 4))
  }

  test("dir-id reuse: a manifest referencing v=K above its own number " +
      "(no marker) makes the next reservation take K+1 — a failing " +
      "write then removes only its own dir and leaves v=K intact") {
    val table = Files.createTempDirectory("graft_reuse_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    Seq(30).toDF("x").write.parquet(s"$table/v=3")
    Files.write(java.nio.file.Paths.get(table, "_versions", "2"),
      s"${System.currentTimeMillis()}\ndirs=1,3\nop=append\n".getBytes)
    val v3 = java.nio.file.Paths.get(table, "v=3")
    def v3Files: Seq[String] = Files.list(v3).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    val before = v3Files

    val e = intercept[Exception] {
      VersionedTable.append(spark.range(3)
        .selectExpr("CAST(id + CAST(raise_error('boom') AS BIGINT) AS INT) AS x"),
        table)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(c => String.valueOf(c.getMessage))
    assert(causes.exists(_.contains("boom")), e.toString)
    assert(v3Files == before, "the published dir v=3 must be untouched")
    assert(!Files.exists(java.nio.file.Paths.get(table, "v=4")))
    assert(claimsLeft(table).isEmpty)
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 30))

    val v = VersionedTable.append(Seq(2).toDF("x"), table)
    assert(v == 3L)
    assert(dirNames(table) == Seq("v=1", "v=3", "v=4"))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 30))
    assert(v3Files == before)
  }

  test("create protocol: appendBatch stays exactly-once under " +
      "redelivery") {
    val table = Files.createTempDirectory("graft_cp4_").toString + "/t"
    assert(VersionedTable.appendBatch(Seq(1).toDF("x"), table, 0L).nonEmpty)
    assert(VersionedTable.appendBatch(Seq(1).toDF("x"), table, 0L).isEmpty)
    assert(VersionedTable.appendBatch(Seq(2).toDF("x"), table, 1L).nonEmpty)
    assert(VersionedTable.read(spark, table).count() == 2)
    assert(VersionedTable.lastStreamBatch(table).contains(1L))
  }

  test("create protocol: schema evolution writes META GENERATIONS " +
      "(no overwrite), per-snapshot schema history intact") {
    val table = Files.createTempDirectory("graft_cp5_").toString + "/t"
    val base = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    VersionedTable.create(table, base)
    VersionedTable.write(Seq(1L).toDF("k"), table)
    VersionedTable.addColumns(spark, table, Seq(
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)))
    VersionedTable.addColumns(spark, table, Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType)))
    assert(VersionedTable.storedSchema(table).get.fieldNames.toSeq ==
      Seq("k", "note", "extra"))
    // generations on disk: .table (g-1), .table.g0, .table.g1
    val (fs, root) = graft.util.Fs.fsFor(s"$table/_versions")
    val metas = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(".table")).sorted.toSeq
    assert(metas == Seq(".table", ".table.g0", ".table.g1"))
    // time travel to the pre-evolution snapshot serves the OLD schema
    assert(VersionedTable.read(spark, table, Some(1L))
      .schema.fieldNames.toSeq == Seq("k"))
    // evolved reads null-fill
    VersionedTable.append(Seq((2L, "n", 9L)).toDF("k", "note", "extra"),
      table)
    val cur = VersionedTable.read(spark, table)
    assert(cur.schema.fieldNames.toSeq == Seq("k", "note", "extra"))
    assert(cur.where(col("k") === 1L).select("note").collect()
      .head.isNullAt(0))
  }

  test("graftnr simulated object store: every verb runs with zero " +
      "commit renames and no conf set") {
    val table = graftnrRoot("graft_nr_") + "/t"
    VersionedTable.write(Seq(1, 2).toDF("x"), table)
    VersionedTable.append(Seq(3).toDF("x"), table)
    assert(VersionedTable.read(spark, table).count() == 3)
    // snapshot compaction commits through the same path: no scheme guard
    assert(VersionedTable.dataDirs(table).size == 2)
    val compacted = Maintenance.compactVersioned(spark, table)
    assert(compacted.ok, compacted.detail)
    assert(VersionedTable.dataDirs(table).size == 1)
    assert(VersionedTable.read(spark, table).count() == 3)
    assert(VersionedTable.read(spark, table, Some(1L)).count() == 2)
    VersionedTable.rollback(table, 1L)
    assert(VersionedTable.read(spark, table).count() == 2)
    VersionedTable.rollback(table, 2L)
    assert(VersionedTable.rewriteManifests(table).nonEmpty)
    assert(VersionedTable.read(spark, table).count() == 3)
    VersionedTable.truncate(spark, table)
    assert(VersionedTable.read(spark, table).count() == 0)
    VersionedTable.expire(table, keepLast = 3)
    assert(VersionedTable.appendBatch(Seq(9).toDF("x"), table, 7L).nonEmpty)
    assert(VersionedTable.appendBatch(Seq(9).toDF("x"), table, 7L).isEmpty)
    assert(VersionedTable.read(spark, table).count() == 1)

    // row-level replace, tags, the branch (WAP) verbs and orphan
    // cleanup ride the same zero-rename path
    val cur = VersionedTable.versions(table).last
    VersionedTable.replace(Seq(8).toDF("x"), table, Nil, Some(cur))
    VersionedTable.createTag(table, "t1")
    VersionedTable.createBranch(table, "wap")
    VersionedTable.appendToBranch(Seq(7).toDF("x"), table, "wap")
    VersionedTable.writeToBranch(Seq(6, 7).toDF("x"), table, "wap")
    assert(VersionedTable.expireBranchSnapshots(table, "wap", 1).size == 1)
    VersionedTable.fastForward(table, "wap")
    assert(VersionedTable.read(spark, table).collect().map(_.getInt(0))
      .sorted.toSeq == Seq(6, 7))
    VersionedTable.dropBranch(table, "wap")
    VersionedTable.dropTag(table, "t1")
    assert(Maintenance.removeOrphans(spark, table).ok)
    assert(VersionedTable.read(spark, table).count() == 2)

    // declared tables: create + additive evolution (meta generations)
    val declared = graftnrRoot("graft_nr_decl_") + "/t"
    VersionedTable.create(declared,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
    VersionedTable.append(Seq(1L).toDF("k"), declared)
    VersionedTable.addColumns(spark, declared, Seq(
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)))
    assert(VersionedTable.read(spark, declared).schema.fieldNames.toSeq ==
      Seq("k", "note"))
  }

  test("graftnr object store: SQL DML (INSERT / UPDATE / DELETE / " +
      "MERGE) commits through the claim-at-write path") {
    val w = graftnrRoot("graft_nrsql_")
    val cat = s"gnr${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sql.GraftProcedureCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE TABLE $cat.wh.t (k BIGINT, val STRING)")
    spark.sql(s"INSERT INTO $cat.wh.t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $cat.wh.t VALUES (3, 'c')")
    assert(spark.sql(s"SELECT * FROM $cat.wh.t").count() == 3)
    // row-level rewrite: claim-at-write (executors write into the
    // claimed v=N; no staging rename anywhere)
    spark.sql(s"UPDATE $cat.wh.t SET val = 'B' WHERE k = 2")
    assert(spark.sql(
      s"SELECT val FROM $cat.wh.t WHERE k = 2").collect()
      .head.getString(0) == "B")
    // untouched dir carried BY REFERENCE: the update rewrote only the
    // touched snapshot dir
    spark.sql(s"DELETE FROM $cat.wh.t WHERE k = 1")
    assert(spark.sql(s"SELECT * FROM $cat.wh.t").count() == 2)
    spark.sql(s"""MERGE INTO $cat.wh.t t USING (SELECT 3 AS k, 'C' AS val
      UNION ALL SELECT 4, 'd') s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql(s"SELECT val FROM $cat.wh.t ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("B", "C", "d"))
    // time travel still serves every retained snapshot
    assert(spark.sql(s"SELECT * FROM $cat.wh.t VERSION AS OF 2")
      .count() == 3)
  }

  test("create-if-absent helper: 8 threads racing one local path for " +
      "100 rounds — exactly one winner per round, its bytes intact") {
    val dir = Files.createTempDirectory("graft_createnew_")
    val (fs, p) = graft.util.Fs.fsFor(dir.resolve("marker").toString)
    val threads = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try (1 to 100).foreach { round =>
      val start = new java.util.concurrent.CyclicBarrier(threads)
      val tries = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            try {
              graft.util.Fs.createNew(fs, p, s"$round-$t".getBytes)
              true
            } catch {
              case _: java.nio.file.FileAlreadyExistsException => false
              case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
            }
          }
        })
      }
      val winners = tries.zipWithIndex.filter(_._1.get()).map(_._2)
      assert(winners.size == 1, s"round $round: winners $winners")
      assert(graft.util.Fs.readSmallFileFs(fs, p) ==
        s"$round-${winners.head}", s"round $round: content")
      fs.delete(p, false)
    } finally pool.shutdown()
    // no temp debris from the losers
    assert(Files.list(dir).count() == 0)
  }

  test("a table written by the retired rename protocol keeps working: " +
      "pin files ignored, in-place .table, marker-less v=N, .stage-* " +
      "and create temp debris handled by append / rollback / expire / " +
      "remove_orphan_files") {
    import org.apache.spark.sql.types.StructType
    val table = Files.createTempDirectory("graft_old_").toString + "/t"
    VersionedTable.create(table, StructType.fromDDL("x INT"))
    VersionedTable.write(Seq(1).toDF("x"), table) // v1
    VersionedTable.append(Seq(2).toDF("x"), table) // v2
    val vdir = java.nio.file.Paths.get(table, "_versions")
    // the old per-table protocol pin, in both generations
    Files.write(vdir.resolve(".protocol"), "rename".getBytes)
    Files.write(vdir.resolve(".protocol.g0"), "create".getBytes)
    // the old claim-TTL pin — a 1 ms TTL would make every fresh temp
    // sibling cold at once — an orphaned heartbeat sidecar of the old
    // claim liveness, and a session that still sets the old TTL conf
    Files.write(vdir.resolve(".liveness.g0"), "claimTtlMs=1\n".getBytes)
    Files.write(vdir.resolve(".claim-7.hb"), "0\n".getBytes)
    val ttlConf = "spark.graft.commit.claimTtlMs"
    spark.conf.set(ttlConf, "1")
    // the old addColumns rewrote `.table` IN PLACE (temp + rename)
    Files.write(vdir.resolve(".table"),
      s"partition=\n${StructType.fromDDL("x INT, note STRING").json}\n"
        .getBytes)
    // a committer that died between its claim rename and its manifest:
    // v=3 holds data but no manifest, and every mtime is cold
    val dead = java.nio.file.Paths.get(table, "v=3")
    Files.createDirectories(dead)
    Files.write(dead.resolve("part-dead.parquet"), Array[Byte](1))
    val cold = java.nio.file.attribute.FileTime.fromMillis(1000L)
    Files.setLastModifiedTime(dead.resolve("part-dead.parquet"), cold)
    Files.setLastModifiedTime(dead, cold)
    // a committer that died before its claim: staged, never renamed
    val stage = java.nio.file.Paths.get(table, ".stage-0123abcd")
    Files.createDirectories(stage)
    Files.write(stage.resolve("part-0.parquet"), Array[Byte](1))

    assert(VersionedTable.storedSchema(table).get.fieldNames.toSeq ==
      Seq("x", "note"))
    // the marker-less dir blocks nothing: the append steps past it to
    // dir 4 and publishes manifest 3
    try assert(VersionedTable.append(Seq((3, "c")).toDF("x", "note"),
      table) == 3L)
    finally spark.conf.unset(ttlConf)
    val rows = VersionedTable.read(spark, table).orderBy("x").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(rows == Seq((1, None), (2, None), (3, Some("c"))))
    assert(VersionedTable.rollback(table, 1L) == 4L)
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    assert(VersionedTable.expire(table, keepLast = 2) == Seq(1L, 2L))
    // temp siblings of a create-if-absent that crashed before its link:
    // a cold one is debris, a fresh one may belong to a live create
    val coldTmp = vdir.resolve(".tmp-0123abcd-9")
    Files.write(coldTmp, Array[Byte](1))
    Files.setLastModifiedTime(coldTmp, cold)
    val freshTmp = vdir.resolve(".tmp-4567cdef-9")
    Files.write(freshTmp, Array[Byte](1))
    val rep = Maintenance.removeOrphans(spark, table)
    assert(rep.ok, rep.detail)
    assert(!Files.exists(stage))
    assert(!Files.exists(dead.resolve("part-dead.parquet")),
      "the marker-less cold dir is orphan debris")
    assert(!Files.exists(coldTmp) && Files.exists(freshTmp))
    assert(!Files.exists(vdir.resolve(".claim-7.hb")))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    assert(VersionedTable.append(Seq((5, "e")).toDF("x", "note"),
      table) == 5L)
    assert(VersionedTable.read(spark, table).count() == 2)
    // the pins are left as they were, and no claim survives a commit
    assert(new String(Files.readAllBytes(vdir.resolve(".protocol"))) ==
      "rename")
    assert(Files.exists(vdir.resolve(".protocol.g0")))
    assert(Files.exists(vdir.resolve(".liveness.g0")))
    assert(!Files.list(vdir).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".claim-")))
  }

  test("liveness dir walk (r17): early-exits on the first fresh entry " +
      "instead of listing the claimed dir end-to-end; a transient " +
      "listing failure FAILS CLOSED (claim reads live); only genuine " +
      "coldness authorizes the reap") {
    import graft.util.CountingLivenessFileSystem
    spark.sparkContext.hadoopConfiguration.set("fs.graftcnt.impl",
      classOf[CountingLivenessFileSystem].getName)
    val table = "graftcnt://" +
      Files.createTempDirectory("graft_cnt_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    val (fs, root) = graft.util.Fs.fsFor(table)

    // foreign claim with an epoch-0 line: the dir walk is the deciding
    // signal
    val claim = new org.apache.hadoop.fs.Path(root, "_versions/.claim-2")
    val out = fs.create(claim, false)
    out.write("foreign-token\n0\n".getBytes); out.close()
    val dir = new org.apache.hadoop.fs.Path(root, "v=2")
    fs.mkdirs(dir)
    val files = (1 to 20).map { i =>
      val p = new org.apache.hadoop.fs.Path(dir, s"part-$i")
      val o = fs.create(p, false); o.write(1); o.close(); p
    }
    // dir mtime old, FILES fresh — a committer mid-write whose task
    // files are landing right now
    fs.setTimes(dir, 1000L, -1L)

    CountingLivenessFileSystem.listedEntries.set(0L)
    assert(VersionedTable.protectedClaimVersions(fs, root) == Set(2L),
      "fresh task files must read as liveness")
    assert(CountingLivenessFileSystem.listedEntries.get() <= 1L,
      "the walk must short-circuit on the first fresh entry, not " +
        s"list all 20 (listed ${CountingLivenessFileSystem
          .listedEntries.get()})")

    // everything genuinely old now — but the listing THROWS (an S3
    // throttle mid-decision): FAIL CLOSED, the claim reads live and
    // the cleanup waits for a clean read
    files.foreach(fs.setTimes(_, 1000L, -1L))
    fs.setTimes(dir, 1000L, -1L)
    CountingLivenessFileSystem.failListFiles.set(true)
    try assert(VersionedTable.protectedClaimVersions(fs, root) == Set(2L),
      "a transient listing failure must never authorize removal")
    finally CountingLivenessFileSystem.failListFiles.set(false)

    // clean read, genuinely cold: remove_orphan_files may take it
    assert(VersionedTable.protectedClaimVersions(fs, root).isEmpty)
  }

  test("scoped conditional-create attestation (r17): the gate demands " +
      "a signal NAMING this scheme or root — a blanket `true` and an " +
      "attestation for a different store both refuse; scheme and " +
      "root-prefix forms admit exactly what they name") {
    spark.sparkContext.hadoopConfiguration.set("fs.s3a.impl",
      classOf[FakeObjectStoreFileSystem].getName)
    val local = Files.createTempDirectory("graft_att_").toString
    val table = s"s3a://$local/t"
    def attempt(): Unit = VersionedTable.write(Seq(1).toDF("x"), table)

    // no positive signal: the fake s3a store reports no capability
    // and no conditional-create conf — refuse, naming the conf
    val e0 = intercept[IllegalArgumentException] { attempt() }
    assert(e0.getMessage.contains(VersionedTable.CreateTrustedConfKey))

    // the pre-r17 blanket form is refused WITH guidance, not honored
    spark.conf.set(VersionedTable.CreateTrustedConfKey, "true")
    val e1 = intercept[IllegalArgumentException] { attempt() }
    assert(e1.getMessage.contains("name what you attest"))

    // attesting a DIFFERENT store must not admit this one
    spark.conf.set(VersionedTable.CreateTrustedConfKey, "gs")
    val e2 = intercept[IllegalArgumentException] { attempt() }
    assert(e2.getMessage.contains(VersionedTable.CreateTrustedConfKey))

    // a root prefix that is NOT a prefix of this root (and the
    // segment-boundary case: a string prefix of the bucket) refuses
    spark.conf.set(VersionedTable.CreateTrustedConfKey,
      s"s3a://$local-other")
    val e3 = intercept[IllegalArgumentException] { attempt() }
    assert(e3.getMessage.contains(VersionedTable.CreateTrustedConfKey))

    // naming the scheme admits it
    spark.conf.set(VersionedTable.CreateTrustedConfKey, "abfss,s3a")
    attempt()
    assert(VersionedTable.read(spark, table).count() == 1)

    // the per-root form admits exactly the named subtree
    val t2 = s"s3a://$local/t2"
    spark.conf.set(VersionedTable.CreateTrustedConfKey, s"s3a://$local")
    VersionedTable.write(Seq(1, 2).toDF("x"), t2)
    assert(VersionedTable.read(spark, t2).count() == 2)
    spark.conf.unset(VersionedTable.CreateTrustedConfKey)
  }
}
