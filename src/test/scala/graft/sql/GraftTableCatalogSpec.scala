package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.VersionedTable

/** The DSv2 TableCatalog face of [[GraftProcedureCatalog]]: native SQL
  * time travel (`VERSION AS OF` / `TIMESTAMP AS OF`) over VersionedTable
  * roots, plain-parquet serving, and the read-only refusals — alongside
  * the CALL surface on the same catalog name. */
class GraftTableCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(w: String): String = {
    val name = s"gtt${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftProcedureCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", w)
    name
  }

  test("VERSION AS OF, TIMESTAMP AS OF, latest, and rollback redirects " +
      "resolve through plain multipart SQL") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val table = s"$w/wh/t"
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    Thread.sleep(10)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(10)
    VersionedTable.write(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), table)
    val cat = freshCatalog(w)

    assert(spark.sql(s"SELECT k FROM $cat.wh.t").count() == 3)
    assert(spark.sql(s"SELECT k FROM $cat.wh.t VERSION AS OF 1")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // TIMESTAMP AS OF between the two commits resolves v1 (session UTC)
    val tsLit = java.time.Instant.ofEpochMilli(betweenMs).toString
      .replace("T", " ").stripSuffix("Z")
    assert(spark.sql(
      s"SELECT k FROM $cat.wh.t TIMESTAMP AS OF '$tsLit'").count() == 2)
    // rollback commits a redirect manifest; the catalog must follow it
    VersionedTable.rollback(table, 1L)
    assert(spark.sql(s"SELECT k FROM $cat.wh.t").count() == 2)
    assert(spark.sql(s"SELECT k FROM $cat.wh.t VERSION AS OF 3")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // a timestamp before the first commit has no snapshot to serve
    val e = intercept[Exception] {
      spark.sql(s"SELECT k FROM $cat.wh.t TIMESTAMP AS OF '2001-01-01'")
        .collect()
    }
    assert(e.getMessage.contains("predates"))
  }

  test("plain parquet dirs (flat and Hive-partitioned) serve through " +
      "the catalog; VERSION AS OF on them refuses") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$w/flat")
    (1 to 2).foreach(d => Seq((d.toLong, s"p$d")).toDF("k", "v")
      .write.parquet(s"$w/part/day=$d"))
    val cat = freshCatalog(w)
    assert(spark.sql(s"SELECT v FROM $cat.flat").collect()
      .map(_.getString(0)).toSeq == Seq("x"))
    // partition pruning works on the catalog-served relation too
    assert(spark.sql(s"SELECT v FROM $cat.part WHERE day = 2").collect()
      .map(_.getString(0)).toSeq == Seq("p2"))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.flat VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("not a versioned table"))
    // missing tables raise the standard analysis error
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.nope").collect()
    }
  }

  test("listTables, tableExists, read-only refusals, and the CALL " +
      "surface coexist on one catalog name") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$w/ns/a")
    Seq((2L, "y")).toDF("k", "v").write.parquet(s"$w/ns/b")
    val cat = freshCatalog(w)
    assert(spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("a", "b"))
    // plain parquet dirs are not catalog-managed: DROP refuses (they
    // belong to the path-based pipeline that wrote them)
    val e = intercept[Exception] {
      spark.sql(s"DROP TABLE $cat.ns.a")
    }
    assert(e.getMessage.contains("plain parquet dir"))
    // ALTER on a plain dir refuses (only versioned roots evolve)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.a ADD COLUMN z INT")
    }
    assert(e2.getMessage.contains("not a catalog-managed versioned table"))
    // procedures keep working with a warehouse configured
    val rep = spark.sql(
      s"CALL $cat.system.remove_orphan_files(table => '$w/ns/a')").collect()
    assert(rep.head.getBoolean(2))
  }

  // ---- the write surface (r13): DDL + DML through pure SQL ------------

  test("CREATE TABLE + INSERT INTO commits INCREMENTAL snapshots: prior " +
      "data carried by reference, history time-travelable") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.wh.t (k BIGINT, v STRING)")
    // a declared-but-empty table serves its schema and zero rows
    val empty = spark.sql(s"SELECT * FROM $cat.wh.t")
    assert(empty.columns.toSeq == Seq("k", "v") && empty.count() == 0)
    spark.sql(s"INSERT INTO $cat.wh.t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $cat.wh.t VALUES (3, 'c')")
    val table = s"$w/wh/t"
    assert(VersionedTable.versions(table) == Seq(1L, 2L))
    // the append's manifest lists v=1 BY REFERENCE plus its own delta
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last)
      == Seq("1", "2"))
    assert(spark.sql(s"SELECT k FROM $cat.wh.t").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(spark.sql(s"SELECT k FROM $cat.wh.t VERSION AS OF 1").count() == 2)
    // v=1's data files were not touched by the append
    val v1Files = new java.io.File(s"$table/v=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length))
    assert(v1Files.nonEmpty)
  }

  test("INSERT OVERWRITE commits a FULL snapshot; TRUNCATE an empty " +
      "one; both leave prior versions readable") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a')")
    spark.sql(s"INSERT INTO $cat.t VALUES (2, 'b')")
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (9, 'z')")
    val table = s"$w/t"
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last) == Seq("3"))
    assert(spark.sql(s"SELECT k FROM $cat.t").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
    assert(spark.sql(s"SELECT k FROM $cat.t VERSION AS OF 2").count() == 2)
    spark.sql(s"TRUNCATE TABLE $cat.t")
    assert(spark.sql(s"SELECT * FROM $cat.t").count() == 0)
    assert(spark.sql(s"SELECT k FROM $cat.t VERSION AS OF 3").count() == 1)
  }

  test("CTAS seeds a table from a query; DROP TABLE removes a versioned " +
      "root") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").createOrReplaceTempView("src_ctas")
    spark.sql(s"CREATE TABLE $cat.c AS SELECT * FROM src_ctas WHERE k = 1")
    assert(spark.sql(s"SELECT v FROM $cat.c").collect()
      .map(_.getString(0)).toSeq == Seq("x"))
    assert(VersionedTable.isVersioned(s"$w/c"))
    spark.sql(s"DROP TABLE $cat.c")
    assert(!new java.io.File(s"$w/c").exists())
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.c").collect()
    }
  }

  test("DROP TABLE then CREATE TABLE / CTAS of the same name in one " +
      "session starts a fresh table at version 1") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").createOrReplaceTempView("src_re")
    spark.sql(s"CREATE TABLE $cat.r AS SELECT * FROM src_re")
    spark.sql(s"INSERT INTO $cat.r VALUES (3, 'z')")
    spark.sql(s"DROP TABLE $cat.r")
    spark.sql(s"CREATE TABLE $cat.r (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.r VALUES (7, 'q')")
    assert(VersionedTable.versions(s"$w/r") == Seq(1L))
    assert(spark.sql(s"SELECT k FROM $cat.r").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    spark.sql(s"DROP TABLE $cat.r")
    spark.sql(s"CREATE TABLE $cat.r AS SELECT * FROM src_re WHERE k = 2")
    assert(VersionedTable.versions(s"$w/r") == Seq(1L))
    assert(spark.sql(s"SELECT v FROM $cat.r").collect()
      .map(_.getString(0)).toSeq == Seq("y"))
  }

  test("DELETE FROM rewrites copy-on-write at dir granularity: " +
      "untouched dirs carry by reference, time travel keeps the rows") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.d (k BIGINT, grp STRING)")
    spark.sql(s"INSERT INTO $cat.d SELECT id, 'low' FROM range(0, 50)")
    spark.sql(s"INSERT INTO $cat.d SELECT id, 'high' FROM range(100, 150)")
    spark.sql(s"DELETE FROM $cat.d WHERE k >= 120")
    val table = s"$w/d"
    // v=1 (no affected rows) carried by reference; v=2 rewritten as v=3
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last)
      == Seq("1", "3"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.d").head().getLong(0) == 70L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.d WHERE k >= 120")
      .head().getLong(0) == 0L)
    // the pre-delete snapshot still has all 100 rows
    assert(spark.sql(s"SELECT count(*) FROM $cat.d VERSION AS OF 2")
      .head().getLong(0) == 100L)
    // a DELETE matching nothing commits nothing
    val before = VersionedTable.versions(table)
    spark.sql(s"DELETE FROM $cat.d WHERE k < 0")
    assert(VersionedTable.versions(table) == before)
  }

  test("DELETE FROM anchors dir detection past the table root: a " +
      "warehouse living inside a /v=N/ path still resolves touched dirs") {
    val base = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    // hostile root: the warehouse path itself contains a /v=3/ segment,
    // so an UNanchored extraction would resolve every file to "3" and
    // the DELETE would silently keep its rows (r13 advice finding)
    val w = s"$base/v=3/wh"
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.d (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.d SELECT id FROM range(0, 10)")
    spark.sql(s"INSERT INTO $cat.d SELECT id FROM range(100, 110)")
    spark.sql(s"DELETE FROM $cat.d WHERE k >= 100")
    val table = s"$w/d"
    // v=1 (no affected rows) carried by reference; v=2 rewritten as v=3
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last)
      == Seq("1", "3"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.d").head().getLong(0) == 10L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.d WHERE k >= 100")
      .head().getLong(0) == 0L)
  }

  test("partitioned CREATE TABLE: identity partitioning lays out " +
      "Hive dirs inside each snapshot and prunes on read") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(
      s"CREATE TABLE $cat.p (k BIGINT, day STRING) PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO $cat.p VALUES (1, 'd1'), (2, 'd2')")
    spark.sql(s"INSERT INTO $cat.p VALUES (3, 'd1')")
    val table = s"$w/p"
    assert(new java.io.File(s"$table/v=1/day=d1").exists())
    assert(new java.io.File(s"$table/v=2/day=d1").exists())
    assert(spark.sql(s"SELECT k FROM $cat.p WHERE day = 'd1'").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // partition filter prunes at the source, across BOTH snapshot dirs
    val scan = spark.sql(s"SELECT k FROM $cat.p WHERE day = 'd2'")
    assert(scan.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // non-identity transforms refuse at CREATE
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.pb (k BIGINT) PARTITIONED BY (bucket(4, k))")
    }
    assert(e.getMessage.contains("identity"))
  }

  test("SQL UPDATE rewrites copy-on-write: new snapshot, history intact") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.u (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.u VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"UPDATE $cat.u SET v = 'upd' WHERE k >= 2")
    assert(spark.sql(s"SELECT v FROM $cat.u ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "upd", "upd"))
    val table = s"$w/u"
    assert(VersionedTable.versions(table) == Seq(1L, 2L))
    // the pre-update snapshot still serves the original values
    assert(spark.sql(s"SELECT v FROM $cat.u VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b", "c"))
  }

  test("SQL MERGE INTO: update + delete + insert in one statement " +
      "commits one snapshot") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.m (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.m VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    Seq((2L, "B", false), (3L, "C", true), (4L, "D", false))
      .toDF("k", "v", "del").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $cat.m t USING merge_src s ON t.k = s.k
         |WHEN MATCHED AND s.del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         |""".stripMargin)
    assert(spark.sql(s"SELECT k, v FROM $cat.m ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "B"), (4L, "D")))
    val table = s"$w/m"
    assert(VersionedTable.versions(table) == Seq(1L, 2L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.m VERSION AS OF 1")
      .head().getLong(0) == 3L)
  }

  test("MERGE/UPDATE preserve a partitioned table's Hive layout; an " +
      "untranslatable DELETE takes the rewrite path") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(
      s"CREATE TABLE $cat.pm (k BIGINT, day STRING) PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO $cat.pm VALUES (1, 'd1'), (2, 'd2'), (4, 'd2')")
    spark.sql(s"UPDATE $cat.pm SET day = 'd3' WHERE k = 2")
    val table = s"$w/pm"
    assert(new java.io.File(s"$table/v=2/day=d3").exists())
    assert(spark.sql(s"SELECT k FROM $cat.pm WHERE day = 'd3'").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // no staging dir left behind
    assert(!new java.io.File(table).listFiles()
      .exists(_.getName.startsWith(".replace-staging")))
    // SINGLE-PASS layout (r14): the published files carry the staging
    // writer's own part-<pid>-<tid>-<uuid> names — the r13 re-lay
    // second job would have rewritten them under Spark's
    // part-00000-<uuid> convention
    val laid = Option(new java.io.File(s"$table/v=2/day=d3").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
    assert(laid.nonEmpty && laid.forall(
      _.getName.matches("part-\\d+-\\d+-[0-9a-f]{8}\\..*parquet")),
      laid.map(_.getName).mkString(","))
    // k % 2 has no v1 source-filter translation: the rewrite path now
    // serves it (pre-r13 this errored)
    spark.sql(s"DELETE FROM $cat.pm WHERE k % 2 = 0")
    assert(spark.sql(s"SELECT k FROM $cat.pm").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.pm VERSION AS OF 2")
      .head().getLong(0) == 3L)
  }

  test("UPDATE rewrites only the dirs its condition touches: runtime " +
      "group filtering carries untouched dirs by reference") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.gu (k BIGINT, tag STRING)")
    spark.sql(s"INSERT INTO $cat.gu SELECT id, 'a' FROM range(0, 50)")
    spark.sql(s"INSERT INTO $cat.gu SELECT id, 'b' FROM range(100, 150)")
    spark.sql(s"INSERT INTO $cat.gu SELECT id, 'c' FROM range(200, 250)")
    spark.sql(s"UPDATE $cat.gu SET tag = 'upd' WHERE k >= 200")
    val table = s"$w/gu"
    // STRUCTURAL: dirs 1 and 2 (no row matches) carry by reference;
    // only dir 3 rewrote, into the new snapshot's own v=4
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last)
      == Seq("1", "2", "4"),
      "untouched dirs must carry by reference — the runtime group " +
        "filter did not restrict the rewrite")
    assert(spark.sql(s"SELECT count(*) FROM $cat.gu WHERE tag = 'upd'")
      .head().getLong(0) == 50L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.gu").head().getLong(0) == 150L)
    // pre-update snapshot intact
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.gu VERSION AS OF 3 WHERE tag = 'c'")
      .head().getLong(0) == 50L)
    // no staging leftovers
    assert(!new java.io.File(table).listFiles()
      .exists(f => f.getName.startsWith(".replace-staging") ||
        f.getName.startsWith(".stage-")))
    // the snapshot-dir metadata column reads like Iceberg's _file
    assert(spark.sql(s"SELECT DISTINCT v FROM $cat.gu WHERE tag = 'upd'")
      .head().getLong(0) == 4L)
  }

  test("MERGE INTO bounded by its source: only dirs with matched target " +
      "rows rewrite; inserts land in the new dir") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.gm (k BIGINT, qty BIGINT)")
    spark.sql(s"INSERT INTO $cat.gm SELECT id, 1 FROM range(0, 50)")
    spark.sql(s"INSERT INTO $cat.gm SELECT id, 1 FROM range(100, 150)")
    Seq((100L, 7L), (300L, 9L)).toDF("k", "qty")
      .createOrReplaceTempView("gm_src")
    spark.sql(
      s"""MERGE INTO $cat.gm t USING gm_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET qty = s.qty
         |WHEN NOT MATCHED THEN INSERT (k, qty) VALUES (s.k, s.qty)
         |""".stripMargin)
    val table = s"$w/gm"
    // the source only matches rows in dir 2: dir 1 carries by
    // reference, dir 2 rewrites (plus the inserted row) into v=3
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last)
      == Seq("1", "3"),
      "MERGE must rewrite only dirs its ON condition can touch")
    assert(spark.sql(s"SELECT qty FROM $cat.gm WHERE k = 100")
      .head().getLong(0) == 7L)
    assert(spark.sql(s"SELECT qty FROM $cat.gm WHERE k = 300")
      .head().getLong(0) == 9L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.gm").head().getLong(0) == 101L)
    assert(spark.sql(s"SELECT sum(qty) FROM $cat.gm").head().getLong(0)
      == 99L + 7L + 9L)
  }

  test("untranslatable DELETE is dir-granular too: the row-level " +
      "rewrite's runtime filter bounds it to dirs containing matches") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.ud (k BIGINT, tag STRING)")
    spark.sql(s"INSERT INTO $cat.ud SELECT id, 'a' FROM range(0, 50)")
    spark.sql(s"INSERT INTO $cat.ud SELECT id, 'b' FROM range(100, 150)")
    // k % 7 has no v1 source-filter translation -> row-level rewrite;
    // the conjunct k >= 100 bounds matches to dir 2, and the runtime
    // group filter must carry dir 1 by reference
    spark.sql(s"DELETE FROM $cat.ud WHERE k % 7 = 0 AND k >= 100")
    val table = s"$w/ud"
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last)
      == Seq("1", "3"),
      "untranslatable DELETE must bound its rewrite to touched dirs")
    // deleted: 105, 112, 119, 126, 133, 140, 147 — seven rows
    assert(spark.sql(s"SELECT count(*) FROM $cat.ud").head().getLong(0)
      == 93L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ud WHERE k % 7 = 0")
      .head().getLong(0) == 8L) // 0,7,...,49 in the untouched dir survive
  }

  test("MERGE with NOT MATCHED BY SOURCE falls back to the full " +
      "rewrite and stays exact") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.ms (k BIGINT, qty BIGINT)")
    spark.sql(s"INSERT INTO $cat.ms SELECT id, 1 FROM range(0, 5)")
    spark.sql(s"INSERT INTO $cat.ms SELECT id, 1 FROM range(10, 15)")
    Seq((10L, 5L)).toDF("k", "qty").createOrReplaceTempView("ms_src")
    spark.sql(
      s"""MERGE INTO $cat.ms t USING ms_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET qty = s.qty
         |WHEN NOT MATCHED BY SOURCE AND t.k < 2 THEN DELETE
         |""".stripMargin)
    // rows 0,1 deleted (not matched by source), k=10 updated to 5
    assert(spark.sql(s"SELECT sum(qty) FROM $cat.ms").head().getLong(0)
      == 3L + 4L + 5L) // 2..4 at qty 1 (=3) + 11..14 at qty 1 (=4) + k10 at 5
    assert(spark.sql(s"SELECT count(*) FROM $cat.ms").head().getLong(0) == 8L)
  }

  test("concurrent commit during a row-level rewrite fails the rewrite " +
      "cleanly: base-version validation, no staging orphan, appender wins") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.cc (k BIGINT, tag STRING)")
    spark.sql(s"INSERT INTO $cat.cc SELECT id, 'a' FROM range(0, 10)")
    val table = s"$w/cc"
    // a concurrent committer lands AFTER the rewrite's base (v1) was
    // captured; the rewrite then claims its version and writes into it:
    // the publish must refuse
    VersionedTable.append(
      spark.range(20, 22).selectExpr("id AS k", "'b' AS tag"), table)
    val claimed = VersionedTable.claimReplaceVersion(table)
    val dir = s"$table/v=$claimed"
    spark.range(1).selectExpr("id AS k", "'x' AS tag").write.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.publishClaimedReplace(table, claimed,
        baseVersion = Some(1L), keepDataVersions = Nil)
    }
    assert(e.getMessage.contains("concurrent commit"))
    // loser cleanup: the claimed dir is gone, the appender's commit stands
    assert(!new java.io.File(dir).exists())
    assert(VersionedTable.read(spark, table).count() == 12L)
    assert(VersionedTable.versions(table) == Seq(1L, 2L))
  }

  test("namespace DDL: CREATE/SHOW/DROP NAMESPACE over warehouse dirs; " +
      "tables and namespaces are distinguished") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE NAMESPACE $cat.silver")
    // a table dir must NOT list as a namespace
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$w/events")
    spark.sql(s"CREATE TABLE $cat.gold_t (k BIGINT)")
    val namespaces = spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(namespaces == Seq("raw", "silver"))
    spark.sql(s"CREATE TABLE $cat.raw.t1 AS SELECT 1L AS k")
    assert(spark.sql(s"SELECT k FROM $cat.raw.t1").head().getLong(0) == 1L)
    // DROP without CASCADE refuses a non-empty namespace
    intercept[Exception] { spark.sql(s"DROP NAMESPACE $cat.raw") }
    spark.sql(s"DROP NAMESPACE $cat.raw CASCADE")
    assert(!new java.io.File(s"$w/raw").exists())
    spark.sql(s"DROP NAMESPACE $cat.silver")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").count() == 0)
  }

  test("CALL rewrite_data_files on a versioned root commits the packed " +
      "content as a NEW snapshot (append-chain maintenance)") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.c (k BIGINT, v STRING)")
    (1 to 5).foreach(i =>
      spark.sql(s"INSERT INTO $cat.c VALUES ($i, 'r$i')"))
    val table = s"$w/c"
    assert(VersionedTable.dataDirs(table).size == 5)
    val rep = spark.sql(
      s"CALL $cat.system.rewrite_data_files(table => '$table')").collect()
    assert(rep.head.getBoolean(2), rep.head.getString(3))
    assert(rep.head.getString(3).contains("5 data dirs"))
    // one dir now; content identical; history still time-travelable
    assert(VersionedTable.dataDirs(table).size == 1)
    assert(spark.sql(s"SELECT k FROM $cat.c").collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 5L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.c VERSION AS OF 3")
      .head().getLong(0) == 3L)
    // sorted strategy recommits too (range-clustered files)
    val rep2 = spark.sql(s"CALL $cat.system.rewrite_data_files(" +
      s"table => '$table', strategy => 'sort', sort_order => 'k')").collect()
    assert(rep2.head.getBoolean(2), rep2.head.getString(3))
    assert(spark.sql(s"SELECT count(*) FROM $cat.c").head().getLong(0) == 5L)
  }

  test("ALTER TABLE ADD COLUMN: additive evolution, old files " +
      "null-fill, non-additive changes refuse") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.a (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.a VALUES (1, 'x')")
    spark.sql(s"ALTER TABLE $cat.a ADD COLUMNS (note STRING, score DOUBLE)")
    // pre-evolution rows serve NULL for the new columns
    val r1 = spark.sql(s"SELECT k, v, note, score FROM $cat.a").head()
    assert(r1.getLong(0) == 1L && r1.isNullAt(2) && r1.isNullAt(3))
    // post-evolution inserts carry the new columns
    spark.sql(s"INSERT INTO $cat.a VALUES (2, 'y', 'n2', 0.5)")
    assert(spark.sql(
        s"SELECT count(*) FROM $cat.a WHERE note = 'n2' AND score = 0.5")
      .head().getLong(0) == 1L)
    // mixed old/new files in one scan: both rows, nulls only where due
    assert(spark.sql(s"SELECT count(*) FROM $cat.a").head().getLong(0) == 2L)
    // non-additive evolutions refuse
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.a DROP COLUMN v")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.a RENAME COLUMN v TO w")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.a ADD COLUMN k STRING") // duplicate
    }
  }

  test("metadata tables: SELECT * FROM <cat>.<t>.history lists the " +
      "snapshot history and agrees with the graft_history TVF") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.mt (k BIGINT, tag STRING)")
    spark.sql(s"INSERT INTO $cat.mt VALUES (1, 'a')")
    spark.sql(s"INSERT INTO $cat.mt VALUES (2, 'b')")
    VersionedTable.rollback(s"$w/mt", 1L)
    val viaCat = spark.sql(
      s"SELECT version, data_version, is_current FROM $cat.mt.history " +
        "ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(viaCat == Seq((1L, 1L, false), (2L, 2L, false), (3L, 1L, true)))
    // the Iceberg spelling aliases the same view
    assert(spark.sql(s"SELECT count(*) FROM $cat.mt.snapshots")
      .head().getLong(0) == 3L)
    // agrees with the TVF by construction
    graft.expressions.GraftFunctions.register(spark)
    val viaTvf = spark.sql(
      s"SELECT version, data_version, is_current FROM " +
        s"graft_history('$w/mt') ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(viaTvf == viaCat)
    // commit timestamps survive the catalog read
    assert(spark.sql(s"SELECT count(*) FROM $cat.mt.history " +
        "WHERE committed_at > TIMESTAMP '2020-01-01'")
      .head().getLong(0) == 3L)
    // the commit KIND rides each manifest (r15, Iceberg's snapshot
    // operation field): two INSERT appends, then the rollback
    assert(spark.sql(s"SELECT operation FROM $cat.mt.history " +
        "ORDER BY version").collect().map(_.getString(0)).toSeq ==
      Seq("append", "append", "rollback"))
    // SHOW TBLPROPERTIES surfaces the current snapshot
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.mt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.current-version").contains("3"))
    // a plain parquet dir has no snapshots to serve
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$w/plainmt")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.plainmt.history").collect()
    }
  }

  test("metadata tables: .files lists the current snapshot's data " +
      "files with their dir versions and sizes, across dir-list and " +
      "file-list (rewrite_manifests) manifests") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.ft (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.ft VALUES (1)")
    spark.sql(s"INSERT INTO $cat.ft VALUES (2)")
    val rows = spark.sql(
      s"SELECT file_path, data_version, size_bytes FROM $cat.ft.files")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (p, dv, sz) =>
      p.startsWith(s"v=$dv/") && p.endsWith(".parquet") && sz > 0 })
    assert(rows.map(_._2).toSet == Set(1L, 2L))
    // sizes agree with what the filesystem reports per file
    val (fs, _) = graft.util.Fs.fsFor(s"$w/ft")
    assert(rows.forall { case (p, _, sz) =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$w/ft/$p"))
        .getLen == sz })
    // a files= manifest (rewrite_manifests) serves the same rows
    assert(VersionedTable.rewriteManifests(s"$w/ft").nonEmpty)
    val rows2 = spark.sql(
      s"SELECT file_path, data_version, size_bytes FROM $cat.ft.files")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows2.sorted.toSeq == rows.sorted.toSeq)
    // DISTRIBUTED shape (r15): the files view must plan as a real scan
    // over the executor-side listing, never a driver-materialized
    // LocalTableScan — the r14 driver-OOM shape at 100 TB file counts
    val plan = spark.sql(s"SELECT * FROM $cat.ft.files")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GraftDistributedFilesRelation") &&
      !plan.contains("LocalTableScan"),
      s"t.files must be served distributed, got:\n$plan")
    // the direct form plans the listing as a distributed MapPartitions
    // over the (small, driver-bounded) SEED list — the only
    // LocalTableScan allowed is the seed relation feeding it
    val direct = VersionedTable.filesView(spark, s"$w/ft")
      .queryExecution.executedPlan.toString
    assert(direct.contains("MapPartitions") &&
      direct.contains("DistributedFileListing"),
      s"filesView must list executor-side, got:\n$direct")
  }

  test("metadata tables VERSION/TIMESTAMP AS OF (r16): .files and " +
      ".partitions serve the HISTORICAL snapshot — agreeing with the " +
      "TVFs' version argument — and history/refs refuse the pin") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.mt (k BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.mt VALUES (1, 'a'), (2, 'b')")
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.mt VALUES (3, 'b')")

    graft.expressions.GraftFunctions.register(spark)
    // the two front doors must agree AT THE HISTORICAL VERSION — the
    // TVF's second argument and the metadata table's VERSION AS OF are
    // one resolution by construction
    val tvf = spark.sql("SELECT partition, record_count, file_count " +
        s"FROM graft_partitions('$w/mt', 1) ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val meta = spark.sql("SELECT partition, record_count, file_count " +
        s"FROM $cat.mt.partitions VERSION AS OF 1 ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(meta.toSeq == tvf.toSeq && meta.nonEmpty,
      s"metadata table must equal the TVF at v1: $meta vs $tvf")
    // ...and differ from the current snapshot (v2 added a g=b file)
    val cur = spark.sql("SELECT partition, record_count FROM " +
        s"$cat.mt.partitions ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(cur.toSeq == Seq(("g=a", 1L), ("g=b", 2L)))
    assert(meta.map(r => (r._1, r._2)).toSeq ==
      Seq(("g=a", 1L), ("g=b", 1L)))

    // .files pins too, tags resolve, TIMESTAMP AS OF resolves like the
    // data table's
    val filesV1 = spark.sql(
      s"SELECT count(*) FROM $cat.mt.files VERSION AS OF 1")
      .head().getLong(0)
    assert(filesV1 == spark.sql(
      s"SELECT count(*) FROM graft_files('$w/mt', 1)").head().getLong(0))
    assert(filesV1 < spark.sql(s"SELECT count(*) FROM $cat.mt.files")
      .head().getLong(0))
    VersionedTable.createTag(s"$w/mt", "first", Some(1L))
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.mt.files VERSION AS OF 'first'")
      .head().getLong(0) == filesV1)
    val ts = new java.sql.Timestamp(afterV1).toString
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.mt.files TIMESTAMP AS OF '$ts'")
      .head().getLong(0) == filesV1)

    // whole-table surfaces refuse the pin rather than silently serving
    // current rows under a pinned-looking query
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.mt.history VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("snapshot-addressed"))
    // an unretained version is an analysis-time error
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.mt.files VERSION AS OF 99").collect()
    }
    assert(e2.getMessage.contains("not retained"))
  }

  test("metadata tables: .partitions aggregates per-partition record/" +
      "file/size stats from parquet footers, distributed (r15)") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.pt (k BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.pt VALUES (1, 'a'), (2, 'a'), (3, 'b')")
    spark.sql(s"INSERT INTO $cat.pt VALUES (4, 'b'), (5, 'b')")
    val rows = spark.sql(
      s"SELECT partition, record_count, file_count, size_bytes " +
        s"FROM $cat.pt.partitions").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // record counts come from footers and must equal the data's truth
    assert(rows.map(r => (r._1, r._2)).toSeq ==
      Seq(("g=a", 2L), ("g=b", 3L)), rows.mkString(", "))
    assert(rows.forall(r => r._3 >= 1L && r._4 > 0L))
    // the TVF serves the same fold, addressable per snapshot
    graft.expressions.GraftFunctions.register(spark)
    val v1 = spark.sql(
      s"SELECT partition, record_count FROM " +
        s"graft_partitions('$w/pt', 1) ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(v1.toSeq == Seq(("g=a", 2L), ("g=b", 1L)))
    // TAG refs resolve in the per-snapshot TVFs too (r15 ref symmetry)
    VersionedTable.createTag(s"$w/pt", "first", Some(1L))
    assert(spark.sql("SELECT partition, record_count FROM " +
        s"graft_partitions('$w/pt', 'first') ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == v1.toSeq)
    assert(spark.sql(s"SELECT count(*) FROM graft_files('$w/pt', 'first')")
      .head().getLong(0) ==
      spark.sql(s"SELECT count(*) FROM graft_files('$w/pt', 1)")
        .head().getLong(0))
    // distributed shape, like .files: no LocalTableScan serves the rows
    val plan = spark.sql(s"SELECT * FROM $cat.pt.partitions")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GraftDistributedFilesRelation") &&
      !plan.contains("LocalTableScan"),
      s"t.partitions must be served distributed, got:\n$plan")
    // unpartitioned tables report one '' partition
    spark.sql(s"CREATE TABLE $cat.pf (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.pf VALUES (1)")
    val flat = spark.sql(
      s"SELECT partition, record_count FROM $cat.pf.partitions")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(flat.toSeq == Seq(("", 1L)))
  }

  test("per-snapshot schema history: VERSION AS OF a pre-evolution " +
      "snapshot serves the schema as of that snapshot, across two " +
      "evolutions") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.h (k BIGINT, a STRING)")
    spark.sql(s"INSERT INTO $cat.h VALUES (1, 'x')") // v1: (k, a)
    spark.sql(s"ALTER TABLE $cat.h ADD COLUMN b STRING")
    spark.sql(s"INSERT INTO $cat.h VALUES (2, 'y', 'b2')") // v2: (k, a, b)
    spark.sql(s"ALTER TABLE $cat.h ADD COLUMN c DOUBLE")
    spark.sql(s"INSERT INTO $cat.h VALUES (3, 'z', 'b3', 1.5)") // v3
    assert(spark.sql(s"SELECT * FROM $cat.h VERSION AS OF 1")
      .columns.toSeq == Seq("k", "a"))
    assert(spark.sql(s"SELECT * FROM $cat.h VERSION AS OF 2")
      .columns.toSeq == Seq("k", "a", "b"))
    assert(spark.sql(s"SELECT * FROM $cat.h")
      .columns.toSeq == Seq("k", "a", "b", "c"))
    // an evolved column does not EXIST as of the old snapshot
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT b FROM $cat.h VERSION AS OF 1").collect()
    }
    // the API read agrees with the catalog read
    assert(VersionedTable.read(spark, s"$w/h", Some(2L))
      .columns.toSeq == Seq("k", "a", "b"))
    // contents under each historical schema
    assert(spark.sql(s"SELECT k FROM $cat.h VERSION AS OF 2 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(spark.sql(
        s"SELECT count(*) FROM $cat.h WHERE c IS NOT NULL")
      .head().getLong(0) == 1L)
  }

  test("writes to a time-travel-pinned relation refuse; expire keeps " +
      "append-referenced data dirs alive") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.e (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.e VALUES (1)")
    spark.sql(s"INSERT INTO $cat.e VALUES (2)")
    val table = s"$w/e"
    // expire v1: its manifest drops, but its DATA dir is referenced by
    // v2's append list and must survive
    VersionedTable.expire(table, keepLast = 1)
    assert(VersionedTable.versions(table) == Seq(2L))
    assert(new java.io.File(s"$table/v=1").exists())
    assert(spark.sql(s"SELECT k FROM $cat.e").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val e = intercept[Exception] {
      spark.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array.empty, "e"), "2")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(null)
    }
    assert(e.getMessage.contains("immutable"))
  }

  test("a row-level UPDATE/MERGE matching ZERO rows publishes NO " +
      "snapshot (r15, Iceberg's skip-empty-commit); an insert-only " +
      "MERGE still publishes") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.n (k BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.n VALUES (1, 'a')")
    spark.sql(s"INSERT INTO $cat.n VALUES (2, 'b')")
    val table = s"$w/n"
    val before = VersionedTable.versions(table)

    // no key matches: the statement provably changed nothing — the
    // table must not gain a snapshot (deleteWhere already
    // short-circuited; the CoW rewrite path now does too)
    spark.sql(s"UPDATE $cat.n SET s = 'x' WHERE k = 99")
    assert(VersionedTable.versions(table) == before,
      "a no-match UPDATE must not commit a snapshot")
    spark.sql(s"MERGE INTO $cat.n t USING (SELECT CAST(99 AS BIGINT) " +
      "AS k, 'z' AS s) src ON t.k = src.k " +
      "WHEN MATCHED THEN UPDATE SET t.s = src.s")
    assert(VersionedTable.versions(table) == before,
      "a no-match MERGE must not commit a snapshot")
    assert(spark.sql(s"SELECT s FROM $cat.n ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"))

    // an insert-only effect writes rows even though it touches no
    // existing dir — it MUST still publish
    spark.sql(s"MERGE INTO $cat.n t USING (SELECT CAST(3 AS BIGINT) " +
      "AS k, 'c' AS s) src ON t.k = src.k " +
      "WHEN MATCHED THEN UPDATE SET t.s = src.s " +
      "WHEN NOT MATCHED THEN INSERT (k, s) VALUES (src.k, src.s)")
    assert(VersionedTable.versions(table).size == before.size + 1)
    assert(spark.sql(s"SELECT k FROM $cat.n").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))

    // PARTITIONED tables skip no-op commits too (the partitioned
    // staging path reconciles a never-created staging dir)
    spark.sql(s"CREATE TABLE $cat.np (k BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.np VALUES (1, 'a')")
    val beforeP = VersionedTable.versions(s"$w/np")
    spark.sql(s"UPDATE $cat.np SET k = 5 WHERE k = 42")
    assert(VersionedTable.versions(s"$w/np") == beforeP,
      "a no-match UPDATE on a partitioned table must not commit")
    assert(spark.sql(s"SELECT k FROM $cat.np").head().getLong(0) == 1L)
  }

  test("row-level DML under spark.graft.wap.branch rewrites ONLY the " +
      "touched BRANCH dirs; main never moves until fast_forward (r15)") {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val cat = freshCatalog(w)
    spark.sql(s"CREATE TABLE $cat.bd (k BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.bd VALUES (1, 'a')") // main v1
    val table = s"$w/bd"
    VersionedTable.createBranch(table, "stage")       // forks at v1
    spark.conf.set(GraftVersionedTable.WapBranchConfKey, "stage")
    try {
      spark.sql(s"INSERT INTO $cat.bd VALUES (2, 'b')") // branch dir v2
      spark.sql(s"INSERT INTO $cat.bd VALUES (3, 'c')") // branch dir v3
      // UPDATE touching only k=3 (dir v3): v1 and v2 must carry into
      // the new branch head BY REFERENCE — dir-granular CoW on the
      // branch, exactly the main-path q198 contract
      spark.sql(s"UPDATE $cat.bd SET s = 'C' WHERE k = 3")
      assert(VersionedTable.versions(table) == Seq(1L),
        "UPDATE under WAP must not move main")
      val dirs = VersionedTable.branchDataPaths(table, "stage")
        .map(_.split("/v=").last)
      assert(dirs == Seq("1", "2", "4"),
        s"dir-granular branch UPDATE must keep v1,v2 by reference; got $dirs")
      assert(spark.sql(s"SELECT s FROM $cat.bd WHERE k = 3")
        .head().getString(0) == "C")
      // DELETE routes onto the branch too
      spark.sql(s"DELETE FROM $cat.bd WHERE k = 2")
      assert(VersionedTable.versions(table) == Seq(1L))
      assert(spark.sql(s"SELECT k FROM $cat.bd").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    } finally spark.conf.unset(GraftVersionedTable.WapBranchConfKey)
    // main still serves the fork state; publish adopts the DML results
    assert(spark.sql(s"SELECT k FROM $cat.bd").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    VersionedTable.fastForward(table, "stage")
    assert(spark.sql(s"SELECT k, s FROM $cat.bd ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "C")))
  }
}
