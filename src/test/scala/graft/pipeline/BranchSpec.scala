package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

/** BRANCHES — write-audit-publish (Iceberg's branch refs +
  * fast_forward): staging commits on a branch leave main untouched,
  * the audit reads the branch, fast-forward publishes its content to
  * main BY REFERENCE, and liveness accounting (expiry, orphan cleanup)
  * respects branch-referenced data dirs throughout. */
class BranchSpec extends SparkSpec {
  import spark.implicits._

  test("write-audit-publish: branch commits leave main untouched; " +
      "fast_forward adopts the branch head by reference; drop + " +
      "remove_orphan_files reclaims only branch-exclusive dirs") {
    val table = Files.createTempDirectory("graft_br_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table) // main v1
    val base = VersionedTable.createBranch(table, "wap")
    assert(base == 1L)

    // stage two commits on the branch
    VersionedTable.appendToBranch(Seq(2).toDF("x"), table, "wap")
    VersionedTable.appendToBranch(Seq(3).toDF("x"), table, "wap")

    // audit: the branch sees main's fork-point data PLUS the staged rows
    assert(VersionedTable.readBranch(spark, table, "wap").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    // main has not moved and still reads only its own data
    assert(VersionedTable.versions(table) == Seq(1L))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    assert(VersionedTable.branches(table) == Map("wap" -> 3L))

    // publish: a metadata-only main commit adopting dirs BY REFERENCE
    val published = VersionedTable.fastForward(table, "wap")
    assert(published == 4L)
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    // by reference: main's current snapshot resolves to the branch's
    // data dirs (v=1 from the fork, v=2 and v=3 staged on the branch)
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last) ==
      Seq("1", "2", "3"))

    // drop the branch: the published dirs are main-referenced and stay
    VersionedTable.dropBranch(table, "wap")
    assert(VersionedTable.branches(table).isEmpty)
    val rep = Maintenance.removeOrphans(spark, table)
    assert(rep.ok, rep.detail)
    assert(VersionedTable.read(spark, table).count() == 3)
  }

  test("diverged main refuses fast_forward; abandoned branch's " +
      "exclusive dirs are reclaimed after drop") {
    val table = Files.createTempDirectory("graft_br2_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    VersionedTable.createBranch(table, "stale")
    VersionedTable.appendToBranch(Seq(9).toDF("x"), table, "stale")
    // main moves past the fork point
    VersionedTable.append(Seq(2).toDF("x"), table)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.fastForward(table, "stale")
    }
    assert(e.getMessage.contains("diverged"))
    // branch data dirs are NOT debris while the branch lives
    val (fs, root) = graft.util.Fs.fsFor(table)
    Maintenance.removeOrphans(spark, table)
    assert(VersionedTable.readBranch(spark, table, "stale").count() == 2)
    // after drop, the branch-exclusive dir is reclaimed
    val branchDir = VersionedTable.branches(table)("stale")
    VersionedTable.dropBranch(table, "stale")
    Maintenance.removeOrphans(spark, table)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, s"v=$branchDir")))
    assert(VersionedTable.read(spark, table).count() == 2) // main intact
  }

  test("expiry retains the FORK BASE of an uncommitted branch (r15); " +
      "once the branch commits, the base manifest may expire while its " +
      "data stays branch-live") {
    val table = Files.createTempDirectory("graft_br8_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)  // v1
    VersionedTable.createBranch(table, "fresh")    // forks at v1, no commits
    VersionedTable.write(Seq(2).toDF("x"), table)  // v2 (overwrite)
    // pre-r15 this dropped v1 and the branch died ('base expired')
    assert(VersionedTable.expire(table, keepLast = 1).isEmpty)
    assert(VersionedTable.versions(table) == Seq(1L, 2L))
    assert(VersionedTable.readBranch(spark, table, "fresh").collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    // after the branch's first commit its head is a branch manifest:
    // the base MANIFEST expires normally, its DATA dir stays live via
    // the branch reference (Iceberg's referenced-snapshot rule)
    VersionedTable.appendToBranch(Seq(3).toDF("x"), table, "fresh")
    assert(VersionedTable.expire(table, keepLast = 1) == Seq(1L))
    assert(VersionedTable.readBranch(spark, table, "fresh").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).toSeq == Seq(2))
  }

  test("main expiry never deletes dirs a live branch references") {
    val table = Files.createTempDirectory("graft_br3_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)   // v1
    VersionedTable.createBranch(table, "keepalive") // forks at v1
    VersionedTable.appendToBranch(Seq(2).toDF("x"), table, "keepalive")
    VersionedTable.write(Seq(30).toDF("x"), table)  // main v3 (overwrite)
    // expire main history: v1's manifest drops, but its DATA dir is
    // branch-referenced and must survive
    assert(VersionedTable.expire(table, keepLast = 1) == Seq(1L))
    assert(VersionedTable.readBranch(spark, table, "keepalive").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).toSeq == Seq(30))
  }

  test("refusals and the empty-branch edge; writeToBranch replaces " +
      "the branch wholesale") {
    val table = Files.createTempDirectory("graft_br4_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    VersionedTable.createTag(table, "t1")
    // tag/branch names share one namespace
    intercept[IllegalArgumentException] {
      VersionedTable.createBranch(table, "t1")
    }
    VersionedTable.createBranch(table, "b")
    intercept[IllegalArgumentException] { // duplicate
      VersionedTable.createBranch(table, "b")
    }
    intercept[IllegalArgumentException] { // tag over branch: same namespace
      VersionedTable.createTag(table, "b")
    }
    // empty branch: readBranch serves the base, fast_forward refuses
    assert(VersionedTable.readBranch(spark, table, "b").count() == 1)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.fastForward(table, "b")
    }
    assert(e.getMessage.contains("no commits"))
    // writeToBranch: the branch head becomes exactly df
    VersionedTable.writeToBranch(Seq(7, 8).toDF("x"), table, "b")
    assert(VersionedTable.readBranch(spark, table, "b").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(7, 8))
    assert(VersionedTable.fastForward(table, "b") > 1L)
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(7, 8))
    intercept[IllegalArgumentException] {
      VersionedTable.dropBranch(table, "nope")
    }
  }

  test("SQL faces: VERSION AS OF '<branch>', graft_version branch " +
      "refs, CALL create_branch/fast_forward/drop_branch, .refs view, " +
      "branch relations refuse writes") {
    graft.expressions.GraftFunctions.register(spark)
    val w = Files.createTempDirectory("graft_br5_").toString
    val table = s"$w/t"
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), table)
    val cat = s"gbr${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sql.GraftProcedureCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)

    spark.sql(s"CALL $cat.system.create_branch(table => '$table', " +
      "branch => 'audit')").collect()
    VersionedTable.appendToBranch(Seq((2L, "b")).toDF("k", "v"),
      table, "audit")

    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'audit'")
      .count() == 2)
    assert(spark.sql(s"SELECT * FROM graft_version('$table', 'audit')")
      .count() == 2)
    assert(spark.sql(s"SELECT * FROM $cat.t").count() == 1) // main as-is
    // refs view lists the branch with its head
    val refs = spark.sql(
      s"SELECT name, type, version FROM $cat.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.toSeq == Seq(("audit", "BRANCH", 2L)))
    // a branch relation is read-only
    val e = intercept[Exception] {
      spark.sql(
        s"INSERT INTO $cat.t VERSION AS OF 'audit' VALUES (9, 'z')")
    }
    // publish + cleanup from SQL
    spark.sql(s"CALL $cat.system.fast_forward(table => '$table', " +
      "branch => 'audit')").collect()
    assert(spark.sql(s"SELECT * FROM $cat.t").count() == 2)
    spark.sql(s"CALL $cat.system.drop_branch(table => '$table', " +
      "branch => 'audit')").collect()
    assert(VersionedTable.branches(table).isEmpty)
  }

  test("spark.graft.wap.branch: INSERTs stage onto the branch, reads " +
      "serve it while set, explicit pins beat the conf, row-level DML " +
      "routes onto the branch (r15), and a missing branch fails loudly") {
    val w = Files.createTempDirectory("graft_br7_").toString
    val table = s"$w/t"
    val cat = s"gwap${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sql.GraftProcedureCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")
    VersionedTable.createBranch(table, "stage")

    spark.conf.set(graft.sql.GraftVersionedTable.WapBranchConfKey, "stage")
    try {
      spark.sql(s"INSERT INTO $cat.t VALUES (2)")
      // reads in this session see the staged state...
      assert(spark.sql(s"SELECT * FROM $cat.t").count() == 2)
      // ...but main did NOT move, and explicit pins beat the conf
      assert(VersionedTable.versions(table) == Seq(1L))
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").count() == 1)
      // row-level DML while staged routes onto the BRANCH (r15,
      // Iceberg's branch-targeted DML): the delete drops k=1 from the
      // staged line; MAIN keeps it and does not move
      spark.sql(s"DELETE FROM $cat.t WHERE k = 1")
      assert(spark.sql(s"SELECT k FROM $cat.t").collect()
        .map(_.getLong(0)).toSeq == Seq(2L))
      assert(VersionedTable.versions(table) == Seq(1L))
      assert(VersionedTable.read(spark, table).collect()
        .map(_.getLong(0)).toSeq == Seq(1L))
      // a typo'd branch fails loudly instead of staging into the void
      spark.conf.set(graft.sql.GraftVersionedTable.WapBranchConfKey, "typo")
      val e2 = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.t VALUES (3)")
      }
      assert(e2.getMessage.contains("no such branch"))
    } finally spark.conf.unset(
      graft.sql.GraftVersionedTable.WapBranchConfKey)

    // conf unset: reads serve main again; publish, then verify the
    // branch DELETE's result became the table
    assert(spark.sql(s"SELECT * FROM $cat.t").count() == 1)
    VersionedTable.fastForward(table, "stage")
    assert(spark.sql(s"SELECT k FROM $cat.t").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("per-branch retention (r16): expire_branch_snapshots drops " +
      "staged snapshots past retain_last — head + fork base survive, " +
      "main untouched, only branch-exclusive dirs reclaimed") {
    val table = Files.createTempDirectory("graft_br7_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table) // main v1
    VersionedTable.createBranch(table, "audit")
    // four staged snapshots: branch manifests v2..v5, each carrying the
    // fork-point dir (v1) by reference plus its own
    (2 to 5).foreach(i =>
      VersionedTable.appendToBranch(Seq(i).toDF("x"), table, "audit"))
    assert(VersionedTable.branches(table) == Map("audit" -> 5L))
    val (fs, root) = graft.util.Fs.fsFor(table)

    val dropped = VersionedTable.expireBranchSnapshots(table, "audit", 2)
    assert(dropped == Seq(2L, 3L))
    // head chain intact: the branch still reads its full content — the
    // RETAINED head manifest carries every needed dir by reference
    assert(VersionedTable.readBranch(spark, table, "audit").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
    assert(VersionedTable.branches(table) == Map("audit" -> 5L))
    // main untouched; fork base record survives
    assert(VersionedTable.versions(table) == Seq(1L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root,
      "_versions/branch-audit/.base")))
    // NO data dir fell: every staged dir is still referenced by the
    // retained head manifest (dropping old manifests is metadata-only
    // while the head carries their dirs forward)
    (2 to 5).foreach(k => assert(fs.exists(
      new org.apache.hadoop.fs.Path(root, s"v=$k")), s"v=$k"))

    // a branch whose RETAINED manifests no longer reference an old
    // exclusive dir reclaims it: overwrite the branch (head = only its
    // own dir), then expire to the head — the old staged dirs fall,
    // main's v1 stays (main-referenced)
    VersionedTable.writeToBranch(Seq(9).toDF("x"), table, "audit") // v6
    val dropped2 = VersionedTable.expireBranchSnapshots(table, "audit", 1)
    assert(dropped2 == Seq(4L, 5L))
    (2 to 5).foreach(k => assert(!fs.exists(
      new org.apache.hadoop.fs.Path(root, s"v=$k")),
      s"v=$k must be reclaimed — no retained manifest references it"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "v=1")))
    assert(VersionedTable.readBranch(spark, table, "audit").collect()
      .map(_.getInt(0)).toSeq == Seq(9))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).toSeq == Seq(1))

    // keepLast floors at 1: the head can never expire
    assert(VersionedTable.expireBranchSnapshots(table, "audit", 0) == Nil)
    assert(VersionedTable.branches(table) == Map("audit" -> 6L))

    // older_than (max-ref-age sibling): snapshots committed at-or-after
    // the timestamp survive regardless of retain_last
    VersionedTable.appendToBranch(Seq(10).toDF("x"), table, "audit") // v7
    val beforeLast = System.currentTimeMillis()
    Thread.sleep(5)
    VersionedTable.appendToBranch(Seq(11).toDF("x"), table, "audit") // v8
    assert(VersionedTable.expireBranchSnapshots(table, "audit", 1,
      Some(beforeLast)) == Seq(6L, 7L),
      "only snapshots committed before the timestamp may drop")
    assert(VersionedTable.branches(table) == Map("audit" -> 8L))

    // the SQL CALL front door drives the same verb
    val cat = s"graft_br7cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sql.GraftProcedureCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      new java.io.File(table).getParent)
    val report = spark.sql(s"CALL $cat.system.expire_branch_snapshots(" +
      s"table => '$table', branch => 'audit', retain_last => 1)")
      .collect()
    assert(report.exists(_.getBoolean(2)),
      s"CALL must report ok: ${report.mkString(", ")}")
  }

  test("a branch's RETAINED history is addressable (r17): " +
      "VERSION AS OF '<branch>@<v>' ≡ readBranchAt, serves the " +
      "snapshot's own schema, refuses writes and expired snapshots") {
    val w = Files.createTempDirectory("graft_br8_").toString
    val table = s"$w/t"
    val cat = s"gbat${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sql.GraftProcedureCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    // a DECLARED table: each commit embeds the schema current at
    // commit time, so a branch snapshot staged BEFORE the ALTER must
    // read back its own (pre-evolution) columns
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a')") // main v1
    VersionedTable.createBranch(table, "hist")
    VersionedTable.appendToBranch(Seq((2L, "b")).toDF("k", "v"),
      table, "hist") // branch v2, schema (k, v)
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN extra BIGINT")
    VersionedTable.appendToBranch(
      Seq((3L, "c", 30L)).toDF("k", "v", "extra"), table, "hist") // v3
    val hist = VersionedTable.branchHistory(table, "hist").map(_._1)
    assert(hist == Seq(2L, 3L))

    // the NON-head snapshot v2: same rows as readBranchAt, and the
    // schema AS OF that snapshot (no 'extra' column yet)
    val sql2 = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'hist@2'")
    assert(sql2.columns.toSeq == Seq("k", "v"))
    assert(sql2.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(VersionedTable.readBranchAt(spark, table, "hist", 2L)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // the head via @: identical to the plain branch pin
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'hist@3'")
      .columns.toSeq == Seq("k", "v", "extra"))
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'hist@3'")
      .count() ==
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'hist'").count())
    // the TVFs ride the same ref contract; graft_branch_history is
    // the SQL address book (where an older_than boundary reads from)
    graft.expressions.GraftFunctions.register(spark)
    assert(spark.sql(s"SELECT * FROM graft_version('$table', 'hist@2')")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(spark.sql(
      s"SELECT version FROM graft_branch_history('$table', 'hist')")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))

    // writes refuse on the pinned-branch-snapshot relation
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t VERSION AS OF 'hist@2' VALUES " +
        "(9, 'z')")
    }
    // a typo'd branch and a malformed id refuse loudly
    assert(intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.t VERSION AS OF 'nope@2'").collect())
      .getMessage.contains("no branch 'nope'"))
    assert(intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.t VERSION AS OF 'hist@x'").collect())
      .getMessage.contains("<branch>@<snapshot id>"))

    // expire the older snapshot: the @2 address must now refuse with
    // the retained list named — never silently serve the head
    assert(VersionedTable.expireBranchSnapshots(table, "hist", 1)
      == Seq(2L))
    val gone = intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.t VERSION AS OF 'hist@2'").collect())
    assert(gone.getMessage.contains("no retained snapshot 2"))
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'hist@3'")
      .count() == 3)
    assert(spark.sql(
      s"SELECT version FROM graft_branch_history('$table', 'hist')")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("the whole WAP flow runs under the CREATE protocol") {
    val table = Files.createTempDirectory("graft_br6_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    VersionedTable.createBranch(table, "wap")
    VersionedTable.appendToBranch(Seq(2).toDF("x"), table, "wap")
    assert(VersionedTable.read(spark, table).count() == 1)
    assert(VersionedTable.readBranch(spark, table, "wap").count() == 2)
    VersionedTable.fastForward(table, "wap")
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    VersionedTable.dropBranch(table, "wap")
    // no claim debris anywhere
    val (fs, root) = graft.util.Fs.fsFor(s"$table/_versions")
    assert(!fs.listStatus(root).exists(
      _.getPath.getName.startsWith(".claim-")))
  }
}
