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

  test("a TTL-expired stale foreign claim SELF-REAPS on the publish " +
      "path (r15) — no manual CALL; a young claim still blocks and " +
      "survives cleanup") {
    spark.conf.set(VersionedTable.ForeignWaitConfKey, "1500")
    try {
      val table = Files.createTempDirectory("graft_cp3_").toString + "/t"
      VersionedTable.write(Seq(1).toDF("x"), table)
      // a committer in another process claimed v2 and died long ago
      // (epoch-0 creation time — well past the TTL), leaving a
      // half-written data dir behind. Liveness (r16) is the YOUNGEST
      // signal, and the TTL is PINNED at first commit (r17) — so the
      // fixture fabricates genuinely OLD mtimes (real crash debris
      // has old mtimes everywhere) instead of shrinking the TTL,
      // which a pinned table now refuses.
      val (fs, root) = graft.util.Fs.fsFor(table)
      val claim = new org.apache.hadoop.fs.Path(root, "_versions/.claim-2")
      val out = fs.create(claim, false)
      out.write("0\n".getBytes); out.close()
      val dead = new org.apache.hadoop.fs.Path(root, "v=2")
      fs.mkdirs(dead)
      fs.setTimes(dead, 1000L, -1L)

      // pre-r15 this append ERRORED pointing at remove_orphan_files;
      // the publish wait now reaps the TTL-expired claim itself — the
      // append lands with zero operator intervention, and the crashed
      // committer's claim marker AND orphaned data dir are gone
      val v = VersionedTable.append(Seq(2).toDF("x"), table)
      assert(v == 3L, s"append must allocate past the dead claim: $v")
      assert(VersionedTable.read(spark, table).collect()
        .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
      assert(!fs.exists(claim))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v=2")))
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, "_versions"))
        .map(_.getPath.getName).count(_.startsWith(".claim-")) == 0)

      // a YOUNG foreign claim (live committer mid-write elsewhere) is
      // NOT debris: the publish path must wait (bounded, loud, still
      // naming the self-reap TTL) and cleanup must leave the claim
      // AND its data dir — including any _temporary in-flight work
      // under it (r15: the orphan walk skips TTL-protected dirs)
      val young = new org.apache.hadoop.fs.Path(root, "_versions/.claim-9")
      val o2 = fs.create(young, false)
      o2.write(s"${System.currentTimeMillis()}\n".getBytes); o2.close()
      fs.mkdirs(new org.apache.hadoop.fs.Path(root, "v=9/_temporary/0"))
      val e = intercept[IllegalArgumentException] {
        VersionedTable.append(Seq(3).toDF("x"), table)
      }
      assert(e.getMessage.contains(VersionedTable.ClaimTtlConfKey))
      assert(Maintenance.removeOrphans(spark, table).ok)
      assert(fs.exists(young))
      assert(fs.exists(
        new org.apache.hadoop.fs.Path(root, "v=9/_temporary/0")),
        "orphan cleanup must not touch in-flight work under a " +
          "TTL-protected claim")
      fs.delete(young, false)
      fs.delete(new org.apache.hadoop.fs.Path(root, "v=9"), true)
    } finally spark.conf.unset(VersionedTable.ForeignWaitConfKey)
  }

  test("claim liveness (r16): a timestamp-old claim with a FRESH " +
      "liveness signal (heartbeat sidecar, in-flight file mtimes) " +
      "survives a concurrent publish AND remove_orphan_files; a truly " +
      "cold claim still reaps") {
    spark.conf.set(VersionedTable.ForeignWaitConfKey, "800")
    try {
      val table = Files.createTempDirectory("graft_cp7_").toString + "/t"
      VersionedTable.write(Seq(1).toDF("x"), table)
      val (fs, root) = graft.util.Fs.fsFor(table)
      // a LIVE cross-process committer mid-long-write: its claim line
      // says epoch 0 (far past any TTL — the r15 fixed-TTL reaper
      // would destroy it), but its heartbeat sidecar is fresh and its
      // executors are still landing task files under v=2
      val claim = new org.apache.hadoop.fs.Path(root, "_versions/.claim-2")
      val out = fs.create(claim, false)
      out.write("some-foreign-token\n0\n".getBytes); out.close()
      val hb = new org.apache.hadoop.fs.Path(root, "_versions/.claim-2.hb")
      val o2 = fs.create(hb, false); o2.write("0\n".getBytes); o2.close()
      val inflight = new org.apache.hadoop.fs.Path(root,
        "v=2/_temporary/0/part-inflight")
      fs.mkdirs(inflight.getParent)
      val f = fs.create(inflight, false); f.write(1); f.close()

      // a concurrent publish must WAIT (bounded, loud) — never reap a
      // claim that shows life, whatever its timestamp says
      val e = intercept[IllegalArgumentException] {
        VersionedTable.append(Seq(2).toDF("x"), table)
      }
      assert(e.getMessage.contains(VersionedTable.ClaimTtlConfKey))
      assert(fs.exists(claim) && fs.exists(inflight),
        "a live claim's marker and in-flight data must survive a " +
          "blocked publish")
      assert(Maintenance.removeOrphans(spark, table).ok)
      assert(fs.exists(claim) && fs.exists(inflight),
        "...and the orphan walk")

      // heartbeat gone + file mtimes cold: NOW it is crash debris —
      // the next publish self-reaps it with zero operator
      // intervention. Age is fabricated via setTimes (r17: the TTL
      // is pinned at first commit; a shrunk session conf refuses)
      fs.delete(hb, false)
      fs.setTimes(inflight, 1000L, -1L)
      fs.setTimes(new org.apache.hadoop.fs.Path(root, "v=2"), 1000L, -1L)
      val v = VersionedTable.append(Seq(3).toDF("x"), table)
      assert(v == 3L)
      assert(!fs.exists(claim))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v=2")))
      assert(VersionedTable.read(spark, table).collect()
        .map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    } finally {
      spark.conf.unset(VersionedTable.ForeignWaitConfKey)
    }
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

    // row-level replace, tags, the branch (WAP) verbs, claim-TTL
    // migration and orphan cleanup ride the same zero-rename path
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
    assert(Maintenance.setClaimTtl(table, 300000L).ok)
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
    // the marker-less cold dir is reaped and its number reused
    assert(VersionedTable.append(Seq((3, "c")).toDF("x", "note"),
      table) == 3L)
    assert(!Files.exists(dead.resolve("part-dead.parquet")))
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
    assert(!Files.exists(coldTmp) && Files.exists(freshTmp))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    assert(VersionedTable.append(Seq((5, "e")).toDF("x", "note"),
      table) == 5L)
    assert(VersionedTable.read(spark, table).count() == 2)
    // the pins are left as they were, and no claim survives a commit
    assert(new String(Files.readAllBytes(vdir.resolve(".protocol"))) ==
      "rename")
    assert(Files.exists(vdir.resolve(".protocol.g0")))
    assert(!Files.list(vdir).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".claim-")))
  }

  test("claim-TTL PIN (r17): the first commit pins the TTL in table " +
      "metadata; a session whose conf explicitly disagrees cannot " +
      "even attempt a reap (the r16-verdict conf-drift corruption); " +
      "set_claim_ttl refuses under a live claim and migrates once it " +
      "is cold; heartbeat scheduler queue drains after commits") {
    spark.conf.set(VersionedTable.ForeignWaitConfKey, "600")
    try {
      val table = Files.createTempDirectory("graft_cp8_").toString + "/t"
      VersionedTable.write(Seq(1).toDF("x"), table)
      // pinned at first commit from the session default (10 min)
      assert(VersionedTable.claimTtlOf(table).contains(600000L))
      val (fs, root) = graft.util.Fs.fsFor(table)
      assert(fs.exists(new org.apache.hadoop.fs.Path(root,
        "_versions/.liveness")))

      // a LIVE foreign committer: epoch-0 claim line (slow write,
      // way past any TTL) but a FRESH heartbeat
      val claim = new org.apache.hadoop.fs.Path(root, "_versions/.claim-2")
      val out = fs.create(claim, false)
      out.write("foreign-token\n0\n".getBytes); out.close()
      val hb = new org.apache.hadoop.fs.Path(root, "_versions/.claim-2.hb")
      val o2 = fs.create(hb, false); o2.write("x".getBytes); o2.close()

      // the r16-verdict hazard: a reaper session configured with a
      // TTL far below the committer's (whose beat period derives
      // from the PINNED one) would read the live claim as cold
      // between beats. The pin refuses the disagreeing conf up
      // front, naming the migration verb — before any claim marker
      // of our own is written
      spark.conf.set(VersionedTable.ClaimTtlConfKey, "100")
      val e = intercept[IllegalArgumentException] {
        VersionedTable.append(Seq(2).toDF("x"), table)
      }
      assert(e.getMessage.contains("set_claim_ttl"))
      assert(fs.exists(claim) && fs.exists(hb),
        "the live claim must be untouched by the refused session")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
        "_versions/.claim-3")),
        "the refusal must fire before our own claim is written")

      // an AGREEING conf proceeds — and then waits out the live
      // foreign claim (bounded, loud), never reaping it
      spark.conf.set(VersionedTable.ClaimTtlConfKey, "600000")
      val e2 = intercept[IllegalArgumentException] {
        VersionedTable.append(Seq(2).toDF("x"), table)
      }
      assert(e2.getMessage.contains(VersionedTable.ClaimTtlConfKey))
      assert(fs.exists(claim) && fs.exists(hb))
      spark.conf.unset(VersionedTable.ClaimTtlConfKey)

      // migration refuses while the claim still shows liveness —
      // re-pinning a shorter TTL under a live old-TTL committer is
      // exactly the corruption the pin exists to prevent
      val r = Maintenance.setClaimTtl(table, 300L)
      assert(!r.ok && r.detail.contains("liveness"), r.detail)

      // heartbeat gone, no data dir, epoch-0 line: cold — the
      // deliberate migration now pins a new generation
      fs.delete(hb, false)
      val r2 = Maintenance.setClaimTtl(table, 120000L)
      assert(r2.ok, r2.detail)
      assert(VersionedTable.claimTtlOf(table).contains(120000L))
      assert(fs.exists(new org.apache.hadoop.fs.Path(root,
        "_versions/.liveness.g0")))

      // the cold claim self-reaps under the migrated TTL; the commit
      // lands and the heartbeat scheduler's queue is DRAINED (r17:
      // removeOnCancelPolicy — no dead futures linger between beats)
      val v = VersionedTable.append(Seq(2).toDF("x"), table)
      assert(v == 3L)
      assert(!fs.exists(claim))
      assert(VersionedTable.read(spark, table).collect()
        .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
      assert(VersionedTable.heartbeatQueueSize == 0,
        "stopClaimHeartbeat must remove the cancelled task from the " +
          "scheduler queue immediately")
    } finally {
      spark.conf.unset(VersionedTable.ForeignWaitConfKey)
      spark.conf.unset(VersionedTable.ClaimTtlConfKey)
    }
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

    // foreign claim with an epoch-0 line and NO heartbeat: the dir
    // walk is the deciding liveness signal
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
    // the reap waits for a clean read
    files.foreach(fs.setTimes(_, 1000L, -1L))
    fs.setTimes(dir, 1000L, -1L)
    CountingLivenessFileSystem.failListFiles.set(true)
    try assert(VersionedTable.protectedClaimVersions(fs, root) == Set(2L),
      "a transient listing failure must never authorize a reap")
    finally CountingLivenessFileSystem.failListFiles.set(false)

    // clean read, genuinely cold: the claim is reapable
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
