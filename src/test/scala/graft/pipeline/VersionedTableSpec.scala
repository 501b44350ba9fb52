package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  test("write/read/time-travel/expire lifecycle") {
    val table = Files.createTempDirectory("graft_vt_").toString + "/t"
    assert(VersionedTable.latestVersion(table).isEmpty)

    val v1 = VersionedTable.write(Seq(1, 2).toDF("x"), table)
    val v2 = VersionedTable.write(Seq(1, 2, 3).toDF("x"), table)
    val v3 = VersionedTable.write(Seq(9).toDF("x"), table)
    assert(Seq(v1, v2, v3) == Seq(1L, 2L, 3L))

    // latest + time travel
    assert(VersionedTable.read(spark, table).count() == 1)
    assert(VersionedTable.read(spark, table, Some(2L)).count() == 3)

    // expiry keeps the newest two; reading an expired version fails loudly
    assert(VersionedTable.expire(table, keepLast = 2) == Seq(1L))
    assert(VersionedTable.versions(table) == Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, table, Some(1L))
    }
    assert(VersionedTable.read(spark, table, Some(2L)).count() == 3)
  }

  test("a root deleted out from under the JVM is written again from " +
      "version 1, path-written and declared alike") {
    import org.apache.spark.sql.types.StructType
    val table = Files.createTempDirectory("graft_vt_re_").toString + "/t"
    def rmRoot(): Unit = {
      val (fs, root) = graft.util.Fs.fsFor(table)
      assert(fs.delete(root, true))
    }
    VersionedTable.write(Seq(1, 2).toDF("x"), table)
    VersionedTable.append(Seq(3).toDF("x"), table)
    rmRoot()
    assert(VersionedTable.write(Seq(4).toDF("x"), table) == 1L)
    assert(VersionedTable.read(spark, table).collect().map(_.getInt(0))
      .toSeq == Seq(4))
    // no per-JVM state outlives the root: the rewritten root carries no
    // claim-TTL pin (no code writes one any more)
    assert(!Files.list(java.nio.file.Paths.get(table, "_versions"))
      .anyMatch(_.getFileName.toString.startsWith(".liveness")))
    rmRoot()
    VersionedTable.create(table, StructType.fromDDL("x INT"))
    assert(VersionedTable.append(Seq(5).toDF("x"), table) == 1L)
    assert(VersionedTable.versions(table) == Seq(1L))
    assert(VersionedTable.read(spark, table).collect().map(_.getInt(0))
      .toSeq == Seq(5))
  }

  test("SQL time travel: graft_version TVF reads retained versions") {
    graft.expressions.GraftFunctions.register(spark)
    val table = Files.createTempDirectory("graft_vt3_").toString + "/t"
    VersionedTable.write(Seq(1, 2).toDF("x"), table)
    VersionedTable.write(Seq(1, 2, 3).toDF("x"), table)
    assert(spark.sql(s"SELECT * FROM graft_version('$table', 1)").count() == 2)
    assert(spark.sql(
      s"SELECT sum(x) s FROM graft_version('$table', 2)").rows.head.getLong(0) == 6)
    // no version argument -> latest manifest
    assert(spark.sql(s"SELECT * FROM graft_version('$table')").count() == 3)
    // expired/unknown version fails loudly, from SQL too
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_version('$table', 9)").collect()
    }
  }

  test("torn write is invisible: data dir without manifest is not a version") {
    val table = Files.createTempDirectory("graft_vt2_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    // simulate a crash between data write and manifest creation
    Seq(7, 8).toDF("x").write.parquet(s"$table/v=99")
    assert(VersionedTable.versions(table) == Seq(1L))
    assert(VersionedTable.read(spark, table).count() == 1)
  }

  test("rollback restores old content as current, keeps history, survives expire") {
    val table = Files.createTempDirectory("graft_vt3_").toString + "/t"
    VersionedTable.write(Seq(1, 2).toDF("x"), table)          // v1 good
    VersionedTable.write(Seq(9, 9, 9).toDF("x"), table)       // v2 bad
    val v3 = VersionedTable.rollback(table, 1L)
    assert(v3 == 3L)
    // current content == v1's, history still time-travelable
    assert(VersionedTable.read(spark, table).count() == 2)
    assert(VersionedTable.read(spark, table, Some(2L)).count() == 3)
    assert(VersionedTable.read(spark, table, Some(3L)).count() == 2)
    // rollback-of-rollback pre-resolves: v4 points at v1's data directly
    val v4 = VersionedTable.rollback(table, 3L)
    assert(VersionedTable.read(spark, table, Some(v4)).count() == 2)
    // expire down to the newest 2 manifests (v3, v4): both redirect to
    // v1's data, which must survive although v1's manifest is gone
    val dropped = VersionedTable.expire(table, keepLast = 2)
    assert(dropped == Seq(1L, 2L))
    assert(VersionedTable.versions(table) == Seq(3L, 4L))
    assert(VersionedTable.read(spark, table).count() == 2)
    assert(new java.io.File(s"$table/v=1").isDirectory,
      "redirect target data dir must survive expire")
    assert(!new java.io.File(s"$table/v=2").isDirectory,
      "unreferenced expired data dir must be deleted")
    intercept[Exception] { VersionedTable.read(spark, table, Some(1L)) }
  }

  test("history lists retained snapshots with commit times and redirect " +
      "resolution; expireOlderThan drops by age but retains the floor") {
    graft.expressions.GraftFunctions.register(spark)
    val table = Files.createTempDirectory("graft_vt5_").toString + "/t"
    val t0 = System.currentTimeMillis()
    VersionedTable.write(Seq(1, 2).toDF("x"), table)
    VersionedTable.write(Seq(3).toDF("x"), table)
    VersionedTable.rollback(table, 1L)
    val h = VersionedTable.history(spark, table).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // the rollback commit resolves to v1's data; only v3 is current
    assert(h.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 1L), (2L, 2L), (3L, 1L)))
    assert(h.map(r => (r.getLong(0), r.getBoolean(3))).toSeq ==
      Seq((1L, false), (2L, false), (3L, true)))
    assert(h.forall(_.getTimestamp(1).getTime >= t0))
    // the SQL surface sees the same rows
    val sqlH = spark.sql(
      s"SELECT version, data_version, is_current FROM graft_history('$table')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(sqlH.toSeq ==
      Seq((1L, 1L, false), (2L, 2L, false), (3L, 1L, true)))
    // age-based expiry: everything is older than (now + 1h), but the
    // retain_last floor keeps the newest two
    val dropped = VersionedTable.expireOlderThan(table,
      System.currentTimeMillis() + 3600000L, retainLast = 2)
    assert(dropped == Seq(1L))
    assert(VersionedTable.versions(table) == Seq(2L, 3L))
    // a cutoff BEFORE every commit expires nothing
    assert(VersionedTable.expireOlderThan(table, t0 - 1000L).isEmpty)
    // v3 (current) still reads v1's data — the redirect target survived
    assert(VersionedTable.read(spark, table).count() == 2)
  }

  test("full lifecycle through a non-file Hadoop scheme (stub://); " +
      "object-store schemes refuse mutations, reads untouched") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.stub.impl", classOf[StubLocalFileSystem].getName)
    hc.set("fs.s3a.impl", classOf[FakeObjectStoreFileSystem].getName)
    val local = Files.createTempDirectory("graft_vt4_").toString + "/t"
    val table = "stub:" + local
    VersionedTable.write(Seq(1, 2).toDF("x"), table)
    VersionedTable.write(Seq(9, 9, 9).toDF("x"), table)
    assert(VersionedTable.versions(table) == Seq(1L, 2L))
    assert(VersionedTable.read(spark, table).count() == 3)
    assert(VersionedTable.read(spark, table, Some(1L)).count() == 2)
    val v3 = VersionedTable.rollback(table, 1L)
    assert(VersionedTable.read(spark, table, Some(v3)).count() == 2)
    assert(VersionedTable.expire(table, keepLast = 2) == Seq(1L))
    assert(VersionedTable.read(spark, table).count() == 2)
    // the commit protocol really ran on the stub scheme's local tree
    assert(new java.io.File(s"$local/_versions/3").isFile)
    // object-store scheme with no conditional-create signal: every
    // mutation refuses with the boundary named
    val e = intercept[IllegalArgumentException] {
      VersionedTable.write(Seq(1).toDF("x"), "s3a:" + local)
    }
    assert(e.getMessage.contains("CONDITIONAL PUT"), e.getMessage)
    intercept[IllegalArgumentException] {
      VersionedTable.rollback("s3a:" + local, 1L)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.expire("s3a:" + local, 1)
    }
    // reads and version listing stay available on any scheme
    assert(VersionedTable.versions("s3a:" + local) == Seq(2L, 3L))
    assert(VersionedTable.read(spark, "s3a:" + local).count() == 2)
  }

  // ---- incremental snapshots (r13): append / replace / dirs= ----------

  test("append commits O(new rows): prior dirs by reference, every " +
      "snapshot time-travelable, rollback restores multi-dir content") {
    val table = Files.createTempDirectory("graft_vt6_").toString + "/t"
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), table)
    VersionedTable.append(Seq((2L, "b")).toDF("k", "v"), table)
    VersionedTable.append(Seq((3L, "c")).toDF("k", "v"), table)
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last)
      == Seq("1", "2", "3"))
    assert(VersionedTable.read(spark, table).count() == 3)
    assert(VersionedTable.read(spark, table, Some(2L)).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // a full write on top resolves to ONE dir again (manifest compaction)
    VersionedTable.write(Seq((9L, "z")).toDF("k", "v"), table)
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last) == Seq("4"))
    // rollback to the append-built v3 restores its full dir LIST
    VersionedTable.rollback(table, 3L)
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last)
      == Seq("1", "2", "3"))
    assert(VersionedTable.read(spark, table).count() == 3)
  }

  test("expire keeps any data dir a retained append/redirect references; " +
      "unreferenced dirs delete") {
    val table = Files.createTempDirectory("graft_vt7_").toString + "/t"
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), table)   // v1
    VersionedTable.append(Seq((2L, "b")).toDF("k", "v"), table)  // v2 = [1,2]
    VersionedTable.write(Seq((9L, "z")).toDF("k", "v"), table)   // v3 = [3]
    VersionedTable.append(Seq((8L, "y")).toDF("k", "v"), table)  // v4 = [3,4]
    // keep only v4: v1/v2 dirs are unreferenced and must go; v3's dir
    // survives through v4's reference even though v3's manifest drops
    VersionedTable.expire(table, keepLast = 1)
    assert(VersionedTable.versions(table) == Seq(4L))
    val root = new java.io.File(table)
    assert(!new java.io.File(root, "v=1").exists())
    assert(!new java.io.File(root, "v=2").exists())
    assert(new java.io.File(root, "v=3").exists())
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(8L, 9L))
  }

  test("replace keeps listed dirs by reference and refuses dirs outside " +
      "the current snapshot") {
    val table = Files.createTempDirectory("graft_vt8_").toString + "/t"
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), table)   // v1
    VersionedTable.append(Seq((2L, "b")).toDF("k", "v"), table)  // v2 = [1,2]
    VersionedTable.replace(Seq((5L, "r")).toDF("k", "v"), table,
      keepDataVersions = Seq(1L))                                // v3 = [1,3]
    assert(VersionedTable.dataDirs(table).map(_.split("/v=").last)
      == Seq("1", "3"))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L))
    // v=2 is no longer part of current but v2 the VERSION still resolves
    assert(VersionedTable.read(spark, table, Some(2L)).count() == 2)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.replace(Seq((6L, "x")).toDF("k", "v"), table,
        keepDataVersions = Seq(2L)) // v2's dir is not in v3's list
    }
    assert(e.getMessage.contains("not part of the current snapshot"))
    // a replace whose survivors were computed against an OLD snapshot
    // refuses even when its kept dirs are a subset of current — without
    // the base check, a concurrent commit's rows would silently vanish
    // (the DELETE-vs-append race the r14 review found)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.replace(Seq((7L, "y")).toDF("k", "v"), table,
        keepDataVersions = Seq(1L), baseVersion = Some(2L)) // now at 3
    }
    assert(e2.getMessage.contains("table moved"))
  }

  test("readIncremental serves (from, to] added dirs only; refuses " +
      "non-append-only history; empty for from == to") {
    val table = Files.createTempDirectory("graft_vt11_").toString + "/t"
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), table)   // v1
    VersionedTable.append(Seq((2L, "b")).toDF("k", "v"), table)  // v2
    VersionedTable.append(Seq((3L, "c")).toDF("k", "v"), table)  // v3
    assert(VersionedTable.readIncremental(spark, table, 1L, 3L).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(VersionedTable.readIncremental(spark, table, 2L, 3L).collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    assert(VersionedTable.readIncremental(spark, table, 3L, 3L).count() == 0)
    // an overwrite breaks append-only lineage: incremental undefined
    VersionedTable.write(Seq((9L, "z")).toDF("k", "v"), table)   // v4
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readIncremental(spark, table, 1L, 4L)
    }
    assert(e.getMessage.contains("not append-only"))
    // but within the post-overwrite lineage it works again
    VersionedTable.append(Seq((10L, "y")).toDF("k", "v"), table) // v5
    assert(VersionedTable.readIncremental(spark, table, 4L, 5L).collect()
      .map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("appendBatch is exactly-once per batch id: redelivery is a " +
      "structural no-op; a streamed drain equals the one-shot write") {
    val root = Files.createTempDirectory("graft_vt10_").toString
    val table = s"$root/t"
    assert(VersionedTable.appendBatch(
      Seq((1L, "a")).toDF("k", "v"), table, 0L).contains(1L))
    assert(VersionedTable.appendBatch(
      Seq((2L, "b")).toDF("k", "v"), table, 1L).contains(2L))
    // crash-restart redelivery: same id → None, no version, no data
    assert(VersionedTable.appendBatch(
      Seq((2L, "b")).toDF("k", "v"), table, 1L).isEmpty)
    assert(VersionedTable.versions(table) == Seq(1L, 2L))
    assert(VersionedTable.lastStreamBatch(table).contains(1L))
    assert(VersionedTable.appendBatch(
      Seq((3L, "c")).toDF("k", "v"), table, 2L).contains(3L))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))

    // end-to-end drain: file-source stream -> versioned sink; second
    // drain with the same checkpoint appends ONLY the new files
    val src = s"$root/src"
    val ckpt = s"$root/ckpt"
    val streamed = s"$root/st"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    Seq((10L, "x"), (11L, "y")).toDF("k", "v")
      .write.mode("append").parquet(src)
    graft.streaming.IncrementalIngest.streamToVersioned(
      spark, src, schema, streamed, ckpt)
    val afterFirst = VersionedTable.read(spark, streamed).count()
    assert(afterFirst == 2)
    Seq((12L, "z")).toDF("k", "v").write.mode("append").parquet(src)
    graft.streaming.IncrementalIngest.streamToVersioned(
      spark, src, schema, streamed, ckpt)
    assert(VersionedTable.read(spark, streamed).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L, 12L))
    // time travel into the drain history works like any other table
    assert(VersionedTable.read(spark, streamed, Some(1L)).count() == 2)
  }

  test("exactly-once marker survives compaction + expire: every later " +
      "commit carries the newest batch id forward") {
    val root = Files.createTempDirectory("graft_vt11_").toString
    val table = s"$root/t"
    assert(VersionedTable.appendBatch(
      Seq((1L, "a")).toDF("k", "v"), table, 7L).contains(1L))
    // a FULL write (the compaction shape) tops the history with a
    // manifest of its own — pre-r14 it carried no batch line
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    // expire everything but the compacted snapshot: the batch-carrying
    // manifest v1 is gone
    VersionedTable.expire(table, keepLast = 1)
    assert(VersionedTable.versions(table) == Seq(2L))
    // the marker must still be known — a crash-redelivered batch 7 is
    // a no-op, not a duplicate commit
    assert(VersionedTable.lastStreamBatch(table).contains(7L))
    assert(VersionedTable.appendBatch(
      Seq((1L, "a")).toDF("k", "v"), table, 7L).isEmpty)
    assert(VersionedTable.read(spark, table).count() == 2)
    // and the carry survives CHAINS of non-streaming commits: append,
    // rollback, replace-style rewrites all re-carry
    VersionedTable.append(Seq((3L, "c")).toDF("k", "v"), table)
    VersionedTable.rollback(table, 2L)
    VersionedTable.expire(table, keepLast = 1)
    assert(VersionedTable.lastStreamBatch(table).contains(7L))
  }

  test("graft_changes accepts timestamp bounds: resolution via " +
      "versionAt matches the version-pair read") {
    val table = Files.createTempDirectory("graft_vt14_").toString + "/t"
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), table) // v1
    Thread.sleep(10); val t1 = System.currentTimeMillis(); Thread.sleep(10)
    VersionedTable.append(Seq((2L, "b")).toDF("k", "v"), table) // v2
    Thread.sleep(10); val t2 = System.currentTimeMillis(); Thread.sleep(10)
    VersionedTable.append(Seq((3L, "c")).toDF("k", "v"), table) // v3
    // API: (versionAt(t1)=1, versionAt(t2)=2] = v2's rows only
    assert(VersionedTable.readIncrementalAt(spark, table, t1, t2)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // SQL TVF with TIMESTAMP literals (session is UTC)
    graft.expressions.GraftFunctions.register(spark)
    def lit(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .toString.replace("T", " ").stripSuffix("Z")
    assert(spark.sql(s"SELECT k FROM graft_changes('$table', " +
        s"TIMESTAMP '${lit(t1)}', TIMESTAMP '${lit(t2)}')")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // STRING timestamps and mixed version/timestamp bounds also resolve
    assert(spark.sql(s"SELECT k FROM graft_changes('$table', " +
        s"'${lit(t1)}', 3)")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // plain version pair unchanged
    assert(spark.sql(s"SELECT k FROM graft_changes('$table', 1, 3)")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // TAG bounds (r15): refs resolve exactly like VERSION AS OF, and
    // win over a timestamp parse of the same string; mixed with a
    // version bound
    VersionedTable.createTag(table, "base", Some(1L))
    VersionedTable.createTag(table, "mid", Some(2L))
    assert(spark.sql(
        s"SELECT k FROM graft_changes('$table', 'base', 'mid')")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.sql(s"SELECT k FROM graft_changes('$table', 'base', 3)")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // a BRANCH name refuses with the main-history reason
    VersionedTable.createBranch(table, "wip")
    val eb = intercept[Exception] {
      spark.sql(s"SELECT k FROM graft_changes('$table', 'wip', 3)")
        .collect()
    }
    assert(eb.getMessage.contains("BRANCH"))
    // an unknown string still reports all three interpretations
    val eu = intercept[Exception] {
      spark.sql(s"SELECT k FROM graft_changes('$table', 'nope', 3)")
        .collect()
    }
    assert(eu.getMessage.contains("neither a version, a tag, nor"))
  }

  test("metadata commits reserve nothing (r15 guarantee kept): a " +
      "foreign unmanifested v=N dir is neither adopted nor overwritten " +
      "by a rollback, and expiring that rollback leaves the dir alone") {
    val table = Files.createTempDirectory("graft_vt16_").toString + "/t"
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), table) // v1
    VersionedTable.write(Seq((2L, "b")).toDF("k", "v"), table) // v2
    val (fs, root) = graft.util.Fs.fsFor(table)
    // a cross-process committer reserved dir 3 and is mid-write
    val inflight = new org.apache.hadoop.fs.Path(root, "v=3/part-inflight")
    fs.mkdirs(inflight.getParent)
    val o = fs.create(inflight, false); o.write(1); o.close()
    // the rollback publishes manifest 3 without waiting; its content is
    // the restored dir only — the foreign dir is never part of it
    assert(VersionedTable.rollback(table, 1L) == 3L)
    assert(VersionedTable.dataDirs(table)
      .map(new org.apache.hadoop.fs.Path(_).getName) == Seq("v=1"))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(fs.exists(inflight))
    // a later data commit steps past the foreign dir id
    assert(VersionedTable.write(Seq((4L, "d")).toDF("k", "v"), table) == 4L)
    assert(VersionedTable.dataDirs(table)
      .map(new org.apache.hadoop.fs.Path(_).getName) == Seq("v=4"))
    // expiring manifest 3 drops the dirs IT references, never the dir
    // that merely shares its number
    VersionedTable.expire(table, keepLast = 1)
    assert(VersionedTable.versions(table) == Seq(4L))
    assert(fs.exists(inflight),
      "a foreign in-flight dir must survive expiry of the same number")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v=1")))
  }

  test("rewriteManifests collapses the read side to a file list " +
      "without rewriting data; later appends fall back cleanly") {
    val table = Files.createTempDirectory("graft_vt13_").toString + "/t"
    (0 until 5).foreach(i =>
      VersionedTable.append(Seq((i.toLong, s"r$i")).toDF("k", "v"), table))
    val dirsBefore = VersionedTable.dataDirs(table)
    assert(dirsBefore.size == 5)
    val v = VersionedTable.rewriteManifests(table)
    assert(v.contains(6L))
    // METADATA-ONLY: the new snapshot owns no data dir of its own
    assert(!new java.io.File(
      s"$table/v=6".stripPrefix("file:")).exists())
    // liveness accounting unchanged: same dirs carried by reference
    assert(VersionedTable.dataDirs(table) == dirsBefore)
    // reads resolve the pre-resolved file list, same content
    assert(VersionedTable.dataFiles(table).exists(_.size >= 5))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // idempotent: a second call is a no-op
    assert(VersionedTable.rewriteManifests(table).isEmpty)
    // a later append's manifest is dir-based again (its dir is unlisted)
    VersionedTable.append(Seq((9L, "x")).toDF("k", "v"), table)
    assert(VersionedTable.dataFiles(table).isEmpty)
    assert(VersionedTable.read(spark, table).count() == 6)
    // expiring everything but the collapsed+appended history keeps the
    // referenced dirs alive
    VersionedTable.expire(table, keepLast = 1)
    assert(VersionedTable.read(spark, table).count() == 6)
  }

  test("two concurrent appends both land: commits serialize per root, " +
      "the later manifest carries the earlier's dirs, no staging orphans") {
    val table = Files.createTempDirectory("graft_vt12_").toString + "/t"
    VersionedTable.write(Seq((0L, "z")).toDF("k", "v"), table)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val appends = (1 to 4).map(i => Future {
      VersionedTable.append(Seq((i.toLong, s"c$i")).toDF("k", "v"), table)
    })
    val versions = Await.result(Future.sequence(appends), 120.seconds)
    // every append won a distinct version — nobody lost or clobbered
    assert(versions.sorted == Seq(2L, 3L, 4L, 5L))
    assert(VersionedTable.versions(table) == Seq(1L, 2L, 3L, 4L, 5L))
    // the CURRENT snapshot carries every append's rows: each commit
    // resolved its dir list under the lock, seeing all earlier winners
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // no staging dirs left behind
    assert(!new java.io.File(table).listFiles()
      .exists(_.getName.startsWith(".stage-")))
  }

  test("declared tables: create pins schema+partitioning, truncate " +
      "commits a readable empty snapshot, redeclare refuses") {
    val table = Files.createTempDirectory("graft_vt9_").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, day STRING")
    VersionedTable.create(table, schema, Seq("day"))
    assert(VersionedTable.storedSchema(table).contains(schema))
    assert(VersionedTable.partitionColsOf(table) == Seq("day"))
    // declared-but-empty serves schema and zero rows
    val empty = VersionedTable.read(spark, table)
    assert(empty.schema == schema && empty.count() == 0)
    VersionedTable.append(Seq((1L, "d1"), (2L, "d2")).toDF("k", "day"), table)
    assert(new java.io.File(s"$table/v=1/day=d1").exists())
    assert(VersionedTable.read(spark, table).count() == 2)
    VersionedTable.truncate(spark, table)
    assert(VersionedTable.read(spark, table).count() == 0)
    assert(VersionedTable.read(spark, table, Some(1L)).count() == 2)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.create(table, schema)
    }
    assert(e.getMessage.contains("already declared"))
    intercept[IllegalArgumentException] {
      VersionedTable.create(
        Files.createTempDirectory("graft_vt9b_").toString + "/t",
        schema, Seq("nope"))
    }
    // a column named 'v' collides with the snapshot level in partition
    // discovery — refused on PARTITIONED declarations (fine on flat)
    val vSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "v BIGINT, day STRING")
    val eV = intercept[IllegalArgumentException] {
      VersionedTable.create(
        Files.createTempDirectory("graft_vt9c_").toString + "/t",
        vSchema, Seq("day"))
    }
    assert(eV.getMessage.contains("collides with the snapshot"))
    VersionedTable.create(
      Files.createTempDirectory("graft_vt9d_").toString + "/t", vSchema)
  }

  test("a crashed committer's unmanifested v=N dir never blocks a " +
      "commit: fresh or cold, the append steps past it untouched, and " +
      "remove_orphan_files reclaims it") {
    val table = Files.createTempDirectory("graft_vt10_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table) // v1
    val (fs, root) = graft.util.Fs.fsFor(table)
    // crash debris of the retired rename protocol: a committer renamed
    // its stage to v=2 and died before its manifest landed
    val orphan = new org.apache.hadoop.fs.Path(root, "v=2/part-dead")
    fs.mkdirs(orphan.getParent)
    val o = fs.create(orphan, false); o.write(1); o.close()

    // FRESH dir: the commit reserves the next dir id and never touches it
    assert(VersionedTable.append(Seq(2).toDF("x"), table) == 2L)
    assert(fs.exists(orphan))
    // COLD dir: same — no reap on the commit path
    fs.setTimes(orphan, 1000L, -1L)
    fs.setTimes(orphan.getParent, 1000L, -1L)
    assert(VersionedTable.append(Seq(3).toDF("x"), table) == 3L)
    assert(fs.exists(orphan))
    assert(VersionedTable.dataDirs(table)
      .map(new org.apache.hadoop.fs.Path(_).getName) ==
      Seq("v=1", "v=3", "v=4"))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    // the orphan dir is unreferenced and unreserved: the manual verb
    // reclaims it, and the table stays whole
    assert(Maintenance.removeOrphans(spark, table).ok)
    assert(!fs.exists(orphan.getParent))
    assert(VersionedTable.read(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
  }
}
