package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

/** TAGS — named immutable snapshot refs (Iceberg's create_tag):
  * resolution everywhere a version is accepted, expiry-proofing, and
  * the SQL faces (VERSION AS OF '<tag>', graft_version TVF, CALL
  * create_tag/drop_tag, the .refs metadata table). */
class TagSpec extends SparkSpec {
  import spark.implicits._

  test("create/resolve/drop lifecycle; duplicate and numeric names refuse") {
    val table = Files.createTempDirectory("graft_tag_").toString + "/t"
    VersionedTable.write(Seq(1, 2).toDF("x"), table)
    VersionedTable.write(Seq(1, 2, 3).toDF("x"), table)

    assert(VersionedTable.createTag(table, "first", Some(1L)) == 1L)
    assert(VersionedTable.createTag(table, "head") == 2L) // default: latest
    assert(VersionedTable.tags(table) == Map("first" -> 1L, "head" -> 2L))
    assert(VersionedTable.resolveRef(table, "first") == 1L)
    assert(VersionedTable.resolveRef(table, "2") == 2L) // numbers = ids

    // tags are immutable: re-tagging refuses; numeric names refuse
    intercept[IllegalArgumentException] {
      VersionedTable.createTag(table, "first", Some(2L))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.createTag(table, "42")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.createTag(table, "no/slash")
    }
    // tagging an unretained version refuses
    intercept[IllegalArgumentException] {
      VersionedTable.createTag(table, "ghost", Some(9L))
    }

    VersionedTable.dropTag(table, "head")
    assert(VersionedTable.tags(table) == Map("first" -> 1L))
    intercept[IllegalArgumentException] {
      VersionedTable.dropTag(table, "head") // already gone: loud
    }
    // unknown ref: loud, names the existing tags
    val e = intercept[IllegalArgumentException] {
      VersionedTable.resolveRef(table, "nope")
    }
    assert(e.getMessage.contains("first"))
  }

  test("tagged snapshots are expiry-proof (count AND age-based), " +
      "their data dirs stay live, and dropping the tag releases them") {
    val table = Files.createTempDirectory("graft_tag2_").toString + "/t"
    VersionedTable.write(Seq(10).toDF("x"), table)  // v1
    VersionedTable.createTag(table, "keep")
    VersionedTable.write(Seq(20).toDF("x"), table)  // v2 (untagged)
    VersionedTable.write(Seq(30).toDF("x"), table)  // v3

    assert(VersionedTable.expire(table, keepLast = 1) == Seq(2L))
    assert(VersionedTable.versions(table) == Seq(1L, 3L))
    assert(VersionedTable.read(spark, table, Some(1L))
      .collect().map(_.getInt(0)).toSeq == Seq(10))

    // age-based expiry guards tags the same way
    assert(VersionedTable.expireOlderThan(table,
      System.currentTimeMillis() + 60000, retainLast = 1).isEmpty)
    assert(VersionedTable.versions(table) == Seq(1L, 3L))

    // dropping the tag releases the snapshot to the next expiry
    VersionedTable.dropTag(table, "keep")
    assert(VersionedTable.expire(table, keepLast = 1) == Seq(1L))
    assert(VersionedTable.versions(table) == Seq(3L))
  }

  test("SQL faces: VERSION AS OF '<tag>' through the catalog, " +
      "graft_version TVF tag refs, CALL create_tag/drop_tag, .refs view") {
    graft.expressions.GraftFunctions.register(spark)
    val w = Files.createTempDirectory("graft_tag3_").toString
    val table = s"$w/t"
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), table)
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)

    val cat = s"gtag${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sql.GraftProcedureCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)

    spark.sql(s"CALL $cat.system.create_tag(table => '$table', " +
      "tag => 'one', version => '1')").collect()
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'one'")
      .count() == 1)
    assert(spark.sql(s"SELECT * FROM graft_version('$table', 'one')")
      .count() == 1)
    // .refs metadata view agrees with the API — and with the TVF
    val refs = spark.sql(s"SELECT name, type, version FROM $cat.t.refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.toSeq == Seq(("one", "TAG", 1L)))
    val viaTvf = spark.sql(
      s"SELECT name, type, version FROM graft_refs('$table')")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(viaTvf.toSeq == refs.toSeq)
    // graft_files: per-snapshot file listing from SQL
    assert(spark.sql(s"SELECT * FROM graft_files('$table')").count() > 0)
    assert(spark.sql(s"SELECT * FROM graft_files('$table', 1)")
      .collect().forall(_.getString(0).startsWith("v=1/")))
    // unknown tag: loud from SQL too
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'nope'").collect()
    }
    assert(e.getMessage.contains("neither a snapshot id nor a tag"))
    spark.sql(s"CALL $cat.system.drop_tag(table => '$table', " +
      "tag => 'one')").collect()
    assert(VersionedTable.tags(table).isEmpty)
  }

  test("tags work under the CREATE protocol and survive " +
      "remove_orphan_files") {
    val table = Files.createTempDirectory("graft_tag4_").toString + "/t"
    VersionedTable.write(Seq(1).toDF("x"), table)
    VersionedTable.createTag(table, "cp")
    VersionedTable.append(Seq(2).toDF("x"), table)
    val rep = Maintenance.removeOrphans(spark, table)
    assert(rep.ok, rep.detail)
    assert(VersionedTable.tags(table) == Map("cp" -> 1L))
    assert(VersionedTable.expire(table, keepLast = 1).isEmpty)
    assert(VersionedTable.versions(table) == Seq(1L, 2L))
  }
}
