package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Cdc, VersionedTable}

/** CDC query surface: MERGE upsert, SCD type-2 history, snapshot diff —
  * the Iceberg mutation features the reference's lakehouse brief declares
  * (reference: README.md:85-88) expressed over the shared test tables so
  * the DuckDB oracle can pin them exactly. Change sets are derived
  * deterministically from the base tables (key-modulus selections), so
  * base and oracle see identical inputs at every SF.
  */
object CdcQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The derived change set for q87: updates (+100 acctbal, re-segmented)
    * on keys ≡0 mod 3, deletes on keys ≡0 mod 12 (a subset of the
    * updates), inserts at key+1000000 for keys ≡0 mod 50. */
  private def customerChanges(c: DataFrame): DataFrame = {
    val updates = c.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + lit(100))
      .withColumn("c_mktsegment", lit("MERGED"))
      .withColumn("is_delete", col("c_custkey") % 12 === 0)
    val inserts = c.filter(col("c_custkey") % 50 === 0)
      .withColumn("c_custkey", col("c_custkey") + lit(1000000L))
      .withColumn("c_mktsegment", lit("NEWSEG"))
      .withColumn("is_delete", lit(false))
    updates.unionByName(inserts)
  }

  /** MERGE INTO semantics (update + insert + delete in one statement). */
  def q87MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    Cdc.merge(c, customerChanges(c), Seq("c_custkey"), Some("is_delete"))
  }

  /** SCD type-2 dimension built from the events change log: per-user
    * event_type state intervals with no-op updates collapsed. Timestamps
    * export as epoch microseconds (BIGINT) — the cross-engine-stable form
    * of the shared ns-truncation contract. */
  def q88Scd2(s: SparkSession, dir: String): DataFrame =
    Cdc.scd2(
        t(s, dir, "events").select("user_id", "event_id", "ts", "event_type"),
        keys = Seq("user_id"), orderCol = "ts", tieBreak = "event_id",
        attrCols = Seq("event_type"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        col("is_current"))

  /** Change data feed between two snapshots: keys ≡0 mod 11 deleted,
    * ≡0 mod 5 (and not deleted) updated (+10 acctbal), ≡0 mod 13
    * re-inserted at key+1000000. Only (key, change_type) leaves the
    * diff — the digest-comparison contract. */
  def q89SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val newSnap = c.filter(col("c_custkey") % 11 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + lit(10))
          .otherwise(col("c_acctbal")))
      .unionByName(c.filter(col("c_custkey") % 13 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000L)))
    Cdc.snapshotDiff(c, newSnap, Seq("c_custkey"))
  }

  /** MERGE as ONE portable SQL statement (anti-join + union form) — the
    * Athena/Trino discipline applied to mutation, the way q69/q74 do for
    * as-of and near-dup. The text is pure ANSI: the SAME string runs on
    * Spark (here) and DuckDB (the oracle), so the two engines cannot
    * diverge by construction. Semantically identical to
    * [[q87MergeUpsert]]'s operator plan. */
  private val mergeSql: String =
    """WITH changes AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
      |         'MERGED' AS c_mktsegment, (c_custkey % 12 = 0) AS is_delete
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
      |         'NEWSEG', false
      |  FROM customer WHERE c_custkey % 50 = 0)
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer
      |WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
      |UNION ALL
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM changes WHERE NOT is_delete""".stripMargin

  def q93SqlMerge(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(mergeSql)
  }

  /** Snapshot rollback end-to-end (Iceberg `rollback_to_snapshot`,
    * reference: iceberg_maintenance.py surface): a good gold aggregate
    * is committed (v1), a corrupted recompute lands on top (v2), and
    * rollback makes v1's content current again as a NEW redirect commit
    * (v3) — no data rewrite, history intact. The query reads the
    * CURRENT table; the oracle recomputes the good aggregate from raw —
    * so a rollback bug (reading v2, losing rows, breaking the redirect)
    * hash-mismatches. */
  def q169Rollback(s: SparkSession, dir: String): DataFrame =
    VersionedTable.read(s, s"${rollbackWarehouse(s, dir)}/gold")
      .orderBy(col("o_orderstatus"))

  /** The warehouse of q169's `gold` table (v1 good, v2 zeroed, v3 =
    * rollback redirect at v1's data), shared by q169, q186 and q190. */
  private def rollbackWarehouse(s: SparkSession, dir: String): String =
    Fixtures.once("rollback", dir) { w =>
      val t0 = s"$w/gold"
      val good = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"))
      VersionedTable.write(good, t0)
      VersionedTable.write(
        good.withColumn("n_orders", lit(0L))
          .withColumn("total_price", lit(0.0d)), t0)
      VersionedTable.rollback(t0, 1L)
      w
    }

  /** M1–M3 driven from PURE SQL TEXT (Spark 4 CALL procedures,
    * [[graft.sql.GraftProcedureCatalog]]) with an ORACLE on the result:
    * a fragmented partitioned copy of lineitem is compacted via
    * `CALL graft.system.rewrite_data_files` + `remove_orphan_files`
    * (reference: glue-jobs/iceberg_maintenance.py:48-80), and the query
    * aggregates the COMPACTED table — the oracle aggregates raw
    * lineitem, so any row lost, duplicated, or mutated by the
    * SQL-driven rewrite hash-mismatches. The CALL reports are
    * require()d ok in setup: a refused or failed rewrite errors the
    * query rather than silently passing on unchanged data. */
  def q183SqlMaintenance(s: SparkSession, dir: String): DataFrame = {
    val table = Fixtures.once("sql-maintenance", dir) { w =>
      val t0 = s"$w/li"
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_returnflag"))
        .repartition(8)
        .write.partitionBy("l_returnflag").parquet(t0)
      graft.sql.GraftProcedureCatalog.register(s)
      val rw = s.sql(
        s"CALL graft.system.rewrite_data_files(table => '$t0')").collect()
      require(rw.head.getBoolean(2) && rw.head.getString(3).contains("rewrote"),
        s"SQL compaction did not rewrite: ${rw.head.getString(3)}")
      val orp = s.sql(
        s"CALL graft.system.remove_orphan_files(table => '$t0')").collect()
      require(orp.head.getBoolean(2), orp.head.getString(3))
      t0
    }
    s.read.parquet(table)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_orderkey")).as("sum_okey"))
      .orderBy(col("l_returnflag"))
  }

  /** Snapshot HISTORY pinned in the oracle gate: `committed_at` is
    * wall-clock (never oracle-stable), but version numbers, redirect
    * resolution, and currency are fully determined by the commit
    * sequence — so q169's table (good → bad → rollback, built once per
    * dir) exports exactly three known rows. A rollback that loses its
    * redirect, a history that lists expired/phantom versions, or a
    * mis-ordered listing all hash-mismatch against the literal oracle. */
  def q186SnapshotHistory(s: SparkSession, dir: String): DataFrame = {
    VersionedTable.history(s, s"${rollbackWarehouse(s, dir)}/gold")
      .select(col("version"), col("data_version"), col("is_current"))
      .orderBy(col("version"))
  }

  /** Native SQL time travel through a DSv2 TableCatalog
    * ([[graft.sql.GraftProcedureCatalog]] as a TableCatalog, r13 — the
    * Iceberg `SELECT … VERSION AS OF n` muscle-memory shape the
    * reference's time-travel claim implies, reference: README.md:87-88):
    * over q169's fixture (v1 good, v2 zeroed, v3 = rollback redirect at
    * v1's data), the query reads snapshot 2 AND the current snapshot
    * through plain multipart-identifier SQL. In-engine, the catalog
    * surface is require()d to agree with the `graft_version` TVF on
    * every retained snapshot (same resolution, two SQL front doors);
    * the oracle replays both exported snapshots from raw orders — a
    * catalog that resolves the wrong version, drops the rollback
    * redirect, or loses rows hash-mismatches. */
  /** One catalog NAME per warehouse dir: Spark's CatalogManager caches
    * the initialized catalog instance per name and never re-reads its
    * conf, so re-pointing one name at a second warehouse (the bench's
    * sf0.001 warmup followed by sf0.1 reps) would silently keep serving
    * the FIRST warehouse. Distinct names sidestep the cache by design. */
  private val catalogNames =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val catalogSeq = new java.util.concurrent.atomic.AtomicInteger

  private[queries] def catalogFor(s: SparkSession, warehouse: String): String = {
    val name = catalogNames.getOrElseUpdate(warehouse,
      s"graft_tt${catalogSeq.incrementAndGet()}")
    s.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sql.GraftProcedureCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    name
  }

  /** dirs whose q190 catalog≡TVF agreement check already ran (the check
    * is fixture-shaped — once per dir per JVM — so bench reps time the
    * time-travel reads, not six extra round trips). */
  private val q190Checked =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  def q190VersionAsOf(s: SparkSession, dir: String): DataFrame = {
    val w = rollbackWarehouse(s, dir)
    val table = s"$w/gold"
    val cat = catalogFor(s, w)
    graft.expressions.GraftFunctions.register(s)
    // the catalog and the TVF must serve identical bytes per snapshot
    // (incl. v3, whose manifest is a data redirect at v1)
    q190Checked.getOrElseUpdate(dir, {
      Seq(1L, 2L, 3L).foreach { v =>
        val viaCat = s.sql(
          s"SELECT * FROM $cat.gold VERSION AS OF $v").collect().toSet
        val tvf = s.sql(
          s"SELECT * FROM graft_version('$table', $v)").collect().toSet
        require(viaCat == tvf,
          s"catalog VERSION AS OF $v diverges from the graft_version TVF")
      }
    })
    val cols = Seq(col("o_orderstatus"), col("n_orders"), col("total_price"))
    s.sql(s"SELECT * FROM $cat.gold VERSION AS OF 2")
      .select(lit("v2").as("snap") +: cols: _*)
      .unionByName(s.sql(s"SELECT * FROM $cat.gold")
        .select(lit("current").as("snap") +: cols: _*))
      .orderBy(col("snap"), col("o_orderstatus"))
  }

  /** The SQL WRITE path end-to-end ([[graft.sql.GraftVersionedTable]],
    * r13 — the Iceberg DML shape the reference manages through Glue/
    * Iceberg, reference: README.md:85-88): a table is built from PURE
    * SQL TEXT — CTAS seeds it with the ≡0 mod 3 third of orders, two
    * INSERT INTOs append the other thirds — and every INSERT commits an
    * INCREMENTAL snapshot (only new rows written; prior data carried by
    * reference in the manifest's dir list). In-engine, the commit shape
    * itself is require()d: three snapshots, the current one resolving
    * to three data dirs of which the first is v=1's — a rewrite-style
    * "append" (full copy) or a lost snapshot fails the query before the
    * oracle sees it. The result exports per-status aggregates of v1,
    * v2, and current; the oracle replays each slice from raw orders by
    * the same modulus — wrong rows in ANY snapshot hash-mismatch. */
  def q191SqlInsertSnapshots(s: SparkSession, dir: String): DataFrame = {
    val cat = catalogFor(s, insertWarehouse(s, dir))
    def slice(snap: String, sql: String): DataFrame =
      s.sql(sql).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price")).cast("double").as("total_price"))
        .select(lit(snap).as("snap"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
    slice("v1", s"SELECT * FROM $cat.ord VERSION AS OF 1")
      .unionByName(slice("v2", s"SELECT * FROM $cat.ord VERSION AS OF 2"))
      .unionByName(slice("current", s"SELECT * FROM $cat.ord"))
      .orderBy(col("snap"), col("o_orderstatus"))
  }

  /** The warehouse of q191's three-append `ord` table, shared by q191
    * and q195. */
  private def insertWarehouse(s: SparkSession, dir: String): String =
    Fixtures.once("sql-insert", dir) { w =>
      val cat = catalogFor(s, w)
      Tables.registerAll(s, dir)
      s.sql(
        s"""CREATE TABLE $cat.ord AS
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin)
      Seq(1, 2).foreach { m =>
        s.sql(
          s"""INSERT INTO $cat.ord
             |SELECT o_orderkey, o_orderstatus,
             |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
             |FROM orders WHERE o_orderkey % 3 = $m""".stripMargin)
      }
      val t0 = s"$w/ord"
      // the commit SHAPE: 3 snapshots; current = 3 dirs by reference,
      // v=1's dir still among them (appends did NOT rewrite history)
      require(VersionedTable.versions(t0) == Seq(1L, 2L, 3L),
        s"expected 3 snapshots, got ${VersionedTable.versions(t0)}")
      val dirs = VersionedTable.dataDirs(t0)
      require(dirs.size == 3 && dirs.head.endsWith("v=1"),
        s"append snapshots must carry prior dirs by reference: $dirs")
      w
    }

  /** SQL `DELETE FROM … WHERE` as dir-granular COPY-ON-WRITE
    * ([[graft.sql.GraftVersionedTable]].deleteWhere): the fixture
    * commits the low-key half of orders (v1) then the high-key half
    * (v2, an incremental append), and DELETEs the high-key 'F' rows.
    * The engine must rewrite ONLY the dirs containing affected rows —
    * require()d structurally: the delete snapshot's dir list is
    * exactly [v=1 (carried by reference, untouched), v=3 (the rewrite
    * of v=2's survivors)]. Result: per-status aggregates of the
    * current (post-delete) table AND the pre-delete snapshot — the
    * time-travel proof that CoW deletes lose nothing. The oracle
    * replays both from raw orders with the same split literal. */
  def q192SqlDeleteCow(s: SparkSession, dir: String): DataFrame = {
    val wh = Fixtures.once("sql-delete", dir) { w =>
      val cat = catalogFor(s, w)
      Tables.registerAll(s, dir)
      // split at half the max key: deterministic at every SF, and the
      // same expression the oracle uses
      s.sql(
        s"""CREATE TABLE $cat.ordd AS
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM orders
           |WHERE o_orderkey <= (SELECT MAX(o_orderkey) FROM orders) / 2
           |""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.ordd
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM orders
           |WHERE o_orderkey > (SELECT MAX(o_orderkey) FROM orders) / 2
           |""".stripMargin)
      val t0 = s"$w/ordd"
      val mid = t(s, dir, "orders").agg(max(col("o_orderkey")))
        .head().getLong(0) / 2
      s.sql(s"DELETE FROM $cat.ordd " +
        s"WHERE o_orderkey > $mid AND o_orderstatus = 'F'")
      // structural CoW proof: v1 carried by reference, only v2 rewrote
      val dirs = VersionedTable.dataDirs(t0)
      require(dirs.map(_.split("/v=").last) == Seq("1", "3"),
        s"dir-granular CoW must keep v=1 by reference and rewrite v=2 " +
          s"into v=3; got $dirs")
      w
    }
    val cat = catalogFor(s, wh)
    def agg(snap: String, sql: String): DataFrame =
      s.sql(sql).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price")).cast("double").as("total_price"))
        .select(lit(snap).as("snap"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
    agg("current", s"SELECT * FROM $cat.ordd")
      .unionByName(agg("pre_delete", s"SELECT * FROM $cat.ordd VERSION AS OF 2"))
      .orderBy(col("snap"), col("o_orderstatus"))
  }

  /** SQL `MERGE INTO` through the DSv2 row-level-operation path
    * ([[graft.sql.GraftVersionedTable]].newRowLevelOperationBuilder,
    * r13 — Spark's own RewriteMergeIntoTable planning the group-based
    * copy-on-write, the statement the reference runs on Iceberg): the
    * fixture CTASes customer into a versioned catalog table and MERGEs
    * the exact q87 change set (update+delete+insert arms). The oracle
    * is the SAME portable mergeSql text q93 runs on DuckDB — so three
    * independent derivations of one statement (operator plan q87, pure
    * SQL q93, DSv2 MERGE INTO here) must hash-identically. In-engine,
    * the commit shape is require()d: exactly one new snapshot, with the
    * pre-merge snapshot still serving the original row count. */
  def q193SqlMergeInto(s: SparkSession, dir: String): DataFrame = {
    val wh = Fixtures.once("sql-merge", dir) { w =>
      val cat = catalogFor(s, w)
      Tables.registerAll(s, dir)
      s.sql(
        s"""CREATE TABLE $cat.cust AS
           |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           |FROM customer""".stripMargin)
      customerChanges(t(s, dir, "customer"))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"), col("is_delete"))
        .createOrReplaceTempView("q193_changes")
      s.sql(
        s"""MERGE INTO $cat.cust t USING q193_changes s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED AND s.is_delete THEN DELETE
           |WHEN MATCHED THEN UPDATE SET
           |  c_name = s.c_name, c_nationkey = s.c_nationkey,
           |  c_acctbal = s.c_acctbal, c_mktsegment = s.c_mktsegment
           |WHEN NOT MATCHED THEN INSERT
           |  (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
           |  VALUES (s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal,
           |          s.c_mktsegment)
           |""".stripMargin)
      val t0 = s"$w/cust"
      require(VersionedTable.versions(t0) == Seq(1L, 2L),
        s"MERGE must commit exactly one snapshot: ${VersionedTable.versions(t0)}")
      require(VersionedTable.read(s, t0, Some(1L)).count() ==
        t(s, dir, "customer").count(),
        "the pre-merge snapshot must still serve the original rows")
      w
    }
    val cat = catalogFor(s, wh)
    s.sql(s"SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
      s"c_mktsegment FROM $cat.cust")
  }

  /** `ALTER TABLE ADD COLUMN` end-to-end (r13; Iceberg's additive
    * schema evolution, the one parquet serves without field IDs): the
    * fixture CTASes the even-key half of orders, evolves the schema by
    * a `channel` column, and INSERTs the odd-key half WITH the column —
    * so the current snapshot mixes pre- and post-evolution files in one
    * scan. The export groups by the (null-filled) new column; the
    * oracle replays both slices from raw orders — a read that drops
    * old files, fails to null-fill, or misaligns the evolved schema
    * hash-mismatches. */
  def q194SqlAddColumn(s: SparkSession, dir: String): DataFrame = {
    val cat = catalogFor(s, addColumnWarehouse(s, dir))
    s.sql(s"SELECT * FROM $cat.orda")
      .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"),
        col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("total_price"))
      .orderBy(col("channel"), col("o_orderstatus"))
  }

  /** The warehouse of q194's evolved `orda` table, shared by q194 and
    * q200. */
  private def addColumnWarehouse(s: SparkSession, dir: String): String =
    Fixtures.once("sql-add-column", dir) { w =>
      val cat = catalogFor(s, w)
      Tables.registerAll(s, dir)
      s.sql(
        s"""CREATE TABLE $cat.orda AS
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
      s.sql(s"ALTER TABLE $cat.orda ADD COLUMN channel STRING")
      s.sql(
        s"""INSERT INTO $cat.orda
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(18,2)) AS price, 'web' AS channel
           |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)
      w
    }

  /** INCREMENTAL read between snapshots (r13; Iceberg's incremental
    * append scan / `table$changes`): over q191's three-append fixture,
    * the rows added between snapshot 1 and snapshot 3 are exactly the
    * two INSERT INTO batches — served by reading ONLY the added data
    * dirs (O(added data), no diff join; the plan never touches v=1).
    * The SQL TVF `graft_changes('t', 1, 3)` is require()d to agree
    * with the API on a content digest, and the oracle replays the
    * added slice from raw orders by the INSERT moduli. */
  def q195IncrementalRead(s: SparkSession, dir: String): DataFrame = {
    val table = s"${insertWarehouse(s, dir)}/ord"
    graft.expressions.GraftFunctions.register(s)
    val tvf = s.sql(s"SELECT * FROM graft_changes('$table', 1, 3)")
    val api = VersionedTable.readIncremental(s, table, 1L, 3L)
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(o_orderkey, o_orderstatus, price))")).head()
      (r.getLong(0), r.getLong(1))
    }
    require(digest(tvf) == digest(api),
      "graft_changes TVF diverges from readIncremental")
    tvf.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** The exactly-once STREAMING sink into a versioned table under the
    * oracle gate (r13;
    * [[graft.streaming.IncrementalIngest.streamToVersioned]]): events
    * split by user parity land in two separate drains of one
    * checkpointed file-source stream — each drain commits append
    * snapshot(s) carrying their `batch=N` idempotence markers — and the
    * exported aggregate of the CURRENT table must equal the oracle's
    * one-shot replay of ALL events. A dropped batch, a duplicated
    * redelivery, or an append that rewrote history would each move a
    * count or sum and hash-mismatch. */
  def q196StreamVersioned(s: SparkSession, dir: String): DataFrame = {
    val table = Fixtures.once("stream-versioned", dir) { w =>
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      val t0 = s"$w/ev"
      ev.filter(col("user_id") % 2 === 0)
        .write.mode("append").parquet(s"$w/src")
      graft.streaming.IncrementalIngest.streamToVersioned(
        s, s"$w/src", ev.schema, t0, s"$w/ckpt")
      ev.filter(col("user_id") % 2 =!= 0)
        .write.mode("append").parquet(s"$w/src")
      graft.streaming.IncrementalIngest.streamToVersioned(
        s, s"$w/src", ev.schema, t0, s"$w/ckpt")
      require(VersionedTable.lastStreamBatch(t0).exists(_ >= 1L),
        "expected at least two committed stream batches")
      // the second drain must have APPENDED (carried dir references),
      // not rewritten: the current snapshot resolves to >1 data dir
      require(VersionedTable.dataDirs(t0).size > 1,
        s"streamed commits must append by reference: ${VersionedTable.dataDirs(t0)}")
      t0
    }
    VersionedTable.read(s, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("user_id")).as("sum_users"))
      .orderBy(col("event_type"))
  }

  /** `TIMESTAMP AS OF` end-to-end under the oracle gate (r13 — q190
    * pins VERSION AS OF; this pins the time-based resolution the
    * reference's time-travel claim equally implies): the fixture
    * commits the good orders aggregate (v1), captures a wall-clock
    * instant, then commits a zeroed recompute (v2) — so the snapshot
    * "as of" the captured instant must be v1's content, replayed by
    * the oracle from raw orders. Serving v2 (resolution off by one) or
    * failing the ≤-boundary zeroes every measure and hash-mismatches. */
  def q197TimestampAsOf(s: SparkSession, dir: String): DataFrame = {
    val (wh, betweenMs) = Fixtures.once("timestamp-as-of", dir) { w =>
      val t0 = s"$w/gold"
      val good = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"))
      VersionedTable.write(good, t0)
      Thread.sleep(10)
      val between = System.currentTimeMillis()
      Thread.sleep(10)
      VersionedTable.write(
        good.withColumn("n_orders", lit(0L))
          .withColumn("total_price", lit(0.0d)), t0)
      (w, between)
    }
    val cat = catalogFor(s, wh)
    val tsLit = java.time.Instant.ofEpochMilli(betweenMs).toString
      .replace("T", " ").stripSuffix("Z") // session is UTC
    s.sql(s"SELECT * FROM $cat.gold TIMESTAMP AS OF '$tsLit'")
      .orderBy(col("o_orderstatus"))
  }

  /** PER-SNAPSHOT SCHEMA HISTORY (r14 — Iceberg's per-snapshot
    * schema-id contract, replacing r13's current-schema-null-filled
    * simplification): every commit embeds the schema current at commit
    * time in its manifest, so `VERSION AS OF` a pre-`ADD COLUMN`
    * snapshot serves the OLD schema. Over q194's fixture (CTAS even
    * half → ALTER ADD channel → INSERT odd half WITH channel), reading
    * snapshot 1 through the catalog must come back WITHOUT the channel
    * column — require()d structurally — and its aggregate must equal
    * the oracle's replay of the even-key slice alone. */
  /** TAGS (r14; Iceberg's `create_tag`): the audited snapshot (v1, the
    * good aggregate) is tagged; two corrupted recomputes land on top
    * (v2, v3); `expire(keepLast=1)` then drops the UNTAGGED old
    * snapshot (v2) but keeps the tagged one — versions must read
    * exactly [1, 3], the structural proof that tag retention is
    * load-bearing (without the tag the survivor set is [3] and the
    * require fails before the compare). The query reads `VERSION AS OF
    * 'audited'` through the CATALOG (tag-ref resolution) and the oracle
    * replays the good aggregate from raw orders — resolving the wrong
    * ref or losing the tagged snapshot's data dir hash-mismatches. The
    * CALL surface (create_tag/drop_tag) and the `.refs` metadata table
    * are exercised in the fixture: a second tag is created and dropped
    * via SQL CALL, and `.refs` must list exactly the surviving tag. */
  def q202SnapshotTags(s: SparkSession, dir: String): DataFrame = {
    val wh = Fixtures.once("tags", dir) { w =>
      val t0 = s"$w/tagged"
      val good = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"))
      VersionedTable.write(good, t0) // v1: the audited state
      require(VersionedTable.createTag(t0, "audited") == 1L)
      val zeroed = good.withColumn("total_price", lit(0.0d))
      VersionedTable.write(zeroed, t0) // v2: corrupted recompute
      VersionedTable.write(zeroed, t0) // v3: corrupted again
      val cat = catalogFor(s, w)
      // the SQL face: CALL create_tag/drop_tag + the .refs view
      s.sql(s"CALL $cat.system.create_tag(table => '$t0', " +
        "tag => 'wip', version => '2')").collect()
      require(VersionedTable.tags(t0) == Map("audited" -> 1L, "wip" -> 2L),
        s"CALL create_tag must land: ${VersionedTable.tags(t0)}")
      s.sql(s"CALL $cat.system.drop_tag(table => '$t0', tag => 'wip')")
        .collect()
      // expiry: tagged v1 survives, untagged v2 drops, newest v3 stays
      VersionedTable.expire(t0, keepLast = 1)
      require(VersionedTable.versions(t0) == Seq(1L, 3L),
        s"tag retention must keep v1 and expire v2; got " +
          s"${VersionedTable.versions(t0)}")
      val refRows = s.sql(s"SELECT name, version FROM $cat.tagged.refs")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      require(refRows == Seq(("audited", 1L)),
        s".refs must list exactly the surviving tag; got $refRows")
      w
    }
    val cat = catalogFor(s, wh)
    s.sql(s"SELECT * FROM $cat.tagged VERSION AS OF 'audited'")
      .orderBy(col("o_orderstatus"))
  }

  /** WRITE-AUDIT-PUBLISH via branches (r14; Iceberg's branch refs +
    * fast_forward): a third of raw orders is committed to main, the
    * other two thirds are STAGED as branch commits (main must not move
    * — require()d), the audit read sees the full union on the branch,
    * and fast_forward publishes the branch head to main BY REFERENCE
    * (main's dir list must read [1,2,3] — a data-copying publish or a
    * wrong fork would fail the requires). The query aggregates the
    * published main table; the oracle replays the whole-orders
    * aggregate — any staged row lost or duplicated across the
    * branch/publish machinery hash-mismatches. */
  def q203Wap(s: SparkSession, dir: String): DataFrame = {
    val table = Fixtures.once("wap", dir) { w =>
      val t0 = s"$w/wap"
      val ord = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      VersionedTable.write(ord.filter(col("o_orderkey") % 3 === 0), t0)
      require(VersionedTable.createBranch(t0, "audit") == 1L)
      VersionedTable.appendToBranch(
        ord.filter(col("o_orderkey") % 3 === 1), t0, "audit")
      VersionedTable.appendToBranch(
        ord.filter(col("o_orderkey") % 3 === 2), t0, "audit")
      // staging left main untouched; the audit read sees everything
      require(VersionedTable.versions(t0) == Seq(1L),
        s"branch staging must not move main: ${VersionedTable.versions(t0)}")
      val audited = VersionedTable.readBranch(s, t0, "audit").count()
      val mainBefore = VersionedTable.read(s, t0).count()
      require(audited > mainBefore,
        s"audit read must see staged rows: $audited vs $mainBefore")
      VersionedTable.fastForward(t0, "audit")
      val dirs = VersionedTable.dataDirs(t0).map(_.split("/v=").last)
      require(dirs == Seq("1", "2", "3"),
        s"fast_forward must adopt branch dirs BY REFERENCE; got $dirs")
      VersionedTable.dropBranch(t0, "audit")
      t0
    }
    VersionedTable.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Conf-driven WAP (r14; Iceberg's `spark.wap.branch`): the same
    * publish contract as q203, but the staging writes are PLAIN SQL
    * `INSERT INTO` statements with `spark.graft.wap.branch` set — no
    * branch-aware code in the pipeline. While the conf is set, reads of
    * the catalog relation must serve the staged branch (require()d) and
    * main must not move; after publish (CALL fast_forward) + conf
    * unset, the table serves the full union the oracle replays. */
  def q204WapConf(s: SparkSession, dir: String): DataFrame = {
    val wh = Fixtures.once("wap-conf", dir) { w =>
      val cat = catalogFor(s, w)
      Tables.registerAll(s, dir)
      s.sql(
        s"""CREATE TABLE $cat.wapc AS
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin)
      val t0 = s"$w/wapc"
      s.sql(s"CALL $cat.system.create_branch(table => '$t0', " +
        "branch => 'stage')").collect()
      s.conf.set(graft.sql.GraftVersionedTable.WapBranchConfKey, "stage")
      try {
        Seq(1, 2).foreach(m => s.sql(
          s"""INSERT INTO $cat.wapc
             |SELECT o_orderkey, o_orderstatus,
             |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
             |FROM orders WHERE o_orderkey % 3 = $m""".stripMargin))
        require(VersionedTable.versions(t0) == Seq(1L),
          s"WAP staging must not move main: ${VersionedTable.versions(t0)}")
        // the session's reads serve the staged branch while the conf is on
        val staged = s.sql(s"SELECT count(*) c FROM $cat.wapc")
          .head().getLong(0)
        val mainRows = VersionedTable.read(s, t0).count()
        require(staged > mainRows,
          s"reads under wap.branch must serve the branch: $staged vs $mainRows")
      } finally s.conf.unset(
        graft.sql.GraftVersionedTable.WapBranchConfKey)
      s.sql(s"CALL $cat.system.fast_forward(table => '$t0', " +
        "branch => 'stage')").collect()
      require(VersionedTable.dataDirs(t0).size == 3,
        "publish must adopt the staged dirs by reference")
      s.sql(s"CALL $cat.system.drop_branch(table => '$t0', " +
        "branch => 'stage')").collect()
      w
    }
    val cat = catalogFor(s, wh)
    s.sql(s"SELECT * FROM $cat.wapc")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Branch-targeted row-level DML under the WAP conf (r15; Iceberg's
    * branch writes admit full DML): the audit cycle stages plain-SQL
    * INSERTs AND a MERGE and a DELETE on the branch — main must not
    * move until fast_forward publishes (require()d after every
    * statement), and the MERGE must rewrite ONLY the branch dir its
    * keys live in, carrying the other staged dirs by reference
    * (require()d on the branch head's dir list — the q198 contract, on
    * a branch). The published table aggregates to the oracle's replay
    * of the same CASE/filter pipeline over raw orders — a branch DML
    * bug that loses rows, hits main, or rewrites the wrong dirs
    * hash-mismatches. */
  def q205WapDml(s: SparkSession, dir: String): DataFrame = {
    val wh = Fixtures.once("wap-dml", dir) { w =>
      val cat = catalogFor(s, w)
      Tables.registerAll(s, dir)
      s.sql(
        s"""CREATE TABLE $cat.wapdml AS
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin)
      val t0 = s"$w/wapdml"
      s.sql(s"CALL $cat.system.create_branch(table => '$t0', " +
        "branch => 'stage')").collect()
      s.conf.set(graft.sql.GraftVersionedTable.WapBranchConfKey, "stage")
      try {
        Seq(1, 2).foreach(m => s.sql(
          s"""INSERT INTO $cat.wapdml
             |SELECT o_orderkey, o_orderstatus,
             |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
             |FROM orders WHERE o_orderkey % 3 = $m""".stripMargin))
        // MERGE on the branch: zero the price of the %3=2 keys
        // divisible by 10 — rows living ONLY in the second staged dir
        s.sql(
          s"""MERGE INTO $cat.wapdml t
             |USING (SELECT o_orderkey FROM orders
             |       WHERE o_orderkey % 3 = 2 AND o_orderkey % 10 = 0) src
             |ON t.o_orderkey = src.o_orderkey
             |WHEN MATCHED THEN UPDATE SET
             |  t.price = CAST(0 AS DECIMAL(18,2))""".stripMargin)
        require(VersionedTable.versions(t0) == Seq(1L),
          s"MERGE under WAP must not move main: " +
            s"${VersionedTable.versions(t0)}")
        val dirs = VersionedTable.branchDataPaths(t0, "stage")
          .map(_.split("/v=").last)
        require(dirs == Seq("1", "2", "4"),
          "dir-granular branch MERGE must keep untouched dirs by " +
            s"reference and rewrite only the touched one; got $dirs")
        // DELETE on the branch (runs the CoW rewrite path — the
        // metadata-only downgrade stays main-only by design)
        s.sql(s"DELETE FROM $cat.wapdml " +
          "WHERE o_orderstatus = 'P' AND o_orderkey % 3 = 1")
        require(VersionedTable.versions(t0) == Seq(1L),
          "DELETE under WAP must not move main")
      } finally s.conf.unset(
        graft.sql.GraftVersionedTable.WapBranchConfKey)
      s.sql(s"CALL $cat.system.fast_forward(table => '$t0', " +
        "branch => 'stage')").collect()
      s.sql(s"CALL $cat.system.drop_branch(table => '$t0', " +
        "branch => 'stage')").collect()
      w
    }
    val cat = catalogFor(s, wh)
    s.sql(s"SELECT * FROM $cat.wapdml")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** STREAMING READ from a versioned table (r15; Iceberg's streaming
    * read — the r13 streaming WRITE's mirror, q196): snapshot versions
    * are the stream's offsets. The fixture commits half of events,
    * drains the stream into a parquet sink (full starting snapshot),
    * appends the other half, drains again — the second drain must
    * deliver EXACTLY the appended rows (require()d by count delta:
    * offsets resume from the checkpoint, the incremental batch reads
    * only the added dirs). The drained sink must then replay the
    * whole-events aggregate the oracle computes — a duplicated or
    * dropped microbatch hash-mismatches. */
  def q207StreamRead(s: SparkSession, dir: String): DataFrame = {
    val out = Fixtures.once("stream-read", dir) { w =>
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      val t0 = s"$w/src"
      def drain(): Unit = {
        // the short name resolves via META-INF/services (r16)
        val q = s.readStream
          .format("graft-versioned")
          .load(t0)
          .writeStream.format("parquet")
          .option("path", s"$w/out")
          .option("checkpointLocation", s"$w/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      VersionedTable.write(ev.filter(col("user_id") % 2 === 0), t0)
      drain()
      val afterFirst = s.read.parquet(s"$w/out").count()
      val odd = ev.filter(col("user_id") % 2 =!= 0)
      VersionedTable.append(odd, t0)
      drain()
      val delta = s.read.parquet(s"$w/out").count() - afterFirst
      require(delta == odd.count(),
        s"the second drain must deliver exactly the appended rows; " +
          s"got +$delta of ${odd.count()}")
      s"$w/out"
    }
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_id")).as("sum_users"))
      .orderBy(col("event_type"))
  }

  /** STREAMING READ FROM A CHOSEN SNAPSHOT (r16; Iceberg's
    * `start-snapshot-id` / `stream-from-timestamp`): `startingVersion`
    * makes the stream's FIRST batch the incremental read
    * `(start, current]` instead of the full starting snapshot — the
    * "changes from now on" shape that never replays a 100 TB table.
    * The fixture writes the EVEN-user events as v1, appends the odd
    * users in two halves (v2, v3), and streams with
    * `startingVersion=1`: the drained sink must contain EXACTLY the
    * odd rows (require()d by count — one even row leaking in, or one
    * odd row dropped, fails structurally), and the sink's aggregate
    * must replay the oracle's odd-only aggregate over raw events — an
    * off-by-one-snapshot start (inclusive where exclusive is promised,
    * or vice versa) hash-mismatches. */
  def q208StreamReadFrom(s: SparkSession, dir: String): DataFrame = {
    val out = Fixtures.once("stream-read-from", dir) { w =>
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      val t0 = s"$w/src"
      val v1 = VersionedTable.write(
        ev.filter(col("user_id") % 2 === 0), t0)
      VersionedTable.append(
        ev.filter(col("user_id") % 4 === 1), t0)
      VersionedTable.append(
        ev.filter(col("user_id") % 4 === 3), t0)
      val q = s.readStream
        .format("graft-versioned")
        .option(org.apache.spark.sql.graft.VersionedStreamProvider
          .StartingVersion, v1.toString)
        .load(t0)
        .writeStream.format("parquet")
        .option("path", s"$w/out")
        .option("checkpointLocation", s"$w/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val odd = ev.filter(col("user_id") % 2 =!= 0).count()
      val got = s.read.parquet(s"$w/out").count()
      require(got == odd,
        s"startingVersion=$v1 must deliver exactly the rows appended " +
          s"after v$v1 (the odd users, $odd rows) — got $got")
      s"$w/out"
    }
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_id")).as("sum_users"))
      .orderBy(col("event_type"))
  }

  /** PER-BRANCH RETENTION under the oracle (r16;
    * `expire_branch_snapshots` — Iceberg's per-ref
    * min-snapshots-to-keep): the fixture writes a third of orders as
    * main v1, stages the remaining thirds as THREE branch snapshots,
    * expires the branch to retain_last=1 (two staged manifests drop —
    * metadata-only, since the retained head carries every dir by
    * reference; require()d), publishes via fast_forward, and drops the
    * branch. The final table must reproduce the WHOLE-orders aggregate
    * the oracle computes — a retention bug that reclaims a dir the
    * retained head still references loses rows and hash-mismatches. */
  def q209BranchRetention(s: SparkSession, dir: String): DataFrame = {
    val table = Fixtures.once("branch-retention", dir) { w =>
      val od = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      val t0 = s"$w/bret"
      VersionedTable.write(od.filter(col("o_orderkey") % 4 === 0), t0)
      VersionedTable.createBranch(t0, "ret")
      (1 to 3).foreach(m => VersionedTable.appendToBranch(
        od.filter(col("o_orderkey") % 4 === m), t0, "ret"))
      val dropped = VersionedTable.expireBranchSnapshots(t0, "ret", 1)
      require(dropped.size == 2,
        s"retain_last=1 over three staged snapshots must drop two " +
          s"manifests; dropped $dropped")
      require(VersionedTable.branches(t0)("ret") > 0L &&
        VersionedTable.versions(t0) == Seq(1L),
        "retention must leave the head and never move main")
      VersionedTable.fastForward(t0, "ret")
      val dirs = VersionedTable.dataDirs(t0).map(_.split("/v=").last)
      require(dirs == Seq("1", "2", "3", "4"),
        "the published head must carry every staged dir by reference " +
          s"(retention was metadata-only); got $dirs")
      VersionedTable.dropBranch(t0, "ret")
      t0
    }
    VersionedTable.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** PER-BRANCH RETENTION, `older_than` leg (r17; q209's sibling —
    * Iceberg's per-ref max-snapshot-age): the fixture stages THREE
    * branch snapshots with strictly increasing manifest timestamps,
    * then expires with retain_last=1 PLUS older_than = the SECOND
    * snapshot's commit time. At-or-after semantics must keep exactly
    * {second, third}: a boundary bug (`>` instead of `>=`) also drops
    * the second, the fixture's require fails, and the addressed read
    * below refuses — all surfacing as a correctness error. The query
    * reads the branch AT the kept boundary snapshot (version-as-of on
    * the ref, r17's readBranchAt), which must reproduce the
    * three-quarter orders aggregate the oracle replays from raw
    * orders — so a retention bug that reclaims a dir the kept
    * manifest still references also hash-mismatches. */
  def q210BranchRetentionAge(s: SparkSession, dir: String): DataFrame = {
    val table = bageTable(s, dir)
    // the kept BOUNDARY snapshot is the older of the two survivors
    val boundary = VersionedTable.branchHistory(table, "reta").head._1
    VersionedTable.readBranchAt(s, table, "reta", boundary)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** The SQL face of the same address (r17): `graft_version('/t',
    * '<branch>@<v>')` — the TVF's ref contract extended to a branch's
    * RETAINED snapshot, exactly what q210 reads through the Scala API.
    * Gates the `'b@v'` parse + resolution path end to end under the
    * same raw-orders oracle. */
  def q211BranchAtSql(s: SparkSession, dir: String): DataFrame = {
    val table = bageTable(s, dir)
    graft.expressions.GraftFunctions.register(s)
    val boundary = VersionedTable.branchHistory(table, "reta").head._1
    s.sql(s"SELECT o_orderstatus, COUNT(*) AS n_orders, " +
      "CAST(SUM(price) AS DOUBLE) AS total_price " +
      s"FROM graft_version('$table', 'reta@$boundary') " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  private def bageTable(s: SparkSession, dir: String): String =
    Fixtures.once("branch-retention-age", dir) { w =>
      val od = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      val t0 = s"$w/bage"
      VersionedTable.write(od.filter(col("o_orderkey") % 4 === 0), t0)
      VersionedTable.createBranch(t0, "reta")
      (1 to 3).foreach { m =>
        VersionedTable.appendToBranch(
          od.filter(col("o_orderkey") % 4 === m), t0, "reta")
        Thread.sleep(5) // distinct manifest millis — the boundary needs
                        // a strict order to be meaningful
      }
      val hist = VersionedTable.branchHistory(t0, "reta")
      require(hist.size == 3 &&
        hist.map(_._2) == hist.map(_._2).sorted &&
        hist.map(_._2).distinct.size == 3,
        s"fixture needs strictly increasing manifest timestamps: $hist")
      val dropped = VersionedTable.expireBranchSnapshots(
        t0, "reta", 1, Some(hist(1)._2))
      require(dropped == Seq(hist.head._1),
        "older_than = ts(second) must drop exactly the first staged " +
          s"snapshot (at-or-after keeps the boundary); dropped $dropped")
      require(VersionedTable.branchHistory(t0, "reta").map(_._1) ==
        hist.tail.map(_._1),
        "the boundary and head snapshots must survive")
      t0
    }

  /** The `.partitions` metadata table (r15; Iceberg's partitions
    * metadata surface): per-partition record/file/size stats computed
    * from parquet FOOTERS — metadata-only IO, distributed fan-out, the
    * view a compaction planner reads to find fragmented or skewed
    * partitions without scanning data. The fixture is a Hive-
    * partitioned versioned table built from two INSERT halves of raw
    * orders (so every partition spans BOTH snapshot dirs —
    * require()d via file_count ≥ 2); the oracle replays the record
    * counts as a plain GROUP BY over raw orders, so a footer-count
    * bug, a partition-identity mix-up, or a lost file
    * hash-mismatches. */
  def q206PartitionsMeta(s: SparkSession, dir: String): DataFrame = {
    val wh = Fixtures.once("partitions-meta", dir) { w =>
      val cat = catalogFor(s, w)
      Tables.registerAll(s, dir)
      s.sql(s"CREATE TABLE $cat.pmeta (o_orderkey BIGINT, " +
        "o_orderstatus STRING) PARTITIONED BY (o_orderstatus)")
      Seq(0, 1).foreach(m => s.sql(
        s"""INSERT INTO $cat.pmeta
           |SELECT o_orderkey, o_orderstatus FROM orders
           |WHERE o_orderkey % 2 = $m""".stripMargin))
      val t0 = s"$w/pmeta"
      val stats = VersionedTable.partitionsView(s, t0).collect()
        .map(r => (r.getString(0), r.getLong(2)))
      require(stats.nonEmpty && stats.forall(_._2 >= 2L),
        "every partition must span both appended snapshot dirs " +
          s"(file_count >= 2); got ${stats.mkString(", ")}")
      w
    }
    val cat = catalogFor(s, wh)
    s.sql(s"SELECT partition, record_count FROM $cat.pmeta.partitions")
      .orderBy(col("partition"))
  }

  /** Object-store-native commits (r14): the snapshot lifecycle — a full
    * write, two by-reference appends, a metadata-only manifest collapse
    * — committed through the one commit protocol: data-dir ids are
    * reserved by CONDITIONAL CREATE of a marker (`S3 If-None-Match
    * PUT`), data writes directly into the reserved `v=K`, manifests
    * publish by conditional create — ZERO renames on the commit path (the
    * rename-refusing-filesystem proof lives in CreateProtocolSpec; this
    * entry gates the protocol's CORRECTNESS under the oracle). The
    * three slices partition raw lineitem, so the final aggregate equals
    * the whole-table aggregate the oracle replays — a protocol bug that
    * loses or duplicates any dir hash-mismatches. Structure require()d:
    * appends keep prior dirs BY REFERENCE ([1,2,3]), the collapse
    * commits a pre-resolved file list without touching data, and no
    * claim marker survives a commit. */
  def q201ConditionalCommit(s: SparkSession, dir: String): DataFrame = {
    val table = Fixtures.once("conditional-commit", dir) { w =>
      val t0 = s"$w/cc"
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity")
      VersionedTable.write(li.filter(col("l_orderkey") % 3 === 0), t0)
      VersionedTable.append(li.filter(col("l_orderkey") % 3 === 1), t0)
      VersionedTable.append(li.filter(col("l_orderkey") % 3 === 2), t0)
      val dirs = VersionedTable.dataDirs(t0).map(_.split("/v=").last)
      require(dirs == Seq("1", "2", "3"),
        s"appends must keep prior dirs by reference ([1,2,3]); got $dirs")
      require(VersionedTable.rewriteManifests(t0).contains(4L),
        "rewrite_manifests must commit the collapse as v4")
      require(VersionedTable.dataFiles(t0).exists(_.nonEmpty),
        "the collapsed manifest must carry a pre-resolved file list")
      val (fs, vroot) = graft.util.Fs.fsFor(s"$t0/_versions")
      require(!fs.listStatus(vroot).exists(
        _.getPath.getName.startsWith(".claim-")),
        "commits must clean their claim markers")
      t0
    }
    VersionedTable.read(s, table)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  def q200SchemaHistory(s: SparkSession, dir: String): DataFrame = {
    val cat = catalogFor(s, addColumnWarehouse(s, dir))
    val v1 = s.sql(s"SELECT * FROM $cat.orda VERSION AS OF 1")
    require(v1.columns.toSeq == Seq("o_orderkey", "o_orderstatus", "price"),
      s"pre-evolution snapshot must serve its own schema (no evolved " +
        s"column): got ${v1.columns.mkString(",")}")
    v1.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** SQL `UPDATE` as DIR-GRANULAR copy-on-write (r14 — the fix for
    * r13's one perf-weak O(table) UPDATE rewrite): Spark's own runtime
    * group filtering (`RowLevelOperationRuntimeGroupFiltering`, the
    * rule Iceberg's CoW rides) executes the UPDATE's condition as a
    * subquery collecting the snapshot-dir metadata column `v`, hands
    * the matching dir versions back to the row-level scan
    * ([[graft.sql.GraftVersionedTable]]'s `GraftCowScan.filter`), the
    * scan restricts itself to those dirs, and the ReplaceData write
    * carries every untouched dir into the new snapshot BY REFERENCE.
    * Fixture: low-key half of orders (v1) + high-key half (v2,
    * incremental append); the UPDATE flips high-key 'F' rows to 'X'.
    * The commit shape is REQUIREd: [v=1 (by reference), v=3 (v2's
    * rewrite)] — a full rewrite would read [3] alone and fail the
    * require before any oracle compare. Export: per-status aggregates
    * of the current and pre-update snapshots; the oracle replays both
    * from raw orders with the same max/2 split. */
  def q198SqlUpdateCow(s: SparkSession, dir: String): DataFrame = {
    val wh = Fixtures.once("sql-update", dir) { w =>
      val cat = catalogFor(s, w)
      Tables.registerAll(s, dir)
      s.sql(
        s"""CREATE TABLE $cat.ordu AS
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM orders
           |WHERE o_orderkey <= (SELECT MAX(o_orderkey) FROM orders) / 2
           |""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.ordu
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM orders
           |WHERE o_orderkey > (SELECT MAX(o_orderkey) FROM orders) / 2
           |""".stripMargin)
      val t0 = s"$w/ordu"
      val mid = t(s, dir, "orders").agg(max(col("o_orderkey")))
        .head().getLong(0) / 2
      s.sql(s"UPDATE $cat.ordu SET o_orderstatus = 'X' " +
        s"WHERE o_orderkey > $mid AND o_orderstatus = 'F'")
      // structural dir-granular proof: v1 carried by reference, only
      // v2 rewritten — a full-table rewrite reads [3] and fails here
      val dirs = VersionedTable.dataDirs(t0)
      require(dirs.map(_.split("/v=").last) == Seq("1", "3"),
        s"dir-granular UPDATE must keep v=1 by reference and rewrite " +
          s"only v=2 into v=3 (runtime group filtering); got $dirs")
      w
    }
    val cat = catalogFor(s, wh)
    def agg(snap: String, sql: String): DataFrame =
      s.sql(sql).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price")).cast("double").as("total_price"))
        .select(lit(snap).as("snap"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
    agg("current", s"SELECT * FROM $cat.ordu")
      .unionByName(agg("pre_update", s"SELECT * FROM $cat.ordu VERSION AS OF 2"))
      .orderBy(col("snap"), col("o_orderstatus"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q87_merge_upsert" -> (q87MergeUpsert _),
    "q88_scd2" -> (q88Scd2 _),
    "q89_snapshot_diff" -> (q89SnapshotDiff _),
    "q93_sql_merge" -> (q93SqlMerge _),
    "q169_rollback" -> (q169Rollback _),
    "q183_sql_maintenance" -> (q183SqlMaintenance _),
    "q186_snapshot_history" -> (q186SnapshotHistory _),
    "q190_version_as_of" -> (q190VersionAsOf _),
    "q191_sql_insert_snapshots" -> (q191SqlInsertSnapshots _),
    "q192_sql_delete_cow" -> (q192SqlDeleteCow _),
    "q193_sql_merge_into" -> (q193SqlMergeInto _),
    "q194_sql_add_column" -> (q194SqlAddColumn _),
    "q195_incremental_read" -> (q195IncrementalRead _),
    "q196_stream_versioned" -> (q196StreamVersioned _),
    "q197_timestamp_as_of" -> (q197TimestampAsOf _),
    "q198_sql_update_cow" -> (q198SqlUpdateCow _),
    "q200_schema_history" -> (q200SchemaHistory _),
    "q201_conditional_commit" -> (q201ConditionalCommit _),
    "q202_snapshot_tags" -> (q202SnapshotTags _),
    "q203_wap" -> (q203Wap _),
    "q204_wap_conf" -> (q204WapConf _),
    "q205_wap_dml" -> (q205WapDml _),
    "q206_partitions_meta" -> (q206PartitionsMeta _),
    "q207_stream_read" -> (q207StreamRead _),
    "q208_stream_read_from" -> (q208StreamReadFrom _),
    "q209_branch_retention" -> (q209BranchRetention _),
    "q210_branch_retention_age" -> (q210BranchRetentionAge _),
    "q211_branch_at_sql" -> (q211BranchAtSql _))

  val oracles: Map[String, String] = Map(
    // the create-protocol table is the three-way slice UNION of raw
    // lineitem, so its current snapshot must reproduce the whole-table
    // aggregate — any dir lost, duplicated, or half-published by the
    // conditional-create commit path hash-mismatches here
    "q201_conditional_commit" ->
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q169_rollback" ->
      // the GOOD aggregate from raw orders: reading the rolled-back
      // current snapshot must reproduce it exactly
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the published main table is the three-way slice union of raw
    // orders: a WAP bug that loses/duplicates staged rows, publishes
    // the wrong branch head, or copies instead of referencing
    // hash-mismatches here
    "q203_wap" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // conf-driven WAP: plain-SQL INSERTs staged the other two thirds on
    // the branch; the published table must replay whole-orders exactly
    "q204_wap_conf" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the tagged (v1) snapshot IS the good aggregate: VERSION AS OF
    // 'audited' must reproduce it after two corrupted recomputes and an
    // expire that the tag survived
    "q202_snapshot_tags" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // branch-targeted DML (r15): the oracle replays the staged
    // pipeline — whole orders, MERGE's CASE, DELETE's filter — over
    // raw orders; any branch/main mix-up or lost rewrite diverges
    "q205_wap_dml" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders),
        |m AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 2 AND o_orderkey % 10 = 0
        |      THEN CAST(0 AS DECIMAL(18,2)) ELSE price END AS price
        |  FROM t),
        |d AS (
        |  SELECT * FROM m
        |  WHERE NOT (o_orderstatus = 'P' AND o_orderkey % 3 = 1))
        |SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // .partitions metadata (r15): footer-derived record counts must
    // equal the plain GROUP BY truth over raw orders
    "q206_partitions_meta" ->
      """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
        |  COUNT(*) AS record_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q93_sql_merge" -> mergeSql,
    // the THIRD derivation of the same merge: DSv2 MERGE INTO through
    // the row-level-operation write path must reproduce the portable
    // SQL text bit-for-bit
    "q193_sql_merge_into" -> mergeSql,
    // both catalog-served snapshots replayed from raw orders: v2 is the
    // zeroed recompute (three known rows), current is the rolled-back
    // good aggregate — resolving the wrong snapshot breaks either half
    "q190_version_as_of" ->
      """SELECT 'current' AS snap, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY 1, 2
        |UNION ALL
        |SELECT 'v2' AS snap, o_orderstatus,
        |  CAST(0 AS BIGINT) AS n_orders, CAST(0.0 AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1, 2
        |ORDER BY snap, o_orderstatus""".stripMargin,
    // each snapshot replayed from raw orders by the CTAS/INSERT moduli:
    // v1 = the CTAS third, v2 = CTAS + first INSERT, current = all —
    // wrong rows in any committed snapshot hash-mismatch
    "q191_sql_insert_snapshots" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders)
        |SELECT 'current' AS snap, o_orderstatus,
        |  COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM t GROUP BY 1, 2
        |UNION ALL
        |SELECT 'v1' AS snap, o_orderstatus,
        |  COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM t WHERE o_orderkey % 3 = 0 GROUP BY 1, 2
        |UNION ALL
        |SELECT 'v2' AS snap, o_orderstatus,
        |  COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM t WHERE o_orderkey % 3 IN (0, 1) GROUP BY 1, 2
        |ORDER BY snap, o_orderstatus""".stripMargin,
    // post-delete current + pre-delete snapshot, both replayed from raw
    // orders with the same max/2 split the DELETE used — a CoW that
    // loses survivor rows, deletes too much, or breaks time travel
    // mismatches one half
    "q192_sql_delete_cow" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders),
        |m AS (SELECT MAX(o_orderkey) / 2 AS mid FROM t)
        |SELECT 'current' AS snap, o_orderstatus,
        |  COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM t, m
        |WHERE NOT (o_orderkey > mid AND o_orderstatus = 'F')
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'pre_delete' AS snap, o_orderstatus,
        |  COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM t GROUP BY 1, 2
        |ORDER BY snap, o_orderstatus""".stripMargin,
    // both slices replayed from raw orders: pre-evolution rows group
    // under the null-filled ('legacy') channel, post-evolution under
    // their inserted value
    "q194_sql_add_column" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders)
        |SELECT 'legacy' AS channel, o_orderstatus,
        |  COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM t WHERE o_orderkey % 2 = 0 GROUP BY 1, 2
        |UNION ALL
        |SELECT 'web' AS channel, o_orderstatus,
        |  COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM t WHERE o_orderkey % 2 = 1 GROUP BY 1, 2
        |ORDER BY channel, o_orderstatus""".stripMargin,
    // the added slice = the two INSERT batches (moduli 1 and 2): an
    // incremental read that leaks v=1 rows, drops an added dir, or
    // double-counts hash-mismatches
    "q195_incremental_read" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders WHERE o_orderkey % 3 IN (1, 2)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the snapshot AS OF the captured instant is v1 = the good orders
    // aggregate, replayed from raw (same oracle shape as q169)
    "q197_timestamp_as_of" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the pre-evolution snapshot replayed from raw orders' even-key
    // slice WITHOUT the evolved column: serving the current schema
    // (extra column) fails the in-engine require; serving wrong rows
    // under the old schema hash-mismatches here
    "q200_schema_history" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // post-update current + pre-update snapshot, both replayed from raw
    // orders with the same max/2 split the UPDATE used — an update that
    // misses rows, touches the wrong half, or breaks time travel
    // mismatches one half (the dir-granular commit shape itself is
    // require()d in-engine before this compare runs)
    "q198_sql_update_cow" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders),
        |m AS (SELECT MAX(o_orderkey) / 2 AS mid FROM t)
        |SELECT 'current' AS snap,
        |  CASE WHEN o_orderkey > mid AND o_orderstatus = 'F'
        |       THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM t, m GROUP BY 1, 2
        |UNION ALL
        |SELECT 'pre_update' AS snap, o_orderstatus,
        |  COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM t GROUP BY 1, 2
        |ORDER BY snap, o_orderstatus""".stripMargin,
    // the one-shot replay of ALL events: the two-drain streamed table
    // must reproduce it exactly (exactly-once, no drop, no duplicate)
    "q196_stream_versioned" ->
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // streaming READ (r15): the drained sink — full snapshot + one
    // incremental microbatch — must replay whole events exactly
    "q207_stream_read" ->
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-branch retention (r16): expire to the head, publish, drop —
    // the table must still reproduce the whole-orders aggregate (a
    // retention bug that reclaims a head-referenced dir loses rows)
    "q209_branch_retention" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // older_than retention (r17): the branch read AT the kept boundary
    // snapshot = main quarter + first two staged quarters of orders —
    // the oracle replays exactly that three-quarter slice
    "q210_branch_retention_age" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders WHERE o_orderkey % 4 <= 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the SQL face of the same address (r17): graft_version('t','b@v')
    // must serve exactly the snapshot q210 reads via the Scala API
    "q211_branch_at_sql" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders WHERE o_orderkey % 4 <= 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // streaming read FROM A CHOSEN SNAPSHOT (r16): startingVersion=v1
    // (the even users) means the sink holds exactly the odd users —
    // the oracle replays that aggregate from raw events
    "q208_stream_read_from" ->
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_users
        |FROM events WHERE user_id % 2 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q169 fixture's commit sequence: v1 good, v2 bad, v3 = rollback
    // redirect at v1's data and current — three literal rows
    "q186_snapshot_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), false),
        |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT), false),
        |  (CAST(3 AS BIGINT), CAST(1 AS BIGINT), true))
        |AS t(version, data_version, is_current)
        |ORDER BY version""".stripMargin,
    // aggregates of raw lineitem: the CALL-compacted copy must match
    "q183_sql_maintenance" ->
      """SELECT l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // the operator form must produce exactly what the SQL text declares
    "q87_merge_upsert" -> mergeSql,
    "q88_scd2" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |ordered AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    row_number() OVER w AS rn, lag(event_type) OVER w AS prev
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |collapsed AS (
        |  SELECT user_id, event_id, ts, event_type FROM ordered
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |iv AS (
        |  SELECT user_id, event_type, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM collapsed)
        |SELECT user_id, event_type,
        |  epoch_us(valid_from) AS valid_from_us,
        |  epoch_us(valid_to) AS valid_to_us,
        |  (valid_to IS NULL) AS is_current
        |FROM iv""".stripMargin,
    "q89_snapshot_diff" ->
      // construction-pinned: only c_acctbal can differ for surviving keys,
      // so the attr compare reduces to that column (the Spark side compares
      // an xxhash64 digest of every non-key column)
      """WITH newsnap AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 10
        |         ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 11 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 13 = 0)
        |SELECT * FROM (
        |  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
        |    CASE WHEN o.c_custkey IS NULL THEN 'insert'
        |         WHEN n.c_custkey IS NULL THEN 'delete'
        |         WHEN o.c_acctbal <> n.c_acctbal THEN 'update' END
        |      AS change_type
        |  FROM customer o FULL OUTER JOIN newsnap n
        |    ON o.c_custkey = n.c_custkey) d
        |WHERE change_type IS NOT NULL""".stripMargin)
}
