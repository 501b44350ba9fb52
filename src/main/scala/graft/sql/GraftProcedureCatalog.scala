package graft.sql

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.{Maintenance, VersionedTable}

/** The M1–M3 maintenance surface as SQL text — Spark 4's DSv2 stored
  * procedures (ProcedureCatalog + CALL statement), mirroring the
  * reference's Athena/Spark procedure calls
  * (reference: glue-jobs/iceberg_maintenance.py:48-80):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     classOf[graft.sql.GraftProcedureCatalog].getName)
  *   spark.sql("CALL graft.system.rewrite_data_files(" +
  *     "table => '/wh/silver/events', strategy => 'sort', " +
  *     "sort_order => 'event_date,user_id')")
  *   spark.sql("CALL graft.system.expire_snapshots(" +
  *     "table => '/wh/versioned/orders', retain_last => 7)")
  *   spark.sql("CALL graft.system.remove_orphan_files(" +
  *     "table => '/wh/silver/events')")
  * }}}
  *
  * Each CALL returns the [[Maintenance.Report]] row(s) as a result set
  * (table, action, ok, detail) — the same rows the Scala API returns, so
  * a SQL-only operator sees exactly what a Scala caller sees, including
  * the rename-atomicity refusals. `table` is the table DIRECTORY (this
  * library's tables are paths, as in [[graft.pipeline.Medallion]]);
  * procedures resolve it through the session Hadoop conf like every
  * other maintenance action. Parameters follow Iceberg's procedure
  * names (`rewrite_data_files(strategy, sort_order)`,
  * `expire_snapshots(retain_last)`, `remove_orphan_files`) so a user
  * coming from the reference keeps their runbook vocabulary. */
class GraftProcedureCatalog extends ProcedureCatalog with TableCatalog
  with org.apache.spark.sql.connector.catalog.SupportsNamespaces {

  private var catalogName: String = "graft"
  private var warehouse: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
  }

  override def name(): String = catalogName

  import GraftProcedureCatalog._

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new UnsupportedOperationException(
        s"unknown namespace ${ident.namespace().mkString(".")}: " +
          "graft procedures live under `system`")
    procedures.getOrElse(ident.name().toLowerCase(java.util.Locale.ROOT),
      throw new UnsupportedOperationException(
        s"unknown procedure ${ident.name()}; available: " +
          procedures.keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      procedures.keys.toArray.sorted.map(Identifier.of(Array("system"), _))
    else Array.empty

  // ---- TableCatalog: path-addressed parquet/VersionedTable tables ----
  //
  // `SELECT * FROM <cat>.<ns…>.<t> [VERSION AS OF n | TIMESTAMP AS OF ts]`
  // — the Iceberg SQL shape the reference's time-travel claim implies
  // (reference: README.md:87-88). Identifiers resolve to directories
  // under the `warehouse` catalog option (`spark.sql.catalog.<cat>
  // .warehouse=/path`), the HadoopCatalog convention: namespace levels
  // are subdirectories. A directory with a `_versions` manifest dir is
  // a [[VersionedTable]] (reads bind to its CURRENT snapshot, and the
  // time-travel clauses to retained snapshots — the same resolution as
  // the graft_version TVF, so the two SQL surfaces agree by
  // construction); any other directory serves as a plain parquet table
  // (Hive-partitioned or flat).
  //
  // Versioned roots are READ-WRITE as of r13 ([[GraftVersionedTable]]):
  // CREATE TABLE / CTAS declare a root, INSERT INTO commits an
  // incremental append snapshot, INSERT OVERWRITE / TRUNCATE a full or
  // empty one, DELETE FROM rewrites copy-on-write — every mutation a
  // manifest commit, so history stays time-travelable and writes to a
  // pinned `VERSION AS OF` relation refuse. Plain parquet dirs stay
  // read-only here (their write surface is the path-based pipeline).
  // ALTER TABLE supports ADDITIVE evolution only (ADD COLUMN, old files
  // null-fill); drop/rename/type-change and RENAME TABLE refuse — that
  // bookkeeping is the table-format seam this layer deliberately
  // leaves to Iceberg/Delta (SCALING.md).

  private def warehouseOrThrow: String = warehouse.getOrElse(
    throw new UnsupportedOperationException(
      s"catalog $catalogName has no warehouse: set " +
        s"spark.sql.catalog.$catalogName.warehouse=/path to serve tables"))

  private def tableDir(ident: Identifier): String =
    (warehouseOrThrow +: (ident.namespace() :+ ident.name())).mkString("/")

  private def parquetTable(ident: Identifier, dataDir: String): Table =
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      ident.toString, SparkSession.active, CaseInsensitiveStringMap.empty(),
      Seq(dataDir), None,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])

  private def loadVia(ident: Identifier)(
      resolve: String => Table): Table = {
    val dir = tableDir(ident)
    val (fs, p) = graft.util.Fs.fsFor(dir)
    if (!fs.exists(p))
      throw new NoSuchTableException(
        (ident.namespace() :+ ident.name()).toIndexedSeq)
    resolve(dir)
  }

  private def versionedTable(ident: Identifier, dir: String,
      pinned: Option[Long]): Table = {
    // validate a pinned snapshot at LOAD (analysis) time — "version not
    // retained" is an analysis error, not a mid-scan one
    pinned.foreach(v => VersionedTable.dataDirs(dir, Some(v)))
    new GraftVersionedTable(ident.toString, dir, pinned, SparkSession.active)
  }

  /** The (parent dir, metadata view name) when `ident` names an
    * Iceberg-style metadata table of a versioned root —
    * `Identifier(ns :+ t, "history")` for `cat.ns.t.history`. */
  private def metadataTableOf(ident: Identifier): Option[(String, String)] = {
    val metaName = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (GraftMetadataTable.Names(metaName) && ident.namespace().nonEmpty) {
      val parentDir = (warehouseOrThrow +: ident.namespace()).mkString("/")
      val (fs, p) = graft.util.Fs.fsFor(parentDir)
      if (fs.exists(p) && VersionedTable.isVersioned(parentDir))
        Some((parentDir, metaName))
      else None
    } else None
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style METADATA TABLES (r14): `SELECT * FROM cat.ns.t.history`
    // resolves here as Identifier(ns :+ t, "history") — when the parent
    // is a versioned root and the name is a known metadata view, serve
    // it (same rows as the graft_history TVF, by construction)
    metadataTableOf(ident).foreach { case (parentDir, metaName) =>
      return new GraftMetadataTable(ident.toString, parentDir, metaName)
    }
    loadVia(ident) { dir =>
      if (VersionedTable.isVersioned(dir)) versionedTable(ident, dir, None)
      else parquetTable(ident, dir)
    }
  }

  /** `t.files VERSION AS OF v` / `TIMESTAMP AS OF ts` (r16): the
    * snapshot-addressed metadata views serve the HISTORICAL listing —
    * symmetric with the `graft_files`/`graft_partitions` TVFs' version
    * argument. `history`/`refs` are whole-table surfaces with no
    * per-snapshot meaning, so pinning them refuses loudly instead of
    * silently serving the current rows under a pinned-looking query. */
  private def metadataTableAt(ident: Identifier, parentDir: String,
      metaName: String, v: Long): Table = {
    require(metaName == "files" || metaName == "partitions",
      s"VERSION/TIMESTAMP AS OF on metadata table '$metaName': only " +
        "'files' and 'partitions' are snapshot-addressed — " +
        "'history'/'refs' describe the whole table")
    require(VersionedTable.versions(parentDir).contains(v),
      s"version $v not retained in $parentDir")
    new GraftMetadataTable(ident.toString, parentDir, metaName, Some(v))
  }

  /** `VERSION AS OF v` — only meaningful on a versioned root. A
    * non-numeric ref resolves as a TAG, then a BRANCH (r14: `VERSION AS
    * OF 'audited-2026-07'` / `VERSION AS OF 'wap-staging'`, Iceberg's
    * ref spelling), then as `'<branch>@<v>'` — one of the branch's
    * RETAINED snapshots (r17), the read surface per-branch retention
    * keeps addressable. */
  override def loadTable(ident: Identifier, version: String): Table = {
    metadataTableOf(ident).foreach { case (parentDir, metaName) =>
      val v = version.toLongOption
        .orElse(VersionedTable.tagVersion(parentDir, version))
        .getOrElse(throw new IllegalArgumentException(
          s"VERSION AS OF '$version' on metadata table '$metaName': " +
            s"neither a snapshot id nor a tag on $parentDir (branch " +
            "heads are not main snapshots — fast_forward first)"))
      return metadataTableAt(ident, parentDir, metaName, v)
    }
    loadVia(ident) { dir =>
      require(VersionedTable.isVersioned(dir),
        s"$dir is not a versioned table: VERSION AS OF needs a " +
          "VersionedTable root (plain parquet dirs have no snapshots)")
      version.toLongOption.orElse(VersionedTable.tagVersion(dir, version))
        match {
        case Some(v) => versionedTable(ident, dir, Some(v))
        case None if VersionedTable.branches(dir).contains(version) =>
          new GraftVersionedTable(ident.toString, dir, None,
            SparkSession.active, branchPin = Some(version))
        case None if version.contains('@') =>
          // `VERSION AS OF '<branch>@<v>'` (r17): one of the branch's
          // RETAINED snapshots — what per-branch retention keeps
          // addressable. Ref names cannot contain '@', so the split is
          // unambiguous; an expired or never-staged v refuses in the
          // resolver with the retained list named.
          val (b, at) = version.splitAt(version.lastIndexOf('@'))
          val v = at.drop(1).toLongOption.getOrElse(
            throw new IllegalArgumentException(
              s"VERSION AS OF '$version': expected " +
                "'<branch>@<snapshot id>'"))
          require(VersionedTable.branches(dir).contains(b),
            s"VERSION AS OF '$version': no branch '$b' on $dir")
          new GraftVersionedTable(ident.toString, dir, None,
            SparkSession.active, branchPin = Some(b),
            branchPinAt = Some(v))
        case None => throw new IllegalArgumentException(
          s"VERSION AS OF '$version': neither a snapshot id nor a tag " +
            s"nor a branch (nor '<branch>@<v>') on $dir")
      }
    }
  }

  /** `TIMESTAMP AS OF ts` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    metadataTableOf(ident).foreach { case (parentDir, metaName) =>
      return metadataTableAt(ident, parentDir, metaName,
        VersionedTable.versionAt(parentDir, timestampMicros / 1000L))
    }
    loadVia(ident) { dir =>
      require(VersionedTable.isVersioned(dir),
        s"$dir is not a versioned table: TIMESTAMP AS OF needs a " +
          "VersionedTable root (plain parquet dirs have no snapshots)")
      versionedTable(ident, dir,
        Some(VersionedTable.versionAt(dir, timestampMicros / 1000L)))
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = (warehouseOrThrow +: namespace).mkString("/")
    val (fs, p) = graft.util.Fs.fsFor(nsDir)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .sorted.map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean = {
    val (fs, p) = graft.util.Fs.fsFor(tableDir(ident))
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$catalogName does not support $op — this layer does not evolve " +
        "schemas or move roots (the Iceberg/Delta seam, SCALING.md); " +
        "drop and recreate, or write a new table")

  /** `CREATE TABLE` / the create half of CTAS: declares a
    * [[VersionedTable]] root (schema + identity partition columns
    * pinned in the table meta). Only identity transforms are accepted —
    * bucket/days/truncate transforms would promise a physical layout
    * the parquet substrate doesn't maintain. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toIndexedSeq)
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case t => throw new UnsupportedOperationException(
        s"CREATE TABLE $ident: unsupported partition transform '$t' — " +
          "only identity (column) partitioning is supported")
    }
    VersionedTable.create(dir, schema, partCols)
    versionedTable(ident, dir, None)
  }

  /** `ALTER TABLE … ADD COLUMN(S)`: the one schema evolution parquet
    * serves without per-file field IDs (old files null-fill). Top-level
    * nullable appends only; drop/rename/type-change refuse — that
    * bookkeeping is the Iceberg/Delta seam (SCALING.md). */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = tableDir(ident)
    require(VersionedTable.isVersioned(dir),
      s"ALTER TABLE $ident: $dir is not a catalog-managed versioned table")
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"ALTER TABLE $ident: nested column '${a.fieldNames.mkString(".")}'" +
            " is not supported — add top-level columns")
        require(a.position() == null,
          s"ALTER TABLE $ident: column positions are not supported — new " +
            "columns append at the end")
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, a.isNullable)
      case other => readOnly(s"ALTER TABLE (${other.getClass.getSimpleName})")
    }
    VersionedTable.addColumns(SparkSession.active, dir, adds)
    versionedTable(ident, dir, None)
  }

  /** `DROP TABLE`: removes the table directory (data + manifests).
    * Refuses plain parquet dirs — only roots this catalog's DDL could
    * have created (versioned) drop here; ad-hoc parquet dirs belong to
    * the path-based pipeline that wrote them. */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    val (fs, p) = graft.util.Fs.fsFor(dir)
    if (!fs.exists(p)) false
    else {
      require(VersionedTable.isVersioned(dir),
        s"DROP TABLE $ident: $dir is a plain parquet dir, not a " +
          "catalog-managed versioned table; remove it through the " +
          "pipeline that wrote it")
      fs.delete(p, true)
    }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")

  // ---- SupportsNamespaces: namespaces ARE warehouse subdirectories ---
  //
  // HadoopCatalog convention throughout: `CREATE NAMESPACE` mkdirs,
  // `SHOW NAMESPACES` lists directories that are not themselves tables
  // (a dir is a table when it is a versioned root or directly holds
  // parquet files), `DROP NAMESPACE` removes an empty dir (or any dir
  // with CASCADE). Namespaces also exist IMPLICITLY — a CTAS into
  // `cat.new_ns.t` creates the path — matching path-based catalogs.

  private def nsDir(namespace: Array[String]): String =
    (warehouseOrThrow +: namespace).mkString("/")

  private def isTableDir(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    VersionedTable.isVersioned(p.toString) ||
      fs.listStatus(p).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val (fs, p) = graft.util.Fs.fsFor(nsDir(namespace))
    namespace.nonEmpty && fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val (fs, p) = graft.util.Fs.fsFor(nsDir(namespace))
    if (!fs.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace)
    fs.listStatus(p).filter(_.isDirectory)
      .filterNot(st => isTableDir(fs, st.getPath))
      .map(st => namespace :+ st.getPath.getName)
      .sortBy(_.mkString("."))
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace)
    java.util.Collections.singletonMap("location", nsDir(namespace))
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(
        namespace)
    val (fs, p) = graft.util.Fs.fsFor(nsDir(namespace))
    fs.mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    readOnly("ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val (fs, p) = graft.util.Fs.fsFor(nsDir(namespace))
    if (!namespaceExists(namespace)) false
    else {
      if (!cascade && fs.listStatus(p).nonEmpty)
        throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
          namespace)
      fs.delete(p, true)
    }
  }
}

object GraftProcedureCatalog {

  /** Conventional registration name; any `spark.sql.catalog.<name>`
    * alias works — procedures read the name Spark hands initialize. */
  val DefaultName = "graft"

  def register(spark: SparkSession, name: String = DefaultName): Unit =
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftProcedureCatalog].getName)

  private val ReportSchema = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("action", StringType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("detail", StringType, nullable = false)))

  private final class ReportScan(reports: Seq[Maintenance.Report])
      extends LocalScan {
    override def readSchema(): StructType = ReportSchema
    override def rows(): Array[InternalRow] = reports.toArray.map { r =>
      InternalRow(UTF8String.fromString(r.table),
        UTF8String.fromString(r.action), r.ok,
        UTF8String.fromString(r.detail))
    }
    override def description(): String = "graft maintenance report"
  }

  /** One class per procedure keeps bind() trivial: parameters are
    * declared with SQL-literal defaults, Spark applies named/positional
    * binding and default-filling, and call() reads the fully-populated
    * row positionally. Procedures MUTATE table layout, so they are
    * declared non-deterministic and run exactly once per CALL. */
  private abstract class MaintProc(procName: String, doc: String,
      params: Array[ProcedureParameter])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = doc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report]
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      Collections.singletonList[Scan](
        new ReportScan(run(SparkSession.active, input))).iterator()
    protected def str(input: InternalRow, i: Int): String =
      input.getUTF8String(i).toString
  }

  private def p(name: String, dt: DataType,
      default: String = null): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dt)
    if (default != null) b.defaultValue(default)
    b.build()
  }

  private object RewriteDataFiles extends MaintProc("rewrite_data_files",
    "binpack/sort/zorder compaction of a parquet table directory " +
      "(M2; parquet analogue of Iceberg rewrite_data_files)",
    Array(
      p("table", StringType),
      p("strategy", StringType, "'binpack'"),
      p("sort_order", StringType, "''"),
      p("target_file_size_bytes", LongType, (256L * 1024 * 1024).toString),
      p("zorder_bits", IntegerType, "12"))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] = {
      val table = str(input, 0)
      val cols = str(input, 2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val target = input.getLong(3)
      val versioned = VersionedTable.isVersioned(table)
      str(input, 1).toLowerCase(java.util.Locale.ROOT) match {
        // a versioned root's snapshots are immutable — binpack/sort
        // commit the packed content as a NEW snapshot instead of
        // rewriting files in place (r13; the append-chain maintenance)
        case "binpack" if versioned =>
          Seq(Maintenance.compactVersioned(spark, table,
            targetFileBytes = target))
        case "sort" if versioned =>
          Seq(Maintenance.compactVersioned(spark, table, cols, target))
        case "binpack" =>
          Seq(Maintenance.compact(spark, table, target))
        case "sort" =>
          Seq(Maintenance.compactSorted(spark, table, cols, target))
        case "zorder" if versioned =>
          Seq(Maintenance.Report(table, "rewrite_data_files", ok = false,
            "zorder on a versioned table: use strategy 'sort' (snapshot " +
              "recommit) or zorder-compact the table's plain export"))
        case "zorder" =>
          Seq(Maintenance.compactZorder(spark, table, cols,
            input.getInt(4), target))
        case other =>
          Seq(Maintenance.Report(table, "rewrite_data_files", ok = false,
            s"unknown strategy '$other' (binpack|sort|zorder)"))
      }
    }
  }

  private object ExpireSnapshots extends MaintProc("expire_snapshots",
    "expire old VersionedTable snapshots — keep the newest retain_last; " +
      "older_than additionally drops only versions committed before the " +
      "timestamp (Iceberg parameter names). No-op report on plain " +
      "parquet tables, which have no snapshots",
    Array(
      p("table", StringType),
      p("retain_last", IntegerType, "7"),
      p("older_than", TimestampType, "NULL"))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] = {
      val table = str(input, 0)
      val keep = input.getInt(1)
      val (tfs, troot) = graft.util.Fs.fsFor(table)
      val versioned = {
        val p = new org.apache.hadoop.fs.Path(troot, "_versions")
        tfs.exists(p) && tfs.getFileStatus(p).isDirectory
      }
      if (versioned) {
        try {
          val dropped =
            if (input.isNullAt(2)) VersionedTable.expire(table, keep)
            else VersionedTable.expireOlderThan(table,
              // TimestampType arrives as epoch MICROS
              input.getLong(2) / 1000L, keep)
          Seq(Maintenance.Report(table, "expire_snapshots", ok = true,
            if (dropped.isEmpty) "noop: nothing to expire"
            else s"expired versions ${dropped.mkString(",")}"))
        } catch {
          case scala.util.control.NonFatal(e) =>
            Seq(Maintenance.Report(table, "expire_snapshots", ok = false,
              e.toString))
        }
      } else Seq(Maintenance.expireSnapshots(table, keep))
    }
  }

  private object RemoveOrphanFiles extends MaintProc("remove_orphan_files",
    "delete committer leftovers and resolve crashed compaction temps " +
      "(restore-or-delete per crash window) next to a table root (M3)",
    Array(p("table", StringType))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] =
      Seq(Maintenance.removeOrphans(spark, str(input, 0)))
  }

  private object RepartitionTable extends MaintProc("repartition_table",
    "partition-layout evolution: rewrite the table into a new Hive " +
      "layout (empty partition_cols un-partitions); old keys survive " +
      "as data columns — Iceberg partition evolution, the parquet way",
    Array(
      p("table", StringType),
      p("partition_cols", StringType, "''"))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] =
      Seq(Maintenance.repartitionTable(spark, str(input, 0),
        str(input, 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq))
  }

  private object RewriteManifests extends MaintProc("rewrite_manifests",
    "collapse an append chain's read cost by committing a pre-resolved " +
      "file-list manifest — metadata only, no data rewrite (Iceberg's " +
      "rewrite_manifests; versioned tables only)",
    Array(p("table", StringType))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] =
      Seq(Maintenance.rewriteManifests(str(input, 0)))
  }

  private object CreateTag extends MaintProc("create_tag",
    "name a retained snapshot (expiry-proof until dropped; readable as " +
      "VERSION AS OF '<tag>') — Iceberg's create_tag; empty version = " +
      "the current snapshot",
    Array(
      p("table", StringType),
      p("tag", StringType),
      p("version", StringType, "''"))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] = {
      val v = str(input, 2).trim
      Seq(Maintenance.createTag(str(input, 0), str(input, 1),
        if (v.isEmpty) None else Some(v.toLong)))
    }
  }

  private object DropTag extends MaintProc("drop_tag",
    "drop a snapshot tag; the snapshot becomes expirable again",
    Array(p("table", StringType), p("tag", StringType))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] =
      Seq(Maintenance.dropTag(str(input, 0), str(input, 1)))
  }

  private object CreateBranch extends MaintProc("create_branch",
    "fork a branch at the current snapshot — the staging ref of " +
      "write-audit-publish (Iceberg's create_branch)",
    Array(p("table", StringType), p("branch", StringType))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] =
      Seq(Maintenance.createBranch(str(input, 0), str(input, 1)))
  }

  private object FastForward extends MaintProc("fast_forward",
    "publish a branch: commit its head content as the next MAIN " +
      "snapshot by reference (refuses if main diverged) — Iceberg's " +
      "fast_forward",
    Array(p("table", StringType), p("branch", StringType))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] =
      Seq(Maintenance.fastForward(str(input, 0), str(input, 1)))
  }

  private object DropBranch extends MaintProc("drop_branch",
    "drop a branch; its exclusive data dirs are reclaimed inline " +
      "(main-adopted or other-branch-referenced dirs stay)",
    Array(p("table", StringType), p("branch", StringType))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] =
      Seq(Maintenance.dropBranch(str(input, 0), str(input, 1)))
  }

  private object ExpireBranchSnapshots extends MaintProc(
    "expire_branch_snapshots",
    "per-branch retention (Iceberg's per-ref min-snapshots-to-keep / " +
      "max-ref-age): drop a branch's staged snapshots except the " +
      "newest retain_last; older_than additionally keeps everything " +
      "committed at-or-after the timestamp — head and fork base " +
      "survive, main is untouched; dirs exclusive to the dropped " +
      "branch snapshots are reclaimed",
    Array(
      p("table", StringType),
      p("branch", StringType),
      p("retain_last", IntegerType, "1"),
      p("older_than", TimestampType, "NULL"))) {
    override protected def run(spark: SparkSession,
        input: InternalRow): Seq[Maintenance.Report] =
      Seq(Maintenance.expireBranchSnapshots(str(input, 0), str(input, 1),
        input.getInt(2),
        // TimestampType arrives as epoch MICROS
        if (input.isNullAt(3)) None else Some(input.getLong(3) / 1000L)))
  }

  private val procedures: Map[String, UnboundProcedure] = Map(
    "rewrite_data_files" -> RewriteDataFiles,
    "expire_snapshots" -> ExpireSnapshots,
    "remove_orphan_files" -> RemoveOrphanFiles,
    "rewrite_manifests" -> RewriteManifests,
    "repartition_table" -> RepartitionTable,
    "create_tag" -> CreateTag,
    "drop_tag" -> DropTag,
    "create_branch" -> CreateBranch,
    "fast_forward" -> FastForward,
    "drop_branch" -> DropBranch,
    "expire_branch_snapshots" -> ExpireBranchSnapshots)
}
