package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.VersionedTable

/** The DSv2 face of a [[VersionedTable]] root — the Iceberg table shape
  * from plain SQL (reference: README.md:87-90 — the time-travel +
  * SQL-managed table claims):
  *
  *   - reads delegate to Spark's own parquet scan over the snapshot's
  *     RESOLVED data-dir list (append snapshots are multi-dir), so
  *     pushdown/pruning/vectorization are stock Spark;
  *   - `INSERT INTO` commits an INCREMENTAL append snapshot — O(new
  *     rows), prior data carried by reference (manifest `dirs=` list);
  *   - `INSERT OVERWRITE` / CTAS commit a full snapshot;
  *   - `DELETE FROM … WHERE` is copy-on-write at data-dir granularity:
  *     one metadata-column scan finds the dirs containing affected rows,
  *     untouched dirs carry into the new snapshot by reference, only
  *     affected dirs rewrite (Iceberg's CoW with file-level pruning,
  *     at this layer's dir granularity);
  *   - `TRUNCATE TABLE` commits an empty snapshot;
  *   - every mutation is a manifest commit: history stays
  *     time-travelable, and a write to a TIME-TRAVEL-pinned relation
  *     refuses (a snapshot is immutable by definition).
  *
  * The write path is a [[V1Write]]: the committed DataFrame is written
  * by the engine's own distributed parquet write — V1 here means "hand
  * the planned query back as a DataFrame", not a driver-side
  * materialization; at 100 TB the write is the same
  * `df.write.parquet` every pipeline stage uses. */
final class GraftVersionedTable(
    identName: String,
    root: String,
    pinnedVersion: Option[Long],
    spark: SparkSession,
    branchPin: Option[String] = None,
    branchPinAt: Option[Long] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  /** The session's write-audit-publish branch (Iceberg's
    * `spark.wap.branch`): while set, catalog WRITES to this table stage
    * on that branch instead of committing to main, and catalog READS
    * serve the branch head when the branch exists — one conf turns an
    * existing INSERT/SELECT pipeline into the staging half of WAP, no
    * code changes. Time-travel pins ignore it (an explicit `VERSION AS
    * OF` beats the ambient conf). */
  private def wapBranch: Option[String] =
    scala.util.Try(spark.conf.get(GraftVersionedTable.WapBranchConfKey))
      .toOption.filter(_.nonEmpty)
      .filter(_ => pinnedVersion.isEmpty && branchPin.isEmpty)

  private def wapReadBranch: Option[String] =
    wapBranch.filter(b => VersionedTable.branches(root).contains(b))

  /** Scan roots: the branch head's dirs under a BRANCH pin (r14 —
    * `VERSION AS OF '<branch>'`, the audit read of write-audit-
    * publish) or while `spark.graft.wap.branch` names an existing
    * branch; otherwise the pre-resolved FILE list when the snapshot's
    * manifest carries one (rewrite_manifests, r14 — zero dir
    * listings), the data-dir list otherwise. */
  private def dataPaths: Seq[String] = branchPin.orElse(wapReadBranch) match {
    case Some(b) => branchPinAt match {
      // `VERSION AS OF 'b@v'` (r17): the branch's RETAINED snapshot v,
      // not its head — an expired v refuses loudly in the resolver
      case Some(v) => VersionedTable.branchDataPathsAt(root, b, v)._1
      case None => VersionedTable.branchDataPaths(root, b)
    }
    case None => VersionedTable.dataPaths(root, pinnedVersion)
  }

  /** True when the snapshot-dir level can surface as the metadata
    * column `v` (the group id dir-granular copy-on-write rewrites
    * filter on): needs a DECLARED schema (so the `basePath` read is
    * inference-free and `v`'s type is pinned long) with no data column
    * of that name (the dir level IS named `v=N`; partitioned layouts
    * already refuse such columns at create, unpartitioned ones keep
    * working and simply degrade to full-rewrite row-level ops). */
  /** The schema this relation serves: per-snapshot for a time-travel
    * pin (r14 — `VERSION AS OF` a pre-ADD-COLUMN snapshot reads the
    * schema as of that snapshot, [[VersionedTable.schemaAt]]), the
    * declared table schema otherwise. */
  private def effectiveSchema
      : Option[org.apache.spark.sql.types.StructType] =
    (branchPin.orElse(wapReadBranch), pinnedVersion) match {
      case (Some(b), _) => branchPinAt match {
        // schema as of the branch snapshot, not the branch head —
        // a pre-ADD-COLUMN branch snapshot reads its own columns
        case Some(v) => VersionedTable.branchDataPathsAt(root, b, v)._2
        case None => VersionedTable.branchSchema(root, b)
      }
      case (None, Some(v)) => VersionedTable.schemaAt(root, v)
      case _ => VersionedTable.storedSchema(root)
    }

  private[sql] lazy val dirMetaCapable: Boolean =
    effectiveSchema
      .exists(s => !s.fieldNames.exists(_.equalsIgnoreCase("v")))

  /** Fresh per call: a snapshot commit between two loads must be
    * visible to the next scan (the catalog caches nothing). Partitioned
    * tables scan with `basePath` at the root — see
    * [[VersionedTable.readDirs]]: the snapshot level becomes a
    * partition column the projection never requests, and partition
    * pruning on the declared columns works across all snapshot dirs in
    * one relation. Metadata-capable tables ALWAYS read with `basePath`
    * and the schema extended by `v BIGINT`, so the delegate serves the
    * metadata column natively as a partition column — zero IO, full
    * pushdown preserved (the scan builder is the stock parquet one). */
  private def delegate: ParquetTable = delegateOver(dataPaths)

  private[sql] def delegateOver(dirs: Seq[String]): ParquetTable =
    if (dirMetaCapable) {
      val opts = new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("basePath", root))
      val schemaPlusV = StructType(
        effectiveSchema.get.fields :+
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.LongType))
      ParquetTable(identName, spark, opts, dirs, Some(schemaPlusV),
        classOf[ParquetFileFormat])
    } else {
      val opts =
        if (VersionedTable.partitionColsOf(root).nonEmpty)
          new CaseInsensitiveStringMap(
            java.util.Collections.singletonMap("basePath", root))
        else CaseInsensitiveStringMap.empty()
      ParquetTable(identName, spark, opts, dirs,
        effectiveSchema, classOf[ParquetFileFormat])
    }

  /** The snapshot data-dir version owning each row, as Iceberg exposes
    * `_file` — the group id of this layer's copy-on-write granularity.
    * Served by partition discovery (the dir level IS `v=N`), so
    * selecting it costs no data IO. */
  override def metadataColumns(): Array[MetadataColumn] =
    if (dirMetaCapable) Array(GraftVersionedTable.SnapshotDirColumn)
    else Array.empty

  override def name(): String = identName

  /** The DECLARED schema when one exists (per-snapshot under a
    * time-travel pin) — the delegate's would append the internal
    * snapshot-level partition column on `basePath` discovery; analysis
    * must never see it. */
  override def schema(): StructType =
    effectiveSchema.getOrElse(delegate.schema)

  override def partitioning(): Array[Transform] =
    VersionedTable.partitionColsOf(root)
      .map(c => Expressions.identity(c)).toArray

  override def properties(): util.Map[String, String] = {
    // surfaced by SHOW TBLPROPERTIES / DESCRIBE EXTENDED, with the
    // current snapshot
    val base = Map("location" -> root,
      "format" -> "parquet",
      "provider" -> "graft")
    val cur = VersionedTable.latestVersion(root)
      .map(v => "graft.current-version" -> v.toString)
    (base ++ cur).asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** Catalog reads prune through the registered stats index too (r14):
    * the builder forwards every parquet pushdown verbatim and, at
    * build(), drops files the index refuses — so `SELECT … FROM
    * <cat>.<ns>.<t> WHERE k = x` skips files exactly like the v1 rule
    * does for path reads. Registration names the table ROOT; the
    * parent-hop in [[org.apache.spark.sql.graft.StatsPruning.statsDirsFor]]
    * resolves it for every snapshot's `v=N` dirs. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    delegate.newScanBuilder(options) match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =>
        new org.apache.spark.sql.graft.GraftStatsScanBuilder(spark, p)
      case other => other
    }

  // ---- writes ---------------------------------------------------------

  /** The WAP branch a write should stage on, validated to EXIST — a
    * typo'd conf silently staging into a fresh line would lose the
    * publish (r15: row-level DML routes here too; Iceberg's branch
    * writes admit full DML, and so does this layer now — the session's
    * reads already serve the branch, so the statement mutates exactly
    * what it sees). */
  private def wapBranchChecked(op: String): Option[String] =
    wapBranch.map { b =>
      require(VersionedTable.branches(root).contains(b),
        s"$op on $identName: ${GraftVersionedTable.WapBranchConfKey}=" +
          s"'$b' but the table has no such branch — CALL create_branch " +
          "first")
      b
    }

  private def refusePinned(op: String): Unit = {
    require(pinnedVersion.isEmpty,
      s"$op on $identName VERSION AS OF ${pinnedVersion.get}: snapshots " +
        "are immutable — write to the table, not to a point in its history")
    require(branchPin.isEmpty,
      s"$op on $identName VERSION AS OF '${branchPin.getOrElse("")}" +
        branchPinAt.fold("")("@" + _) + "': " +
        "branch relations are read-only here — stage branch commits " +
        "with appendToBranch/writeToBranch, publish with fast_forward")
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refusePinned("write")
    new WriteBuilder with SupportsTruncate {
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: sources.InsertableRelation =
          new sources.InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              wapBranchChecked("write") match {
                case Some(b) =>
                  if (overwriteAll) VersionedTable.writeToBranch(data, root, b)
                  else VersionedTable.appendToBranch(data, root, b)
                case None =>
                  if (overwriteAll) VersionedTable.write(data, root)
                  else VersionedTable.append(data, root)
              }
          }
      }
    }
  }

  override def truncateTable(): Boolean = {
    refusePinned("TRUNCATE")
    wapBranchChecked("TRUNCATE") match {
      case Some(b) =>
        // branch truncate = the branch head becomes the empty snapshot
        // (main untouched) — the full-recompute WAP shape with zero rows
        VersionedTable.writeToBranch(
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row],
            schema()), root, b)
      case None => VersionedTable.truncate(spark, root)
    }
    true
  }

  // ---- UPDATE / MERGE INTO: group-based copy-on-write -----------------
  //
  // SQL `UPDATE` and `MERGE INTO` ride Spark's own group-based
  // row-level rewrite (RewriteUpdateTable / RewriteMergeIntoTable): the
  // operation's scan reads the current snapshot, the runtime plans the
  // full post-statement state, and the write commits it as a new
  // snapshot — Iceberg's copy-on-write shape. Translatable `DELETE
  // FROM` still downgrades to the dir-granular metadata path above
  // (OptimizeMetadataOnlyDeleteFromTable consults canDeleteWhere);
  // untranslatable DELETEs run the rewrite instead of erroring.
  //
  // DIR-GRANULAR since r14: the operation's scan exposes the snapshot
  // dir as runtime-filterable group id (SupportsRuntimeV2Filtering on
  // the metadata column `v`), so Spark's own
  // RowLevelOperationRuntimeGroupFiltering executes the command's
  // condition (for MERGE: an EXISTS against the source) as a subquery,
  // hands back the matching dir versions, the scan restricts itself to
  // those dirs, and the write carries every untouched dir into the new
  // snapshot BY REFERENCE — a selective UPDATE/MERGE rewrites only the
  // dirs it touches, Iceberg's CoW-with-group-pruning on this layer's
  // dir granularity. When the filter never fires (conf off, `v`-named
  // data column, condition always true) the scan reads everything and
  // the write commits a full snapshot — the pre-r14 behavior, still
  // exact.

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    refusePinned(info.command.toString)
    // r15: under a WAP branch the whole statement routes onto the
    // branch — scan reads the branch head (the session's reads already
    // serve it), the rewrite commits the next BRANCH snapshot, and
    // fast_forward publishes it; main never moves (Iceberg's
    // branch-targeted DML). Without the conf: main, as before.
    val branch = wapBranchChecked(info.command.toString)
    () => new GraftRowLevelOperation(this, root, spark, info.command, branch)
  }

  // ---- DELETE FROM: copy-on-write at data-dir granularity -------------

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    pinnedVersion.isEmpty && branchPin.isEmpty && wapBranch.isEmpty &&
      filters.forall(translate(_).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    refusePinned("DELETE")
    // canDeleteWhere refuses this metadata-only downgrade under a WAP
    // branch: a branch DELETE runs the row-level rewrite path instead
    // (dir-granular CoW onto the branch)
    require(wapBranch.isEmpty,
      s"DELETE downgrade on $identName under a WAP branch — " +
        "canDeleteWhere should have refused this path")
    val pred = filters.flatMap(translate).reduceOption(_ && _)
      .getOrElse(lit(true))
    // DIR list deliberately (not dataPaths): the CoW unit is the dir.
    // The base version is captured BEFORE the detection scan and
    // re-validated at publish — without it, a commit landing between
    // the scan and the replace would be silently dropped from the new
    // snapshot (kept ⊆ current alone admits supersets).
    val base = VersionedTable.latestVersion(root)
    val dirs = VersionedTable.dataDirs(root, pinnedVersion)
    if (dirs.isEmpty) return // declared-but-empty table: nothing to delete
    val current = VersionedTable.read(spark, root)
    // ONE scan answers which data dirs contain affected rows — the
    // file-metadata column costs no data-column IO beyond the
    // predicate's own columns, and stock pushdown prunes the scan.
    // The dir VERSION is extracted distributed-side so the driver
    // collects at most |snapshot dirs| longs, never a file-path list
    // (the gated-collect discipline every other driver list follows).
    // The pattern is ANCHORED past the table root (regex-quoted last
    // root segment, the same anchoring dirVersionOf applies driver
    // side): an UNanchored "/v=(\d+)/" would match the FIRST such
    // segment anywhere in the path, so a warehouse rooted at, say,
    // /data/v=3/wh would resolve every file to the root's own segment
    // and the DELETE would silently keep matching rows (r13 advice).
    val touched = current
      .filter(pred)
      .select(org.apache.spark.sql.functions.regexp_extract(
        col("_metadata.file_path"),
        java.util.regex.Pattern.quote(s"/$rootTail") + "/v=(\\d+)/",
        1).as("dv"))
      .filter(col("dv") =!= "")
      .distinct()
      .collect()
      .map(_.getString(0).toLong)
      .toSet
    if (touched.isEmpty) return // no row matches: current snapshot stands
    val allVersions = dirs.flatMap(d => dirVersionOf(d + "/"))
    val kept = allVersions.filterNot(touched)
    // rewrite ONLY the touched dirs' survivors; DELETE drops rows where
    // the predicate is TRUE, so survivors are false-or-null rows
    val survivors = VersionedTable
      .readDirs(spark, root, touched.toSeq.sorted.map(v => s"$root/v=$v"))
      .filter(not(coalesce(pred, lit(false))))
    VersionedTable.replace(survivors, root, kept, baseVersion = base)
  }

  /** The owning `v=K` data version of a file path under this root, if
    * any (paths may be URI-qualified while `root` is not — match on
    * the `/v=K/` segment past the root's tail). */
  private def dirVersionOf(path: String): Option[Long] = {
    val marker = "/v="
    val i = path.indexOf(marker, math.max(0, path.indexOf(rootTail)))
    if (i < 0) None
    else path.substring(i + marker.length).takeWhile(_.isDigit).toLongOption
  }
  private val rootTail = root.substring(root.lastIndexOf('/') + 1)

  /** v1 source filter -> Column, the standard translatable subset; None
    * refuses the DELETE at analysis (canDeleteWhere) rather than
    * half-applying it. */
  private def translate(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case sources.And(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case sources.Not(c) => translate(c).map(!_)
    case _ => None
  }
}

object GraftVersionedTable {

  /** Session conf naming the write-audit-publish branch (Iceberg's
    * `spark.wap.branch`): while set, catalog writes stage onto the
    * branch and catalog reads serve it. */
  val WapBranchConfKey = "spark.graft.wap.branch"

  /** The snapshot-dir metadata column — the group id of this layer's
    * copy-on-write (Iceberg's `_file`, at dir granularity). Named `v`
    * because that IS the physical dir level (`v=N`); tables with a data
    * column of that name simply don't expose it. */
  private object SnapshotDirColumn extends MetadataColumn {
    override def name(): String = "v"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def comment(): String =
      "snapshot data-dir version (v=N) owning the row"
  }
}

/** Where a row-level rewrite publishes: the next MAIN snapshot
  * (validated against the base snapshot the scan read) or — under the
  * WAP conf (r15) — the next BRANCH snapshot (validated against the
  * branch head the scan read; None = the branch had no commits and
  * read its fork base). */
private sealed trait ReplaceTarget
private final case class MainTarget(baseVersion: Option[Long])
  extends ReplaceTarget
private final case class BranchTarget(name: String, baseHead: Option[Long])
  extends ReplaceTarget

/** One SQL UPDATE / MERGE / untranslatable-DELETE statement: holds the
  * state its scan(s) and write must agree on —
  *   - the BASE snapshot (or branch head, under WAP — r15), captured
  *     once, so the main scan, the group-filter subquery scan, and the
  *     commit's optimistic validation all see the same version (a
  *     concurrent commit while the statement runs fails the publish
  *     cleanly);
  *   - the TOUCHED dir set the runtime group filter proved, which the
  *     write turns into carried-by-reference untouched dirs. */
private final class GraftRowLevelOperation(
    table: GraftVersionedTable,
    root: String,
    spark: SparkSession,
    cmd: RowLevelOperation.Command,
    wapBranch: Option[String] = None) extends RowLevelOperation {

  private val target: ReplaceTarget = wapBranch match {
    case Some(b) =>
      BranchTarget(b, VersionedTable.branchHeadVersion(root, b))
    case None => MainTarget(VersionedTable.latestVersion(root))
  }
  private val baseDirs: Seq[String] = target match {
    case BranchTarget(b, _) => VersionedTable.branchDataPaths(root, b)
    case MainTarget(base) => VersionedTable.dataDirs(root, base)
  }
  private val baseDirVersions: Seq[Long] = baseDirs.map(d =>
    d.substring(d.lastIndexOf("/v=") + 3).toLong)

  /** Dir versions the runtime group filter proved touched; None = the
    * filter never fired, so the scan read everything and the write
    * must commit a full snapshot. */
  @volatile private[sql] var touchedDirs: Option[Set[Long]] = None

  private def keptDirVersions: Seq[Long] = touchedDirs match {
    case Some(t) => baseDirVersions.filterNot(t)
    case None => Nil
  }

  override def command: RowLevelOperation.Command = cmd

  /** Declaring `v` required is what makes Spark resolve the metadata
    * column into the rewrite plan — both the group-filter subquery's
    * collected key and the projection ReplaceDataExec strips before
    * writing. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (table.dirMetaCapable) Array(Expressions.column("v"))
    else Array.empty

  /** Column pruning only — filter/aggregate/limit pushdown is
    * deliberately absent: ReplaceData's contract is "the write replaces
    * exactly the groups the scan read", and a statically pushed-down
    * condition would prune ROWS (parquet row groups) out of the
    * rewrite, silently dropping them from the table (observed pre-r13).
    * Group-consistent pruning happens only through the runtime filter
    * below, which restricts WHOLE dirs. */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val op = this
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var required: Option[StructType] = None
      private val inner = table.delegateOver(baseDirs).newScanBuilder(options)
      override def pruneColumns(requiredSchema: StructType): Unit = {
        required = Some(requiredSchema)
        inner match {
          case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
            c.pruneColumns(requiredSchema)
          case _ => ()
        }
      }
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val built = inner.build()
        if (!table.dirMetaCapable) built
        else new GraftCowScan(op, built, versions => {
          val dirs = versions.toSeq.sorted.map(v => s"$root/v=$v")
          val b = table.delegateOver(dirs).newScanBuilder(options)
          (b, required) match {
            case (c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns,
                Some(r)) => c.pruneColumns(r)
            case _ => ()
          }
          b.build()
        })
      }
    }
  }

  override def newWriteBuilder(wi: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftReplaceWrite(root, spark, wi,
        VersionedTable.partitionColsOf(root), target,
        () => keptDirVersions, () => touchedDirs)
    }
}

/** The row-level operation's scan: delegates everything to the stock
  * parquet scan over the base snapshot's dirs, and implements Spark's
  * runtime group filtering on the dir-version metadata column — when
  * RowLevelOperationRuntimeGroupFiltering hands back `v IN (…)` (the
  * dirs containing rows matching the command's condition, collected by
  * the subquery it plans), the scan REBUILDS itself over exactly those
  * dirs and records them on the operation for the write's
  * carry-by-reference commit. Only whole dirs are ever dropped, so the
  * scan↔write group contract holds by construction; an unrecognized
  * runtime predicate is ignored (conservative: more dirs rewritten,
  * never rows lost). */
private final class GraftCowScan(
    op: GraftRowLevelOperation,
    initial: org.apache.spark.sql.connector.read.Scan,
    rebuild: Set[Long] => org.apache.spark.sql.connector.read.Scan)
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  @volatile private var current = initial

  override def readSchema(): StructType = current.readSchema()
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    current.toBatch
  override def description(): String = s"GraftCow(${current.description()})"

  /** Forwarded so a MERGE's join strategy sees the parquet scan's real
    * size (post-filter: the touched dirs only). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = current match {
    case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
      s.estimateStatistics()
    case _ => new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("v"))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val sets = predicates.flatMap(versionsFrom)
    if (sets.nonEmpty) {
      val touched = sets.reduceLeft(_ intersect _)
      op.touchedDirs = Some(touched)
      current = rebuild(touched)
    }
  }

  /** `v IN (…)` / `v = k` → the dir-version set; None for anything
    * else (the predicate is then simply not applied — correct, because
    * Spark re-checks the full condition on the scanned rows). */
  private def versionsFrom(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Set[Long]] = {
    import org.apache.spark.sql.connector.expressions.{Expression, Literal}
    def isV(e: Expression): Boolean = e match {
      case r: NamedReference =>
        r.fieldNames.length == 1 && r.fieldNames.head.equalsIgnoreCase("v")
      case _ => false
    }
    def longOf(e: Expression): Option[Long] = e match {
      case l: Literal[_] => l.value match {
        case x: java.lang.Long => Some(x.longValue)
        case x: java.lang.Integer => Some(x.longValue)
        case _ => None
      }
      case _ => None
    }
    val kids = p.children()
    p.name() match {
      // a condition matching ZERO rows arrives as ALWAYS_FALSE (Spark
      // folds the empty IN) — no dir is touched, which both restricts
      // the scan to nothing and lets the write skip the no-op publish
      case "ALWAYS_FALSE" => Some(Set.empty[Long])
      case "IN" if kids.nonEmpty && isV(kids.head) =>
        val vs = kids.drop(1).map(longOf)
        if (vs.nonEmpty && vs.forall(_.isDefined)) Some(vs.flatten.toSet)
        else if (kids.length == 1) Some(Set.empty[Long]) // IN () = no match
        else None
      case "=" if kids.length == 2 && isV(kids.head) =>
        longOf(kids(1)).map(Set(_))
      case "=" if kids.length == 2 && isV(kids(1)) =>
        longOf(kids.head).map(Set(_))
      case _ => None
    }
  }
}

/** The write half of a group-based row-level operation (ReplaceData):
  * the rewritten content lands as a NEW snapshot. [[toBatch]] RESERVES
  * a data-dir id K up front ([[VersionedTable.claimReplaceVersion]]) and
  * executors write DIRECTLY into `v=K` — no staging dir, no rename
  * anywhere on the commit path; the reservation makes the name
  * exclusive, and an abort ([[VersionedTable.abandonClaimOn]]) deletes
  * only the reserved dir and its marker, never a published snapshot's
  * data. Unpartitioned tables ride Spark's own parquet BatchWrite;
  * partitioned tables write their Hive layout in the same single pass
  * ([[org.apache.spark.sql.graft.PartitionedStagingWrite]]). The
  * driver-side commit() publishes through
  * [[VersionedTable.publishClaimedReplace]] (or its branch twin) as the
  * next manifest number, re-listing and retrying if another writer
  * published that number first: the manifest carries the untouched dirs
  * by reference and every attempt re-validates the base version — a
  * concurrent commit is a clean error with the reservation the only
  * thing cleaned up. No TTL, heartbeat or wait is involved. */
private final class GraftReplaceWrite(
    root: String,
    spark: SparkSession,
    info: LogicalWriteInfo,
    partitionCols: Seq[String],
    target: ReplaceTarget,
    keptDirVersions: () => Seq[Long],
    touchedDirs: () => Option[Set[Long]]) extends Write {

  override def toBatch: BatchWrite = {
    val claimed = VersionedTable.claimReplaceVersion(root)
    val dir = s"$root/v=$claimed"
    if (partitionCols.isEmpty) flatBatch(dir, claimed)
    else partitionedBatch(dir, claimed)
  }

  /** Skip the snapshot publish entirely when the statement provably
    * changed nothing (r15; Iceberg's skip-empty-commit): the runtime
    * group filter proved ZERO touched dirs AND the rewrite wrote zero
    * data files (an insert-only MERGE has no touched dirs but DOES
    * write files, so it still publishes). Without this, a no-match
    * UPDATE/MERGE commits an empty-delta snapshot — history noise the
    * dir-granular DELETE path already avoids by short-circuiting. */
  private def provablyNoop(dir: String): Boolean =
    touchedDirs().exists(_.isEmpty) && !hasDataFiles(dir)

  private def hasDataFiles(d: String): Boolean = {
    val (fs, p) = graft.util.Fs.fsFor(d)
    if (!fs.exists(p)) return false
    val prefix = p.toString + "/"
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(prefix)
      found = st.isFile && !rel.split("/").exists(seg =>
        seg.startsWith("_") || seg.startsWith("."))
    }
    found
  }

  private def publish(dir: String, claimed: Long): Unit =
    if (provablyNoop(dir)) VersionedTable.abandonClaimOn(root, claimed)
    else target match {
      case MainTarget(base) =>
        VersionedTable.publishClaimedReplace(root, claimed, base,
          keptDirVersions())
      case BranchTarget(b, head) =>
        VersionedTable.publishClaimedReplaceBranch(root, claimed, b, head,
          keptDirVersions())
    }

  /** Unpartitioned: Spark's v2 parquet BatchWrite into the claimed
    * dir, op-column adaptation per row, publish by conditional create. */
  private def flatBatch(dir: String, claimed: Long): BatchWrite = {
    val staged = ParquetTable("graft-replace", spark,
      CaseInsensitiveStringMap.empty(), Seq(dir),
      Some(info.schema()), classOf[ParquetFileFormat])
    val inner = staged.newWriteBuilder(info).build().toBatch

    new BatchWrite {
      override def createBatchWriterFactory(
          pi: PhysicalWriteInfo): DataWriterFactory =
        new GraftReplaceWriterFactory(
          inner.createBatchWriterFactory(pi), info.schema())

      // the file commit protocol coordinates its own task commits —
      // letting the V2 task ALSO ask the OutputCommitCoordinator
      // double-registers each partition and the second ask is denied
      override def useCommitCoordinator: Boolean =
        inner.useCommitCoordinator

      override def onDataWriterCommit(message: WriterCommitMessage): Unit =
        message match {
          case GraftNoRowsMessage => () // zero-row task: no file behind it
          case m => inner.onDataWriterCommit(m)
        }

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        inner.commit(messages.filter {
          case GraftNoRowsMessage => false
          case _ => true
        })
        // publish: the snapshot becomes visible only here, when the
        // claimed dir's manifest lands
        publish(dir, claimed)
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit = {
        inner.abort(messages)
        VersionedTable.abandonClaimOn(root, claimed)
      }
    }
  }

  /** Partitioned: ONE distributed pass lays the Hive structure inside
    * the claimed dir; commit reconciles the listing against the task
    * messages (exactly-once against retried attempts) and publishes. */
  private def partitionedBatch(dir: String, claimed: Long): BatchWrite = {
    import org.apache.spark.sql.graft.PartitionedStagingWrite
    val factory = PartitionedStagingWrite.factory(spark, dir,
      info.schema(), partitionCols)

    new BatchWrite {
      override def createBatchWriterFactory(
          pi: PhysicalWriteInfo): DataWriterFactory = factory

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        PartitionedStagingWrite.reconcile(dir, messages)
        publish(dir, claimed)
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit =
        VersionedTable.abandonClaimOn(root, claimed)
    }
  }
}

/** Commit message of a task that wrote ZERO rows (r15): its writer was
  * never created, no file exists behind it — the BatchWrite filters
  * these out before handing the real messages to the parquet commit. */
private[sql] case object GraftNoRowsMessage extends WriterCommitMessage

/** Adapts the row stream a group-based ReplaceData produces to the
  * parquet data writer. When the operation declares no metadata
  * attributes, ReplaceDataExec falls back to the plain writing task
  * (`ReplaceDataExec.writingTask` requires BOTH projections) and hands
  * the writer the RAW rewrite rows — `__row_operation` int first, data
  * columns after (RowDeltaUtils.OPERATION_COLUMN; the projection-less
  * path is unexercised upstream because Iceberg always declares
  * metadata attrs). The adapter recognizes both shapes per row:
  * op-less rows (width == data schema) pass through; op-prefixed rows
  * are projected down to the data columns, with DELETE-op rows (1)
  * skipped defensively — group-based rewrites express deletes by
  * omission, so one should never appear; every other op code
  * (UPDATE/INSERT/REINSERT/WRITE/WRITE_WITH_METADATA = 2..6) writes.
  * The projection is built ON THE EXECUTOR (UnsafeProjection is not
  * serializable); the factory ships only the schema. */
private final class GraftReplaceWriterFactory(
    inner: DataWriterFactory,
    dataSchema: StructType) extends DataWriterFactory {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
  import org.apache.spark.sql.connector.write.DataWriter

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = {
    val stripOp = UnsafeProjection.create(
      dataSchema.fields.zipWithIndex.toSeq.map { case (f, i) =>
        BoundReference(i + 1, f.dataType, f.nullable) })
    new DataWriter[InternalRow] {
      // LAZY (r15): the parquet writer opens its output file eagerly,
      // so an eagerly-created writer turns every zero-row task into an
      // empty data file — noise in normal rewrites, and the reason a
      // no-match UPDATE could not prove itself a no-op. No row, no
      // file: the task returns [[GraftNoRowsMessage]] instead.
      private var w: DataWriter[InternalRow] = null
      private def writer: DataWriter[InternalRow] = {
        if (w == null) w = inner.createWriter(partitionId, taskId)
        w
      }
      override def write(r: InternalRow): Unit =
        if (r.numFields == dataSchema.length) writer.write(r)
        else if (r.getInt(0) != 1) writer.write(stripOp(r)) // 1 = DELETE op
      override def commit(): WriterCommitMessage =
        if (w == null) GraftNoRowsMessage else w.commit()
      override def abort(): Unit = if (w != null) w.abort()
      override def close(): Unit = if (w != null) w.close()
    }
  }
}
