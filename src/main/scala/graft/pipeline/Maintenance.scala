package graft.pipeline

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Table maintenance over parquet tables — the M1–M4 surface of the
  * reference (reference: glue-jobs/iceberg_maintenance.py:41-84) re-expressed
  * for the parquet degradation path. On an Iceberg deployment these map 1:1
  * to `CALL system.rewrite_data_files/expire_snapshots/remove_orphan_files`.
  *
  * Every rewrite action runs over Hadoop's `FileSystem` abstraction
  * (resolved per table root from the path's scheme + the session Hadoop
  * conf), so the same code maintains `file:`, `hdfs:`, NFS-mounted
  * local paths, or any store with a Hadoop connector — the reference
  * runs its maintenance against S3-backed Iceberg
  * (iceberg_maintenance.py:59-80); here the swap protocol's correctness
  * rests on RENAME ATOMICITY, which is explicit per scheme:
  *
  *   - `file:` (POSIX) and `hdfs:` — rename is an atomic metadata
  *     operation; the two-rename leaf swap and its [[removeOrphans]]
  *     crash recovery are sound.
  *   - object stores (`s3a:`, `gs:`, `abfs:`, …) — "rename" is
  *     copy+delete: non-atomic AND O(data). The swap's crash-safety
  *     argument does not hold, so rewrite actions REFUSE these schemes
  *     ([[graft.util.Fs.NonAtomicRenameSchemes]]) with a report
  *     pointing at the correct tool — a manifest/table-format commit
  *     ([[VersionedTable]] locally, Iceberg in production), which is
  *     how the reference itself compacts on S3. [[compactVersioned]]
  *     is that tool: it commits through [[VersionedTable.write]], which
  *     renames nothing, so it runs on every scheme.
  */
object Maintenance {

  final case class Report(table: String, action: String, ok: Boolean,
      detail: String)

  private def renameGuard(fs: FileSystem, table: String,
      action: String): Option[Report] = {
    val s = graft.util.Fs.schemeOf(fs)
    if (graft.util.Fs.NonAtomicRenameSchemes(s))
      Some(Report(table, action, ok = false,
        s"scheme '$s': rename is copy+delete (non-atomic, O(data)) — " +
          "the leaf-swap protocol is unsound here; compact through a " +
          "manifest commit (VersionedTable / Iceberg rewrite_data_files)"))
    else None
  }

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  private def fsFor(conf: Configuration, dir: String): (FileSystem, Path) = {
    val raw = new Path(dir)
    val fs = raw.getFileSystem(conf)
    (fs, fs.makeQualified(raw))
  }

  /** Hive partition columns of a table directory (outermost first), read
    * from the `col=value` layout itself. Compaction MUST preserve them:
    * an unpartitioned rewrite keeps the column data (partition discovery
    * folds it back into the DataFrame) but silently destroys the layout —
    * and with it every downstream scan's partition pruning. */
  private[pipeline] def partitionColsOf(tableDir: String): Seq[String] = {
    val (fs, root) = fsFor(new Configuration(), tableDir)
    partitionColsOf(fs, root)
  }

  private def childDirs(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath).sortBy(_.getName)

  private[pipeline] def partitionColsOf(fs: FileSystem,
      tableDir: Path): Seq[String] = {
    @scala.annotation.tailrec
    def walk(dir: Path, acc: Vector[String]): Vector[String] = {
      childDirs(fs, dir).find(_.getName.contains("=")) match {
        case Some(d) => walk(d, acc :+ d.getName.takeWhile(_ != '='))
        case None => acc
      }
    }
    if (fs.exists(tableDir)) walk(tableDir, Vector.empty) else Vector.empty
  }

  /** Leaf partition directories (the table root itself when
    * unpartitioned) — compaction decisions and rewrites are made PER
    * LEAF, so a skewed layout (all the small files in one partition of
    * fifty) is seen for what it is, and only fragmented partitions pay
    * a rewrite. */
  private def leafPartitionDirs(fs: FileSystem, dir: Path): Seq[Path] = {
    val subs = childDirs(fs, dir).filter(_.getName.contains("="))
    if (subs.isEmpty) Seq(dir) else subs.flatMap(leafPartitionDirs(fs, _))
  }

  private def targetFileCount(bytes: Long, targetFileBytes: Long): Int =
    math.max(1L, math.ceil(bytes.toDouble / targetFileBytes).toLong).toInt

  /** The compaction↔stats-index loop closure (r13): every layout
    * rewrite ends by refreshing the table's REGISTERED stats index
    * ([[org.apache.spark.sql.graft.StatsPruning.refreshRegistered]])
    * so automatic file skipping keeps firing immediately after
    * maintenance — without this, the rewritten files are unknown to
    * the index and every query silently degrades to a full scan until
    * a manual refreshStats. No registration → empty suffix; a refresh
    * FAILURE is reported in the detail but never fails the rewrite
    * (the pruning contract is advisory-conservative under staleness). */
  private def refreshStatsIndex(spark: SparkSession,
      tableDir: String): String =
    org.apache.spark.sql.graft.StatsPruning
      .refreshRegistered(spark, tableDir)
      .map("; " + _).getOrElse("")

  /** Atomically rewrite ONE leaf directory through `xform`: write to a
    * sibling temp of the table root, then swap the leaf. Partition dir
    * names (and with them every downstream scan's pruning) are untouched
    * because the leaf path itself never changes. Temps deliberately live
    * NEXT TO the table root, not inside it — a crash must not leave a
    * directory that partition discovery would read as data — and their
    * names ENCODE the leaf's relative path, so [[removeOrphans]] can
    * tell a stale temp (leaf present → delete) from the survivor of a
    * crash between the two renames (leaf absent → restore the old dir;
    * the data would otherwise exist nowhere else). Renames go through
    * the table's Hadoop FileSystem — atomic on `file:`/`hdfs:` (the
    * schemes [[renameGuard]] admits). */
  private def encodeLeaf(rel: String): String =
    java.net.URLEncoder.encode(rel, "UTF-8")
  private def decodeLeaf(enc: String): String =
    java.net.URLDecoder.decode(enc, "UTF-8")

  private def relPathOf(root: Path, leaf: Path): String = {
    val r = root.toUri.getPath.stripSuffix("/")
    val l = leaf.toUri.getPath.stripSuffix("/")
    if (l == r) "."
    else {
      require(l.startsWith(r + "/"), s"leaf $leaf not under table root $root")
      l.drop(r.length + 1)
    }
  }

  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      sys.error(s"rename failed: $src -> $dst (dst exists or src missing)")

  private def tempPathsOf(root: Path, rel: String): (Path, Path) = {
    val enc = encodeLeaf(rel)
    (new Path(root.getParent, root.getName + s".compact_tmp.$enc"),
      new Path(root.getParent, root.getName + s".compact_old.$enc"))
  }

  private def rewriteLeaf(spark: SparkSession, fs: FileSystem, root: Path,
      leaf: Path,
      xform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val (tmp, old) = tempPathsOf(root, relPathOf(root, leaf))
    xform(spark.read.parquet(leaf.toString))
      .write.mode("overwrite").parquet(tmp.toString)
    renameOrThrow(fs, leaf, old)
    renameOrThrow(fs, tmp, leaf)
    fs.delete(old, true)
  }

  /** M2 analog: binpack small-file compaction — rewrite fragmented leaf
    * partitions into files of ~`targetFileBytes` (reference default
    * 256 MB, glue-jobs/iceberg_maintenance.py:66). The criterion AND the
    * rewrite are per leaf partition (Iceberg's rewrite_data_files
    * file-group discipline): a leaf is fragmented iff its own file count
    * exceeds ceil(its bytes / target), so a skewed layout can neither
    * false-noop (all the smalls in one partition of fifty) nor drag
    * fifty healthy partitions through a rewrite. Each leaf swap is
    * atomic-ish (temp write + two renames); Hive layouts are preserved
    * because leaf paths never change. */
  def compact(spark: SparkSession, tableDir: String,
      targetFileBytes: Long = 256L * 1024 * 1024): Report = {
    try {
      val (fs, root) = fsFor(hadoopConf(spark), tableDir)
      renameGuard(fs, tableDir, "compact") match {
        // a real `return`, not one inside a lambda — a lambda return
        // throws NonLocalReturnControl, which the catch-all below
        // would swallow into a bogus Report
        case Some(r) => return r
        case None => ()
      }
      // A VersionedTable root holds immutable manifested snapshots (its
      // v=N dirs LOOK like Hive partitions) — rewriting them would break
      // the commit protocol; its own expire() is the right maintenance.
      if (isDir(fs, new Path(root, "_versions"))) {
        return Report(tableDir, "compact", ok = false,
          "versioned table: snapshots are immutable, use VersionedTable.expire")
      }
      // A live FileStreamSink output is governed by its _spark_metadata
      // commit log: rewriting the data files strands the log (the next
      // drain fails on missing batch files) and batch readers would list
      // through the stale log. Stream via foreachBatch into a Medallion
      // table for compactable output.
      if (isDir(fs, new Path(root, "_spark_metadata"))) {
        return Report(tableDir, "compact", ok = false,
          "streaming sink: _spark_metadata governs this dir; " +
            "stream via foreachBatch into a table for compactable output")
      }
      val leaves = leafPartitionDirs(fs, root)
      // one listing walk per leaf: (parquet files, bytes) together
      val fragmented = leaves.map(d => d -> leafStats(fs, d)).filter {
        case (_, (files, bytes)) =>
          files > targetFileCount(bytes, targetFileBytes)
      }
      // Binpack is a no-op when every leaf is already at (or below) its
      // own target — rewriting an already-compacted table every
      // maintenance run is pure write amplification. The steady state
      // after writeTable's partition-aligned writes hits this path, so
      // nightly maintenance only pays for leaves that actually
      // fragmented (e.g. via appends).
      if (fragmented.isEmpty) {
        return Report(tableDir, "compact", ok = true,
          s"noop: all ${leaves.size} leaf partitions at/below target")
      }
      fragmented.foreach { case (leaf, (_, bytes)) =>
        val nf = targetFileCount(bytes, targetFileBytes)
        rewriteLeaf(spark, fs, root, leaf, _.repartition(nf))
      }
      Report(tableDir, "compact", ok = true,
        s"rewrote ${fragmented.size}/${leaves.size} leaf partitions" +
          refreshStatsIndex(spark, tableDir))
    } catch {
      case e: Throwable => Report(tableDir, "compact", ok = false, e.toString)
    }
  }

  /** Snapshot compaction for VERSIONED tables (r13) — the maintenance
    * the append path needs: every `INSERT INTO`/`appendBatch` adds a
    * data dir, and after months of daily appends the read side lists
    * hundreds of dirs (measured: 151 one-row dirs read in ~2 s vs one
    * dir in ~0.1 s, `appendchain` probe). Unlike [[compact]], which
    * rewrites files IN PLACE and therefore refuses versioned roots
    * (snapshots are immutable), this commits the binpacked (optionally
    * range-sorted) content as a NEW full snapshot — the dir list
    * collapses to one, history stays time-travelable, and the old
    * snapshots fall to the normal [[graft.pipeline.VersionedTable.expire]]
    * cycle. No-ops when the current snapshot is already one dir at or
    * below its file-count target. */
  def compactVersioned(spark: SparkSession, tableDir: String,
      sortCols: Seq[String] = Nil,
      targetFileBytes: Long = 256L * 1024 * 1024): Report = {
    try {
      require(VersionedTable.isVersioned(tableDir),
        s"$tableDir is not a versioned table root")
      val (fs, _) = fsFor(hadoopConf(spark), tableDir)
      val dirs = VersionedTable.dataDirs(tableDir)
      val bytes = dirs.map(d => dirSize(fs, new Path(d))).sum
      val nf = targetFileCount(bytes, targetFileBytes)
      if (dirs.size <= 1 && sortCols.isEmpty &&
          dirs.headOption.forall(d =>
            leafStats(fs, new Path(d))._1 <= nf)) {
        return Report(tableDir, "compact_snapshots", ok = true,
          "noop: current snapshot is one dir at/below target")
      }
      import org.apache.spark.sql.functions.col
      val cur = VersionedTable.read(spark, tableDir)
      val packed =
        if (sortCols.isEmpty) cur.repartition(nf)
        else cur.repartitionByRange(nf, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      val v = VersionedTable.write(packed, tableDir)
      Report(tableDir, "compact_snapshots", ok = true,
        s"rewrote ${dirs.size} data dirs into snapshot v$v ($nf files" +
          (if (sortCols.isEmpty) ")" else s", sorted by ${sortCols.mkString(",")})") +
          "; prior snapshots remain until expire()")
    } catch {
      case e: Throwable =>
        Report(tableDir, "compact_snapshots", ok = false, e.toString)
    }
  }

  /** Compaction + data clustering: like [[compact]], but sorts rows by
    * `sortCols` within each output file so parquet min/max row-group stats
    * become selective — scans filtered on those columns skip most row
    * groups (the parquet-table analogue of Iceberg's sort-order rewrite).
    * Partitioned layouts are preserved: each partition's rows are
    * clustered by `sortCols` within that partition. */
  def compactSorted(spark: SparkSession, tableDir: String,
      sortCols: Seq[String],
      targetFileBytes: Long = 256L * 1024 * 1024): Report = {
    try {
      val (fs, root) = fsFor(hadoopConf(spark), tableDir)
      renameGuard(fs, tableDir, "compact_sorted") match {
        // a real `return`, not one inside a lambda — a lambda return
        // throws NonLocalReturnControl, which the catch-all below
        // would swallow into a bogus Report
        case Some(r) => return r
        case None => ()
      }
      if (isDir(fs, new Path(root, "_versions"))) {
        return Report(tableDir, "compact_sorted", ok = false,
          "versioned table: snapshots are immutable, use VersionedTable.expire")
      }
      require(sortCols.nonEmpty, "compactSorted needs at least one sort column")
      import org.apache.spark.sql.functions.col
      // Sort columns that ARE Hive partition columns are constant inside
      // every leaf (and absent from the leaf files themselves — they live
      // in the dir names), so clustering within a leaf only ever uses the
      // remaining ones; if none remain this degrades to plain binpack.
      val parts = partitionColsOf(fs, root)
      val effective = sortCols.filterNot(parts.contains)
      // Per leaf partition: range-partition on the sort key into
      // ~ceil(bytes/target) files (targetFileBytes now applies on the
      // partitioned path too), each sorted — so within every partition
      // directory the files cover non-overlapping sort ranges and
      // filtered scans skip whole row groups.
      val leaves = leafPartitionDirs(fs, root)
      leaves.foreach { leaf =>
        val nf = targetFileCount(dirSize(fs, leaf), targetFileBytes)
        rewriteLeaf(spark, fs, root, leaf,
          df =>
            if (effective.isEmpty) df.repartition(nf)
            else df.repartitionByRange(nf, effective.map(col): _*)
              .sortWithinPartitions(effective.map(col): _*))
      }
      Report(tableDir, "compact_sorted", ok = true,
        s"rewrote ${leaves.size} leaf partitions sorted by " +
          (if (effective.isEmpty) s"(partition layout ${parts.mkString("/")})"
           else effective.mkString(",")) +
          refreshStatsIndex(spark, tableDir))
    } catch {
      case e: Throwable => Report(tableDir, "compact_sorted", ok = false, e.toString)
    }
  }

  /** Compaction + MULTI-column clustering: like [[compactSorted]] but
    * ordered by the Morton z-address of `zCols`
    * ([[graft.operators.ZOrder]]), so filtered scans prune on ANY of the
    * clustered columns, not just the leading one — Delta/Iceberg
    * `ZORDER BY` on the parquet degradation path. Per leaf: one one-row
    * bounds aggregate (min/max of each column, driver-side and bounded),
    * then range-partition + sort by the scaled interleave; the z column
    * is derived at rewrite time and never stored. Hive partition columns
    * are constant inside a leaf and excluded automatically; with fewer
    * than two effective columns this degrades to [[compactSorted]]
    * semantics (one column) or plain binpack (none). */
  def compactZorder(spark: SparkSession, tableDir: String,
      zCols: Seq[String], bits: Int = 12,
      targetFileBytes: Long = 256L * 1024 * 1024): Report = {
    try {
      val (fs, root) = fsFor(hadoopConf(spark), tableDir)
      renameGuard(fs, tableDir, "compact_zorder") match {
        // a real `return`, not one inside a lambda — a lambda return
        // throws NonLocalReturnControl, which the catch-all below
        // would swallow into a bogus Report
        case Some(r) => return r
        case None => ()
      }
      if (isDir(fs, new Path(root, "_versions"))) {
        return Report(tableDir, "compact_zorder", ok = false,
          "versioned table: snapshots are immutable, use VersionedTable.expire")
      }
      if (isDir(fs, new Path(root, "_spark_metadata"))) {
        return Report(tableDir, "compact_zorder", ok = false,
          "streaming sink: _spark_metadata governs this dir; " +
            "stream via foreachBatch into a table for compactable output")
      }
      require(zCols.nonEmpty, "compactZorder needs at least one column")
      import org.apache.spark.sql.functions.{col, max, min}
      val parts = partitionColsOf(fs, root)
      val effective = zCols.filterNot(parts.contains)
      val leaves = leafPartitionDirs(fs, root)
      leaves.foreach { leaf =>
        val nf = targetFileCount(dirSize(fs, leaf), targetFileBytes)
        rewriteLeaf(spark, fs, root, leaf, df =>
          if (effective.isEmpty) df.repartition(nf)
          else {
            // one-row bounds pass per leaf: min0, max0, min1, max1, ...
            val aggs = effective.flatMap(c =>
              Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
            val bounds = df.agg(aggs.head, aggs.tail: _*).head()
            def b(j: Int) =
              if (bounds.isNullAt(j)) 0.0 else bounds.getDouble(j)
            val z = graft.operators.ZOrder.zAddress(bits,
              effective.zipWithIndex.map { case (c, i) =>
                graft.operators.ZOrder.scaled(col(c), b(2 * i), b(2 * i + 1),
                  bits)
              }: _*)
            df.withColumn("__graft_z", z)
              .repartitionByRange(nf, col("__graft_z"))
              .sortWithinPartitions(col("__graft_z"))
              .drop("__graft_z")
          })
      }
      Report(tableDir, "compact_zorder", ok = true,
        s"rewrote ${leaves.size} leaf partitions z-ordered by " +
          (if (effective.isEmpty) s"(partition layout ${parts.mkString("/")})"
           else effective.mkString(",")) +
          refreshStatsIndex(spark, tableDir))
    } catch {
      case e: Throwable =>
        Report(tableDir, "compact_zorder", ok = false, e.toString)
    }
  }

  /** M3 analog: remove orphan working files (committer temp dirs, crc
    * leftovers, failed-compaction temps) not referenced by the table.
    * Compaction temps live NEXT TO the table root (never inside, where a
    * crash would leave something partition discovery reads as data) with
    * the leaf path encoded in the name, so the sibling scan can do the
    * right thing per crash window: leaf present → the temp is stale,
    * delete it; leaf ABSENT with a `.compact_old` survivor → the JVM
    * died between the swap renames and that survivor is the only copy
    * of the partition — RESTORE it instead of deleting. A `.compact_tmp`
    * whose leaf is absent is only promoted after any old has been
    * restored (the original data always wins). */
  /** Partition-layout evolution: rewrite the table into a new Hive
    * partition layout (`Nil` un-partitions) — Iceberg's partition
    * evolution done the parquet way: a full rewrite, because parquet has
    * no manifest indirection to relayer reads over (that IS the cost of
    * the degradation path; schedule it like any compaction). Old
    * partition columns come back as ordinary data columns, so no data is
    * lost when a partition key stops being one. One read-side caveat
    * comes with the Hive layout itself: PATH readers re-infer a NEW
    * partition column's type from the directory names (a date-shaped
    * string key reads back as DATE) — pin types by pairing the table
    * with a catalog entry (Medallion.registerCatalog), as any production
    * table is. The rewrite lands in a
    * sibling temp and swaps through the SAME two-rename protocol as
    * [[compact]]'s root-leaf case — a crash between the renames is
    * restored by [[removeOrphans]] with zero new recovery code. Same
    * refusals as compact: versioned roots and live streaming sinks. */
  def repartitionTable(spark: SparkSession, tableDir: String,
      newPartitionCols: Seq[String]): Report = {
    try {
      val (fs, root) = fsFor(hadoopConf(spark), tableDir)
      renameGuard(fs, tableDir, "repartition") match {
        // a real `return`, not one inside a lambda — a lambda return
        // throws NonLocalReturnControl, which the catch-all below
        // would swallow into a bogus Report
        case Some(r) => return r
        case None => ()
      }
      if (isDir(fs, new Path(root, "_versions"))) {
        return Report(tableDir, "repartition", ok = false,
          "versioned table: snapshots are immutable, use VersionedTable")
      }
      if (isDir(fs, new Path(root, "_spark_metadata"))) {
        return Report(tableDir, "repartition", ok = false,
          "streaming sink: _spark_metadata governs this dir")
      }
      val df = spark.read.parquet(tableDir)
      val missing = newPartitionCols.filterNot(df.columns.contains)
      if (missing.nonEmpty) {
        return Report(tableDir, "repartition", ok = false,
          s"columns not in table: ${missing.mkString(", ")}")
      }
      val (tmp, old) = tempPathsOf(root, ".")
      val w = df.write.mode("overwrite")
      (if (newPartitionCols.nonEmpty) w.partitionBy(newPartitionCols: _*)
       else w).parquet(tmp.toString)
      renameOrThrow(fs, root, old)
      renameOrThrow(fs, tmp, root)
      fs.delete(old, true)
      Report(tableDir, "repartition", ok = true,
        (if (newPartitionCols.isEmpty) "rewrote as unpartitioned"
         else s"rewrote partitioned by ${newPartitionCols.mkString("/")}") +
          refreshStatsIndex(spark, tableDir))
    } catch {
      case e: Throwable =>
        Report(tableDir, "repartition", ok = false, e.toString)
    }
  }

  /** Conf-less overload for callers without a session in hand: resolves
    * the FileSystem from the default Hadoop configuration (classpath
    * `core-site.xml`; plain paths → local `file:`). A session's custom
    * fs.* settings only flow through the SparkSession overload. */
  /** Iceberg's `rewrite_manifests` verb: collapse a versioned table's
    * append-chain read cost by committing a pre-resolved file-list
    * manifest ([[VersionedTable.rewriteManifests]]) — metadata-only,
    * no data rewrite, prior snapshots untouched. */
  def rewriteManifests(tableDir: String): Report =
    try {
      require(VersionedTable.isVersioned(tableDir),
        s"$tableDir is not a versioned table root")
      VersionedTable.rewriteManifests(tableDir) match {
        case Some(v) => Report(tableDir, "rewrite_manifests", ok = true,
          s"committed file-list manifest as snapshot v$v (data untouched)")
        case None => Report(tableDir, "rewrite_manifests", ok = true,
          "noop: single-dir snapshot or file list already present")
      }
    } catch {
      case e: Throwable =>
        Report(tableDir, "rewrite_manifests", ok = false, e.toString)
    }

  /** Iceberg's `create_tag`: name a retained snapshot; tagged snapshots
    * are expiry-proof until dropped and readable as
    * `VERSION AS OF '<tag>'` / `graft_version(t, '<tag>')`. */
  def createTag(tableDir: String, tag: String,
      version: Option[Long] = None): Report =
    try {
      val v = VersionedTable.createTag(tableDir, tag, version)
      Report(tableDir, "create_tag", ok = true,
        s"tag '$tag' -> snapshot v$v (expiry-proof until dropped)")
    } catch {
      case e: Throwable => Report(tableDir, "create_tag", ok = false,
        e.toString)
    }

  /** Iceberg's `drop_tag`: the snapshot becomes expirable again. */
  def dropTag(tableDir: String, tag: String): Report =
    try {
      VersionedTable.dropTag(tableDir, tag)
      Report(tableDir, "drop_tag", ok = true, s"dropped tag '$tag'")
    } catch {
      case e: Throwable => Report(tableDir, "drop_tag", ok = false,
        e.toString)
    }

  /** Iceberg's branch verbs, as reports for the CALL surface:
    * fork / publish (fast-forward) / drop — the write-audit-publish
    * workflow from SQL. */
  def createBranch(tableDir: String, branch: String): Report =
    try {
      val base = VersionedTable.createBranch(tableDir, branch)
      Report(tableDir, "create_branch", ok = true,
        s"branch '$branch' forked at snapshot v$base")
    } catch {
      case e: Throwable => Report(tableDir, "create_branch", ok = false,
        e.toString)
    }

  def fastForward(tableDir: String, branch: String): Report =
    try {
      val v = VersionedTable.fastForward(tableDir, branch)
      Report(tableDir, "fast_forward", ok = true,
        s"published branch '$branch' as main snapshot v$v (by reference)")
    } catch {
      case e: Throwable => Report(tableDir, "fast_forward", ok = false,
        e.toString)
    }

  def dropBranch(tableDir: String, branch: String): Report =
    try {
      VersionedTable.dropBranch(tableDir, branch)
      Report(tableDir, "drop_branch", ok = true,
        s"dropped branch '$branch' (exclusive dirs reclaimed inline)")
    } catch {
      case e: Throwable => Report(tableDir, "drop_branch", ok = false,
        e.toString)
    }

  def expireBranchSnapshots(tableDir: String, branch: String,
      keepLast: Int, olderThanMillis: Option[Long] = None): Report =
    try {
      val dropped = VersionedTable.expireBranchSnapshots(
        tableDir, branch, keepLast, olderThanMillis)
      Report(tableDir, "expire_branch_snapshots", ok = true,
        if (dropped.isEmpty) "noop: nothing to expire"
        else s"expired branch '$branch' snapshots ${dropped.mkString(",")}")
    } catch {
      case e: Throwable =>
        Report(tableDir, "expire_branch_snapshots", ok = false, e.toString)
    }

  def removeOrphans(tableDir: String): Report =
    removeOrphansOn(new Configuration(), tableDir)

  def removeOrphans(spark: SparkSession, tableDir: String): Report =
    removeOrphansOn(hadoopConf(spark), tableDir)

  private def removeOrphansOn(conf: Configuration, tableDir: String): Report = {
    try {
      val (fs, root) = fsFor(conf, tableDir)
      var removed = 0
      var restored = 0
      // NOTE on `.crc` siblings: Hadoop's checksummed local FileSystem
      // HIDES its own checksum files from listStatus (and manages their
      // lifecycle on rename/delete), so this name check only ever fires
      // on raw stores where a committer genuinely stranded one — the
      // hidden-and-managed case needs no cleaning by construction.
      // Committers write DIRECTLY into their reserved `v=K` while the
      // claim shows life (a young marker or fresh files under `v=K`) or
      // is owned in-JVM — the walk must skip those subtrees WHOLE (r15):
      // their `_temporary` / task-attempt dirs are in-flight work, and
      // deleting them would let the committer publish a manifest over
      // lost data (with FileOutputCommitter v1 the job can even commit
      // an empty dir). removeCommitDebris below applies the same age
      // test to the claims themselves.
      val protectedVs: Set[Long] =
        if (isDir(fs, new Path(root, "_versions")))
          VersionedTable.protectedClaimVersions(fs, root)
        else Set.empty
      def claimProtected(p: Path): Boolean =
        protectedVs.nonEmpty && p.getParent == root &&
          p.getName.startsWith("v=") &&
          p.getName.stripPrefix("v=").toLongOption.exists(protectedVs)
      def walk(st: FileStatus): Unit = {
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (claimProtected(st.getPath)) () // live claimed dir: hands off
          else if (name == "_temporary") { fs.delete(st.getPath, true); removed += 1 }
          // staged-but-never-claimed data left by a crashed committer
          // of the retired rename protocol (`.stage-*`,
          // `.replace-staging-*`) or by a partitioned row-level task
          // attempt that died without aborting (`.inflight-*`); like
          // Iceberg's remove_orphan_files, do not run concurrently
          // with live writers on the same table.
          else if (name.startsWith(".stage-") ||
              name.startsWith(".replace-staging-") ||
              name.startsWith(".inflight-")) {
            fs.delete(st.getPath, true); removed += 1
          }
          else fs.listStatus(st.getPath).foreach(walk)
        } else if (name.endsWith(".crc") && name.startsWith(".")) {
          fs.delete(st.getPath, false); removed += 1
        }
      }
      if (fs.exists(root)) walk(fs.getFileStatus(root))
      // versioned roots: clean commit-protocol crash debris too (stale
      // claim markers, unmanifested unreferenced v=K dirs) — the
      // failure modes the commit error messages point HERE for
      if (isDir(fs, new Path(root, "_versions")))
        removed += VersionedTable.removeCommitDebris(fs, root)
      val parent = root.getParent
      val siblings =
        if (parent != null && fs.exists(parent))
          fs.listStatus(parent).toSeq.map(_.getPath)
        else Nil
      def temps(kind: String): Seq[(Path, Path)] = {
        val prefix = root.getName + s".compact_$kind."
        siblings.filter(_.getName.startsWith(prefix)).sortBy(_.getName).map { f =>
          val rel = decodeLeaf(f.getName.drop(prefix.length))
          f -> (if (rel == ".") root else new Path(root, rel))
        }
      }
      def restore(f: Path, leaf: Path): Unit = {
        val lp = leaf.getParent
        if (lp != null && !fs.exists(lp)) fs.mkdirs(lp)
        renameOrThrow(fs, f, leaf)
        restored += 1
      }
      // olds first: restore a half-swapped leaf before touching tmps
      temps("old").foreach { case (f, leaf) =>
        if (fs.exists(leaf)) { fs.delete(f, true); removed += 1 }
        else restore(f, leaf)
      }
      temps("tmp").foreach { case (f, leaf) =>
        if (fs.exists(leaf)) { fs.delete(f, true); removed += 1 }
        else restore(f, leaf)
      }
      Report(tableDir, "remove_orphans", ok = true,
        s"removed $removed" +
          (if (restored > 0) s", restored $restored half-swapped leaves" else ""))
    } catch {
      case e: Throwable => Report(tableDir, "remove_orphans", ok = false, e.toString)
    }
  }

  /** M1 analog (snapshot expiry): parquet tables have no snapshots; on the
    * Iceberg path this is `CALL system.expire_snapshots(older_than => now()
    * - retention)`. Kept as an explicit no-op so pipeline wiring matches the
    * reference DAG. */
  def expireSnapshots(tableDir: String, retentionDays: Int = 7): Report =
    Report(tableDir, "expire_snapshots", ok = true,
      s"no-op on parquet tables (retention=${retentionDays}d applies on Iceberg)")

  /** Per-branch retention POLICY for the nightly driver (r17): on each
    * versioned table, branches matching `branchPattern` (glob — `*`
    * and `?`) keep their newest `retainLast` staged snapshots plus, if
    * `maxAgeMillis` is set, everything younger than that age. The
    * first matching policy wins; unmatched branches are untouched.
    * Closes the r16 gap where the verb existed but no nightly pass
    * applied it, so a long-lived audit branch pinned storage until
    * someone remembered the CALL. */
  final case class BranchRetention(branchPattern: String,
      retainLast: Int, maxAgeMillis: Option[Long] = None) {
    private val regex = java.util.regex.Pattern.compile(
      branchPattern.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
        case c => c.toString
      })
    def matches(branch: String): Boolean = regex.matcher(branch).matches()
  }

  /** Apply the first matching retention policy to every branch of a
    * versioned table — one Report per expired branch, discovery
    * errors isolated like every other maintenance action. */
  private def branchRetentionReports(dir: String,
      policies: Seq[BranchRetention]): Seq[Report] =
    if (policies.isEmpty) Nil
    else try {
      if (!VersionedTable.isVersioned(dir)) Nil
      else VersionedTable.branches(dir).keys.toSeq.sorted.flatMap { b =>
        policies.find(_.matches(b)).map(p =>
          expireBranchSnapshots(dir, b, p.retainLast,
            p.maxAgeMillis.map(System.currentTimeMillis() - _)))
      }
    } catch {
      case e: Throwable => Seq(Report(dir, "expire_branch_snapshots",
        ok = false, e.toString))
    }

  /** M4: per-table isolation driver — run all actions on every table,
    * continue on error (reference: glue-jobs/iceberg_maintenance.py:46-84).
    * `branchRetention` (r17) additionally applies per-branch snapshot
    * retention to matching branches of each versioned table. */
  def runAll(spark: SparkSession, tableDirs: Seq[String],
      targetFileBytes: Long = 256L * 1024 * 1024,
      branchRetention: Seq[BranchRetention] = Nil): Seq[Report] =
    tableDirs.flatMap { dir =>
      Seq(
        expireSnapshots(dir),
        compact(spark, dir, targetFileBytes),
        removeOrphans(spark, dir)) ++
        branchRetentionReports(dir, branchRetention)
    }

  /** A registered streamed-state dir and its fold action — what the
    * maintenance driver needs to keep exactly-once stream state
    * (per-batch sketch/index partitions) compact on the same schedule
    * as file compaction. Use the [[StreamState]] constructors rather
    * than raw lambdas so the registry names what it maintains. */
  final case class StreamState(kind: String, stateDir: String,
      compact: SparkSession => Unit)

  object StreamState {
    def kll(stateDir: String, groupCols: Seq[String]): StreamState =
      StreamState("kll", stateDir,
        graft.operators.Kll.compactState(_, stateDir, groupCols))
    def theta(stateDir: String, groupCols: Seq[String]): StreamState =
      StreamState("theta", stateDir,
        graft.operators.Theta.compactState(_, stateDir, groupCols))
    def hll(stateDir: String, groupCols: Seq[String]): StreamState =
      StreamState("hll", stateDir,
        graft.operators.Sketches.compactState(_, stateDir, groupCols))
    def cms(stateDir: String, groupCols: Seq[String]): StreamState =
      StreamState("cms", stateDir,
        graft.operators.Cms.compactState(_, stateDir, groupCols))
    def nearDupIndex(root: String): StreamState =
      StreamState("neardup_index", root,
        graft.operators.NearDupIndex.compactStream(_, root))
  }

  /** Discover maintainable stream states by WALKING `rootDirs` instead
    * of trusting the caller's registry: a state dir that exists on disk
    * but was never passed to [[maintainAll]] silently went uncompacted
    * (the exact trust-the-caller gap `Tables.registerAll` had for
    * catalog tables). Recognition is by self-description, not layout
    * guessing: sketch states carry the
    * [[graft.streaming.BatchPartitionIngest.StateMetaFile]] their
    * ingest wrote (kind + groupCols, preserved across compaction), and
    * near-dup index roots carry their `_graft_meta.json`. Unknown kinds
    * are skipped (forward compatibility). Walk cost is directory NAMES
    * only — the driver-side budget every maintenance pass already has;
    * `.old`/`.new` swap leftovers are skipped (the recovery preamble,
    * not discovery, owns them). */
  def discoverStreamStates(rootDirs: Seq[String]): Seq[StreamState] =
    discoverOn(NioDiscoveryFs, rootDirs)

  /** [[discoverStreamStates]] over Hadoop's `FileSystem` abstraction —
    * the walk runs unchanged on HDFS, S3A, or any store with a Hadoop
    * connector (paths carry their scheme: `hdfs://…`, `s3a://…`; plain
    * paths resolve against `fs.defaultFS`). Scope note: DISCOVERY and
    * its skip-and-report semantics are what this ports — the shipped
    * compact actions still assume a rename-capable store (local, NFS,
    * HDFS — where rename IS atomic); on an object store the fold
    * becomes a catalog/table-format commit per the boundary note in
    * SCALING.md, with this walk as the listing substrate. */
  def discoverStreamStatesHadoop(spark: SparkSession,
      rootDirs: Seq[String]): Seq[StreamState] =
    discoverOn(
      new HadoopDiscoveryFs(spark.sessionState.newHadoopConf()), rootDirs)

  /** Minimal listing/read surface the discovery walk needs, so ONE
    * recognition logic serves the local tree (java.nio) and Hadoop
    * FileSystems. Only directory names and one small read per
    * recognized state dir cross this boundary — the walk's driver-side
    * cost budget is unchanged. */
  private[pipeline] trait DiscoveryFs {
    def isDir(dir: String): Boolean
    /** absolute child directory paths, name-sorted (deterministic
      * discovery order regardless of store listing order) */
    def childDirs(dir: String): Seq[String]
    def exists(dir: String, file: String): Boolean
    /** contents of `dir/file`; throws if unreadable (caller isolates) */
    def readFile(dir: String, file: String): String
    def name(dir: String): String
  }

  private[pipeline] object NioDiscoveryFs extends DiscoveryFs {
    import java.nio.file.{Files, Paths}
    def isDir(dir: String): Boolean = Files.isDirectory(Paths.get(dir))
    def childDirs(dir: String): Seq[String] =
      Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
        .filter(_.isDirectory).sortBy(_.getName).map(_.getPath).toSeq
    def exists(dir: String, file: String): Boolean =
      Files.exists(Paths.get(dir, file))
    def readFile(dir: String, file: String): String =
      new String(Files.readAllBytes(Paths.get(dir, file)),
        java.nio.charset.StandardCharsets.UTF_8)
    def name(dir: String): String =
      Paths.get(dir).getFileName.toString
  }

  private[pipeline] final class HadoopDiscoveryFs(
      conf: org.apache.hadoop.conf.Configuration) extends DiscoveryFs {
    import org.apache.hadoop.fs.Path
    private def fsOf(p: Path) = p.getFileSystem(conf)
    def isDir(dir: String): Boolean = {
      val p = new Path(dir); val fs = fsOf(p)
      fs.exists(p) && fs.getFileStatus(p).isDirectory
    }
    def childDirs(dir: String): Seq[String] = {
      val p = new Path(dir)
      fsOf(p).listStatus(p).toSeq.filter(_.isDirectory)
        .sortBy(_.getPath.getName).map(_.getPath.toString)
    }
    def exists(dir: String, file: String): Boolean = {
      val p = new Path(dir, file); fsOf(p).exists(p)
    }
    def readFile(dir: String, file: String): String = {
      val p = new Path(dir, file)
      val in = fsOf(p).open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    def name(dir: String): String = new Path(dir).getName
  }

  private def discoverOn(dfs: DiscoveryFs,
      rootDirs: Seq[String]): Seq[StreamState] = {
    val found = scala.collection.mutable.ArrayBuffer.empty[StreamState]
    def walk(dir: String): Unit = {
      val name = dfs.name(dir)
      if (name.endsWith(".old") || name.endsWith(".new")) return
      val metaFile = graft.streaming.BatchPartitionIngest.StateMetaFile
      if (dfs.exists(dir, metaFile)) {
        // a corrupt/unreadable meta must SKIP-AND-REPORT, not throw:
        // parseStateMeta throws CorruptStateMetaException on a
        // truncated file (and readFile can throw real IOExceptions;
        // both are caught here — unlike writeStateMeta, discovery has
        // no declaration of its own to protect), and discovery
        // runs inside maintainAll's argument computation — letting the
        // error escape would abort the whole nightly pass for EVERY
        // table and state until a human deletes the one bad file. The
        // synthetic entry's compact re-raises under compactStreamStates'
        // per-entry try/isolate, so the bad dir surfaces as an
        // ok=false Report while everything else still maintains.
        scala.util.Try(graft.streaming.BatchPartitionIngest
            .parseStateMeta(dfs.readFile(dir, metaFile), dir)) match {
          case scala.util.Success(meta) =>
            meta.kind match {
              case "kll"   => found += StreamState.kll(dir, meta.groupCols)
              case "theta" => found += StreamState.theta(dir, meta.groupCols)
              case "hll"   => found += StreamState.hll(dir, meta.groupCols)
              case "cms"   => found += StreamState.cms(dir, meta.groupCols)
              case _       => () // unknown kind: leave for its own tool
            }
          case scala.util.Failure(e) =>
            found += StreamState("unreadable_meta", dir,
              _ => sys.error(s"state meta unreadable, dir skipped: " +
                String.valueOf(e.getMessage)))
        }
      } else if (dfs.exists(dir, "_graft_meta.json")) {
        found += StreamState.nearDupIndex(dir)
      } else {
        dfs.childDirs(dir).foreach(walk)
      }
    }
    rootDirs.foreach(r => if (dfs.isDir(r)) walk(r))
    found.toSeq
  }

  /** Compact every registered streamed state behind the same
    * try/isolate discipline as [[runAll]]: one state's failure (a
    * half-written batch dir, a concurrent reader's transient rename
    * race) must not stop the others' maintenance. Run in the
    * maintenance window, not concurrently with an active drain —
    * [[graft.operators.NearDupIndex.compactStream]]'s contract. */
  def compactStreamStates(spark: SparkSession,
      states: Seq[StreamState]): Seq[Report] =
    states.map { st =>
      try {
        st.compact(spark)
        Report(st.stateDir, s"compact_stream_state(${st.kind})", ok = true,
          "batch partitions folded to the sentinel partition")
      } catch {
        case scala.util.control.NonFatal(e) =>
          Report(st.stateDir, s"compact_stream_state(${st.kind})",
            ok = false, String.valueOf(e.getMessage))
      }
    }

  /** The whole nightly maintenance pass: table-file maintenance
    * ([[runAll]]) plus streamed-state compaction
    * ([[compactStreamStates]]) — one driver, per-entry isolation
    * everywhere, reports concatenated. */
  def maintainAll(spark: SparkSession, tableDirs: Seq[String],
      streamStates: Seq[StreamState] = Nil,
      targetFileBytes: Long = 256L * 1024 * 1024,
      discoverStateRoots: Seq[String] = Nil,
      branchRetention: Seq[BranchRetention] = Nil): Seq[Report] = {
    // discovery augments (never replaces) the explicit registry; a state
    // both passed and discovered compacts once — dedup on the dir
    val all = (streamStates ++ discoverStreamStates(discoverStateRoots))
      .groupBy(_.stateDir).toSeq.sortBy(_._1).map(_._2.head)
    runAll(spark, tableDirs, targetFileBytes, branchRetention) ++
      compactStreamStates(spark, all)
  }

  private def isDir(fs: FileSystem, p: Path): Boolean =
    fs.exists(p) && fs.getFileStatus(p).isDirectory

  /** One recursive walk per leaf computing BOTH the parquet-file count
    * and total bytes — running counters, never materialized name lists
    * (a 10⁶-file leaf costs the driver two longs, not 10⁶ held
    * strings), and one listing pass instead of two. Deliberately
    * `listStatus` recursion, not `listFiles(recursive)`: the latter
    * constructs LocatedFileStatus, which eagerly loads permissions and
    * breaks on RawLocalFileSystem subclasses serving non-`file:`
    * schemes; plain FileStatus carries the name+length these counters
    * need on every connector. */
  private def leafStats(fs: FileSystem, dir: Path): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else {
        bytes += st.getLen
        if (st.getPath.getName.endsWith(".parquet")) files += 1
      }
    }
    walk(dir)
    (files, bytes)
  }

  private def countParquetFiles(fs: FileSystem, dir: Path): Long =
    leafStats(fs, dir)._1

  private def dirSize(fs: FileSystem, dir: Path): Long =
    leafStats(fs, dir)._2
}
