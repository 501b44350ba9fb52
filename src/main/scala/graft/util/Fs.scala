package graft.util

import java.io.File

/** The one recursive-delete helper (Bench temp warehouses, cached index
  * dirs, compaction swap dirs all share it — a symlink/permission fix
  * lands once). */
object Fs {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  import java.nio.file.{Files, Path, Paths}

  /** Crash-safe small-file write: temp in the same directory + atomic
    * rename, so a reader never observes a truncated file and a crash
    * mid-write leaves any previous version intact. The shared
    * discipline for every driver-side metadata file (state metas,
    * index metas) — a bare `Files.write` on a file that is ever
    * re-read is the truncation bug class the r10 audit found.
    *
    * Two durability details the r11 advice audit demanded:
    *   - the temp name carries pid + thread id, so two concurrent
    *     writers to the same meta (overlapping drains) never race on a
    *     shared `.tmp` — each renames its OWN temp, last rename wins,
    *     neither throws. A crash may orphan a uniquely-named temp;
    *     those are dot-prefixed, bytes-sized, and never re-read.
    *   - the temp's channel is force(true)'d before the rename, and the
    *     parent directory is fsynced after it where the platform allows
    *     (Linux does; filesystems that refuse directory opens degrade
    *     to rename-ordering semantics, which is the best they offer). */
  def writeFileAtomic(path: Path, bytes: Array[Byte]): Unit = {
    import java.nio.file.{StandardCopyOption, StandardOpenOption}
    val tmp = path.resolveSibling(
      s".${path.getFileName}.${ProcessHandle.current.pid}-${Thread.currentThread.getId}.tmp")
    val ch = java.nio.channels.FileChannel.open(tmp,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    try { ch.write(java.nio.ByteBuffer.wrap(bytes)); ch.force(true) }
    finally ch.close()
    try Files.move(tmp, path,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    try {
      val dir = java.nio.channels.FileChannel.open(path.getParent,
        StandardOpenOption.READ)
      try dir.force(true) finally dir.close()
    } catch { case _: java.io.IOException => () }
  }

  /** Recovery preamble for [[swapInNew]]'s two-rename window: a crash
    * between `move(cur, old)` and `move(new, cur)` leaves `cur` missing
    * and `cur.old` intact — restore it. Call before READING a
    * swap-maintained dir (compactors call it before folding; half-done
    * `.new` output is deleted by the next swap attempt). No-op when
    * `cur` exists. */
  def recoverSwap(cur: Path): Unit = {
    val old = cur.resolveSibling(cur.getFileName.toString + ".old")
    if (!Files.exists(cur) && Files.exists(old)) Files.move(old, cur)
  }

  /** Replace dir `cur` with `cur.new` via two renames, crash-safe up to
    * [[recoverSwap]]: at every instant either `cur` or `cur.old` holds
    * the complete previous state, and `cur`, when present, is never a
    * mix of old and new. The window where `cur` is briefly missing is
    * repaired by the recovery preamble on the next swap or read. */
  def swapInNew(cur: Path): Unit = {
    recoverSwap(cur)
    val nw = cur.resolveSibling(cur.getFileName.toString + ".new")
    val old = cur.resolveSibling(cur.getFileName.toString + ".old")
    deleteRecursively(old.toFile)
    if (Files.exists(cur)) Files.move(cur, old)
    Files.move(nw, cur)
    deleteRecursively(old.toFile)
  }

  // ---- Hadoop-FileSystem variants of the commit discipline ----------
  //
  // The same three primitives over `org.apache.hadoop.fs.FileSystem`, so
  // stream-state and index commits run on hdfs:/NFS/any rename-capable
  // connector exactly like the maintenance rewrites do (r12). `file:`
  // paths DELEGATE to the java.nio implementations above — those carry
  // the fsync guarantees the Hadoop API cannot express for local disks.
  // Object-store schemes must be refused by callers BEFORE mutating
  // ([[requireRenameCapable]]): rename there is copy+delete and the
  // crash-safety arguments do not hold (the catalog/table-format commit
  // is the correct substrate on that deployment — SCALING.md boundary).

  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  /** Schemes whose Hadoop connector implements rename as copy+delete —
    * every rename-based commit in the engine shares this one set.
    * `graftnr` is the test-only simulated object store
    * (`graft.util.NoCommitRenameFileSystem`): a local filesystem whose
    * rename REFUSES versioned-table commit targets, so the commit specs
    * prove structurally that no commit ever renames. */
  val NonAtomicRenameSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss",
      "oss", "cos", "swift", "graftnr")

  def schemeOf(fs: FileSystem): String =
    Option(fs.getUri.getScheme).getOrElse("file")

  def requireRenameCapable(fs: FileSystem, what: String): Unit =
    require(!NonAtomicRenameSchemes(schemeOf(fs)),
      s"$what: scheme '${schemeOf(fs)}' has no atomic rename — the " +
        "swap/commit protocol is unsound; use a catalog-backed table " +
        "format on object stores")

  /** Resolve a path string to its (FileSystem, qualified path) through
    * the active session's Hadoop conf when one exists (so `fs.*.impl`
    * settings flow), else the classpath default. THE resolution every
    * conf-less state/index entry point shares. */
  def fsFor(path: String): (FileSystem, HPath) = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val raw = new HPath(path)
    val fs = raw.getFileSystem(conf)
    (fs, fs.makeQualified(raw))
  }

  private def isLocal(fs: FileSystem): Boolean = schemeOf(fs) == "file"

  private def localPath(p: HPath): Path = Paths.get(p.toUri.getPath)

  private def renameOrThrow(fs: FileSystem, src: HPath, dst: HPath): Unit =
    if (!fs.rename(src, dst))
      sys.error(s"rename failed: $src -> $dst (dst exists or src missing)")

  /** [[recoverSwap]] over a Hadoop FileSystem. */
  def recoverSwapFs(fs: FileSystem, cur: HPath): Unit =
    if (isLocal(fs)) recoverSwap(localPath(cur))
    else {
      val old = new HPath(cur.getParent, cur.getName + ".old")
      if (!fs.exists(cur) && fs.exists(old)) renameOrThrow(fs, old, cur)
    }

  /** [[swapInNew]] over a Hadoop FileSystem. */
  def swapInNewFs(fs: FileSystem, cur: HPath): Unit =
    if (isLocal(fs)) swapInNew(localPath(cur))
    else {
      recoverSwapFs(fs, cur)
      val nw = new HPath(cur.getParent, cur.getName + ".new")
      val old = new HPath(cur.getParent, cur.getName + ".old")
      fs.delete(old, true)
      if (fs.exists(cur)) renameOrThrow(fs, cur, old)
      renameOrThrow(fs, nw, cur)
      fs.delete(old, true)
    }

  /** [[writeFileAtomic]] over a Hadoop FileSystem: unique temp +
    * rename; on stores with a sync barrier the stream is hsync'd
    * before the rename (best-effort — local `file:` delegates to the
    * nio path, which force()s the channel and the directory). */
  def writeFileAtomicFs(fs: FileSystem, path: HPath,
      bytes: Array[Byte]): Unit =
    if (isLocal(fs)) writeFileAtomic(localPath(path), bytes)
    else {
      val tmp = new HPath(path.getParent,
        s".${path.getName}.${ProcessHandle.current.pid}-${Thread.currentThread.getId}.tmp")
      val out = fs.create(tmp, true)
      try {
        out.write(bytes)
        try out.hsync() catch { case _: UnsupportedOperationException => () }
      } finally out.close()
      // REPLACE_EXISTING: try the direct rename first (atomic when dst
      // is absent); only when a store refuses rename-onto-existing does
      // the old file get deleted first — a window where the file is
      // briefly missing (a reader treats that as absent and a crash
      // there loses only the PREVIOUS version, never yields a torn
      // file; POSIX `file:` paths delegate above and have no window).
      if (!fs.rename(tmp, path)) {
        fs.delete(path, false)
        try renameOrThrow(fs, tmp, path)
        catch { case e: Throwable => fs.delete(tmp, false); throw e }
      }
    }

  /** Name prefix of [[createNew]]'s temp sibling on `file:` (a crash
    * between the temp write and the link leaves one behind). */
  val CreateNewTmpPrefix = ".tmp-"

  /** Create-if-absent of a small file: exactly one of any number of
    * racing callers on one path succeeds, every other one throws a
    * `FileAlreadyExistsException` (java.nio's on `file:`, whatever the
    * connector raises elsewhere). The one primitive every versioned-table
    * commit rests on: data-dir reservation markers, manifests (a lost
    * race there re-reads the log and retries at the next number), table
    * metas and tags.
    *
    * On `file:` Hadoop cannot be trusted with this: in Hadoop 3.4
    * `RawLocalFileSystem.create(p, overwrite = false)` is `exists()`
    * followed by a plain open, so two racers can both "create" and the
    * later writer silently wins. Local paths therefore go through
    * java.nio: the bytes land in a uniquely named sibling
    * (`CREATE_NEW`, forced), which is then hard-linked onto `p`
    * (`link(2)` fails with EEXIST, the same O_EXCL exclusivity) — so
    * the file appears with its whole content at once and a reader never
    * sees it half-written (a local filesystem without hard links refuses
    * the create loudly). Missing parent directories are created first,
    * as Hadoop's `create` does, so a table root that was deleted (a
    * DROP TABLE) can be written again. Every other scheme uses
    * `fs.create(p, false)`, whose atomicity is the connector's (HDFS
    * namenode; a conditional PUT on object stores, which callers must
    * establish before relying on it). */
  def createNew(fs: FileSystem, p: HPath, bytes: Array[Byte]): Unit =
    if (isLocal(fs)) {
      import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
      val target = localPath(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(CreateNewTmpPrefix +
        s"${java.util.UUID.randomUUID()}-${target.getFileName}")
      val ch = java.nio.channels.FileChannel.open(tmp, CREATE_NEW, WRITE)
      try { ch.write(java.nio.ByteBuffer.wrap(bytes)); ch.force(true) }
      finally ch.close()
      try Files.createLink(target, tmp)
      finally Files.deleteIfExists(tmp)
    } else {
      val out = fs.create(p, false)
      try out.write(bytes) finally out.close()
    }

  /** Small-file read through a Hadoop FileSystem (UTF-8). */
  def readSmallFileFs(fs: FileSystem, path: HPath): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
}
