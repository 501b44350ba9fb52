package graft.util

import java.net.URI
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path,
  RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission

/** Test-only local filesystem under the scheme `graftcnt` that COUNTS
  * the entries a recursive `listFiles` iteration actually consumes and
  * can simulate a TRANSIENT listing failure — the observability the
  * orphan walk's claim-age specs need: the dir walk that decides
  * whether a claim still shows life must short-circuit on the first
  * fresh mtime (never listing a claimed dir end-to-end), and a listing
  * error must read as LIVE (fail closed), never authorizing removal of
  * in-flight data. */
final class CountingLivenessFileSystem extends RawLocalFileSystem {

  override def getScheme: String = "graftcnt"

  // a companion CONSTANT, not an instance val: RawLocalFileSystem's
  // constructor calls getUri before a subclass val would initialize
  override def getUri: URI = CountingLivenessFileSystem.Uri

  // RawLocalFileSystem's DeprecatedRawLocalFileStatus loads permissions
  // LAZILY via `new java.io.File(path.toUri)`, which rejects any scheme
  // but "file" — materialize plain statuses (the graftnr pattern)
  private def sanitize(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault
      else FsPermission.getFileDefault,
      null, null, st.getPath)

  override def getFileStatus(f: Path): FileStatus = {
    val st = sanitize(super.getFileStatus(f))
    // simulate an S3-style pseudo-directory status: no real mtime
    if (CountingLivenessFileSystem.zeroDirMtimes.get() && st.isDirectory)
      new FileStatus(st.getLen, true, st.getReplication, st.getBlockSize,
        0L, 0L, FsPermission.getDirDefault, null, null, st.getPath)
    else st
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_versions")
      CountingLivenessFileSystem.manifestDirLists.incrementAndGet()
    super.listStatus(f).map(sanitize)
  }

  override def listFiles(f: Path,
      recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    if (CountingLivenessFileSystem.failListFiles.get())
      throw new java.io.IOException(
        "graftcnt: simulated transient listing failure (throttle)")
    val it = super.listFiles(f, recursive)
    new RemoteIterator[LocatedFileStatus] {
      override def hasNext: Boolean = it.hasNext
      override def next(): LocatedFileStatus = {
        CountingLivenessFileSystem.listedEntries.incrementAndGet()
        it.next()
      }
    }
  }
}

object CountingLivenessFileSystem {
  val Uri: URI = URI.create("graftcnt:///")
  /** Entries consumed by `listFiles` iterations since last reset. */
  val listedEntries = new AtomicLong(0L)
  /** `listStatus` calls on a `_versions` manifest dir since reset —
    * what a streaming trigger's offset discovery pays per poll. */
  val manifestDirLists = new AtomicLong(0L)
  /** When set, every `listFiles` call throws (simulated throttle). */
  val failListFiles = new AtomicBoolean(false)
  /** When set, directory statuses carry mtime 0 — an S3-style
    * pseudo-dir whose mtime never moves (the listing cache must then
    * refuse to validate and re-list every poll). */
  val zeroDirMtimes = new AtomicBoolean(false)
}
