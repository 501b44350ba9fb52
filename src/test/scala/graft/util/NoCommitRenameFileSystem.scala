package graft.util

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Test-only SIMULATED OBJECT STORE: a local filesystem under the
  * scheme `graftnr` ("no rename") whose `rename` REFUSES every commit
  * target — a `v=N` data dir at any level, or anything inside a
  * `_versions` metadata dir. Running the whole versioned-table verb
  * suite on it proves STRUCTURALLY that the commit protocol performs
  * zero renames on its commit path, which is exactly the property a
  * conditional-PUT object store (S3 If-None-Match, GCS preconditions,
  * Azure ETag) needs. Data-FILE renames (task commits inside a claimed
  * dir — FileOutputCommitter and the partitioned row-level writers)
  * stay allowed: real object stores implement those as copies, slow but
  * correct, and deployments swap in a zero-rename committer without
  * touching the table layer. The scheme is listed in
  * [[Fs.NonAtomicRenameSchemes]], so it passes the commit gate only
  * because it reports the conditional-create capability — the gate a
  * real object store faces, with no conf set.
  */
final class NoCommitRenameFileSystem extends RawLocalFileSystem {

  override def getScheme: String = "graftnr"

  // a companion CONSTANT, not an instance val: RawLocalFileSystem's
  // constructor calls getUri (via getInitialWorkingDirectory) before a
  // subclass val would initialize
  override def getUri: URI = NoCommitRenameFileSystem.Uri

  private def commitTarget(p: Path): Boolean = {
    def isProtected(q: Path): Boolean =
      q.getName == "_versions" || q.getName.matches("v=\\d+")
    // the renamed endpoint itself, or anything whose parent chain passes
    // through _versions (manifests, claims, table metas)
    isProtected(p) || Option(p.getParent).exists(_.getName == "_versions")
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (commitTarget(src) || commitTarget(dst))
      throw new IOException(
        s"graftnr simulated object store: no atomic rename for commit " +
          s"path $src -> $dst")
    super.rename(src, dst)
  }

  // RawLocalFileSystem's DeprecatedRawLocalFileStatus loads permissions
  // LAZILY via `new java.io.File(path.toUri)`, which rejects any scheme
  // but "file" — materialize plain statuses with a concrete permission
  // so nothing downstream (listFiles' LocatedFileStatus) triggers it
  private def sanitize(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault
      else FsPermission.getFileDefault,
      null, null, st.getPath)

  override def getFileStatus(f: Path): FileStatus =
    sanitize(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(sanitize)

  // the simulated store reports the capability a real conditional-PUT
  // connector would — exercising the commit gate instead of bypassing
  // it. Its create(overwrite=false) is RawLocalFileSystem's
  // exists-then-open, atomic only because every commit in one JVM
  // serializes under the table's commit lock; it is not a
  // cross-process store.
  override def hasPathCapability(path: Path, capability: String): Boolean =
    capability == "fs.capability.conditional.create" ||
      super.hasPathCapability(path, capability)
}

object NoCommitRenameFileSystem {
  val Uri: URI = URI.create("graftnr:///")
}
