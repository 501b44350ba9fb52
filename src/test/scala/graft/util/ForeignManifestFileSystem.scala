package graft.util

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only local filesystem under the scheme `graftrace` that makes a
  * versioned-table publish LOSE its race on demand. Armed with manifest
  * content ([[ForeignManifestFileSystem.foreign]]), the next
  * create-if-absent of a manifest `_versions/<N>` first lands that
  * content at N, as another process's commit would, and then performs
  * the create, which fails because N now exists. In one JVM the commit
  * lock serializes every publish, so this is how a spec reaches the
  * re-list-and-retry path and the refusals it re-validates; the hook
  * fires once and disarms itself. */
final class ForeignManifestFileSystem extends RawLocalFileSystem {

  override def getScheme: String = "graftrace"

  // a companion CONSTANT, not an instance val: RawLocalFileSystem's
  // constructor calls getUri before a subclass val would initialize
  override def getUri: URI = ForeignManifestFileSystem.Uri

  // RawLocalFileSystem's DeprecatedRawLocalFileStatus loads permissions
  // LAZILY via `new java.io.File(path.toUri)`, which rejects any scheme
  // but "file" — materialize plain statuses (the graftnr pattern)
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

  private def landForeign(f: Path, overwrite: Boolean): Unit =
    if (!overwrite && Option(f.getParent).exists(_.getName == "_versions") &&
        f.getName.nonEmpty && f.getName.forall(_.isDigit))
      Option(ForeignManifestFileSystem.foreign.getAndSet(null)).foreach(c =>
        java.nio.file.Files.write(java.nio.file.Paths.get(f.toUri.getPath),
          c.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    landForeign(f, overwrite)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    landForeign(f, overwrite)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object ForeignManifestFileSystem {
  val Uri: URI = URI.create("graftrace:///")
  /** Manifest content the next `_versions/<N>` create lands first as a
    * foreign commit; null = disarmed. */
  val foreign = new AtomicReference[String](null)
}
