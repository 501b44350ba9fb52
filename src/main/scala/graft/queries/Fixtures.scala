package graft.queries

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.collection.concurrent.TrieMap

import graft.util.Fs

/** Per-input scratch fixtures of the query catalog: the ANN and BM25
  * indexes, versioned warehouses and streamed sketch states that a query
  * builds from its input dir once and reads on every rerun.
  *
  * [[once]] memoizes one value per (name, input dir) per JVM and runs
  * at most one build per key. Each build gets a fresh `graft-<name>-*`
  * temp dir, registered for deletion at JVM exit BEFORE the build runs,
  * so a JVM that exits mid-build still deletes it. A build that
  * throws has its dir deleted and unregistered, memoizes nothing, and
  * the next call builds again.
  *
  * A fixture value holds driver values only — paths, models, numbers —
  * never a DataFrame or anything else backed by cached blocks:
  * [[graft.Bench.freeBlocks]] drops every block between queries and
  * relies on no fixture keeping one alive.
  */
private[queries] object Fixtures {

  private final class Slot { var value: Option[Any] = None }
  private val slots = TrieMap.empty[(String, String), Slot]

  /** The scratch dirs deleted at JVM exit. */
  private[queries] val scratchDirs = ConcurrentHashMap.newKeySet[String]()

  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(
      () => scratchDirs.forEach(d => Fs.deleteRecursively(new File(d))),
      "graft-fixture-cleanup"))

  /** The value `build` makes from a fresh scratch dir, built once per
    * (name, input dir); concurrent callers of one key wait for its build.
    * `name` is unique across the catalog: two fixtures sharing one would
    * share one value. */
  def once[T](name: String, dir: String)(build: String => T): T = {
    val slot = slots.getOrElseUpdate((name, dir), new Slot)
    slot.synchronized {
      slot.value.getOrElse {
        exitHook
        val scratch = Files.createTempDirectory(s"graft-$name-").toString
        scratchDirs.add(scratch)
        val v = try build(scratch) catch {
          case e: Throwable =>
            Fs.deleteRecursively(new File(scratch))
            scratchDirs.remove(scratch)
            throw e
        }
        slot.value = Some(v)
        v
      }.asInstanceOf[T]
    }
  }
}
