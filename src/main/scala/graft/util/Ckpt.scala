package graft.util

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Central localCheckpoint wrapper for every multi-consumer intermediate
  * in the operator hot paths, so the checkpoint STORAGE LEVEL is one
  * session conf instead of ~40 hard-coded call sites (guide §5: cached
  * blocks compete with execution memory; the right trade between block
  * bytes and decode CPU is a deployment property, not a code property).
  *
  * Default: Spark's own localCheckpoint default (MEMORY_AND_DISK,
  * deserialized) — measured flat-to-better than MEMORY_AND_DISK_SER on
  * the bench corpus (serialization burns CPU on every re-read and the
  * blocks all fit in memory here). A memory-tight deployment flips to
  * serialized blocks (~2-5× smaller for wide rows) with
  * `spark.graft.checkpoint.storageLevel=MEMORY_AND_DISK_SER` and no
  * code change.
  */
object Ckpt {

  /** Session conf naming a [[StorageLevel]] constant (e.g.
    * `MEMORY_AND_DISK_SER`, `MEMORY_AND_DISK`, `DISK_ONLY`). Unset =
    * Spark's localCheckpoint default. */
  val ConfKey = "spark.graft.checkpoint.storageLevel"

  /** Copy the harnesses' `SPARK_GRAFT_CKPT_LEVEL` A/B knob into
    * [[ConfKey]]. The name is validated here, so a typo fails at session
    * set-up naming the env var instead of at the first checkpoint deep
    * inside some query. Unset = leave [[ConfKey]] unset. */
  def setLevelFromEnv(spark: SparkSession): Unit =
    sys.env.get(LevelEnv).foreach(n => spark.conf.set(ConfKey, validLevel(n)))

  private val LevelEnv = "SPARK_GRAFT_CKPT_LEVEL"

  /** `name` if it parses as a [[StorageLevel]], else an error naming
    * [[LevelEnv]]. */
  private[graft] def validLevel(name: String): String =
    try { StorageLevel.fromString(name); name }
    catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"$LevelEnv=$name names no StorageLevel " +
            "(e.g. MEMORY_AND_DISK, MEMORY_AND_DISK_SER, DISK_ONLY)", e)
    }

  def apply[T](ds: Dataset[T]): Dataset[T] =
    ds.sparkSession.conf.getOption(ConfKey) match {
      case Some(name) =>
        ds.localCheckpoint(true, StorageLevel.fromString(name))
      case None => ds.localCheckpoint()
    }

  /** `df.ckpt()` — drop-in replacement for `df.localCheckpoint()` at the
    * operator call sites, routed through [[apply]]. */
  implicit final class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt(): Dataset[T] = Ckpt(ds)
  }
}
