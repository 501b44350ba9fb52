package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Exactly-once streaming maintenance of an AGGREGATED state table,
  * without a transactional sink: each microbatch's aggregate lands under
  * `stateDir/batch_id=N/` via dynamic partition overwrite, so a retried
  * batch (same batchId) rewrites its own partition instead of appending
  * a duplicate — idempotence by layout, the same discipline as
  * `Medallion.overwritePartitions`. The checkpoint is the bookmark
  * (AvailableNow drain: each source file exactly once across restarts).
  *
  * This is the streaming primitive behind the sketch families
  * ([[graft.operators.Kll.sketchIngestOnce]],
  * [[graft.operators.Theta.sketchIngestOnce]], whose batch blobs come
  * from Spark's built-in `kll_sketch_agg_double` / `theta_sketch_agg`
  * and fold with `kll_merge_agg_double` / `theta_union_agg`; also
  * [[graft.operators.Cms]] and [[graft.operators.Sketches]]): any
  * aggregate whose MEASURES are mergeable (sketch blobs, sums, min/max)
  * can be maintained this way, with serving reads folding the per-batch rows —
  * |batches|×|groups| rows, never the raw stream. Periodic compaction =
  * fold the batch table and restart the layout.
  */
object BatchPartitionIngest {

  /** Drain `srcDir` (parquet files, `schema`), reduce each microbatch
    * with `batchAgg`, and land the result under `stateDir/batch_id=N/`.
    * Blocks until the drain completes. */
  def ingestOnce(spark: SparkSession, srcDir: String, schema: StructType,
      stateDir: String, checkpointDir: String)(
      batchAgg: DataFrame => DataFrame): Unit = {
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batchAgg(batch)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(stateDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Sentinel batch id for compacted rows. Real streaming batch ids are
    * non-negative, so folded state can never collide with a live batch —
    * even if the checkpoint is lost or a different checkpointDir is
    * passed and batch ids restart at 0, the restarted batch 0's dynamic
    * partition overwrite targets `batch_id=0/`, never the folded
    * `batch_id=-1/` partition. (Folding to the min REAL id, the previous
    * behavior, made a restarted batch 0 silently wipe — or, for probes
    * that exclude their own id, silently ignore — the entire folded
    * corpus.) */
  val CompactedBatchId: Long = -1L

  /** Fold a state dir's batch partitions into ONE (the
    * [[CompactedBatchId]] sentinel partition) with the caller's merge
    * aggregation — the maintenance step that keeps serving-time rollups
    * O(|groups|) after many drains instead of O(|groups|·|batches|).
    * Swap is write-new → rename: between the two renames the state dir
    * is briefly missing, so a reader racing the swap can transiently
    * fail and must retry (single-node rename window; an object-store
    * deployment uses a manifest commit instead) — and a crash inside
    * that window is repaired by the [[graft.util.Fs.recoverSwap]]
    * preamble on the next compaction. The state can never be seen
    * double-counted: the alternative, overwriting the min partition in
    * place and then deleting siblings, WOULD double-count on a crash
    * between the two steps, which is why it is not used. */
  /** Self-description of a sketch state dir: which family maintains it
    * and the grouping its fold aggregation needs. Written at ingest,
    * preserved across compaction, read by
    * `Maintenance.discoverStreamStates` — so a state dir that exists on
    * disk is maintainable WITHOUT the operator that created it being
    * re-registered by the caller (the registerAll trust-the-caller gap,
    * closed for stream state). */
  final case class StateMeta(kind: String, groupCols: Seq[String])

  val StateMetaFile = "_graft_state_meta.json"

  /** Record (or re-assert) a state dir's meta. An existing meta with
    * DIFFERENT contents refuses: two operators folding the same dir
    * with different groupings silently corrupt each other's state, so
    * the mismatch must fail at ingest, not at the next maintenance
    * pass. The underscore prefix keeps the file invisible to parquet
    * directory listings.
    *
    * The write is temp-file + atomic rename, and it is re-executed on
    * EVERY drain (each sketch family's `sketchIngestOnce` calls it) —
    * a bare `Files.write` here would mean a crash mid-write, or a
    * reader racing the rewrite, yields a truncated meta that poisons
    * every later maintenance pass. A crash between temp-write and
    * rename leaves the old meta intact. An existing meta that is
    * CORRUPT is repaired, not refused: a corrupt file carries no
    * declaration to conflict with, and the ingest in hand knows the
    * truth. Only [[CorruptStateMetaException]] is repairable — an
    * IOException from the read (NFS hiccup, permissions) propagates,
    * because the file on disk may be a VALID meta declaring a
    * different kind/groupCols, and swallowing the failure would bypass
    * the conflict guard and overwrite it. */
  def writeStateMeta(stateDir: String, meta: StateMeta): Unit = {
    val (fs, root) = graft.util.Fs.fsFor(stateDir)
    graft.util.Fs.requireRenameCapable(fs, s"writeStateMeta($stateDir)")
    fs.mkdirs(root)
    val existingMeta =
      try readStateMeta(stateDir)
      catch { case _: CorruptStateMetaException => None }
    existingMeta.foreach { existing =>
      require(existing == meta,
        s"state dir $stateDir already declares $existing; refusing $meta")
    }
    // identical declaration already on disk: SKIP the rewrite. On stores
    // that refuse rename-onto-existing (hdfs), overwriting goes through
    // delete+rename — a crash window that would lose the dir's only meta
    // and silently hide the state from discovery. Re-asserting an
    // unchanged meta is a no-op by definition, so the window only ever
    // opens for genuine content changes (corrupt-meta repair, the one
    // overwrite path left).
    if (!existingMeta.contains(meta)) {
      graft.util.Fs.writeFileAtomicFs(fs,
        new org.apache.hadoop.fs.Path(root, StateMetaFile),
        renderStateMeta(meta)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  // jackson (a Spark-shipped dependency) renders AND parses the meta:
  // group columns are USER-CHOSEN Spark column names, which may
  // legally contain quotes, commas, brackets, or backslashes — the
  // previous string-template writer + regex parser silently corrupted
  // exactly those names on the round-trip. ObjectMapper is thread-safe
  // after configuration.
  private val metaMapper = new com.fasterxml.jackson.databind.ObjectMapper

  private[graft] def renderStateMeta(meta: StateMeta): String = {
    val n = metaMapper.createObjectNode()
    n.put("kind", meta.kind)
    val arr = n.putArray("groupCols")
    meta.groupCols.foreach(arr.add)
    metaMapper.writeValueAsString(n)
  }

  /** Thrown ONLY for a meta whose bytes were read but do not parse as
    * a valid declaration — the one failure [[writeStateMeta]] may
    * repair by overwriting. I/O failures are deliberately a different
    * type so they are never mistaken for corruption. */
  final class CorruptStateMetaException(msg: String)
      extends RuntimeException(msg)

  /** Parse a meta file's CONTENT (throws [[CorruptStateMetaException]]
    * on corruption) — shared between the local [[readStateMeta]] and
    * the Hadoop-FileSystem discovery walk, which reads the bytes
    * through its own store. */
  def parseStateMeta(s: String, where: String): StateMeta = {
    def corrupt(): Nothing =
      throw new CorruptStateMetaException(s"corrupt state meta at $where: $s")
    val n = try metaMapper.readTree(s)
      catch { case _: java.io.IOException => corrupt() }
    val kindNode = n.get("kind")
    if (kindNode == null || !kindNode.isTextual) corrupt()
    val colsNode = n.get("groupCols")
    if (colsNode == null || !colsNode.isArray) corrupt()
    val it = colsNode.elements()
    val groupCols = Seq.newBuilder[String]
    while (it.hasNext) {
      val c = it.next()
      if (!c.isTextual) corrupt()
      groupCols += c.asText()
    }
    StateMeta(kindNode.asText(), groupCols.result())
  }

  def readStateMeta(stateDir: String): Option[StateMeta] = {
    val (fs, root) = graft.util.Fs.fsFor(stateDir)
    val p = new org.apache.hadoop.fs.Path(root, StateMetaFile)
    if (!fs.exists(p)) None
    else Some(parseStateMeta(
      graft.util.Fs.readSmallFileFs(fs, p), p.toString))
  }

  /** Serving read of a state dir maintained by [[ingestOnce]] /
    * [[compactState]], with the [[graft.util.Fs.recoverSwap]] preamble:
    * a crash inside a compaction's two-rename window leaves the dir
    * missing until someone repairs it, and waiting for the NEXT
    * compaction would leave every serving read broken in between. The
    * preamble is two existence checks when no repair is needed. */
  def readState(spark: SparkSession, stateDir: String): DataFrame = {
    val (fs, root) = graft.util.Fs.fsFor(stateDir)
    graft.util.Fs.recoverSwapFs(fs, root)
    spark.read.parquet(stateDir)
  }

  def compactState(spark: SparkSession, stateDir: String)(
      fold: DataFrame => DataFrame): Unit = {
    val (fs, root) = graft.util.Fs.fsFor(stateDir)
    graft.util.Fs.requireRenameCapable(fs, s"compactState($stateDir)")
    graft.util.Fs.recoverSwapFs(fs, root)
    val df = spark.read.parquet(stateDir)
    val nw = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + ".new")
    fs.delete(nw, true)
    fold(df.drop("batch_id"))
      .withColumn("batch_id", lit(CompactedBatchId))
      .write.mode("overwrite").partitionBy("batch_id").parquet(nw.toString)
    // the swap replaces the dir wholesale — carry the self-description
    // into the new layout or discovery would lose the state after its
    // first compaction
    val metaSrc = new org.apache.hadoop.fs.Path(root, StateMetaFile)
    if (fs.exists(metaSrc))
      graft.util.Fs.writeFileAtomicFs(fs,
        new org.apache.hadoop.fs.Path(nw, StateMetaFile),
        graft.util.Fs.readSmallFileFs(fs, metaSrc)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    graft.util.Fs.swapInNewFs(fs, root)
  }
}
