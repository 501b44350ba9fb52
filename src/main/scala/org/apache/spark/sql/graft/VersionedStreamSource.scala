package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.pipeline.VersionedTable

/** STREAMING READ from a versioned table (r15) — Iceberg's streaming
  * read, completing the loop with the r13 streaming WRITE
  * ([[graft.pipeline.VersionedTable.appendBatch]]): a versioned table
  * becomes a Structured Streaming SOURCE whose offsets are snapshot
  * VERSIONS. The first microbatch serves the full snapshot current at
  * start — or, with `startingVersion`/`startingTimestamp` (r16), the
  * incremental read after the chosen snapshot ("changes from now on",
  * never a full-table replay); every later microbatch serves exactly
  * the rows APPENDED between two snapshots
  * ([[VersionedTable.readIncremental]] — the dirs the newer manifest
  * carries beyond the older's, O(added data), no diff join, no
  * per-file bookkeeping: the manifest IS the offset log). Checkpoint
  * restarts resume from the committed version. The source schema is
  * PINNED at stream start: additive table evolution mid-stream is
  * served by projection, anything else refuses loudly (r16).
  *
  * Defined on APPEND-ONLY table evolution, like Iceberg's: an
  * overwrite/rollback/row-level rewrite between offsets refuses loudly
  * (readIncremental's non-append check) instead of silently replaying
  * or dropping rows — restart the stream from a fresh checkpoint after
  * such a change. Snapshot retention must cover the stream's lag:
  * expire-ing the last-committed offset's snapshot fails the next
  * batch loudly (raise retention or restart fresh), never silently.
  *
  * Usage (the short name resolves via the
  * `META-INF/services/org.apache.spark.sql.sources.DataSourceRegister`
  * registration, r16):
  * {{{
  *   spark.readStream
  *     .format("graft-versioned")
  *     .option("startingVersion", "12")   // or a tag; optional (r16)
  *     .load(tableRoot)
  * }}}
  *
  * Hosted under `org.apache.spark.sql` for the v1 Source interfaces
  * (`execution.streaming.Source`, `LongOffset`) and the
  * isStreaming-plan adapter (`Dataset.ofRows` — private[sql]); the v1
  * Source shape is chosen deliberately: `getBatch` returns a PLAN
  * (the engine's own parquet scan over the added dirs, full
  * pushdown/vectorization), where a DSv2 MicroBatchStream would force
  * hand-rolled partition readers. No Spark source is copied. */
final class VersionedStreamProvider
  extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  private def tableOf(params: Map[String, String]): String = {
    val table = params.getOrElse("path", throw new IllegalArgumentException(
      "graft-versioned stream source needs the table root: " +
        ".load(<versioned table root>) or .option(\"path\", ...)"))
    require(VersionedTable.isVersioned(table),
      s"graft-versioned stream source: $table is not a versioned " +
        "table root (no _versions manifest dir)")
    table
  }

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val table = tableOf(parameters)
    val s = schema
      .orElse(VersionedTable.storedSchema(table))
      .getOrElse(VersionedTable.read(ctx.sparkSession, table).schema)
    (shortName(), s)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val table = tableOf(parameters)
    new VersionedStreamSource(ctx.sparkSession, table,
      sourceSchema(ctx, schema, providerName, parameters)._2,
      parameters.get(VersionedStreamProvider.MaxVersionsPerBatch)
        .map { v =>
          val n = v.toLong
          require(n >= 1,
            s"${VersionedStreamProvider.MaxVersionsPerBatch}=$v: must " +
              "be >= 1")
          n
        },
      parameters.get(VersionedStreamProvider.SkipNonAppendSnapshots)
        .exists(_.toBoolean),
      VersionedStreamProvider.pinnedStart(ctx.sparkSession, metadataPath,
        table, parameters))
  }
}

object VersionedStreamProvider {
  /** Source option bounding how many SNAPSHOTS one microbatch may
    * span (Iceberg's streaming max-files-per-micro-batch, at this
    * layer's snapshot granularity): a stream that fell behind a long
    * append history catches up in bounded batches instead of one
    * giant batch. Enforced through the engine's admission-control
    * ReadLimit machinery (r16 — the source declares
    * SupportsAdmissionControl, the FileStreamSource shape), so the cap
    * applies to EVERY planned batch of every run, including the first
    * after a restart; the only uncapped batch is a fresh stream's
    * full-starting-snapshot batch, which spans exactly one snapshot by
    * construction. */
  val MaxVersionsPerBatch = "maxVersionsPerBatch"

  /** Source option (default false): SKIP rewrite snapshots (overwrite /
    * rollback / row-level replace) instead of failing the batch —
    * Iceberg's `streaming-skip-overwrite-snapshots`. A rewrite's
    * content is a correction of already-streamed rows; with the option
    * on, the stream delivers only the dirs append-only steps added and
    * carries on past corrections. Off by default because silently
    * skipping data is a policy the user must opt into. */
  val SkipNonAppendSnapshots = "skipNonAppendSnapshots"

  /** Source option (r16; Iceberg's streaming `start-snapshot-id`): the
    * snapshot VERSION or TAG the stream starts AFTER — the first batch
    * becomes the incremental read `(startingVersion, current]` instead
    * of the full starting snapshot, so "changes from now on" on a
    * 100 TB table never eats a full-table first batch. The literal
    * `latest` resolves to the snapshot current at the checkpoint's
    * FIRST start — the exact "changes from now on" spelling, no
    * version lookup needed. The resolved start is PINNED per
    * checkpoint (see [[pinnedStart]]); edit the option all you like,
    * the checkpoint replays the stream it promised.
    * The start must still be RETAINED (the incremental read resolves
    * against its manifest): a start behind retention refuses loudly at
    * stream start. Branch names refuse — stream offsets are
    * main-history versions, and a branch head is not one
    * (fast_forward first). Exclusive semantics, stated plainly: rows
    * of the start snapshot itself are NOT delivered; to replay from
    * the table's beginning, omit the option. */
  val StartingVersion = "startingVersion"

  /** Source option (r16; Iceberg's `stream-from-timestamp`): epoch
    * MILLIS — resolved to the newest snapshot committed at-or-before
    * the timestamp (the same resolution `TIMESTAMP AS OF` applies),
    * then treated exactly like [[StartingVersion]]. Mutually exclusive
    * with it. */
  val StartingTimestamp = "startingTimestamp"

  /** Resolve the starting options to a main-history version. */
  private[graft] def resolveStart(table: String,
      parameters: Map[String, String]): Option[Long] = {
    val byVersion = parameters.get(StartingVersion)
    val byTs = parameters.get(StartingTimestamp)
    require(byVersion.isEmpty || byTs.isEmpty,
      s"$StartingVersion and $StartingTimestamp are mutually exclusive")
    val start = byVersion.map {
      case "latest" => VersionedTable.latestVersion(table).getOrElse(
        throw new IllegalArgumentException(
          s"$StartingVersion=latest on $table: the table has no " +
            "snapshots yet — omit the option to stream from the first"))
      case ref =>
        require(!VersionedTable.branches(table).contains(ref),
          s"$StartingVersion='$ref' is a BRANCH — stream offsets are " +
            "main-history versions and a branch head is not one; " +
            "fast_forward first, then start from the published version " +
            "(versions and tags resolve directly)")
        VersionedTable.resolveRef(table, ref)
    }.orElse(byTs.map { ts =>
      val ms = ts.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$StartingTimestamp='$ts': expected epoch millis"))
      VersionedTable.versionAt(table, ms)
    })
    start.foreach(v => require(VersionedTable.versions(table).contains(v),
      s"$StartingVersion/$StartingTimestamp resolved to snapshot $v, " +
        s"which is not retained on $table — raise retention or start " +
        "the stream without a starting option"))
    start
  }

  /** The start is resolved ONCE PER CHECKPOINT and pinned under the
    * stream's metadata path (the FileStreamSource pattern): a restart
    * must replay exactly the stream the checkpoint's write-ahead
    * offsets describe, and a re-resolved start would not — `latest`
    * resolves to a NEWER snapshot than a replayed-but-uncommitted
    * first batch's end offset (from > to, a crash), and an option
    * edited between restarts would silently re-deliver or skip rows.
    * Pinning makes start options immutable per checkpoint, exactly
    * like the engine's own source options: to change the start, start
    * a fresh checkpoint. Absence of a start is pinned too (`none`),
    * so ADDING the option to a live checkpoint is equally inert. */
  private[graft] def pinnedStart(spark: org.apache.spark.sql.SparkSession,
      metadataPath: String, table: String,
      parameters: Map[String, String]): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(metadataPath,
      "graft-starting-version")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def readPin(): Option[Long] = {
      val s = graft.util.Fs.readSmallFileFs(fs, p).trim
      if (s == "none") None else Some(s.toLong)
    }
    if (fs.exists(p)) readPin()
    else {
      val resolved = resolveStart(table, parameters)
      fs.mkdirs(p.getParent)
      try {
        graft.util.Fs.createNew(fs, p, resolved.map(_.toString)
          .getOrElse("none").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        resolved
      } catch {
        // lost a concurrent-first-start race: the winner's pin rules
        case _: java.io.IOException => readPin()
      }
    }
  }
}

private final class VersionedStreamSource(
    spark: org.apache.spark.sql.SparkSession,
    table: String,
    override val schema: StructType,
    maxVersionsPerBatch: Option[Long] = None,
    skipNonAppend: Boolean = false,
    startingVersion: Option[Long] = None) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles, Offset => OffsetV2}

  /** The checkpoint log replays offsets as raw-JSON `SerializedOffset`s
    * on restart — a LongOffset's json is its number. (`execution
    * .streaming.Offset` extends the connector Offset, so one parser
    * serves both faces.) */
  private def versionOf(o: OffsetV2): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong
  }

  /** The newest position THIS stream has planned or committed — the
    * base the rate limit advances from. Volatile, not checkpointed:
    * on restart the engine replays the last batch through getBatch
    * (which re-seeds it) before asking for a new offset. Seeded from
    * `startingVersion` (r16), which also lets the rate cap apply to
    * the catch-up from a chosen start — the one case where the first
    * batch spans many snapshots. */
  @volatile private var lastSeen: Option[Long] = startingVersion

  // ---- admission control (r16): the engine-governed rate/drain path.
  // The source declares SupportsAdmissionControl +
  // SupportsTriggerAvailableNow (the FileStreamSource shape), so:
  //   - maxVersionsPerBatch rides the engine's ReadLimit machinery
  //     (ReadMaxFiles reinterpreted at this source's granularity:
  //     max VERSIONS per microbatch), applied from the FIRST planned
  //     batch of every run — the pre-r16 "first batch uncapped" v1
  //     caveat is gone;
  //   - Trigger.AvailableNow is handled natively instead of the
  //     engine's single-batch fallback (and its uncommitted-batch
  //     caveat): the end version is FIXED at prepare time, the run
  //     drains to it in rate-limited batches and stops, appends
  //     landing mid-run wait for the next run.

  /** End version fixed when an AvailableNow run starts; None outside
    * AvailableNow runs. */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = VersionedTable.latestVersion(table)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerBatch
      .map(m => ReadLimit.maxFiles(math.min(m, Int.MaxValue.toLong).toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(startOffset: OffsetV2,
      limit: ReadLimit): OffsetV2 = {
    val prev = Option(startOffset).map(versionOf)
      .orElse(lastSeen).orElse(startingVersion)
    val target = prev match {
      case Some(p) =>
        // cap to RETAINED main versions: snapshot numbers are allocated
        // globally (branches consume numbers too), so p + m may not
        // name a main manifest — take the m-th retained version past p.
        // CACHED (r17): per-trigger polls answer from one stat of the
        // manifest dir while it is quiet, instead of a LIST per
        // trigger; same-JVM commits invalidate eagerly, cross-process
        // commits bump the dir mtime
        val ahead0 = VersionedTable.versionsCached(table).filter(_ > p)
        val ahead = availableNowEnd
          .map(e => ahead0.filter(_ <= e)).getOrElse(ahead0)
        // a composite limit caps at its tightest member (the engine
        // composes limits in some trigger modes — FileStreamSource
        // unwraps the same way)
        def capOf(l: ReadLimit): Option[Int] = l match {
          case mf: ReadMaxFiles => Some(mf.maxFiles())
          case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
            c.getReadLimits.toSeq.flatMap(capOf).minOption
          case _ => None
        }
        val capped = capOf(limit).map(ahead.take).getOrElse(ahead)
        capped.lastOption.orElse(Some(p))
      case None =>
        // first batch of a fresh (un-started) stream: the full current
        // snapshot — one snapshot, no cap to apply
        val latest = VersionedTable.versionsCached(table).lastOption
        availableNowEnd
          .map(e => latest.map(math.min(_, e))).getOrElse(latest)
    }
    target.foreach(t => lastSeen = Some(t))
    target.map(LongOffset(_)).orNull
  }

  override def reportLatestOffset(): OffsetV2 =
    VersionedTable.versionsCached(table).lastOption
      .map(LongOffset(_)).orNull

  /** Not called by the engine once SupportsAdmissionControl is
    * declared; kept coherent (delegating to the governed path) rather
    * than throwing, for any non-engine caller. */
  override def getOffset: Option[Offset] =
    Option(latestOffset(lastSeen.map(LongOffset(_)).orNull,
      getDefaultReadLimit)).map(o => LongOffset(versionOf(o)))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = versionOf(end)
    lastSeen = Some(to)
    // a run's FIRST batch (no committed offset) starts from the chosen
    // startingVersion when one was given (r16 — "changes from now on"
    // never replays the full 100 TB snapshot); without one it serves
    // the full snapshot at `to`, the pre-r16 contract
    val batch = start.map(versionOf).orElse(startingVersion) match {
      case None => VersionedTable.read(spark, table, Some(to))
      case Some(from) if from == to =>
        VersionedTable.read(spark, table, Some(to)).limit(0)
      case Some(from) if skipNonAppend =>
        VersionedTable.readIncrementalSkippingRewrites(spark, table,
          from, to)
      case Some(from) =>
        VersionedTable.readIncremental(spark, table, from, to)
    }
    // SCHEMA PIN across evolution (r16): the engine fixed this source's
    // schema at stream start, but an ALTER TABLE ADD COLUMN mid-stream
    // makes later incremental batches plan with the EVOLVED table
    // schema. Additive evolution is served by projecting the batch back
    // to the pinned columns (the added column carries no data this
    // stream was promised); anything else — a pinned column missing or
    // type-changed — refuses loudly rather than letting the engine
    // misalign rows against the pinned schema. Restart the stream to
    // adopt the evolved schema.
    val reconciled =
      if (batch.schema == schema) batch
      else {
        val batchFields = batch.schema.fields.map(f => f.name -> f.dataType).toMap
        val broken = schema.fields.filterNot(f =>
          batchFields.get(f.name).contains(f.dataType))
        if (broken.nonEmpty) throw new IllegalStateException(
          s"versioned stream over $table: the table's schema evolved " +
            s"incompatibly mid-stream — pinned column(s) " +
            s"${broken.map(_.name).mkString(", ")} missing or " +
            "type-changed in the current table schema; restart the " +
            "stream from a fresh checkpoint to adopt the new schema")
        batch.select(schema.fieldNames.toIndexedSeq.map(batch.col): _*)
      }
    // the engine asserts getBatch plans are streaming; flip the parquet
    // relation's flag exactly as Spark's own FileStreamSource does
    val plan = reconciled.queryExecution.analyzed.transformUp {
      case lr: LogicalRelation if !lr.isStreaming =>
        lr.copy(isStreaming = true)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  }

  override def commit(end: Offset): Unit = lastSeen = Some(versionOf(end))
  override def stop(): Unit = ()
  override def toString: String = s"VersionedStreamSource[$table]"
}
