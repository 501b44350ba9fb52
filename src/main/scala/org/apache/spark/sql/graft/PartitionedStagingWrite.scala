package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** ONE-PASS partitioned staging for row-level rewrites (r14 — the r13
  * design staged flat and re-laid the Hive structure with a second
  * distributed job, doubling the rewrite's write IO): each task writes
  * its rows through Spark's own parquet [[OutputWriterFactory]] (the
  * same writer FileFormatWriter drives), one open writer per partition
  * value seen by the task, producing the final `<col>=<val>/…`
  * structure in a single pass.
  *
  * Exactly-once against retries, speculation, AND zombie writers —
  * three layers, each needed:
  *   1. tasks write into a DOT-PREFIXED per-attempt dir
  *      (`.inflight-<pid>-<tid>-<uuid>/<partdirs>/file`) and RENAME
  *      their files into the final staging layout only inside the
  *      task commit, which the OutputCommitCoordinator authorizes
  *      exactly once per partition. A zombie attempt (lost executor
  *      still flushing after the driver moved on) can only ever
  *      mutate its own dot-prefixed dir — invisible to Spark reads
  *      forever, even if it survives into the published `v=N`;
  *   2. a failed attempt's abort deletes everything it wrote;
  *   3. the driver's commit RECONCILES the claimed dir against the
  *      union of the commit messages' file lists — stray visible
  *      files and leftover inflight dirs from attempts that died
  *      without aborting are deleted before the manifest publishes, so
  *      the committed snapshot contains exactly the files of the
  *      authorized attempts.
  *
  * Partition paths are formatted the way Spark's own writer formats
  * them ([[ExternalCatalogUtils.getPartitionPathString]]: session-zone
  * string cast, Hive escaping, null AND empty-string to the
  * default-partition sentinel) — so the basePath read that later
  * serves the snapshot parses them back identically, and a rewrite
  * lands each row in the same partition dir an INSERT would. */
object PartitionedStagingWrite {

  final case class StagedFiles(paths: Seq[String]) extends WriterCommitMessage

  /** Driver-side construction: a serializable factory whose writers
    * lay out `rowSchema` rows (data INCLUDING partition columns) under
    * `stagingDir`. */
  def factory(spark: SparkSession, stagingDir: String,
      rowSchema: StructType, partitionCols: Seq[String])
      : PartitionedStagingWriterFactory = {
    val dataSchema = StructType(
      rowSchema.filterNot(f => partitionCols.contains(f.name)))
    val job = org.apache.hadoop.mapreduce.Job
      .getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, dataSchema)
    new PartitionedStagingWriterFactory(stagingDir, rowSchema,
      partitionCols, spark.sessionState.conf.sessionLocalTimeZone,
      new SerializableConfiguration(job.getConfiguration), owf)
  }

  /** Delete everything under `stagingDir` no commit message claims —
    * the stray output of attempts that died without aborting: leftover
    * `.inflight-*` dirs go wholesale, then any unclaimed visible file.
    * Returns the number of strays removed. */
  def reconcile(stagingDir: String,
      messages: Array[WriterCommitMessage]): Int = {
    val (fs, p) = graft.util.Fs.fsFor(stagingDir)
    if (!fs.exists(p)) { fs.mkdirs(p); return 0 }
    val committed = messages.flatMap {
      case StagedFiles(paths) => paths
      case _ => Nil
    }.map(s => fs.makeQualified(new org.apache.hadoop.fs.Path(s)).toString)
      .toSet
    var removed = 0
    fs.listStatus(p).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".inflight-")) {
        fs.delete(st.getPath, true); removed += 1
      }
    }
    val it = fs.listFiles(p, true)
    val strays = mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && !committed(st.getPath.toString)) strays += st.getPath
    }
    strays.foreach { sp => fs.delete(sp, false); removed += 1 }
    removed
  }
}

final class PartitionedStagingWriterFactory(
    stagingDir: String,
    rowSchema: StructType,
    partitionCols: Seq[String],
    timeZoneId: String,
    conf: SerializableConfiguration,
    owf: OutputWriterFactory) extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val partIdx = partitionCols.map(c => rowSchema.fieldIndex(c))
      private val dataIdx =
        rowSchema.fields.indices.filterNot(partIdx.contains)
      private val dataSchema =
        StructType(dataIdx.map(rowSchema.fields).toArray)
      // data-only projection (partition values live in the dir path; a
      // file carrying them too would collide with partition discovery)
      private val toData = UnsafeProjection.create(dataIdx.map { i =>
        BoundReference(i, rowSchema(i).dataType, rowSchema(i).nullable)
      })
      // the raw-rewrite-row shape (__row_operation int first) appears
      // when no metadata attrs were declared — same handling as
      // GraftReplaceWriterFactory, shifted projections
      private val toDataShifted = UnsafeProjection.create(dataIdx.map { i =>
        BoundReference(i + 1, rowSchema(i).dataType, rowSchema(i).nullable)
      })
      private val partString = UnsafeProjection.create(partIdx.map { i =>
        Cast(BoundReference(i, rowSchema(i).dataType,
          rowSchema(i).nullable), StringType, Option(timeZoneId))
      })
      private val partStringShifted = UnsafeProjection.create(partIdx.map { i =>
        Cast(BoundReference(i + 1, rowSchema(i).dataType,
          rowSchema(i).nullable), StringType, Option(timeZoneId))
      })
      private val ctx = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID(new TaskID(
          new org.apache.hadoop.mapreduce.JobID("graft-staging", 0),
          TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt))
      private val ext = owf.getFileExtension(ctx)
      private val writers = mutable.LinkedHashMap.empty[String,
        org.apache.spark.sql.execution.datasources.OutputWriter]
      private val written = mutable.ArrayBuffer.empty[String]

      /** Spark's OWN name=value formatting (null AND empty string both
        * map to the default-partition sentinel, values Hive-escaped) —
        * an INSERT's `partitionBy` layout and a rewrite's layout must
        * agree on every edge value or a row's partition identity would
        * flip across a rewrite. */
      private def dirFor(partRow: InternalRow): String =
        partitionCols.indices.map { j =>
          ExternalCatalogUtils.getPartitionPathString(partitionCols(j),
            if (partRow.isNullAt(j)) null else partRow.getString(j))
        }.mkString("/")

      // this attempt's PRIVATE dot-prefixed dir: writes land here and
      // move into the final staging layout only on AUTHORIZED task
      // commit — a zombie attempt can never mutate visible paths
      private val inflight = s"$stagingDir/.inflight-$partitionId-$taskId-" +
        java.util.UUID.randomUUID().toString.take(8)
      // temp path -> final path, per opened writer
      private val moves = mutable.ArrayBuffer.empty[(String, String)]

      override def write(raw: InternalRow): Unit = {
        val shifted = raw.numFields != rowSchema.length
        if (shifted && raw.getInt(0) == 1) return // DELETE op: omit
        val dir =
          dirFor(if (shifted) partStringShifted(raw) else partString(raw))
        val w = writers.getOrElseUpdate(dir, {
          val name = s"part-$partitionId-$taskId-" +
            s"${java.util.UUID.randomUUID().toString.take(8)}$ext"
          moves += (s"$inflight/$dir/$name" -> s"$stagingDir/$dir/$name")
          owf.newInstance(s"$inflight/$dir/$name", dataSchema, ctx)
        })
        w.write(if (shifted) toDataShifted(raw) else toData(raw))
      }

      override def commit(): WriterCommitMessage = {
        writers.values.foreach(_.close()); writers.clear()
        val fs = new org.apache.hadoop.fs.Path(stagingDir)
          .getFileSystem(conf.value)
        moves.foreach { case (tmp, fin) =>
          val finPath = new org.apache.hadoop.fs.Path(fin)
          fs.mkdirs(finPath.getParent)
          require(fs.rename(new org.apache.hadoop.fs.Path(tmp), finPath),
            s"task commit rename failed: $tmp -> $fin")
        }
        fs.delete(new org.apache.hadoop.fs.Path(inflight), true)
        PartitionedStagingWrite.StagedFiles(moves.map(_._2).toSeq)
      }

      override def abort(): Unit = {
        writers.values.foreach { w =>
          try w.close() catch { case scala.util.control.NonFatal(_) => () }
        }
        writers.clear()
        val fs = new org.apache.hadoop.fs.Path(stagingDir)
          .getFileSystem(conf.value)
        try fs.delete(new org.apache.hadoop.fs.Path(inflight), true)
        catch { case scala.util.control.NonFatal(_) => () }
        // files already moved by a commit() that failed mid-way
        moves.foreach { case (_, fin) =>
          try fs.delete(new org.apache.hadoop.fs.Path(fin), false)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }

      override def close(): Unit =
        writers.values.foreach { w =>
          try w.close() catch { case scala.util.control.NonFatal(_) => () }
        }
    }
}
