package graft.sources.v2

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.BasicWriteTaskStatsTracker
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.core.AtomicSwap

/** DataSource V2 write path for the manifest store — the store as a
  * full Spark write target, with the AtomicSwap commit protocol as
  * `BatchWrite.commit`:
  *
  * {{{
  * df.write.format("graft-store")                 // df carries srvid
  *   .option("root", root).option("ds", ds).option("tier", tier)
  *   .mode("append")      // per-srvid batch append, manifest republish
  *   .mode("overwrite")   // truncate: per-srvid atomic swap; absent
  *                        // servers dropped (retained one cycle)
  *   .save()
  * }}}
  *
  * Execution shape (the same split Delta's commit has):
  *  - EXECUTORS write parquet files under a dot-prefixed staging root
  *    inside the tier (`.w_<queryId>/`), one file per (task, srvid) —
  *    rows need not be pre-partitioned by srvid; each task demuxes to
  *    per-srvid writers. Spark's own `ParquetWriteSupport` does the
  *    InternalRow→parquet encoding, so files are bit-identical to a
  *    `df.write.parquet` of the same rows. Staged files are invisible
  *    to every reader (dot prefix + not in any manifest).
  *  - The DRIVER's `commit(messages)` makes them visible with the
  *    store's own pointer flips: append moves each srvid's committed
  *    files into a `.batch_` dir of the live version and republishes
  *    the manifest (the [[AtomicSwap.appendInto]] shape); overwrite
  *    swaps in a fresh version per srvid ([[AtomicSwap.replace]]).
  *    Only files named in task COMMIT messages move — a speculative
  *    duplicate attempt's files stay in staging and are swept, so
  *    task-level exactly-once comes from the commit-message protocol,
  *    not from hoping speculation is off.
  *
  * Atomicity contract: per-srvid commits are atomic (readers see the
  * complete old or complete new partition — manifest republish /
  * symlink flip is the single visibility point); the JOB is atomic per
  * partition, not across partitions — a driver crash mid-commit leaves
  * some servers advanced and others not, the same contract as Spark's
  * file-source job commit, upgraded to never-torn-within-a-partition.
  * The engine's transactional tiers keep using the snapshot/aggregate
  * commit protocols (Store.scala), which add the cross-tier marker.
  *
  * Cluster note: staging paths resolve via java.nio because this build
  * is local-filesystem; on a cluster the staging root lives on the
  * shared store and the moves become FileSystem.rename — the message
  * protocol and commit ordering are unchanged.
  */
final class StoreWriteBuilder(layout: StoreLayout, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite {
  // "append" | "truncate" | "dynamic"
  private var mode: String = "append"
  override def truncate(): WriteBuilder = { mode = "truncate"; this }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = "dynamic"; this
  }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new StoreBatchWrite(layout, info.schema(), info.queryId(), mode)
  }
}

final class StoreBatchWrite(layout: StoreLayout, schema: StructType,
    queryId: String, mode: String) extends BatchWrite {

  private def stagingRoot: Path = layout.dir.resolve(s".w_$queryId")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val srvidIdx = schema.fieldNames.indexOf("srvid")
    require(srvidIdx >= 0,
      s"graft-store write: input must carry an srvid column " +
        s"(got ${schema.fieldNames.mkString(", ")})")
    require(schema(srvidIdx).dataType == IntegerType,
      s"graft-store write: srvid must be int, got ${schema(srvidIdx).dataType}")
    Files.createDirectories(stagingRoot)
    StoreWriterFactory(stagingRoot.resolve("srvid=").toString, schema,
      srvidIdx, StoreDataWriter.sqlConf(SparkSession.active.sessionState.conf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed: Seq[(Int, String)] = messages.toSeq
      .collect { case m: StoreCommitMessage => m.files }.flatten
    val bySrvid = committed.groupBy(_._1)
    mode match {
      case "truncate" =>
        // true truncate: servers absent from the batch are dropped too
        // (retained one cycle for pinned readers, like any drop)
        layout.srvids.filterNot(bySrvid.keySet).foreach { n =>
          AtomicSwap.drop(layout.dir, s"srvid=$n", retainNewest = true)
        }
        bySrvid.foreach { case (n, fs) => commitReplace(n, fs.map(_._2)) }
      case "dynamic" =>
        bySrvid.foreach { case (n, fs) => commitReplace(n, fs.map(_._2)) }
      case _ =>
        bySrvid.foreach { case (n, fs) => commitAppend(n, fs.map(_._2)) }
    }
    AtomicSwap.deleteRecursively(stagingRoot) // uncommitted attempts too
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    AtomicSwap.deleteRecursively(stagingRoot)

  /** Batch-append shape: files move into a dot-prefixed batch dir of
    * the live version (invisible until...) and ONE manifest republish
    * is the visibility point — concurrent manifest readers see the
    * complete pre-batch or complete post-batch partition. */
  private def commitAppend(srvid: Int, files: Seq[String]): Unit = {
    val link = s"srvid=$srvid"
    AtomicSwap.ensureLayout(layout.dir, link)
    val live = AtomicSwap.liveTarget(layout.dir, link).get
    val batch = live.resolve(s".batch_${java.util.UUID.randomUUID}")
    Files.createDirectories(batch)
    files.foreach { f =>
      val p = Paths.get(f)
      Files.move(p, batch.resolve(p.getFileName))
    }
    AtomicSwap.republish(layout.dir, link)
  }

  /** Overwrite shape: the committed files BECOME the next version, one
    * atomic symlink flip per server. */
  private def commitReplace(srvid: Int, files: Seq[String]): Unit =
    AtomicSwap.replace(layout.dir, s"srvid=$srvid") { vdir =>
      Files.createDirectories(vdir)
      files.foreach { f =>
        val p = Paths.get(f)
        Files.move(p, vdir.resolve(p.getFileName))
      }
    }
}

final case class StoreCommitMessage(files: Seq[(Int, String)])
    extends WriterCommitMessage

final case class StoreWriterFactory(dirPrefix: String, schema: StructType,
    srvidIdx: Int, sqlKv: Seq[(String, String)]) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new StoreDataWriter(dirPrefix, schema, srvidIdx, partitionId, taskId,
      sqlKv)
}

/** Executor-side demux writer: one Spark-native parquet writer per
  * srvid encountered in this task's rows, in directory `dirPrefix + srvid`
  * (a write's `.w_<queryId>/srvid=N`, a snapshot's `.snapstage_srvid=N`).
  * File names carry (partition, task) ids, so speculative attempts never
  * collide and only the committed attempt's files are named in the
  * commit message. `srvids`, when given, is the set of servers the write
  * may touch: a row of any other server fails the task before a file of
  * that server is opened. With `sortedBySrvid`, the rows arrive sorted
  * by srvid and each server's file is closed when the next server's
  * first row arrives, so one writer is open at a time, as in the V1
  * writer's sort-based path; a server whose rows come back after that
  * fails the task. Bytes and rows written are reported to the task's
  * output metrics through Spark's `BasicWriteTaskStatsTracker`, as
  * `FileFormatWriter` does. */
final class StoreDataWriter(dirPrefix: String, schema: StructType,
    srvidIdx: Int, partitionId: Int, taskId: Long,
    sqlKv: Seq[(String, String)], srvids: Option[Set[Int]] = None,
    sortedBySrvid: Boolean = false)
    extends DataWriter[InternalRow] {

  private val dataFields =
    schema.fields.zipWithIndex.filter(_._2 != srvidIdx)
  // project the srvid column away: field ordinals are stable, so a
  // bound-reference projection is all that's needed (no session required
  // on the executor; interpreted when the job's local properties carry
  // factoryMode=NO_CODEGEN)
  private val proj = UnsafeProjection.create(
    dataFields.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) }.toSeq)
  private val writers = mutable.Map.empty[Int, ParquetOutputWriter]
  private val paths = mutable.ListBuffer.empty[(Int, String)]
  private val stats =
    new BasicWriteTaskStatsTracker(StoreReaderFactory.baseConf, None)

  private def open(srvid: Int): ParquetOutputWriter = {
    srvids.foreach(ids => require(ids(srvid),
      s"graft-store write: a row of server $srvid in a write of servers " +
        ids.toSeq.sorted.mkString(", ")))
    if (sortedBySrvid) {
      require(!paths.exists(_._1 == srvid),
        s"graft-store write: rows of server $srvid are not contiguous")
      closeAll()
    }
    val dir = Paths.get(dirPrefix + srvid)
    Files.createDirectories(dir)
    val path = dir.resolve(
      f"part-$partitionId%05d-$taskId.parquet").toString
    // copy-construct from the shared parsed base — a fresh
    // Configuration() re-parses Hadoop's default XML per writer open,
    // and this opens once per (task, srvid)
    val conf = new Configuration(StoreReaderFactory.baseConf)
    sqlKv.foreach { case (k, v) => conf.set(k, v) }
    ParquetWriteSupport.setSchema(
      StructType(dataFields.map(_._1)), conf)
    conf.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    conf.set(ParquetOutputFormat.COMPRESSION, "snappy")
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, partitionId),
        taskId.toInt))
    paths += srvid -> path
    val w = new ParquetOutputWriter(path, ctx)
    stats.newFile(path)
    w
  }

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(srvidIdx))
      throw new IllegalArgumentException(
        "graft-store write: NULL srvid — every row must belong to a server")
    val srvid = row.getInt(srvidIdx)
    val w = writers.getOrElseUpdate(srvid, open(srvid))
    val out = proj(row)
    w.write(out)
    stats.newRow(w.path, out)
  }

  private def closeAll(): Unit = {
    writers.values.foreach { w => w.close(); stats.closeFile(w.path) }
    writers.clear()
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    stats.getFinalStats(0L)
    StoreCommitMessage(paths.toList)
  }

  override def abort(): Unit = {
    writers.values.foreach(w =>
      try w.close() catch { case _: Throwable => () })
    paths.foreach { case (_, p) =>
      try Files.deleteIfExists(Paths.get(p))
      catch { case _: Throwable => () } }
  }

  override def close(): Unit = ()
}

object StoreDataWriter {
  /** The SQL settings a task-side parquet writer reads, captured on the
    * driver from `sq` (the session's conf, which the V1 parquet write
    * reads too): the settings the session holds, as the V1 write's Hadoop
    * conf carries them, plus the ones `ParquetWriteSupport.init` and its
    * schema converter hard-read from the task-side Hadoop conf, which
    * the executor has no SparkSession to resolve defaults for. */
  def sqlConf(sq: SQLConf): Seq[(String, String)] = {
    val hardRead = Seq(
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE
    ).map(e => e.key -> sq.getConf(e).toString)
    sq.getAllConfs.toSeq ++ hardRead
  }
}
