package graft.sources.v2

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Micro-batch STREAMING read for the V2 events connector — the
  * `readStream` face of the same directory the batch scan reads,
  * completing the connector triad (batch read / batch write / stream
  * read). The streaming unit is the FILE, like Spark's built-in
  * FileStreamSource, and like it the source keeps a SEEN-FILES LOG in
  * the checkpoint location rather than a modification-time watermark:
  *
  *  - `latestOffset` lists the directory (one listing per trigger,
  *    shared with `planInputPartitions` via the log), appends any file
  *    not yet in the log — in (mtime, name) order for determinism — and
  *    persists the log as a NEW versioned file (`graft-files.log.<len>`,
  *    temp-file + rename to a fresh name; the previous version is pruned
  *    only after the new one is durable) BEFORE returning the new
  *    offset, so an offset never references files a restart cannot
  *    re-resolve and no crash point leaves zero durable log copies.
  *  - The offset is the log LENGTH. `planInputPartitions(start, end)`
  *    serves exactly log entries (start, end] — a slice of an
  *    append-only persisted log, so a replayed batch contains exactly
  *    the original files regardless of later directory churn, an mtime
  *    tie, clock skew, or a transient empty listing (the log never
  *    shrinks, so a listing blip yields an empty batch, never a replay).
  *  - A file is therefore ingested exactly once: membership is by path,
  *    not by timestamp — files landing with stale mtimes (rename-based
  *    committers, including [[EventsV2BatchWrite]], preserve staging
  *    mtimes) are picked up on first sight like any other.
  *
  * Residuals, shared with FileStreamSource and documented rather than
  * hidden: files must LAND ATOMICALLY (write elsewhere, rename in — a
  * file caught half-written is read once in that state); the log grows
  * with one line per file ever seen (compaction = start a new checkpoint
  * over a compacted directory); a file deleted after being logged simply
  * yields an empty partition if its batch replays after the data is
  * gone. Pushed filters and column pruning apply per micro-batch exactly
  * as in the batch scan (same reader factory).
  */
class EventsV2MicroBatchStream(path: String, required: StructType,
                               pushed: Array[Filter],
                               checkpointLocation: String)
    extends MicroBatchStream {

  private def hadoopConf =
    SparkSession.active.sparkContext.hadoopConfiguration

  // Versioned immutable log files: each persist writes a NEW file
  // `graft-files.log.<length>` (tmp + rename-to-fresh-name, so no durable
  // copy is ever deleted before its replacement exists — the r11
  // delete-then-rename could crash with NO log, wedging restart when
  // Spark's own offset log referenced entries beyond the recovered log).
  // Load resolves the highest version; older versions are pruned only
  // AFTER the new one is durable, and a crash mid-prune just leaves
  // extra files for the next load to ignore. The directory is listed once,
  // at load: the first persist prunes what that listing found, and each
  // later persist prunes the version this stream wrote before it.
  private val LogPrefix = "graft-files.log"
  private val LogVersion = s"""\\Qgraft-files.log.\\E(\\d+)""".r
  private val legacyLogPath = new Path(checkpointLocation, LogPrefix)

  private def versionedLogs(
      fs: org.apache.hadoop.fs.FileSystem): Seq[(Long, Path)] = {
    val dir = new Path(checkpointLocation)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { s =>
      s.getPath.getName match {
        case LogVersion(v) => Some((v.toLong, s.getPath))
        case _ => None
      }
    }
  }

  // in-memory mirror of the persisted log; loaded once per stream
  // incarnation, appended by latestOffset under this lock
  private val seenLog = ArrayBuffer.empty[String]
  private val seenSet = scala.collection.mutable.HashSet.empty[String]
  private val lock = new Object
  // superseded log copies, deleted after the next durable persist
  private var toPrune: Seq[Path] = Nil

  locally {
    val fs = legacyLogPath.getFileSystem(hadoopConf)
    val versioned = versionedLogs(fs)
    val legacy = fs.exists(legacyLogPath)
    toPrune = versioned.map(_._2) ++ (if (legacy) Seq(legacyLogPath) else Nil)
    // highest version wins; a pre-versioning checkpoint falls back to
    // the legacy unversioned file so old checkpoints keep resuming
    val toLoad: Option[Path] =
      if (versioned.nonEmpty) Some(versioned.maxBy(_._1)._2)
      else if (legacy) Some(legacyLogPath)
      else None
    toLoad.foreach { p =>
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).foreach { f => seenLog += f; seenSet += f }
      finally in.close()
    }
  }

  private def persistLog(): Unit = {
    val fs = legacyLogPath.getFileSystem(hadoopConf)
    val ver = seenLog.length.toLong
    val tmp = new Path(checkpointLocation, s"$LogPrefix.$ver.tmp")
    val out = fs.create(tmp, true)
    try out.write(seenLog.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(checkpointLocation, s"$LogPrefix.$ver")
    // version = log length, strictly monotone within and across
    // incarnations (an existing equal version would have been loaded, and
    // persist only runs on growth) — dst can only pre-exist as debris
    // from a crash between rename and Spark's offset commit, in which
    // case its content is a prefix-identical snapshot; replace it
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"could not persist file log $dst")
    // the new version is durable — prune superseded copies (best-effort;
    // leftovers are ignored by the max-version load)
    toPrune.filter(_ != dst).foreach { p =>
      try fs.delete(p, false) catch { case _: java.io.IOException => () } }
    toPrune = Seq(dst)
  }

  override def initialOffset(): Offset = EventsV2Offset(0L)

  override def latestOffset(): Offset = lock.synchronized {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val fresh = EventsV2.listDataFiles(fs, p)
      .filter(s => !seenSet.contains(s.getPath.toString))
      .sortBy(s => (s.getModificationTime, s.getPath.getName))
      .map(_.getPath.toString)
    if (fresh.nonEmpty) {
      fresh.foreach { f => seenLog += f; seenSet += f }
      persistLog() // offset must never outrun the durable log
    }
    EventsV2Offset(seenLog.length.toLong)
  }

  override def deserializeOffset(json: String): Offset =
    EventsV2Offset.fromJson(json)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] =
    lock.synchronized {
      val s = start.asInstanceOf[EventsV2Offset].index.toInt
      val e = end.asInstanceOf[EventsV2Offset].index.toInt
      require(e <= seenLog.length,
        s"offset $e beyond the recovered file log (${seenLog.length})")
      seenLog.slice(s, e)
        .map(f => EventsV2Partition(f): InputPartition).toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new EventsV2ReaderFactory(required.fieldNames, pushed,
      HadoopConfCarrier.capture(hadoopConf))

  override def commit(end: Offset): Unit = () // the log IS the durable state

  override def stop(): Unit = ()
}

/** Log-index offset (the count of files served so far). */
case class EventsV2Offset(index: Long) extends Offset {
  override def json(): String = s"""{"index":$index}"""
}

object EventsV2Offset {
  private val Re = """\{"index":(\d+)\}""".r
  def fromJson(j: String): EventsV2Offset = j match {
    case Re(i) => EventsV2Offset(i.toLong)
    case _ => throw new IllegalArgumentException(s"bad offset json: $j")
  }
}
