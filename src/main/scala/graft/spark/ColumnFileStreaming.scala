package graft.spark

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Micro-batch streaming source over a columnfile directory: each batch
  * covers the files that arrived since the last batch (append-only
  * ingestion, the standard file-stream contract). Chunk-run
  * partitioning, pruning, and pushdown all reuse the batch scan
  * machinery.
  *
  * Tracking is an EXACT seen-file log (the FileStreamSource approach,
  * not an mtime frontier): each planned batch's file list is persisted
  * under `<checkpoint>/graft-file-batches/<n>` BEFORE the offset is
  * surfaced, and an offset is simply the number of logged batches — so
  * (start, end] replays byte-identically after any restart, and a file
  * whose mtime collides with an already-covered file is still picked up
  * (an mtime frontier would silently skip it).
  *
  * Scale: listing is one directory scan per trigger (or zero with
  * `useManifest=true` — arrivals then come from `_manifest.json`);
  * per-batch work is proportional to new data only. The seen-set loads
  * incrementally (new log entries only) and lives on the driver; log
  * files are tiny append-only metadata.
  */
final case class ColumnFileOffset(batches: Long) extends Offset {
  override def json(): String = batches.toString
}

/** A batch-log file whose content is torn (crash mid-write under the
  * create-exclusive log format). Distinct from IOException so the
  * torn-tail repair can delete exactly these while letting transient
  * read errors propagate (those must fail the trigger, not delete a
  * batch Spark's offset log may reference).
  */
private[spark] final class TornBatchLogException(msg: String)
    extends RuntimeException(msg)

class ColumnFileMicroBatchStream(
    paths: Seq[String],
    tableSchema: StructType,
    filters: Array[Filter],
    conf: Configuration,
    checkpointLocation: String,
    useManifest: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val logDir = new Path(checkpointLocation, "graft-file-batches")
  private val fs = logDir.getFileSystem(conf)

  // incrementally-loaded seen set: union of all logged batches' paths
  private val seenPaths = scala.collection.mutable.HashSet.empty[String]
  private var seenThrough = 0L // batches merged into seenPaths

  /** Batches whose individual log files have been folded into the newest
    * `_seen.compact.<m>` file (and deleted) — bounded log growth. Counting
    * and seen-set loading start from here.
    */
  private var compactedThrough = 0L

  /** Compact once this many per-batch files accumulate past the last
    * compaction point. Compaction runs in `commit(end)`, so every folded
    * batch is already durable in Spark's commit log and can never be
    * re-planned — only its seen-keys matter, which is exactly what the
    * compact file keeps.
    */
  private val CompactInterval = 16L

  private def batchFile(n: Long): Path = new Path(logDir, n.toString)
  private def compactFile(m: Long): Path =
    new Path(logDir, s"_seen.compact.$m")

  private def loggedBatches(): Long = {
    if (!fs.exists(logDir)) return 0L
    val names = fs.listStatus(logDir).map(_.getPath.getName)
    // counting starts at the newest compaction point (batches below it
    // have been folded into the compact file and their files deleted)
    compactedThrough = math.max(compactedThrough,
      names.filter(_.startsWith("_seen.compact."))
        .flatMap(n => scala.util.Try(
          n.stripPrefix("_seen.compact.").toLong).toOption)
        .foldLeft(0L)(math.max))
    // batch n is only counted when base..n-1 all exist (rename/list gaps)
    val present = names
      .flatMap(n => scala.util.Try(n.toLong).toOption).toSet
    var n = compactedThrough
    while (present(n)) n += 1
    // a torn TAIL file (crash mid-create-exclusive-write) was never
    // surfaced as an offset — the write completed before the offset
    // did — so dropping it loses nothing; the next trigger rewrites that
    // batch from a fresh listing
    while (n > math.max(seenThrough, compactedThrough) && !parses(n - 1)) {
      try fs.delete(batchFile(n - 1), false) catch { case _: Exception => }
      n -= 1
    }
    n
  }

  /** True iff batch `n`'s log file has well-formed content. Only CONTENT
    * failures (a line torn mid-write) count as "doesn't parse" — an
    * IOException from open/read propagates and fails the trigger, because
    * a transient read error must never delete a batch file that Spark's
    * offset log may already reference (deleting it would wedge every
    * later replay of that offset range).
    */
  private def parses(n: Long): Boolean =
    try { readBatch(n); true }
    catch {
      case _: NumberFormatException | _: IndexOutOfBoundsException |
          _: TornBatchLogException => false
    }

  /** (path, len) pairs of one logged batch. */
  private def readBatch(n: Long): Seq[(String, Long)] = {
    val in = fs.open(batchFile(n))
    val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
    // every complete write ends with '\n'; a tail torn mid-line could
    // otherwise still parse — "123" truncated to "12" reads as a wrong
    // file length — so the missing terminator IS the torn-tail signal
    if (body.nonEmpty && body.last != '\n')
      throw new TornBatchLogException(
        s"batch log ${batchFile(n)} has a torn tail (no trailing newline)")
    body.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      val i = line.lastIndexOf('\t')
      (line.substring(0, i), line.substring(i + 1).toLong)
    }
  }

  private def loadSeenThrough(n: Long): Unit = {
    if (seenThrough < compactedThrough) {
      // fresh restart over a compacted log: the compact file carries the
      // seen-keys of every folded batch, one per line
      val in = fs.open(compactFile(compactedThrough))
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      body.split('\n').iterator.filter(_.nonEmpty).foreach(seenPaths += _)
      seenThrough = compactedThrough
    }
    while (seenThrough < n) {
      readBatch(seenThrough).foreach { case (p, _) =>
        seenPaths += seenKey(new Path(p)) }
      seenThrough += 1
    }
  }

  private def listAll(): Seq[org.apache.hadoop.fs.FileStatus] =
    ColumnFileDataSource.listDataFilesWithRoots(conf, paths, useManifest)
      .map(_._2)
      .sortBy(st => (st.getModificationTime, st.getPath.toString))

  override def initialOffset(): Offset = ColumnFileOffset(0L)

  /** Seen-log key: the scheme-stripped URI path — a directory walk
    * returns qualified paths (`file:/x`) while manifest entries resolve
    * against the user-supplied root (`/x`); the key must not depend on
    * which listing mode produced it.
    */
  private def seenKey(p: Path): String = p.toUri.getPath

  /** Pending-file snapshot frozen by `prepareForTriggerAvailableNow`:
    * a Trigger.AvailableNow run drains exactly these files (in rate-
    * limited batches) and ignores later arrivals, the FileStreamSource
    * contract.
    */
  private var availableNowSnapshot: Option[Seq[org.apache.hadoop.fs.FileStatus]] = None

  /** Sync the seen-set with the log and return (logged batches, files
    * not yet covered by any batch) — one log listing + one data listing
    * (or zero with a snapshot/manifest). Shared by every admission
    * entry point.
    */
  private def pendingFiles(): (Long, Seq[org.apache.hadoop.fs.FileStatus]) = {
    val logged = loggedBatches()
    loadSeenThrough(logged)
    val pending = availableNowSnapshot
      .getOrElse(listAll())
      .filterNot(st => seenPaths(seenKey(st.getPath)))
    (logged, pending)
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    val logged = loggedBatches()
    loadSeenThrough(logged)
    availableNowSnapshot =
      Some(listAll().filterNot(st => seenPaths(seenKey(st.getPath))))
  }

  /** Rate limits from `maxFilesPerTrigger` / `maxBytesPerTrigger` read
    * options — the backfill story: pointing a new stream at a 100 TB
    * table must not plan one multi-petabyte first batch.
    */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case many   => ReadLimit.compositeLimit(many.toArray)
    }
  }

  private def applyLimit(files: Seq[org.apache.hadoop.fs.FileStatus],
      limit: ReadLimit): Seq[org.apache.hadoop.fs.FileStatus] = limit match {
    case f: ReadMaxFiles => files.take(f.maxFiles())
    case b: ReadMaxBytes =>
      // always admit the FIRST file (a single over-cap file must not
      // stall the stream forever — an index test, not total==0, so a
      // leading zero-length file can't sneak the next one past the cap),
      // then stop before the cap is crossed
      var total = 0L
      var i = 0
      files.takeWhile { st =>
        total += st.getLen
        i += 1
        i == 1 || total <= b.maxBytes()
      }
    case c: CompositeReadLimit =>
      c.getReadLimits.foldLeft(files)(applyLimit)
    case _: ReadAllAvailable => files
    case _ => files // ReadMaxRows/ReadMinRows: rows unknown before decode
  }

  override def latestOffset(): Offset =
    latestOffset(null, ReadLimit.allAvailable())

  /** Set by each latestOffset pass: whether data remained past the
    * admitted batch. reportLatestOffset reuses it so progress reporting
    * costs zero extra listings per trigger (it runs right after
    * latestOffset in the micro-batch loop; on the rare standalone call
    * it computes fresh).
    */
  @volatile private var lastReport: Option[ColumnFileOffset] = None

  override def reportLatestOffset(): Offset =
    lastReport.getOrElse {
      val (logged, pending) = pendingFiles()
      // predicted offset once pending data is admitted: rate limits only
      // chunk it into more batches, so "all pending in one more batch"
      // is the correct upper bound for progress reporting
      ColumnFileOffset(if (pending.isEmpty) logged else logged + 1)
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val (logged, pending) = pendingFiles()
    val fresh = applyLimit(pending, limit)
    lastReport = Some(ColumnFileOffset(
      if (pending.isEmpty) logged
      else if (fresh.size == pending.size) logged + 1
      else logged + 2)) // admitted batch + at least one more pending
    if (fresh.isEmpty) ColumnFileOffset(logged)
    else {
      // persist the batch BEFORE surfacing the offset: a crash between
      // the two leaves an orphan batch that the next trigger re-surfaces.
      // Create-EXCLUSIVE, not temp+rename: our own listing just proved
      // batchFile(logged) absent, so an existing file here means a zombie
      // driver is racing a newer driver on the same checkpoint — fail
      // loudly instead of clobbering its batch. A crash mid-write leaves
      // a torn tail that `parses` repairs on the next trigger.
      fs.mkdirs(logDir)
      AtomicFile.publishExclusive(fs, batchFile(logged),
        fresh.map(st => s"${st.getPath}\t${st.getLen}")
          .mkString("", "\n", "\n").getBytes(UTF_8))
      fresh.foreach(st => seenPaths += seenKey(st.getPath))
      seenThrough = logged + 1
      ColumnFileOffset(logged + 1)
    }
  }

  override def deserializeOffset(json: String): Offset =
    try ColumnFileOffset(json.trim.toLong)
    catch {
      case _: NumberFormatException =>
        // pre-upgrade checkpoints stored an mtime/name frontier string;
        // fail with instructions instead of a bare NumberFormatException
        throw new IllegalStateException(
          s"columnfile stream checkpoint at $checkpointLocation uses the " +
            "legacy frontier offset format ('" + json + "'); delete the " +
            "checkpoint directory to restart with exact file tracking " +
            "(the source will reprocess the directory from scratch)")
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[ColumnFileOffset].batches
    val hi = end.asInstanceOf[ColumnFileOffset].batches
    val files: Seq[(Path, Long)] = (lo until hi)
      .flatMap(readBatch).map { case (p, len) => (new Path(p), len) }
    // chunk offsets from the stats sidecar when present (no data-file
    // open per micro-batch), header walk otherwise; parallel across the
    // batch's new files
    ColumnFileDataSource.mapFilesParallel(files) { case (path, len) =>
      val (offsets, rows): (Array[Long], Array[Long]) =
        ChunkStatsIndex.readWithLen(conf, path) match {
          case Some((slen, ss)) if slen == len &&
              ss.forall(c => c.off >= 0 && c.bytes >= 0) =>
            (ss.map(_.off).toArray, ss.map(_.rows).toArray)
          case _ =>
            val in = new HadoopSeekableInput(
              path.getFileSystem(conf), path, len)
            try (graft.format.ColumnFileReader.scanChunks(in)
              .map(_.headerOffset).toArray, Array.empty[Long])
            finally in.close()
        }
      if (offsets.isEmpty) None
      else Some(ColumnFilePartition(path.toString, len, offsets,
        Array.empty, rows))
    }.flatten.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ColumnFileReaderFactory(
      tableSchema, tableSchema, filters,
      ColumnFileDataSource.broadcastConf(conf))

  /** Compact the batch log once enough committed batches accumulate.
    * `end` is durable in Spark's commit log by the time this runs, so no
    * restart will ever re-plan a batch below it — those batches' only
    * remaining role is their seen-keys, which fold into one
    * `_seen.compact.<end>` file (written atomically); the per-batch files
    * below `end` are then deleted. Log size stays O(CompactInterval)
    * files instead of one file per trigger forever.
    */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[ColumnFileOffset].batches
    // Refresh compactedThrough from the directory FIRST: Spark's restart
    // recovery calls commit(lastCommitted) on a fresh source instance
    // before any latestOffset(), and a stale in-memory 0 here would send
    // loadSeenThrough after batch files a previous compaction deleted.
    loggedBatches()
    if (e - compactedThrough < CompactInterval) return
    loadSeenThrough(e) // seenPaths now holds every key through batch e-1
    AtomicFile.publish(fs, compactFile(e),
      seenPaths.toSeq.sorted.mkString("", "\n", "\n").getBytes(UTF_8))
    compactedThrough = e
    // sweep the folded remains (and any orphaned temp from a crashed
    // write — all tmp files here are ours, and source calls are
    // serialized on the driver); a failure mid-sweep just leaves
    // stragglers below the compaction point, invisible to counting,
    // re-swept by the next compaction
    try {
      fs.listStatus(logDir).foreach { st =>
        val name = st.getPath.getName
        val oldBatch = scala.util.Try(name.toLong).toOption.exists(_ < e)
        val oldCompact = name.startsWith("_seen.compact.") &&
          scala.util.Try(name.stripPrefix("_seen.compact.").toLong)
            .toOption.exists(_ < e)
        val orphanTmp = name.startsWith(".") && name.endsWith(".tmp")
        if (oldBatch || oldCompact || orphanTmp) fs.delete(st.getPath, false)
      }
    } catch { case _: Exception => }
  }

  override def stop(): Unit = ()
}
