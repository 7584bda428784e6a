package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Streaming half of the sink: `df.writeStream.format("columnfile")`.
  *
  * Exactly-once across restarts via idempotent epoch commits:
  *
  *  - tasks write data (and their stats sidecars) under dot-prefixed
  *    in-progress names — invisible to readers, whose listing skips
  *    dot/underscore entries (`ColumnFileDataSource.listDataFilesWithRoots`);
  *  - `commit(epoch)` renames data + sidecar to final names, then records
  *    the epoch in `_epochs/<id>`;
  *  - a REPLAYED epoch (micro-batch re-run after a restart that lost the
  *    sink's ack but not the commit) finds its marker and deletes the
  *    replayed files instead of publishing duplicates;
  *  - `abort` deletes the in-progress files, same contract as the batch
  *    path's abort.
  *
  * Renames are one per task file per micro-batch — bounded by the
  * trigger's task count, not table size (the bulk batch path never
  * renames; see ColumnFileWrite's scale note). In-progress files from a
  * crash without abort stay invisible forever and are reclaimed by
  * `CfTools.clean`, the age-guarded orphan sweep.
  *
  * Append-mode only: files are immutable once published, like every
  * file-format streaming sink. Partitioned tables work — each row routes
  * to its `col=value/` directory exactly as in the batch writer.
  */
final class ColumnFileStreamingWrite(
    path: String,
    schema: StructType,
    compression: Int,
    targetChunkBytes: Long,
    conf: Configuration,
    partitionCols: Seq[String],
    dictionary: Boolean = false,
    keepEpochs: Long = 100L,
    bitpack: Boolean = false,
    bloomCols: Seq[String] = Seq.empty,
    // declarative shred (batch parity): `schema` is then the EXTENDED
    // stored schema and each task's writer appends the derived leaves
    // (ShredAppend) to the narrower incoming rows of shredBase
    shredBase: StructType = null,
    shredSpecs: Seq[(Int, String, DataType)] = Seq.empty,
    shredLenient: Boolean = false)
    extends StreamingWrite {

  private def dir = new Path(path)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    dir.getFileSystem(conf).mkdirs(dir)
    val inner = new ColumnFileStreamingWriterFactory(path, schema,
      compression, targetChunkBytes, java.util.UUID.randomUUID().toString,
      ColumnFileDataSource.broadcastConf(conf), partitionCols, dictionary,
      bitpack, bloomCols)
    if (shredSpecs.isEmpty) inner
    else new ShredAppendingStreamingWriterFactory(inner, shredBase,
      shredSpecs, shredLenient)
  }

  private def epochMarker(epochId: Long): Path =
    new Path(new Path(dir, "_epochs"), epochId.toString)

  private def files(messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.flatMap {
      case ColumnFileCommitMessage(f)             => Seq(f)
      case ColumnFilePartitionedCommitMessage(fs) => fs
      case _                                      => Seq.empty
    }

  private def sidecarOf(p: Path): Path =
    new Path(p.getParent, "." + p.getName + ChunkStatsIndex.Suffix)

  private def delete(fs: FileSystem, f: String): Unit = {
    val p = new Path(f)
    try fs.delete(p, false) catch { case _: Exception => }
    try fs.delete(sidecarOf(p), false) catch { case _: Exception => }
    // a partitioned write may have created col=value dirs just for this
    // attempt; sweep any now-empty ones up to (not including) the root
    try {
      var parent = p.getParent
      val rootPath = dir.toUri.getPath
      while (parent != null && parent.toUri.getPath != rootPath &&
          fs.listStatus(parent).isEmpty) {
        fs.delete(parent, false)
        parent = parent.getParent
      }
    } catch { case _: Exception => }
  }

  /** Epoch commit, crash-resumable at every step. The marker is an
    * INTENT log written atomically (temp + rename) BEFORE any publish
    * rename, listing the attempt's temp→final pairs:
    *
    *  - crash before the marker: nothing renamed, temps stay invisible
    *    (swept later by CfTools.clean); the replay is a fresh attempt.
    *  - crash mid-renames: the replay reads the marker, COMPLETES the
    *    interrupted renames from the original attempt's temps, then
    *    deletes its own duplicate files — no loss, no duplicates.
    *  - crash before the manifest append: the replay re-appends from the
    *    marker's final names (idempotent merge by relative path).
    */
  private def writeMarker(fs: FileSystem, marker: Path,
      pairs: Seq[(Path, Path)]): Unit = {
    fs.mkdirs(marker.getParent)
    // adopt-replay overwrites a marker whose attempt left nothing; the
    // rename is the commit point
    AtomicFile.publish(fs, marker,
      pairs.map { case (t, f) => s"$t\t$f" }.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      tmpSuffix = ".intent")
  }

  private def intentsOf(msgs: Array[WriterCommitMessage]): Seq[(Path, Path)] =
    files(msgs).map { f =>
      val tmp = new Path(f)
      require(tmp.getName.startsWith("."), s"not an in-progress file: $f")
      (tmp, new Path(tmp.getParent, tmp.getName.substring(1)))
    }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = dir.getFileSystem(conf)
    val marker = epochMarker(epochId)
    val pairs: Seq[(Path, Path)] =
      if (!fs.exists(marker)) {
        val intents = intentsOf(messages)
        writeMarker(fs, marker, intents)
        intents
      } else {
        // replay of a committed (or mid-commit-crashed) epoch
        val body = {
          val in = fs.open(marker)
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        }
        val orig = body.split('\n').toSeq.filter(_.nonEmpty).map { line =>
          val i = line.indexOf('\t')
          (new Path(line.substring(0, i)), new Path(line.substring(i + 1)))
        }
        val recoverable = orig.filter { case (t, f) =>
          fs.exists(f) || fs.exists(t)
        }
        if (recoverable.size == orig.size) {
          // every original file is publishable: finish those, drop the
          // replay's duplicates
          files(messages).foreach(delete(fs, _))
          orig
        } else if (!orig.exists { case (_, f) => fs.exists(f) }) {
          // NOTHING of the original attempt survives (e.g. its temps
          // were lost before publishing): the replay is the only copy —
          // adopt it as the authoritative attempt BEFORE touching its
          // files, and only then supersede the marker
          val intents = intentsOf(messages)
          writeMarker(fs, marker, intents)
          intents
        } else {
          // partially published originals AND lost originals: publishing
          // the replay could double rows, dropping it loses rows — fail
          // loudly rather than guess
          throw new java.io.IOException(
            s"columnfile sink: epoch $epochId is partially published and " +
              s"partially lost (marker $marker); manual repair required")
        }
      }
    pairs.foreach { case (tmp, fin) =>
      if (fs.exists(tmp) && !fs.exists(fin) && !fs.rename(tmp, fin))
        throw new java.io.IOException(
          s"columnfile sink: cannot publish $tmp -> $fin")
      // sidecar publish resumes independently (a crash can land between
      // the data rename and this one)
      val tmpSide = sidecarOf(tmp)
      val finSide = sidecarOf(fin)
      if (fs.exists(tmpSide) && !fs.exists(finSide))
        fs.rename(tmpSide, finSide)
      if (!fs.exists(fin))
        throw new java.io.IOException(
          s"columnfile sink: $fin missing after publish; failing commit " +
            "so the epoch retries")
    }
    // streamed epochs append files with no sort claim: drop any prior
    // table-level sort-order stamp so a compacted-then-streamed-into
    // table can never advertise an order its tail doesn't satisfy.
    // Cleared BEFORE the manifest append (the batch commit's crash
    // discipline): every crash window leaves the table claim-less, and
    // the manifest append below drops the manifest-carried claim
    // atomically with the new files (the default empty sort order).
    SortOrderStamp.clear(conf, dir)
    ManifestFile.append(conf, dir,
      pairs.map(_._2).map(ManifestFile.entryFor(conf, dir, _)))
    // atomic: this rewrite happens every epoch, racing any concurrent
    // batch reader's inferSchema
    AtomicFile.publish(fs, new Path(dir, ColumnFileDataSource.SchemaSidecar),
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (partitionCols.nonEmpty)
      PartitionLayout.write(conf, dir, partitionCols)
    fs.create(new Path(dir, "_SUCCESS"), true).close()
    pruneEpochs(fs, epochId)
  }

  /** Bound `_epochs/` growth: markers exist to make REPLAYED epochs
    * idempotent, and Spark only ever replays the most recent
    * unacknowledged micro-batch — an epoch `keepEpochs` behind the one
    * just committed can never be consulted again. Prune it (and any
    * equally old orphaned `.intent` temp). One listing per commit; the
    * directory stays O(keepEpochs) after the first sweep, so a
    * long-lived stream no longer accumulates one marker per micro-batch
    * forever.
    */
  private def pruneEpochs(fs: FileSystem, committedEpoch: Long): Unit = {
    // floor at 1: keepEpochs=0 would prune the marker of the epoch just
    // committed, and a crash-then-replay of that epoch would find no
    // marker and publish duplicates
    val horizon = committedEpoch - math.max(1L, keepEpochs)
    if (horizon <= 0) return
    try {
      fs.listStatus(new Path(dir, "_epochs")).foreach { st =>
        val name = st.getPath.getName
        val id = scala.util.Try(name.toLong).toOption
          .orElse {
            // ".<id>.<uuid>.intent" temp left by a crash mid-marker-write
            // (AtomicFile inserts a per-call UUID between the destination
            // name and the caller's suffix)
            if (name.startsWith(".") && name.endsWith(".intent"))
              scala.util.Try(
                name.stripPrefix(".").takeWhile(_ != '.').toLong).toOption
            else None
          }
        if (id.exists(_ <= horizon)) fs.delete(st.getPath, false)
      }
    } catch { case _: Exception => } // pruning is best-effort
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = dir.getFileSystem(conf)
    files(messages).foreach(delete(fs, _))
  }
}

final class ColumnFileStreamingWriterFactory(
    dir: String,
    schema: StructType,
    compression: Int,
    targetChunkBytes: Long,
    jobId: String,
    conf: Broadcast[SerializableConfiguration],
    partitionCols: Seq[String],
    dictionary: Boolean = false,
    bitpack: Boolean = false,
    bloomCols: Seq[String] = Seq.empty)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    // epoch in the name: replayed epochs under a fresh jobId can never
    // collide with a previous attempt's published files; taskId keeps
    // same-job retries/speculative attempts on DISTINCT paths, so a
    // losing attempt's abort can only ever delete its own file
    val fileName = f".part-e$epochId%010d-$partitionId%05d-$jobId-$taskId%d${ColumnFileDataSource.FileExtension}"
    if (partitionCols.isEmpty)
      new ColumnFileDataWriter(new Path(dir, fileName), schema, compression,
        targetChunkBytes, conf.value.value, dictionary, bitpack, bloomCols)
    else
      new ColumnFilePartitionedDataWriter(new Path(dir), fileName, schema,
        partitionCols, compression, targetChunkBytes, conf.value.value, dictionary,
        bitpack, bloomCols)
  }
}
