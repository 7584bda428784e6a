package graft.spark

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.format.{ColumnFileWriter, Compression}

/** DataSource V2 write path: `df.write.format("columnfile").save(path)`.
  *
  * Each task streams its rows into one `.cf` file, flushing a chunk
  * whenever the buffered encoded size crosses `targetChunkBytes`
  * (reference analog: callers polling `PendingSize()` against a flush
  * limit — tools/columnfile-cat.cc:49, tools/columnfile-sort.cc:34).
  * Commit publishes a `_schema.json` sidecar (the storage itself is
  * untyped; the sidecar is the typed view) and `_SUCCESS`.
  *
  * Scale note: tasks write directly to their final unique filenames, so
  * there is no O(files) driver-side rename storm at commit — on a
  * 1000-executor job each task does one file create + close.
  */
class ColumnFileWriteBuilder(
    paths: Seq[String],
    info: LogicalWriteInfo,
    conf: Configuration,
    partitionCols: Seq[String] = Seq.empty,
    tableSchema: StructType = new StructType())
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var truncateFirst = false
  private var overwriteFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var dynamicOverwrite = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  /** When the query's field names are exactly the table's but in a
    * different order (a by-name DataFrameWriterV2 append — ACCEPT_ANY_SCHEMA
    * makes Spark skip output reordering), rows must be physically permuted
    * into table order: storage addresses columns by position in the
    * directory sidecar's leaf order, so a positional rename would silently
    * write column A's data under column B's name. `perm(i)` = query-row
    * ordinal feeding table position `i`.
    */
  private def permutation: Option[Array[Int]] = {
    val w = info.schema()
    if (tableSchema.nonEmpty && tableSchema.length == w.length &&
        w.fieldNames.toSeq != tableSchema.fieldNames.toSeq &&
        w.fieldNames.toSet == tableSchema.fieldNames.toSet) {
      tableSchema.fields.foreach { tf =>
        val wf = w(w.fieldIndex(tf.name))
        if (wf.dataType != tf.dataType)
          throw new IllegalArgumentException(
            s"columnfile: cannot write column ${tf.name}: query type " +
              s"${wf.dataType.sql} does not match table type ${tf.dataType.sql}")
      }
      Some(tableSchema.fieldNames.map(n => w.fieldIndex(n)))
    } else None
  }

  /** The schema rows are WRITTEN as. ACCEPT_ANY_SCHEMA makes Spark pass
    * the query's own output schema — for a catalog `INSERT` that means
    * expression names (`concat(v, id)`), not table column names, which
    * would break name-based partition routing. A by-name write whose
    * columns are a permutation of the table's resolves to the table
    * schema (rows are reordered to match — see [[permutation]]). SQL
    * INSERT is positional, so when the arity matches the table and names
    * are NOT a permutation, field names re-align to the table's; a
    * genuinely different arity (trailing-column evolution on path-based
    * appends) keeps the query's names as before.
    */
  private def resolvedSchema: StructType = {
    val w = info.schema()
    if (permutation.isDefined) tableSchema
    else if (tableSchema.nonEmpty && tableSchema.length == w.length &&
        w.fieldNames.toSeq != tableSchema.fieldNames.toSeq)
      StructType(w.fields.zip(tableSchema.fields).map {
        case (wf, tf) => wf.copy(name = tf.name)
      })
    else w
  }

  /** `INSERT OVERWRITE … PARTITION (p=v)` / `overwrite(condition)`:
    * replace exactly the rows the filter selects. Files are immutable
    * and partition values are constant per file, so this is supported
    * precisely when every filter is EXACTLY decidable from partition
    * values alone ([[PartitionFilterEval]]); anything else is rejected
    * here at analysis, never approximated at commit (an approximation
    * would delete live rows). Matching files are deleted at COMMIT, so
    * an aborted job leaves the table untouched.
    */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    val partSet = partitionCols.toSet
    val bad = filters.filterNot(f =>
      PartitionFilterEval.supported(f, partSet, resolvedSchema))
    if (bad.nonEmpty) throw new IllegalArgumentException(
      "columnfile: INSERT OVERWRITE supports filters decidable from " +
        s"partition columns [${partitionCols.mkString(", ")}] only; " +
        s"got: ${bad.mkString(", ")}")
    overwriteFilters = filters
    this
  }

  /** Dynamic partition overwrite: replace exactly the partitions this
    * write produces rows for (`partitionOverwriteMode=dynamic`).
    */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    if (partitionCols.isEmpty) throw new IllegalArgumentException(
      "columnfile: dynamic partition overwrite requires a partitioned table")
    dynamicOverwrite = true
    this
  }

  override def build(): Write = {
    // DataStreamWriter.partitionBy never reaches getTable's partitioning
    // transforms (it only applies to catalog/file-source paths), so the
    // streaming sink accepts the layout as a writer option too:
    //   .writeStream.format("columnfile").option("partitionBy", "a,b")
    val optCols = Option(info.options().get("partitionBy")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    val cols = if (partitionCols.nonEmpty) partitionCols else optCols
    new ColumnFileWrite(paths.head, resolvedSchema, info.options(), conf,
      truncateFirst, cols, overwriteFilters, dynamicOverwrite,
      permutation.getOrElse(Array.empty))
  }
}

class ColumnFileWrite(
    path: String,
    schema: StructType,
    options: CaseInsensitiveStringMap,
    conf: Configuration,
    truncateFirst: Boolean,
    partitionCols: Seq[String] = Seq.empty,
    overwriteFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    dynamicOverwrite: Boolean = false,
    rowProjection: Array[Int] = Array.empty)
    extends Write with BatchWrite {

  partitionCols.foreach { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"columnfile: partition column $c not in schema ${schema.catalogString}"))
    if (!PartitionLayout.supported(f.dataType))
      throw new IllegalArgumentException(
        s"columnfile: unsupported partition column type ${f.dataType} for $c")
  }

  /** `shred=v:$.price_c:bigint,v:$.status:string`: DECLARATIVE
    * write-side variant shredding — for each `col:path:type` spec the
    * WRITER derives the typed leaf `variant_get(col, path, type)` per
    * row (strict — the [[VariantShred]] soundness contract), stores it
    * as an ordinary column named `<col>_<leaf>` whose field metadata
    * records the provenance, and publishes the extended schema in the
    * sidecar. Callers no longer hand-assemble shred columns; the read
    * side ([[VariantShredRewrite]] + chunk stats on the leaf) is
    * unchanged. Type must be timezone-insensitive
    * ([[VariantShred.safeTargetType]]).
    */
  private val shredSpecs: Seq[(Int, String, DataType)] = {
    import org.apache.spark.sql.types.VariantType
    Option(options.get("shred")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      .map { spec =>
        spec.split(':') match {
          case Array(col, path, tpe) =>
            val idx = schema.fields.indexWhere(_.name == col)
            if (idx < 0) throw new IllegalArgumentException(
              s"columnfile: shred column $col not in written schema " +
                schema.catalogString)
            if (schema.fields(idx).dataType != VariantType)
              throw new IllegalArgumentException(
                s"columnfile: shred column $col is not a variant " +
                  s"(${schema.fields(idx).dataType.sql})")
            val dt =
              try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                .parseDataType(tpe)
              catch { case e: Exception =>
                throw new IllegalArgumentException(
                  s"columnfile: shred spec '$spec': bad type '$tpe'", e) }
            if (!VariantShred.safeTargetType(dt))
              throw new IllegalArgumentException(
                s"columnfile: shred spec '$spec': type ${dt.sql} is not a " +
                  "shreddable target (timezone-insensitive scalar types only)")
            (idx, path, dt)
          case _ => throw new IllegalArgumentException(
            s"columnfile: shred spec '$spec' is not col:$$.path:type")
        }
      }
  }

  /** Leaf name of a shred spec: variant column + sanitized last path
    * segment (`v` + `$.price_c` -> `v_price_c`). */
  private def shredLeafName(colIdx: Int, path: String): String = {
    val seg = path.split('.').last.filter(ch => ch.isLetterOrDigit || ch == '_')
    val base = s"${schema.fields(colIdx).name}_" +
      (if (seg.nonEmpty) seg else "leaf")
    base
  }

  /** The schema actually stored: the written columns plus one
    * provenance-tagged leaf per shred spec. */
  private val storedSchema: StructType = {
    if (shredSpecs.isEmpty) schema
    else {
      val extra = shredSpecs.map { case (idx, path, dt) =>
        val name = shredLeafName(idx, path)
        if (schema.fieldNames.contains(name))
          throw new IllegalArgumentException(
            s"columnfile: shred leaf $name collides with a written column")
        org.apache.spark.sql.types.StructField(name, dt, nullable = true,
          VariantShred.shredMeta(schema.fields(idx).name, path))
      }
      val names = extra.map(_.name)
      if (names.distinct.length != names.length)
        throw new IllegalArgumentException(
          s"columnfile: duplicate shred leaf names ${names.mkString(", ")}")
      StructType(schema.fields ++ extra)
    }
  }

  private val compression: Int =
    Compression.fromName(Option(options.get("compression")).getOrElse("lz4"))
  private val targetChunkBytes: Long =
    Option(options.get("targetChunkBytes")).map(_.toLong)
      .getOrElse(16L * 1024 * 1024) // reference cat default: 16 MiB
  /** `dictionary=true`: dictionary-encode string/binary leaf columns
    * (per-chunk value table + id runs, DictColumnWriter) — the win for
    * unsorted categorical columns the reference's prefix coding misses.
    */
  private val dictionaryEncode: Boolean =
    Option(options.get("dictionary")).exists(_.toBoolean)
  /** `bitpack=true`: frame-of-reference bit-pack fixed-width numeric leaf
    * columns (PackedIntColumnWriter) — ids, dates, timestamps, measures.
    * Size-compared against the plain encoding per chunk, so it never
    * grows a file.
    */
  private val bitpackEncode: Boolean =
    Option(options.get("bitpack")).exists(_.toBoolean)
  /** `bloom=col,col`: per-chunk Bloom filters over the named columns'
    * values in the stats sidecar — point-lookup (EqualTo/In) chunk
    * pruning where min/max can't help (high-cardinality unsorted ids /
    * digests / urls). Names are leaf paths (top-level column names for
    * scalars); long/string stat families only.
    */
  private val bloomCols: Seq[String] = {
    val names = Option(options.get("bloom")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    if (names.nonEmpty) {
      val leaves = CellCodec.flatten(
        StructType(storedSchema.fields.filterNot(f => partitionCols.contains(f.name))))
      val known = leaves.map(_.name).toSet
      names.foreach { n =>
        if (!known.contains(n))
          throw new IllegalArgumentException(
            s"columnfile: bloom column $n is not a leaf of the written " +
              s"schema (leaves: ${known.toSeq.sorted.mkString(", ")})")
      }
    }
    names
  }

  /** `sortedBy=c1[,c2...]`: the writer's VERIFIED claim that every data
    * file it publishes holds rows sorted lexicographically by the
    * listed data columns (what `orderBy`/`sortWithinPartitions` on the
    * written frame produces). Each DataWriter compares every row's
    * sort tuple to its predecessor's as it streams ([[SortedWriteCheck]]
    * — O(cols) per row, NULLS FIRST) and FAILS the task on the first
    * out-of-order row, so the claim is checked at the only point the
    * rows are seen in order — including INTRA-chunk order, which no
    * reader could ever prove from chunk range stats. Commit publishes
    * the verified claim as the table's [[SortOrderStamp]], making the
    * order SELF-DESCRIBING: readers get the scan's per-partition
    * ordering report — and the sort-free merge joins it enables — with
    * no read option; the scan additionally refutes inter-chunk
    * contradictions (a hand-edited or stale stamp) from chunk stats at
    * planning. Writes WITHOUT the option clear any existing stamp
    * (their files carry no claim). Fail-fast checks here: columns must
    * be leaves of the written data schema, not partition columns
    * (reported automatically), and of stats-capable types (otherwise no
    * reader could ever validate the claim).
    *
    * Reference economics: `columnfile-sort.cc:337-342` `--merge` trusts
    * runs its OWN sorter produced; write-time verification is how this
    * engine earns the same trust with arbitrary upstream writers.
    */
  private val sortedCols: Seq[String] = {
    val names = Option(options.get("sortedBy")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    if (names.nonEmpty) {
      val leaves = CellCodec.flatten(
        StructType(storedSchema.fields.filterNot(f => partitionCols.contains(f.name))))
      names.foreach { n =>
        if (partitionCols.contains(n))
          throw new IllegalArgumentException(
            s"columnfile: sortedBy column $n is a partition column — " +
              "partition-column ordering is reported automatically")
        val leaf = leaves.find(_.name == n).getOrElse(
          throw new IllegalArgumentException(
            s"columnfile: sortedBy column $n is not a leaf of the " +
              s"written schema"))
        if (!ChunkStatsIndex.statsCapable(leaf.dataType))
          throw new IllegalArgumentException(
            s"columnfile: sortedBy column $n (${leaf.dataType.sql}) " +
              "carries no range stats — the order claim could never be " +
              "validated at read time")
      }
    }
    names
  }

  /** `shredMode=strict|lenient`: what a failing shred derivation does.
    * Strict (default) fails the task — batch parity, and the q72
    * batch/stream equivalence contract. Lenient writes a NULL leaf and
    * counts it in the `cfShredLenientNulls` write metric — the escape
    * hatch for streams facing occasional malformed documents (see the
    * [[ShredAppend]] poison-pill caveat).
    */
  private val shredLenient: Boolean =
    Option(options.get("shredMode")).map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case None | Some("strict") => false
      case Some("lenient") => true
      case Some(other) => throw new IllegalArgumentException(
        s"columnfile: shredMode must be 'strict' or 'lenient', got '$other'")
    }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new ShredAppend.LenientNullsMetric)

  override def toBatch: BatchWrite = this

  /** Streaming sink (`writeStream.format("columnfile")`): append-mode
    * micro-batch writes with idempotent epoch commits — see
    * [[ColumnFileStreamingWrite]]. Complete mode (truncate-per-epoch)
    * is rejected: published files are immutable.
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    if (truncateFirst)
      throw new UnsupportedOperationException(
        "columnfile streaming sink supports append mode only")
    // keepEpochs: how many committed epoch markers to retain before
    // pruning (replay-idempotence metadata; default far beyond Spark's
    // one-batch replay window)
    val keepEpochs = Option(options.get("keepEpochs")).map(_.toLong)
      .getOrElse(100L)
    if (rowProjection.nonEmpty)
      throw new UnsupportedOperationException(
        "columnfile streaming sink: reorder the stream's columns to the " +
          "table's column order before writing")
    // shred: the sink's task factory derives the typed leaves exactly
    // like the batch writer (shared ShredAppend transform); the stored
    // schema — data files AND the per-epoch schema sidecar — carries
    // the provenance-tagged leaves, so q69's rewrite serves streamed
    // tables identically to batch-written ones.
    new ColumnFileStreamingWrite(path, storedSchema, compression,
      targetChunkBytes, conf, partitionCols, dictionaryEncode, keepEpochs,
      bitpackEncode, bloomCols, shredBase = schema, shredSpecs = shredSpecs,
      shredLenient = shredLenient)
  }

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (truncateFirst && fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val inner = new ColumnFileWriterFactory(
      path, storedSchema, compression, targetChunkBytes,
      UUID.randomUUID().toString, ColumnFileDataSource.broadcastConf(conf),
      partitionCols, dictionaryEncode, bitpackEncode, bloomCols, sortedCols)
    val shredded =
      if (shredSpecs.isEmpty) inner
      else new ShredAppendingWriterFactory(inner, schema, shredSpecs, shredLenient)
    if (rowProjection.isEmpty) shredded
    else new ProjectingWriterFactory(shredded, rowProjection, schema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    // atomic: a reader calling inferSchema mid-commit must never see a
    // torn/zero-byte schema sidecar
    AtomicFile.publish(fs, new Path(dir, ColumnFileDataSource.SchemaSidecar),
      storedSchema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (partitionCols.nonEmpty) PartitionLayout.write(conf, dir, partitionCols)
    // maintain the file manifest (ManifestFile): commit knows exactly
    // which files it published, so readers can opt out of directory walks
    val committedFiles = messages.toSeq.flatMap {
      case ColumnFileCommitMessage(f)              => Seq(f)
      case ColumnFilePartitionedCommitMessage(fls) => fls
      case _                                       => Seq.empty
    }
    val committed = committedFiles.map(f =>
      ManifestFile.entryFor(conf, dir, new Path(f)))
    // Sort-order stamp maintenance. A write WITHOUT sortedBy clears any
    // prior claim (its files carry no claim). With sortedBy (rows
    // WRITE-VERIFIED in order upstream — see SortedWriteCheck): a full
    // overwrite stamps its own claim (the table IS this commit's
    // files); an append/partial overwrite may only NARROW an existing
    // claim to the common prefix — never extend one onto prior files
    // this commit did not write and cannot vouch for. A claim-less
    // table accepts a fresh claim only when the post-commit manifest
    // shows this commit's files are ALL the files.
    //
    // Crash/race discipline (r19 advice): the sidecar stamp is CLEARED
    // before the manifest commit and rewritten after it, so every crash
    // window leaves walk-readers claim-less (conservative, always safe)
    // rather than under a stale claim over files the stamp does not
    // describe. Manifest readers never see even that window: the claim
    // rides IN _manifest.json, atomic with the file set it describes.
    val priorStamp: Option[Seq[String]] =
      if (sortedCols.isEmpty || truncateFirst) None
      else
        // strict: a transient existence-check failure propagates (and
        // fails the commit for retry) instead of silently reading as
        // "no stamp" and clearing a correct claim; only a genuinely
        // malformed stamp reads as claim-less — it is invalid either
        // way and the clear below is its documented repair
        try SortOrderStamp.read(conf, dir, strict = true)
        catch { case _: IllegalArgumentException => None }
    SortOrderStamp.clear(conf, dir)
    val committedRels = committedFiles.map(f =>
      ManifestFile.relativize(dir, new Path(f))).toSet
    // The prior claim consulted for narrowing is the PRIOR MANIFEST's,
    // read under the manifest lock (racing committers therefore cannot
    // interleave: a concurrent claim-clearing append lands either
    // before this read — narrowing against the cleared claim — or
    // after this commit's publish, clearing it wholesale). The sidecar
    // read above covers only legacy tables whose manifest predates the
    // claim key.
    def stampFor(merged: Seq[ManifestFile.Entry],
        manifestPrior: Option[Seq[String]]): Seq[String] =
      if (sortedCols.isEmpty) Seq.empty
      else if (truncateFirst) sortedCols
      else manifestPrior.orElse(priorStamp) match {
        case Some(prev) if prev.nonEmpty => prev.zip(sortedCols)
          .takeWhile { case (a, b) => a == b }.map(_._1)
        case _ =>
          if (merged.map(_.rel).toSet == committedRels) sortedCols
          else Seq.empty
      }
    // append/replace mirror the sidecar INSIDE the manifest lock (a
    // post-lock mirror could interleave with a racing committer's
    // clear and resurrect a stale claim — see ManifestFile.commit);
    // the truncate path owns a freshly-wiped directory, so it writes
    // its own sidecar after the plain manifest publish.
    if (truncateFirst) {
      val s = stampFor(committed, None)
      ManifestFile.write(conf, dir, committed, s)
      if (s.nonEmpty) SortOrderStamp.write(conf, dir, s)
    } else if (overwriteFilters.nonEmpty || dynamicOverwrite) {
      val removed = deleteOverwritten(fs, dir, committedFiles)
      ManifestFile.replace(conf, dir, removed, committed, stampFor,
        mirrorSidecar = true)
    } else ManifestFile.append(conf, dir, committed, stampFor,
      mirrorSidecar = true)
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  /** Overwrite victim deletion, run at COMMIT (tasks already published
    * their new files): prior files either exactly matching the overwrite
    * filters, or — dynamic mode — living in a partition directory this
    * write produced rows for. Returns the deleted files' manifest-
    * relative paths. New files are recognized by path and never victims,
    * so overwriting a partition with itself is safe; an abort before
    * commit leaves every prior file in place (contrast with TRUNCATE,
    * which keeps its historical wipe-up-front semantics).
    */
  private def deleteOverwritten(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: Path,
      committedFiles: Seq[String]): Seq[String] = {
    val newPaths: Set[String] =
      committedFiles.map(f => fs.makeQualified(new Path(f)).toString).toSet
    val newDirs: Set[String] =
      committedFiles.map(f => fs.makeQualified(new Path(f)).getParent.toString).toSet
    val partSchema = StructType(partitionCols.map(c => schema(c)))
    val existing = ColumnFileDataSource
      .listDataFilesWithRoots(conf, Seq(path), useManifest = false)
      .filterNot { case (_, st) =>
        newPaths.contains(fs.makeQualified(st.getPath).toString) }
    val victims = existing.filter { case (root, st) =>
      if (dynamicOverwrite)
        newDirs.contains(fs.makeQualified(st.getPath).getParent.toString)
      else {
        val raw = PartitionLayout.valuesFor(root, st.getPath, partitionCols)
        val values: Map[String, Any] = partitionCols.zipWithIndex.map {
          case (c, i) =>
            c -> PartitionLayout.parse(partSchema.fields(i).dataType, raw(i))
        }.toMap
        PartitionFilterEval.matches(overwriteFilters.toSeq, values, partSchema)
      }
    }
    victims.map { case (_, st) =>
      val p = st.getPath
      // fs.delete can fail by RETURNING false (permissions, transient HDFS
      // issues) — treating that as removed would leave the old file
      // visible to directory-walk readers while the manifest drops it.
      // Fail the commit instead: the manifest is only replaced after every
      // victim is confirmed gone.
      if (!fs.delete(p, false) && fs.exists(p))
        throw new java.io.IOException(
          s"columnfile: INSERT OVERWRITE failed to delete $p; aborting " +
            "commit before manifest update")
      val sidecar = new Path(p.getParent, "." + p.getName + ChunkStatsIndex.Suffix)
      try fs.delete(sidecar, false) catch { case _: Exception => }
      ManifestFile.relativize(dir, p)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // Tasks that committed before the job failed have durable data files
    // AND stats sidecars on disk; readers list files without consulting
    // _SUCCESS, so anything left behind becomes visible — delete both.
    val fs = new Path(path).getFileSystem(conf)
    def del(file: String): Unit = {
      val p = new Path(file)
      try fs.delete(p, false) catch { case _: Exception => }
      val sidecar = new Path(p.getParent, "." + p.getName + ChunkStatsIndex.Suffix)
      try fs.delete(sidecar, false) catch { case _: Exception => }
    }
    messages.foreach {
      case ColumnFileCommitMessage(file)             => del(file)
      case ColumnFilePartitionedCommitMessage(files) => files.foreach(del)
      case _ =>
    }
  }
}

final case class ColumnFileCommitMessage(file: String) extends WriterCommitMessage

/** Reorders each incoming row (query output order) into table column
  * order before handing it to the real writer — the by-name
  * DataFrameWriterV2 append case where Spark, under ACCEPT_ANY_SCHEMA,
  * does not reorder the query's output itself. `perm(i)` = incoming-row
  * ordinal whose value lands at table position `i`.
  */
class ProjectingWriterFactory(
    inner: DataWriterFactory,
    perm: Array[Int],
    tableSchema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val types = tableSchema.fields.map(_.dataType)
    val delegate = inner.createWriter(partitionId, taskId)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = {
        val values = new Array[Any](perm.length)
        var i = 0
        while (i < perm.length) {
          val o = perm(i)
          values(i) = if (row.isNullAt(o)) null else row.get(o, types(i))
          i += 1
        }
        delegate.write(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values))
      }
      override def commit(): WriterCommitMessage = delegate.commit()
      override def abort(): Unit = delegate.abort()
      override def close(): Unit = delegate.close()
    }
  }
}

/** Appends the declared shred leaves to each incoming row: per spec,
  * the STRICT `variant_get(col, path, type)` expression is evaluated
  * against the row (so a value that cannot cast FAILS the write — the
  * rewrite-soundness contract: a committed shred equals its extraction
  * row for row) and the result lands in the extra trailing columns the
  * inner writer's extended schema declares.
  */
class ShredAppendingWriterFactory(
    inner: DataWriterFactory,
    baseSchema: StructType,
    specs: Seq[(Int, String, DataType)],
    lenient: Boolean = false)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    ShredAppend.writer(inner.createWriter(partitionId, taskId),
      baseSchema, specs, lenient)
}

/** The streaming twin: same row transform, epoch-aware factory — the
  * shred option works identically for `writeStream` sinks (the batch/
  * stream asymmetry closed; a streamed table gets the q69 pushdown
  * without a rewrite pass).
  */
class ShredAppendingStreamingWriterFactory(
    inner: org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory,
    baseSchema: StructType,
    specs: Seq[(Int, String, DataType)],
    lenient: Boolean = false)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    ShredAppend.writer(inner.createWriter(partitionId, taskId, epochId),
      baseSchema, specs, lenient)
}

/** The shared shred row transform: per spec, the STRICT
  * `variant_get(col, path, type)` expression evaluated against the
  * incoming row, appended as the trailing columns the inner writer's
  * extended schema declares.
  *
  * POISON-PILL CAVEAT (streaming): strict mode's `failOnError = true`
  * is deliberate batch parity — a row whose variant is missing the
  * shredded path, or whose value does not cast to the declared leaf
  * type, fails the write task exactly as the batch writer would. In a
  * `writeStream` sink, though, the failed micro-batch is RETRIED from
  * the checkpoint and replays the same rows, so one malformed document
  * wedges the stream permanently (batch fails once; the stream fails
  * forever). Diagnose via the stream's exception (the variant_get
  * error names the path); remediate by fixing/dropping the row
  * upstream, by shredding a pre-validated derived column — or by
  * opting into `shredMode=lenient`: a failing derivation then writes a
  * NULL leaf and bumps the `cfShredLenientNulls` write metric (the
  * permissive-scan discipline applied to the write side: never silent,
  * always counted). Lenient is OPT-IN because a NULL leaf diverges
  * from what a strict batch write of the same rows would produce (it
  * would fail) — the q72 batch/stream equivalence gate holds in strict
  * mode; under lenient the metric is the audit trail. The base row is
  * stored unchanged either way, so a lenient leaf can always be
  * re-derived once the reader-side path/type question is settled.
  */
object ShredAppend {
  final val LenientNulls = "cfShredLenientNulls"

  final class LenientNullsMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = LenientNulls
    override def description(): String =
      "shred leaves written as NULL under shredMode=lenient"
  }

  def writer(delegate: DataWriter[InternalRow], base: StructType,
      specs: Seq[(Int, String, DataType)],
      lenient: Boolean = false): DataWriter[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
    import org.apache.spark.sql.types.{StringType, VariantType}
    val types = base.fields.map(_.dataType)
    val exprs = specs.map { case (idx, path, dt) =>
      VariantGet(
        BoundReference(idx, VariantType, base.fields(idx).nullable),
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(path),
          StringType),
        dt,
        failOnError = true,
        timeZoneId = Some("UTC"))
    }
    new DataWriter[InternalRow] {
      private var lenientNulls = 0L
      override def write(row: InternalRow): Unit = {
        val values = new Array[Any](base.length + exprs.length)
        var i = 0
        while (i < base.length) {
          values(i) = if (row.isNullAt(i)) null else row.get(i, types(i))
          i += 1
        }
        var j = 0
        while (j < exprs.length) {
          values(base.length + j) =
            if (!lenient) exprs(j).eval(row)
            else try exprs(j).eval(row) catch {
              case scala.util.control.NonFatal(_) =>
                lenientNulls += 1; null
            }
          j += 1
        }
        delegate.write(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values))
      }
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        delegate.currentMetricsValues() :+
          new org.apache.spark.sql.connector.metric.CustomTaskMetric {
            override def name(): String = LenientNulls
            override def value(): Long = lenientNulls
          }
      override def commit(): WriterCommitMessage = delegate.commit()
      override def abort(): Unit = delegate.abort()
      override def close(): Unit = delegate.close()
    }
  }
}

class ColumnFileWriterFactory(
    dir: String,
    schema: StructType,
    compression: Int,
    targetChunkBytes: Long,
    jobId: String,
    conf: Broadcast[SerializableConfiguration],
    partitionCols: Seq[String] = Seq.empty,
    dictionary: Boolean = false,
    bitpack: Boolean = false,
    bloomCols: Seq[String] = Seq.empty,
    sortedCols: Seq[String] = Seq.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val fileName = f"part-$partitionId%05d-$jobId$taskId%d${ColumnFileDataSource.FileExtension}"
    if (partitionCols.isEmpty) {
      new ColumnFileDataWriter(new Path(dir, fileName), schema, compression,
        targetChunkBytes, conf.value.value, dictionary, bitpack, bloomCols, sortedCols)
    } else {
      new ColumnFilePartitionedDataWriter(new Path(dir), fileName, schema,
        partitionCols, compression, targetChunkBytes, conf.value.value, dictionary,
        bitpack, bloomCols, sortedCols)
    }
  }
}

/** Write-time verification of a `sortedBy` claim, per data FILE (the
  * unit the stamp describes): each row's sort-column tuple must be >=
  * its predecessor's in the engine's ordering — long family by value
  * (decimals as unscaled, booleans false<true), double family IEEE
  * with NaN greatest and -0.0 == 0.0 (Spark's total order), strings by
  * UTF-8 bytes (ChunkStatsIndex.utf8Cmp semantics — the cell IS the
  * UTF-8 encoding), NULLS FIRST (Spark's ascending default; the scan's
  * validation independently refuses null-bearing chunks, so nulls
  * under a claim are legal to WRITE but never exploited at read).
  * O(cols) per row; fails the task — not the commit — on the first
  * violation, so a lying declaration never publishes a stamp.
  */
private[spark] final class SortedWriteCheck(
    leaves: IndexedSeq[CellCodec.Leaf],
    cols: Seq[String],
    file: String) {
  import org.apache.spark.sql.types._

  private val ords: Array[Int] = cols.map { c =>
    val i = leaves.indexWhere(_.name == c)
    require(i >= 0, s"columnfile: sortedBy column $c is not a leaf of the stored schema")
    i
  }.toArray
  private val types: Array[DataType] = ords.map(i => leaves(i).dataType)

  // previous row's normalized sort tuple (null element = SQL NULL)
  private var prev: Array[Any] = null
  private var rowNo: Long = 0L

  /** Decode a cell into the comparable the stats families use. */
  private def norm(k: Int, cell: Array[Byte]): Any = types(k) match {
    case StringType => cell // UTF-8 bytes; compared unsigned
    case LongType | TimestampType | TimestampNTZType =>
      CellCodec.decode(types(k), cell).asInstanceOf[Long]
    case IntegerType | DateType =>
      CellCodec.decode(types(k), cell).asInstanceOf[Int].toLong
    case ShortType => CellCodec.decode(types(k), cell).asInstanceOf[Short].toLong
    case ByteType  => CellCodec.decode(types(k), cell).asInstanceOf[Byte].toLong
    case BooleanType =>
      if (CellCodec.decode(types(k), cell).asInstanceOf[Boolean]) 1L else 0L
    case d: DecimalType if d.precision <= 18 =>
      CellCodec.decode(types(k), cell)
        .asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong
    case DoubleType =>
      val v = CellCodec.decode(types(k), cell).asInstanceOf[Double]
      if (v == 0.0) 0.0 else v
    case FloatType =>
      val v = CellCodec.decode(types(k), cell).asInstanceOf[Float].toDouble
      if (v == 0.0) 0.0 else v
    case other => throw new IllegalStateException(
      s"columnfile: sortedBy on non-stats-capable type $other") // unreachable: gated at build()
  }

  /** NULLS FIRST; NaN greatest (Spark's ordering). */
  private def cmpOne(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _)    => -1
    case (_, null)    => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) =>
      if (x.isNaN && y.isNaN) 0
      else if (x.isNaN) 1
      else if (y.isNaN) -1
      else java.lang.Double.compare(x, y)
    case (x: Array[Byte], y: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(x, y)
    case _ => throw new IllegalStateException("columnfile: sort tuple type mix")
  }

  def check(cells: Array[Array[Byte]]): Unit = {
    val cur = new Array[Any](ords.length)
    var k = 0
    while (k < ords.length) {
      val cell = cells(ords(k))
      cur(k) = if (cell == null) null else norm(k, cell)
      k += 1
    }
    if (prev != null) {
      var k = 0
      var c = 0
      while (c == 0 && k < ords.length) {
        c = cmpOne(prev(k), cur(k))
        if (c > 0) throw new IllegalStateException(
          s"columnfile: sortedBy=${cols.mkString(",")} violated in $file " +
            s"at row $rowNo: column '${cols(k)}' decreases " +
            "(rows are not sorted as declared) — sort the written frame " +
            "(orderBy / sortWithinPartitions) or drop the sortedBy option")
        k += 1
      }
    }
    prev = cur
    rowNo += 1
  }
}

/** Routes each row to the writer of its partition directory
  * (`root/col=value/...`), creating writers lazily; partition columns
  * are stripped from the stored data (their values live in the path).
  * Memory per task = one open chunk buffer per distinct partition value
  * seen — repartition by the partition columns upstream for strict
  * bounds (standard practice, same as Parquet dynamic partitioning).
  */
class ColumnFilePartitionedDataWriter(
    root: Path,
    fileName: String,
    schema: StructType,
    partitionCols: Seq[String],
    compression: Int,
    targetChunkBytes: Long,
    conf: Configuration,
    dictionary: Boolean = false,
    bitpack: Boolean = false,
    bloomCols: Seq[String] = Seq.empty,
    sortedCols: Seq[String] = Seq.empty)
    extends DataWriter[InternalRow] {

  private val partFields: Seq[(Int, org.apache.spark.sql.types.StructField)] =
    partitionCols.map(c => (schema.fieldIndex(c), schema(c)))
  private val dataOrdinals: Array[Int] =
    schema.fields.indices.filterNot(partFields.map(_._1).toSet).toArray
  private val dataSchema = StructType(dataOrdinals.map(schema.fields))
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, ColumnFileDataWriter]

  override def write(row: InternalRow): Unit = {
    val rel = partFields.map { case (i, f) =>
      val v = if (row.isNullAt(i)) null else row.get(i, f.dataType)
      s"${f.name}=${PartitionLayout.render(f.dataType, v)}"
    }.mkString("/")
    val w = writers.getOrElseUpdate(rel, {
      new ColumnFileDataWriter(
        new Path(new Path(root, rel), fileName), dataSchema, compression,
        targetChunkBytes, conf, dictionary, bitpack, bloomCols, sortedCols)
    })
    val values = new Array[Any](dataOrdinals.length)
    var i = 0
    while (i < dataOrdinals.length) {
      val o = dataOrdinals(i)
      values(i) =
        if (row.isNullAt(o)) null else row.get(o, schema.fields(o).dataType)
      i += 1
    }
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values))
  }

  override def commit(): WriterCommitMessage = {
    val files = writers.values.map(_.commit() match {
      case ColumnFileCommitMessage(f) => f
    })
    ColumnFilePartitionedCommitMessage(files.toSeq)
  }

  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = ()
}

final case class ColumnFilePartitionedCommitMessage(files: Seq[String])
  extends WriterCommitMessage

class ColumnFileDataWriter(
    file: Path,
    schema: StructType,
    compression: Int,
    targetChunkBytes: Long,
    conf: Configuration,
    dictionary: Boolean = false,
    bitpack: Boolean = false,
    bloomCols: Seq[String] = Seq.empty,
    sortedCols: Seq[String] = Seq.empty)
    extends DataWriter[InternalRow] {

  private val leaves = CellCodec.flatten(schema)
  // sortedBy write-time verification: rows are seen here in task order,
  // the ONE place intra-chunk order can ever be checked
  private val sortCheck: SortedWriteCheck =
    if (sortedCols.isEmpty) null
    else new SortedWriteCheck(leaves, sortedCols, file.toString)
  private val fs = file.getFileSystem(conf)
  private val stream = fs.create(file, true)
  private val writer = new ColumnFileWriter(stream, compression)
  if (dictionary) writer.setDictionaryColumns(
    leaves.zipWithIndex.collect {
      case (l, i) if l.dataType == org.apache.spark.sql.types.StringType ||
        l.dataType == org.apache.spark.sql.types.BinaryType => i
    }.toSet)
  if (bitpack) writer.setPackedColumns(
    leaves.zipWithIndex.flatMap { case (l, i) =>
      import org.apache.spark.sql.types._
      l.dataType match {
        case LongType | TimestampType | TimestampNTZType | DoubleType =>
          Some(i -> 8)
        case IntegerType | DateType | FloatType => Some(i -> 4)
        case _ => None
      }
    }.toMap)
  private val stats = new ChunkStatsIndex.Collector(leaves, {
    val wanted = bloomCols.toSet
    leaves.zipWithIndex.collect {
      case (l, i) if wanted(l.name) => i
    }.toSet
  })
  private val chunkStats = scala.collection.mutable.ArrayBuffer
    .empty[ChunkStatsIndex.ChunkStats]

  override def write(row: InternalRow): Unit = {
    val cells = CellCodec.shred(schema, leaves, row)
    if (sortCheck != null) sortCheck.check(cells)
    var i = 0
    while (i < cells.length) {
      if (cells(i) == null) writer.putNull(i) else writer.put(i, cells(i))
      i += 1
    }
    stats.observe(cells)
    if (writer.pendingSize >= targetChunkBytes) {
      writer.flush()
      chunkStats += stats.finishChunk()
    }
  }

  override def commit(): WriterCommitMessage = {
    writer.finish()
    stream.close()
    if (stats.hasRows) chunkStats += stats.finishChunk()
    // Stamp each chunk's (headerOffset, dataSize) and the final file
    // length into the sidecar: the driver then plans partitions, row
    // counts, and aggregate pushdown from one tiny sidecar read per file
    // instead of walking every chunk header of every data file.
    val ranges = writer.chunkRanges
    val withLoc =
      if (ranges.length == chunkStats.length)
        chunkStats.toSeq.zip(ranges).map { case (cs, (off, bytes)) =>
          cs.copy(off = off, bytes = bytes)
        }
      else chunkStats.toSeq
    ChunkStatsIndex.write(conf, file, withLoc, writer.bytesWritten)
    ColumnFileCommitMessage(file.toString)
  }

  override def abort(): Unit = {
    try stream.close() catch { case _: Exception => }
    try fs.delete(file, false) catch { case _: Exception => }
  }

  override def close(): Unit = ()
}
