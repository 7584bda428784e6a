package graft.spark

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.format.{ColumnDecoder, ColumnFileReader, CorruptColumnFileException, SeekableInput}

/** Range-read input over a Hadoop file (covers local, HDFS, S3A…). */
final class HadoopSeekableInput(fs: FileSystem, path: Path, len: Long)
    extends SeekableInput {
  private val stream = fs.open(path)
  override def size: Long = len
  override def readFully(offset: Long, length: Int): Array[Byte] = {
    val buf = new Array[Byte](length)
    try stream.readFully(offset, buf, 0, length)
    catch {
      case e: java.io.EOFException =>
        throw new CorruptColumnFileException(s"short read at $offset in $path")
    }
    buf
  }
  override def close(): Unit = stream.close()
}

/** One task's slice of work: a run of chunks within one file. Chunks are
  * the atomic unit (prefix decoding is stateful within a chunk), so
  * planning never splits mid-chunk — the Spark analog of the reference's
  * chunk-sequential reader (src/columnfile-reader.cc:279-651).
  */
sealed trait CfPartition extends InputPartition {
  def filePath: String
  def fileLen: Long
  def chunkOffsets: Array[Long]
  def partitionValues: Array[String]

  /** Exact rows per chunk (aligned with chunkOffsets) when the stats
    * sidecar recorded them; empty when unknown (foreign files) — the
    * reader then counts exactly. Row counts make scan results
    * projection-independent on ragged chunks: a chunk always yields its
    * true row count, null-padding columns that end early.
    */
  def chunkRows: Array[Long]
  final def knownRows(i: Int): Long =
    if (i < chunkRows.length) chunkRows(i) else -1L
}

final case class ColumnFilePartition(
    filePath: String,
    fileLen: Long,
    chunkOffsets: Array[Long],
    partitionValues: Array[String] = Array.empty,
    chunkRows: Array[Long] = Array.empty) extends CfPartition

/** Split of a Hive-partitioned table that knows its partition-key tuple:
  * lets Spark group splits per key (`KeyGroupedPartitioning`) and run
  * storage-partitioned joins — two cf tables partitioned on the join
  * column join WITHOUT any shuffle exchange. `keyValues` are Catalyst
  * values in partition-column order.
  */
final case class ColumnFileKeyedPartition(
    filePath: String,
    fileLen: Long,
    chunkOffsets: Array[Long],
    partitionValues: Array[String],
    keyValues: Array[Any],
    chunkRows: Array[Long] = Array.empty)
    extends CfPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(keyValues)
}

class ColumnFileScanBuilder(
    paths: Seq[String],
    tableSchema: StructType,
    conf: Configuration,
    options: CaseInsensitiveStringMap,
    partitionCols: Seq[String] = Seq.empty)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var requiredSchema: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[AggregatePushdown.Result] = None
  private var limit: Int = -1

  // fail-fast here, not at reader creation: a metadata-only (pushed-
  // aggregate) plan never builds a reader factory, and a typo'd mode
  // must not silently read as fail-fast
  Option(options.get("onCorrupt")).foreach { v =>
    require(v == "fail" || v == "skip",
      s"onCorrupt must be 'fail' or 'skip', got '$v'")
  }

  /** Partial limit: each partition reader stops after `limit` rows
    * (Spark still applies the global limit above the scan).
    */
  override def pushLimit(n: Int): Boolean = { limit = n; true }

  /** COUNT/MIN/MAX answered from the stats sidecars without opening any
    * data file (see AggregatePushdown). Feasibility — including reading
    * the sidecars — is fully checked here; returning true commits to
    * exact final results, so supportCompletePushDown is uncondition-
    * ally true once pushAggregation succeeded.
    */
  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[AggregatePushdown.Result] =
    if (pushed.nonEmpty) None
    // onCorrupt=skip: stats describe bytes that may not decode — a
    // metadata-only COUNT/MIN/MAX would contradict what a scan under
    // skip semantics returns, so aggregates must run on decoded rows
    else if (Option(options.get("onCorrupt")).contains("skip")) None
    else if (partitionCols.isEmpty)
      AggregatePushdown.tryCompute(agg, tableSchema, conf, paths,
        Option(options.get("useManifest")).exists(_.toBoolean))
    else
      // GROUP BY <partition cols>: answered per partition directory
      AggregatePushdown.tryComputeGrouped(
        agg, tableSchema, partitionCols, conf, paths,
        Option(options.get("useManifest")).exists(_.toBoolean))

  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = computeAgg(agg)
    aggResult.isDefined
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (aggResult.isEmpty) aggResult = computeAgg(agg)
    aggResult.isDefined
  }

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  /** Record the filters we can evaluate inside the scan (for chunk
    * skipping / late materialization — reference semantics:
    * src/columnfile-select.cc:79-211). All filters are also returned as
    * residuals so Catalyst re-checks them — the scan-side evaluation is a
    * safe over-approximation used only to skip data.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => FilterEval.evaluable(f, tableSchema))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = aggResult match {
    case Some(r) => new PrecomputedAggScan(r.schema, r.rows)
    case None =>
      new ColumnFileScan(paths, tableSchema, requiredSchema, pushed, conf,
        options, limit, partitionCols)
  }
}

class ColumnFileScan(
    paths: Seq[String],
    tableSchema: StructType,
    requiredSchema: StructType,
    filters: Array[Filter],
    conf: Configuration,
    options: CaseInsensitiveStringMap,
    limit: Int = -1,
    partitionCols: Seq[String] = Seq.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with SupportsReportOrdering {

  /** Value equality over the scan's IMMUTABLE identity (what it reads
    * and how), so Spark's reuse machinery — ReuseExchange, subquery
    * reuse, and DPP's broadcast-reuse matching, all of which compare
    * canonicalized plans containing the Scan — recognizes two
    * identically-constructed scans of the same table. Mutable runtime
    * state (runtimeFilters, memoized partitions) is deliberately
    * excluded: Spark tracks runtime filters on the exec node, and two
    * scans that read the same data are interchangeable for reuse.
    */
  private def identityKey =
    (paths, tableSchema, requiredSchema, filters.toSeq, options.asCaseSensitiveMap,
      limit, partitionCols)
  override def equals(other: Any): Boolean = other match {
    case o: ColumnFileScan => identityKey == o.identityKey
    case _ => false
  }
  override def hashCode(): Int = identityKey.hashCode()

  /** Runtime (dynamic) filtering: Spark hands us join-key filters (e.g.
    * the In-set of dimension keys that survived the build side) after
    * the build side executes and before our partitions are planned. They
    * join the static filters for stats-based chunk pruning AND task-side
    * evaluation — at 100 TB a selective dimension filter prunes fact
    * chunks without any manual partitioning scheme.
    */
  private var runtimeFilters: Array[Filter] = Array.empty

  // only output columns are valid runtime-filter attributes (Spark
  // resolves them against the scan's pruned output).
  //
  // `runtimeFiltering=false` opts a relation out entirely: for a tiny
  // table (e.g. the IVF router) a runtime filter saves nothing, but its
  // DynamicPruningSubquery rewrites the relation's Filter — which then
  // defeats `sameResult` broadcast-reuse matching for the DPP that
  // MATTERS (the big fact/index side keyed by this table's join column),
  // degrading it to `dynamicpruningexpression(true)`. Dimension-style
  // reads should opt out so their broadcast stays reusable.
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (Option(options.get("runtimeFiltering")).contains("false"))
      Array.empty
    else requiredSchema.fields.map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters.filter(f => FilterEval.evaluable(f, tableSchema))
    // Re-plan so runtime filters prune chunks AND partition directories.
    // This is within the KeyGroupedPartitioning contract: Spark's
    // BatchScanExec explicitly allows runtime filtering to report "a
    // subset of partition values from the original" (it regroups; only
    // NEW values or key-less partitions are errors), and pruning can
    // only ever drop splits — every survivor still carries its key. For
    // a cell-partitioned IVF index this is the production path: the
    // broadcast router relation's runtime In-filter prunes the index to
    // the probed directories before any I/O.
    plannedPartitions = null
  }

  /** Hive-partitioned tables report `KeyGroupedPartitioning` over the
    * partition columns, and every split carries its key
    * (`ColumnFileKeyedPartition`): with v2 bucketing enabled Spark
    * groups splits per key and runs storage-partitioned joins — two cf
    * tables partitioned on the join column join with NO shuffle
    * exchange on either side. At 100 TB that turns the biggest
    * fact-fact join cost into a per-key local join.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (partitionCols.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        planInputPartitions().length)
    else
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        partitionCols.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray,
        planInputPartitions().length)

  /** Reported per-partition output ordering (the reference's sort
    * economics lifted ABOVE the scan: `columnfile-sort.cc:337-342`
    * trusts pre-sorted inputs instead of re-sorting them — this is the
    * same trust, machine-validated). Two sources:
    *
    *  1. Partition columns are CONSTANT within every key-grouped
    *     partition, so a Hive-partitioned table is trivially sorted by
    *     them per partition — always reported, no option needed. This
    *     alone removes both SortExec nodes from a storage-partitioned
    *     sort-merge join on the partition column.
    *  2. DATA-column order, from either of two equivalent declarations
    *     that the physical layout is sorted lexicographically by a
    *     column list (what cfSort, compaction, and the doc-ordered
    *     index writers produce):
    *       - an `orderedBy=<c1>[,<c2>...]` read option, or
    *       - the table's own `_sort_order.json` stamp
    *         ([[SortOrderStamp]], published by writes carrying
    *         `sortedBy=...`) — SELF-DESCRIBING order, discovered with
    *         no read option (`orderedBy=none` opts out).
    *     Either way the declaration is VALIDATED against the
    *     chunk-stats sidecars before anything is reported — a wrong or
    *     stale declaration whose chunk ranges contradict it fails the
    *     query loudly at planning. (Range stats can only refute
    *     INTER-chunk disorder; intra-chunk order is verified at WRITE
    *     time by [[SortedWriteCheck]], the one place rows are seen in
    *     sequence — the two layers together are the trust model, see
    *     [[SortOrderStamp]].) The validation rules:
    *       - every chunk of every data file must carry (min, max)
    *         stats for the leading column with ZERO nulls (null
    *         placement is not provable from range stats), and
    *         consecutive chunks must satisfy prev.max <= next.min
    *         (file-internal order);
    *       - columns past the first are reported only as far as the
    *         chunk stats can PROVE the lexicographic chain: at every
    *         consecutive chunk pair, either some earlier column
    *         strictly increases across the boundary (later columns
    *         are then unconstrained there), or every earlier column is
    *         constant-and-equal across both chunks and the next
    *         column's ranges chain. The report is the longest provable
    *         prefix — a file sorted on c1 only gets exactly the
    *         1-column report (reporting LESS order is always safe:
    *         Spark just keeps its sort);
    *       - splits are file-internal chunk ranges in chunk order, so
    *         per-split order follows from file order for UNPARTITIONED
    *         tables; for key-grouped tables Spark CONCATENATES a key's
    *         splits, so each key directory must hold exactly one data
    *         file small enough to plan as one split.
    *     Pruned columns cut the claim at the first column missing from
    *     the output (nothing to order by there); if the leading column
    *     is pruned no claim is made and validation is skipped.
    */
  // memoized (lazy val): Spark may call outputOrdering() several times
  // during planning, and the stamp discovery + boundary-chain validation
  // behind it cost metadata reads — one resolution per Scan instance
  // (the Scan is scoped to a single query; runtime-filter re-planning
  // only ever DROPS files, and a claim validated over all files holds
  // over any subset, so the memo stays sound)
  private lazy val computedOrdering: Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val outCols = requiredSchema.fieldNames.toSet
    val partPrefix = partitionCols.filter(outCols.contains)
    val (declaredCols, explicit) = orderedByCols
    val visible = declaredCols.takeWhile(outCols.contains)
    val dataCols =
      if (visible.isEmpty) Seq.empty
      else validateOrderedBy(visible, explicit)
    (partPrefix ++ dataCols).map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
  }

  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    computedOrdering

  /** ONE manifest snapshot per Scan under `useManifest`: the
    * discovered claim, the files the validator proves it over, and the
    * files planning schedules must all come from the SAME manifest
    * version — reading them separately lets a racing commit interleave
    * (a claim from version N paired with version N+1's file set, whose
    * new single-chunk unsorted files chunk-range validation cannot
    * refute). `None` per root = manifest absent/unreadable: that root
    * falls back to the directory walk + sidecar stamp, exactly like a
    * walk-mode read.
    */
  private lazy val manifestPin
      : Map[String, Option[(Seq[ManifestFile.Entry], Option[Seq[String]])]] =
    if (!useManifest) Map.empty
    else paths.map(p => p -> ManifestFile.readFull(conf, new Path(p))).toMap

  /** The scan's file listing — pinned to [[manifestPin]]'s snapshot
    * under `useManifest` (same zero-length filter and ordering as
    * [[ColumnFileDataSource.listDataFilesWithRoots]]).
    */
  private def listFiles(): Seq[(Path, org.apache.hadoop.fs.FileStatus)] =
    if (!useManifest)
      ColumnFileDataSource.listDataFilesWithRoots(conf, paths)
    else paths.flatMap { p =>
      val root = new Path(p)
      manifestPin(p) match {
        case Some((entries, _)) =>
          val fs = root.getFileSystem(conf)
          ManifestFile.statuses(fs.makeQualified(root), entries)
        case None =>
          ColumnFileDataSource.listDataFilesWithRoots(conf, Seq(p))
      }
    }.filter(_._2.getLen > 0).sortBy(_._2.getPath.toString)

  /** The declared sort columns and whether they came from an explicit
    * read option (`none` disables any claim) or were discovered from
    * the table's own stamp. Multiple load roots must ALL be stamped to
    * make a discovered claim — the common prefix of their lists (a
    * concat of differently-sorted tables is still per-file sorted by
    * the shared prefix, which the per-file validation then proves or
    * refutes as usual).
    */
  private def orderedByCols: (Seq[String], Boolean) =
    Option(options.get("orderedBy")) match {
      case Some(s) if s.trim.equalsIgnoreCase("none") => (Seq.empty, true)
      case Some(s) =>
        (s.split(",").map(_.trim).filter(_.nonEmpty).toSeq, true)
      case None =>
        // manifest-first under useManifest: the claim rides
        // _manifest.json, taken from the SAME pinned snapshot the
        // validator and planner list files from — zero extra metadata
        // RPCs AND atomic with the file set; a legacy manifest without
        // the claim key, or a walk-mode read, falls back to the
        // _sort_order.json sidecar
        val stamps = paths.map { p =>
          val root = new Path(p)
          val fromManifest: Option[Seq[String]] =
            if (useManifest) manifestPin(p).flatMap(_._2) else None
          fromManifest match {
            case Some(order) => if (order.isEmpty) None else Some(order)
            case None => SortOrderStamp.read(conf, root)
          }
        }
        if (stamps.isEmpty || stamps.exists(_.isEmpty)) (Seq.empty, false)
        else (stamps.map(_.get).reduce((a, b) =>
          a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1)), false)
    }

  /** Prove the declared column list from the chunk-stats sidecars:
    * returns the longest provable prefix — see [[outputOrdering]]. The
    * layout reads are the same memoized per-file sidecar reads
    * planning does anyway.
    *
    * Failure policy: a CONTRADICTED claim (chunk ranges out of order on
    * the leading column, a column the schema no longer has) fails
    * loudly in both modes — a stale stamp or wrong option must never be
    * ignored into silence. An UNPROVABLE-but-uncontradicted claim
    * (nulls, missing ranges) and a layout that cannot safely serve it
    * (multi-file key dirs, files past maxPartitionBytes — Spark would
    * concatenate splits) fail only an EXPLICIT `orderedBy` option (the
    * reader asked for something the table can't give); a discovered
    * stamp downgrades to no claim, because the stamp may be perfectly
    * truthful and merely unexploitable — reporting less order is always
    * safe.
    */
  private def validateOrderedBy(
      cols: Seq[String], declared: Boolean): Seq[String] = {
    cols.find(partitionCols.contains).foreach { c =>
      throw new IllegalArgumentException(
        s"columnfile: orderedBy column '$c' is a partition column — " +
          "partition-column ordering is reported automatically")
    }
    val partSet = partitionCols.toSet
    val dataSchema = StructType(tableSchema.fields.filterNot(f => partSet(f.name)))
    val leaves = CellCodec.flatten(dataSchema)
    val ords = cols.map { c =>
      val ord = leaves.indexWhere(_.name == c)
      if (ord < 0) throw new IllegalArgumentException(
        s"columnfile: orderedBy column '$c' not found in the data schema")
      ord
    }
    def lohi(r: ChunkStatsIndex.Range): (Any, Any) = r match {
      case ChunkStatsIndex.LongRange(lo, hi) => (lo, hi)
      case ChunkStatsIndex.DoubleRange(lo, hi) => (lo, hi)
      case ChunkStatsIndex.StringRange(lo, hi) => (lo, hi)
    }
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
      case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
      // UTF-8 byte order (utf8Cmp), NOT String.compareTo: Spark orders
      // strings by UTF-8 bytes, and UTF-16 code-unit order diverges for
      // supplementary characters vs U+E000..U+FFFF — a truthfully
      // sorted table must never be falsely rejected (or a lying one
      // falsely validated) by comparing in the wrong ordering
      case (x: String, y: String) => Some(ChunkStatsIndex.utf8Cmp(x, y))
      case _ => None
    }
    def leq(a: Any, b: Any): Boolean = cmp(a, b).exists(_ <= 0)
    def lt(a: Any, b: Any): Boolean = cmp(a, b).exists(_ < 0)
    def eqv(a: Any, b: Any): Boolean = cmp(a, b).contains(0)
    val files = listFiles()
    val maxBytes = Option(options.get("maxPartitionBytes"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    def fail(st: org.apache.hadoop.fs.FileStatus, why: String): Nothing =
      throw new IllegalArgumentException(
        s"columnfile: orderedBy=${cols.head} declaration is NOT " +
          s"satisfied by ${st.getPath}: $why (write the table " +
          "doc-ordered — cfSort / compaction — or drop the " +
          "option/stamp)")
    // the claim is the minimum provable prefix across every chunk and
    // chunk boundary of every file; provable == 0 means no claim (and,
    // for an explicit option, a loud failure at the first such cut)
    var provable = cols.length
    files.foreach { case (_, st) =>
      if (provable > 0) {
        val layout = chunkLayout(st)
        // prevRanges(k) = chunk i-1's (lo, hi) for declared column k
        var prevRanges: Array[(Any, Any)] = null
        var bytes = 0L
        layout.zipWithIndex.foreach { case ((_, size, stOpt), i) =>
          if (provable > 0) {
            bytes += size
            val ss = stOpt.getOrElse(fail(st,
              s"chunk $i has no stats sidecar entry"))
            val ranges = new Array[(Any, Any)](provable)
            var k = 0
            while (k < provable) {
              val col = cols(k)
              def cut(why: String): Unit =
                if (k == 0 && declared) fail(st, why) else provable = k
              ss.cols.get(ords(k)) match {
                case None => cut(s"chunk $i carries no stats for '$col'")
                case Some((_, nulls)) if nulls > 0 => cut(
                  s"chunk $i has $nulls nulls in '$col' — null " +
                    "placement is not provable from range stats")
                case Some((None, _)) =>
                  cut(s"chunk $i has no range for '$col'")
                case Some((Some(r), _)) => ranges(k) = lohi(r)
              }
              k += 1
            }
            if (prevRanges != null && provable > 0) {
              // longest prefix whose lexicographic chain this boundary
              // proves: descend while earlier columns are
              // constant-equal across BOTH chunks; a strict increase
              // proves the whole remaining prefix; the last column
              // needs only <=
              var m = 0
              var decided = false
              while (!decided && m < provable) {
                val (plo, phi) = prevRanges(m)
                val (nlo, nhi) = ranges(m)
                if (lt(phi, nlo)) { m = provable; decided = true }
                else if (eqv(plo, phi) && eqv(phi, nlo) &&
                  eqv(nlo, nhi)) m += 1
                else { if (leq(phi, nlo)) m += 1; decided = true }
              }
              // a CONTRADICTED leading column is a refuted claim: loud
              // in both modes — a stale stamp must never be silence
              if (m == 0) fail(st,
                s"chunk ${i - 1}.max > chunk $i.min " +
                  s"(${prevRanges(0)._2} > ${ranges(0)._1}) — the " +
                  s"file is not sorted by '${cols.head}'")
              provable = math.min(provable, m)
            }
            if (provable > 0)
              prevRanges = java.util.Arrays.copyOf(ranges, provable)
          }
        }
        if (provable > 0 && partitionCols.nonEmpty && bytes > maxBytes) {
          if (declared) fail(st,
            s"file is $bytes bytes > maxPartitionBytes=$maxBytes: a " +
              s"key-grouped partition would concatenate multiple splits")
          else provable = 0
        }
      }
    }
    if (provable > 0 && partitionCols.nonEmpty) {
      val byDir = files.groupBy(_._2.getPath.getParent.toString)
      byDir.find(_._2.length > 1).foreach { case (dir, fs) =>
        if (declared) throw new IllegalArgumentException(
          s"columnfile: orderedBy=${cols.head} needs exactly one data " +
            s"file per partition directory (Spark concatenates a key's " +
            s"splits in unspecified order); $dir has ${fs.length} — " +
            "compact it")
        else provable = 0
      }
    }
    cols.take(provable)
  }

  private def allFilters: Array[Filter] = filters ++ runtimeFilters

  /** Per-chunk layout of one file: (headerOffset, dataSize, stats).
    * Planned from the stats sidecar ALONE when it records chunk offsets
    * and a file length matching the listing (one tiny sidecar read, no
    * data-file open — the staleness guard costs nothing because the
    * FileStatus is already in hand); otherwise falls back to the
    * reference-style chunk-header walk.
    */
  // One layout resolution per file per query: estimateStatistics and
  // planInputPartitions both need it, and the Scan instance is scoped to
  // a single query, so memoizing is safe and halves the metadata reads.
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Long, Option[ChunkStatsIndex.ChunkStats])]]()

  private def chunkLayout(
      st: org.apache.hadoop.fs.FileStatus): Seq[(Long, Long, Option[ChunkStatsIndex.ChunkStats])] =
    layoutCache.computeIfAbsent(st.getPath.toString, _ => chunkLayoutUncached(st))

  private def chunkLayoutUncached(
      st: org.apache.hadoop.fs.FileStatus): Seq[(Long, Long, Option[ChunkStatsIndex.ChunkStats])] = {
    val sidecar = ChunkStatsIndex.readWithLen(conf, st.getPath)
    sidecar match {
      case Some((len, ss)) if len == st.getLen &&
          ss.forall(c => c.off >= 0 && c.bytes >= 0) =>
        ss.map(c => (c.off, c.bytes, Some(c)))
      case _ =>
        val in = new HadoopSeekableInput(
          st.getPath.getFileSystem(conf), st.getPath, st.getLen)
        try {
          val chunks = ColumnFileReader.scanChunks(in)
          val stats = sidecar.map(_._2).filter(_.length == chunks.length)
          chunks.zipWithIndex.map { case (c, i) =>
            (c.headerOffset, c.dataSize, stats.map(_(i)))
          }
        } finally in.close()
    }
  }

  /** Size/row estimates for the planner (drives broadcast-join choice
    * for columnfile tables): compressed bytes + rows from the stats
    * sidecars (header walk only for sidecar-less files, parallel across
    * files).
    */
  /** `useManifest=true`: plan from `_manifest.json` instead of walking
    * directories — zero listing RPCs (see [[ManifestFile]] trust model).
    */
  private def useManifest: Boolean =
    Option(options.get("useManifest")).exists(_.toBoolean)

  override def estimateStatistics(): Statistics = {
    val files = listFiles().map(_._2)
    val layouts = ColumnFileDataSource.mapFilesParallel(files)(chunkLayout)
    val bytes = layouts.iterator.flatten.map(_._2).sum
    val rowsKnown = layouts.iterator.flatten.forall(_._3.isDefined)
    val rows = layouts.iterator.flatten.flatMap(_._3).map(_.rows).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        if (rowsKnown) java.util.OptionalLong.of(rows)
        else java.util.OptionalLong.empty()
    }
  }

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ColumnFileMicroBatchStream(
      paths, tableSchema, filters, conf, checkpointLocation, useManifest,
      positiveOption("maxFilesPerTrigger", _.toInt),
      positiveOption("maxBytesPerTrigger", _.toLong))

  /** Admission-control options must be positive: zero or negative would
    * admit nothing and silently stall the stream forever.
    */
  private def positiveOption[N](name: String, parse: String => N)
      (implicit num: Numeric[N]): Option[N] =
    Option(options.get(name)).map { raw =>
      val v = try parse(raw) catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"columnfile: invalid $name='$raw' (must be a positive number)")
      }
      if (num.lteq(v, num.zero)) throw new IllegalArgumentException(
        s"columnfile: $name must be positive, got $raw")
      v
    }

  override def description(): String = {
    val f = if (filters.isEmpty) "" else filters.mkString(", ")
    val l = if (limit >= 0) s", PushedLimit: $limit" else ""
    s"columnfile ${paths.mkString(",")} PushedFilters: [$f]$l, " +
      s"ReadSchema: ${requiredSchema.catalogString}"
  }

  /** Driver-side planning: resolve each file's chunk layout (from the
    * stats sidecar alone when it carries offsets — no data-file opens —
    * else a header walk; parallel across files either way), prune chunks
    * whose min/max stats prove the pushed filters match nothing (Parquet
    * row-group pruning analog — see ChunkStatsIndex), and pack surviving
    * consecutive chunks into partitions of ~`maxPartitionBytes`. At
    * 100 TB this yields one task per ~128 MB of *surviving* chunk data;
    * a selective predicate over sorted data schedules a handful of tasks
    * instead of thousands, and the driver does one small metadata read
    * per file instead of thousands of sequential chunk-header walks.
    */
  // memoized: outputPartitioning needs the partition count and Spark may
  // call planInputPartitions more than once; invalidated by runtime
  // filters (filter() above)
  @volatile private var plannedPartitions: Array[InputPartition] = null

  override def planInputPartitions(): Array[InputPartition] = {
    val cached = plannedPartitions
    if (cached != null) return cached
    val planned = doPlanInputPartitions()
    plannedPartitions = planned
    planned
  }

  private def doPlanInputPartitions(): Array[InputPartition] = {
    val maxBytes = Option(options.get("maxPartitionBytes"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    val partSet = partitionCols.toSet
    val partSchema = StructType(
      partitionCols.map(c => tableSchema(tableSchema.fieldIndex(c))))
    val dataSchema = StructType(tableSchema.fields.filterNot(f => partSet(f.name)))
    val leaves = CellCodec.flatten(dataSchema)
    val leafIndex = leaves.zipWithIndex.map { case (l, i) => (l.name, i) }.toMap
    val leafType = leaves.map(l => (l.name, l.dataType)).toMap
    // bounds over partition columns: constant per file => directory prune
    val partLeafIndex = partitionCols.zipWithIndex.toMap
    val partBounds = allFilters.flatMap(f =>
      FilterEval.bind(f, partSchema, partLeafIndex))
    val files = listFiles()
    // Per-file metadata resolution + chunk pruning runs on the parallel
    // pool; the final packing is sequential so partition order stays
    // deterministic.
    val planned: Seq[Option[(org.apache.hadoop.fs.FileStatus, Seq[String], Array[Any], Seq[(Long, Long, Long)])]] =
      ColumnFileDataSource.mapFilesParallel(files) { case (root, st) =>
        val rawVals: Seq[String] =
          PartitionLayout.valuesFor(root, st.getPath, partitionCols)
        val keyVals: Array[Any] = partitionCols.indices.map { i =>
          PartitionLayout.parse(partSchema.fields(i).dataType, rawVals(i))
        }.toArray
        val partCells: Array[Array[Byte]] = partitionCols.indices.map { i =>
          val v = keyVals(i)
          if (v == null) null
          else CellCodec.encode(partSchema.fields(i).dataType, v)
        }.toArray
        val dirPruned = partBounds.exists(b => !b.eval(partCells(b.col)))
        if (dirPruned) None
        else {
          val surviving = chunkLayout(st).collect {
            case (off, size, stOpt)
                if !(allFilters.nonEmpty && stOpt.exists(ss =>
                  allFilters.exists(f =>
                    ChunkStatsIndex.provesEmpty(f, ss, leafIndex, leafType)))) =>
              (off, size, stOpt.map(_.rows).getOrElse(-1L))
          }
          Some((st, rawVals, keyVals, surviving))
        }
      }
    val parts = mutable.ArrayBuffer.empty[InputPartition]
    planned.flatten.foreach { case (st, rawVals, keyVals, chunks) =>
      // rows ride along only when known for EVERY chunk of the split
      // (mixed known/unknown would misalign the reader's fallback)
      def emit(offsets: Array[Long], rows: Array[Long]): Unit = {
        val chunkRows = if (rows.forall(_ >= 0)) rows else Array.empty[Long]
        parts +=
          (if (partitionCols.isEmpty)
            ColumnFilePartition(st.getPath.toString, st.getLen, offsets,
              rawVals.toArray, chunkRows)
          else
            ColumnFileKeyedPartition(st.getPath.toString, st.getLen, offsets,
              rawVals.toArray, keyVals, chunkRows))
      }
      var acc = mutable.ArrayBuffer.empty[Long]
      var accRows = mutable.ArrayBuffer.empty[Long]
      var accBytes = 0L
      chunks.foreach { case (off, size, rows) =>
        if (acc.nonEmpty && accBytes + size > maxBytes) {
          emit(acc.toArray, accRows.toArray)
          acc = mutable.ArrayBuffer.empty[Long]
          accRows = mutable.ArrayBuffer.empty[Long]
          accBytes = 0L
        }
        acc += off
        accRows += rows
        accBytes += size
      }
      if (acc.nonEmpty) emit(acc.toArray, accRows.toArray)
    }
    parts.toArray
  }

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    ScanMetrics.all

  /** `onCorrupt=skip` drops chunks whose DECODE proves corrupt (clean
    * `CorruptColumnFileException`s only) instead of failing the task,
    * counting them in the `cfCorruptChunks` metric — the 100 TB
    * backfill-over-aging-storage trade, opt-in and observable, never
    * silent. Planning corruption (a file whose chunk walk fails, absent
    * a sidecar) still fails: there is no row boundary to resume at.
    */
  private def onCorruptSkip: Boolean =
    Option(options.get("onCorrupt")) match {
      case None | Some("fail") => false
      case Some("skip")        => true
      case Some(other) => throw new IllegalArgumentException(
        s"onCorrupt must be 'fail' or 'skip', got '$other'")
    }

  /** `vectorize=false` forces the row reader (the Parquet
    * `enableVectorizedReader` analog): an escape hatch for debugging a
    * suspect batched read against the row path's answer, and the hook
    * tests use to keep covering the row reader now that every
    * non-variant projection vectorizes.
    */
  private def vectorizeEnabled: Boolean =
    Option(options.get("vectorize")).forall(_.toBoolean)

  override def createReaderFactory(): PartitionReaderFactory =
    new ColumnFileReaderFactory(
      tableSchema, requiredSchema, allFilters,
      ColumnFileDataSource.broadcastConf(conf), limit, partitionCols,
      onCorruptSkip, vectorizeEnabled)
}

class ColumnFileReaderFactory(
    tableSchema: StructType,
    requiredSchema: StructType,
    filters: Array[Filter],
    conf: Broadcast[SerializableConfiguration],
    limit: Int = -1,
    partitionCols: Seq[String] = Seq.empty,
    onCorruptSkip: Boolean = false,
    vectorize: Boolean = true)
    extends PartitionReaderFactory {

  @transient private lazy val partSet = partitionCols.toSet
  // physical (stored) schemas: partition columns live in dir names only
  @transient private lazy val dataTableSchema =
    StructType(tableSchema.fields.filterNot(f => partSet(f.name)))
  @transient private lazy val dataRequiredSchema =
    StructType(requiredSchema.fields.filterNot(f => partSet(f.name)))

  /** Vectorized for every projection except variant ELEMENTS inside
    * collections — atomics, decimals, variants-as-columns, structs,
    * arrays, maps, and nested combinations all batch; see
    * ColumnFileColumnarReader.vectorizable. `vectorize=false` opts a
    * read out entirely.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorize && ColumnFileColumnarReader.vectorizable(requiredSchema)

  /** Per-required-field source: Right(dataOrdinal) or Left(constant
    * Catalyst value parsed from the partition's directory values).
    */
  private def fieldSources(p: CfPartition): Array[Either[Any, Int]] = {
    val dataIdx = dataRequiredSchema.fields.map(_.name).zipWithIndex.toMap
    val partIdx = partitionCols.zipWithIndex.toMap
    requiredSchema.fields.map { f =>
      dataIdx.get(f.name) match {
        case Some(i) => Right(i)
        case None =>
          val raw = p.partitionValues(partIdx(f.name))
          Left(PartitionLayout.parse(f.dataType, raw))
      }
    }
  }

  // `conf.value.value` is ONE Configuration per executor JVM, shared by
  // every concurrent task of this factory (ColumnFileDataSource
  // .broadcastConf): both readers below must treat it as read-only; a
  // set() would leak into the other tasks' scans.
  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[CfPartition]
    val inner = new ColumnFileColumnarPartitionReader(
      p, dataTableSchema, dataRequiredSchema, filters, conf.value.value, limit,
      onCorruptSkip)
    if (partitionCols.isEmpty ||
        requiredSchema.fields.forall(f => !partSet(f.name))) inner
    else new PartitionConstantColumnarReader(
      inner, requiredSchema, fieldSources(p))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CfPartition]
    val inner = new ColumnFilePartitionReader(
      p, dataTableSchema, dataRequiredSchema, filters, conf.value.value, limit,
      onCorruptSkip)
    if (partitionCols.isEmpty ||
        requiredSchema.fields.forall(f => !partSet(f.name))) inner
    else new PartitionConstantRowReader(inner, fieldSources(p),
      dataRequiredSchema.fields.map(_.dataType))
  }
}

/** Merges constant partition values into each row at their required
  * ordinals (values parse once per task, not per row).
  */
class PartitionConstantRowReader(
    inner: PartitionReader[InternalRow],
    sources: Array[Either[Any, Int]],
    dataTypes: Array[DataType])
    extends PartitionReader[InternalRow] {
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = {
    val dataRow = inner.get()
    val out = new Array[Any](sources.length)
    var i = 0
    while (i < sources.length) {
      out(i) = sources(i) match {
        case Right(o) =>
          if (dataRow.isNullAt(o)) null else dataRow.get(o, dataTypes(o))
        case Left(c) => c
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }
  override def close(): Unit = inner.close()
  override def currentMetricsValues() = inner.currentMetricsValues()
}

/** Wraps data batches with constant partition-column vectors. */
class PartitionConstantColumnarReader(
    inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    requiredSchema: StructType,
    sources: Array[Either[Any, Int]])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val cap = ColumnFileColumnarReader.RowsPerBatch
  // constant vectors filled once to full capacity and reused per batch
  private val constVectors: Array[ColumnVector] = sources.zipWithIndex.map {
    case (Left(c), i) =>
      val v = new OnHeapColumnVector(cap, requiredSchema.fields(i).dataType)
      var r = 0
      while (r < cap) {
        if (c == null) v.putNull(r)
        else requiredSchema.fields(i).dataType match {
          case LongType    => v.putLong(r, c.asInstanceOf[Long])
          case IntegerType | DateType => v.putInt(r, c.asInstanceOf[Int])
          case ShortType   => v.putShort(r, c.asInstanceOf[Short])
          case ByteType    => v.putByte(r, c.asInstanceOf[Byte])
          case BooleanType => v.putBoolean(r, c.asInstanceOf[Boolean])
          case StringType  =>
            val b = c.asInstanceOf[UTF8String].getBytes
            v.putByteArray(r, b, 0, b.length)
          case other => throw new IllegalStateException(s"partition type $other")
        }
        r += 1
      }
      v: ColumnVector
    case (Right(_), _) => null
  }

  override def next(): Boolean = inner.next()
  override def get(): ColumnarBatch = {
    val dataBatch = inner.get()
    val cols = sources.zipWithIndex.map {
      case (Right(o), _) => dataBatch.column(o)
      case (Left(_), i)  => constVectors(i)
    }
    new ColumnarBatch(cols, dataBatch.numRows())
  }
  override def close(): Unit = {
    constVectors.foreach(v => if (v != null) v.close())
    inner.close()
  }
  override def currentMetricsValues() = inner.currentMetricsValues()
}

/** Reads the chunks of one partition with projection pushdown, filter
  * evaluation, and chunk skipping:
  *
  *  1. decode only the filter columns of a chunk;
  *  2. if no row survives, the remaining selected columns of that chunk
  *     are never read or decompressed (late materialization — reference:
  *     src/columnfile-select.cc:90-176);
  *  3. otherwise decode the selected columns, skipping non-survivor runs.
  */
class ColumnFilePartitionReader(
    partition: CfPartition,
    tableSchema: StructType,
    requiredSchema: StructType,
    filters: Array[Filter],
    conf: Configuration,
    limit: Int = -1,
    onCorruptSkip: Boolean = false)
    extends PartitionReader[InternalRow] {

  private var emitted = 0L
  private[spark] val metrics = new ScanMetrics.Task
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    metrics.current

  private val allLeaves = CellCodec.flatten(tableSchema)
  private val leafIndexByName: Map[String, Int] =
    allLeaves.zipWithIndex.map { case (l, i) => (l.name, i) }.toMap

  // Physical columns needed for output (in required-schema leaf order).
  private val outLeaves: IndexedSeq[(Int, CellCodec.Leaf)] =
    CellCodec.flatten(requiredSchema).map { l =>
      val idx = leafIndexByName.getOrElse(l.name,
        throw new IllegalArgumentException(s"unknown column ${l.name}"))
      (idx, allLeaves(idx))
    }

  // Filter evaluators, grouped by the physical column they touch.
  private val filterEvals: Array[FilterEval.Bound] =
    filters.flatMap(f => FilterEval.bind(f, tableSchema, leafIndexByName))
  private val filterCols: Array[Int] = filterEvals.map(_.col).distinct.sorted

  private val path = new Path(partition.filePath)
  private val input = new HadoopSeekableInput(
    path.getFileSystem(conf), path, partition.fileLen)

  private var chunkIdx = 0
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  /** Re-throws unless permissive; permissive counts the chunk and the
    * caller drops the REST of it (rows already emitted from the chunk
    * before the corrupt point stand — best-effort salvage, documented).
    */
  private def corruptChunk(e: CorruptColumnFileException): Unit = {
    if (!onCorruptSkip) throw e
    metrics.corruptChunks += 1
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      val has =
        try rows.hasNext
        catch { case e: CorruptColumnFileException =>
          corruptChunk(e); rows = Iterator.empty; false }
      if (has) {
        try {
          current = rows.next()
          emitted += 1
          return true
        } catch { case e: CorruptColumnFileException =>
          corruptChunk(e); rows = Iterator.empty }
      } else {
        if (chunkIdx >= partition.chunkOffsets.length) return false
        rows =
          try openChunk(chunkIdx)
          catch { case e: CorruptColumnFileException =>
            corruptChunk(e); Iterator.empty }
        chunkIdx += 1
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = input.close()

  private def openChunk(idx: Int): Iterator[InternalRow] = {
    val info = ColumnFileReader.readChunkHeader(
      input, partition.chunkOffsets(idx), partition.fileLen)

    /** Exact chunk row count: from the sidecar (free) when planned with
      * one, else an exact decode-walk count (foreign sidecar-less files
      * only). Makes results projection-independent on ragged chunks —
      * a chunk always yields its true row count, null-padding columns
      * that end early (reference row assembly zips until ALL columns
      * are exhausted, src/columnfile-reader.cc:416-445).
      */
    lazy val exactRows: Int = {
      val known = partition.knownRows(idx)
      if (known >= 0) known.toInt
      else ColumnFileReader.countRows(input, info)
    }

    // Pass 1: decode filter columns only; build the survivor bitmap.
    var survivors: java.util.BitSet = null
    val rowCount = exactRows
    if (filterCols.nonEmpty) {
      val wanted = new java.util.HashSet[Integer]()
      filterCols.foreach(c => wanted.add(c))
      val decoders = ColumnFileReader.openChunk(input, info, wanted)
      // dictionary-aware shared pass: predicates evaluate once per dict
      // entry on dict-encoded columns, and an unsatisfiable filter skips
      // the chunk before the row loop
      survivors = FilterEval.survivorBitmap(decoders, filterEvals, rowCount)
      if (survivors.isEmpty) {
        metrics.chunksSkipped += 1
        return Iterator.empty // chunk skipped
      }
    }

    // Pass 2: decode the output columns.
    metrics.chunksRead += 1
    metrics.decodedBytes += info.fields.iterator.map(_._2).sum
    val neededCols = outLeaves.map(_._1)
    val wanted = new java.util.HashSet[Integer]()
    neededCols.foreach(c => wanted.add(c))
    val decoders = ColumnFileReader.openChunk(input, info, wanted)
    val decoderByCol: Map[Int, ColumnDecoder] = decoders.toMap

    if (neededCols.isEmpty) {
      // Projection is empty (e.g. residual count): survivors if filtered,
      // else the exact chunk row count.
      val n = if (survivors != null) survivors.cardinality() else rowCount
      return Iterator.fill(n)(InternalRow.empty)
    }

    val colDecoders: IndexedSeq[ColumnDecoder] =
      outLeaves.map { case (c, _) => decoderByCol.getOrElse(c, null) }

    // Cells arrive in required-schema leaf order, which is exactly the
    // order CellCodec.assemble consumes them in.
    def assembleRow(): InternalRow = {
      val reqCells = new Array[Array[Byte]](outLeaves.length)
      var i = 0
      while (i < outLeaves.length) {
        val dec = colDecoders(i)
        reqCells(i) = if (dec != null && dec.hasNext) dec.next() else null
        i += 1
      }
      CellCodec.assemble(requiredSchema, reqCells)
    }

    if (survivors == null) {
      // Unfiltered scan: exactly rowCount rows, null-padding short columns.
      new Iterator[InternalRow] {
        private var row = 0
        override def hasNext: Boolean = row < rowCount
        override def next(): InternalRow = { row += 1; assembleRow() }
      }
    } else {
      val bitmap = survivors
      val total = rowCount
      new Iterator[InternalRow] {
        private var row = 0
        private def advanceToSurvivor(): Unit = {
          val nxt = bitmap.nextSetBit(row)
          val target = if (nxt < 0) total else nxt
          if (target > row) {
            val skip = (target - row).toLong
            colDecoders.foreach(d => if (d != null && d.hasNext) d.skip(skip))
            row = target
          }
        }
        override def hasNext: Boolean = { advanceToSurvivor(); row < total }
        override def next(): InternalRow = {
          advanceToSurvivor()
          row += 1
          assembleRow()
        }
      }
    }
  }
}
