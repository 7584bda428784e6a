package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Row-level DELETE for columnfile tables
  * (`SupportsDelete.deleteWhere`) — the takedown primitive a
  * training-data pipeline needs (opt-out requests, license
  * revocations): files are immutable, so deletion is either file
  * truncation or the reference's recompress-copy rewrite
  * (tools/columnfile-cat.cc:328-341 — read, drop, rewrite), never an
  * in-place mutation.
  *
  * Two plans, chosen from the predicate:
  *
  *  1. PARTITION TRUNCATE — every conjunct is exactly decidable from
  *     partition values alone ([[PartitionFilterEval]], the INSERT
  *     OVERWRITE contract): matching files are deleted outright; no
  *     row is read. The table's sort-order claim survives (removing
  *     whole files cannot break per-file order).
  *  2. STATS-DIRECTED CHUNK-REWRITE (unpartitioned tables) — the
  *     chunk-stats sidecars first prove which files CANNOT hold a
  *     matching row (min/max + Bloom, the scan's own pruning); only
  *     the affected files are rewritten, by a DISTRIBUTED Spark job
  *     (read survivors → write fresh files), so a selective delete
  *     over doc-ordered data rewrites a handful of files out of
  *     thousands — at 100 TB the rewrite cost tracks the delete's
  *     selectivity, not the table size. The rewrite drops the
  *     sort-order claim (rewritten files are new, unvouched files —
  *     conservative; the next compaction re-stamps).
  *
  *  3. PARTITIONED ROW-LEVEL — each top-level conjunct must reference
  *     either only partition columns (evaluated exactly, per file,
  *     from its directory values: any FALSE/UNKNOWN conjunct makes
  *     the whole AND un-satisfiable for every row of the file —
  *     untouched) or only data columns (the rewrite's keep filter);
  *     surviving files get plan 2's stats-directed rewrite per
  *     partition directory, rewritten files landing back in their
  *     directory. A conjunct MIXING partition and data columns (e.g.
  *     `lang = 'l1' OR id = 3`) is not per-file decidable and is
  *     rejected.
  *
  * Anything else — a predicate outside the translatable filter
  * algebra, a mixed conjunct — is rejected at `canDeleteWhere`,
  * loudly: bulk takedowns against relations (id sets too large for a
  * predicate) propagate through the family's next compaction instead
  * (the takedown relation anti-joined at the repack — see q78).
  *
  * DELETE keeps rows whose predicate is FALSE or NULL (SQL semantics:
  * only TRUE rows are removed) — the keep filter is
  * `NOT coalesce(pred, false)`.
  *
  * Reader visibility: same discipline as INSERT OVERWRITE — new files
  * land first, victims are deleted at the end, and the manifest
  * replace is atomic, so `useManifest` readers see the old or the new
  * table; walk readers racing the commit can observe the overlap
  * window (the file-store trade; a catalog commit protocol is the
  * upgrade path).
  */
object ColumnFileDelete {

  /** v1 Filter -> Column, for the rewrite's keep-filter. Names resolve
    * against the scan's output (nested fields dotted, like pushdown).
    */
  private[spark] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r)  => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(c)    => toColumn(c).map(not)
    case AlwaysTrue()  => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  private def partitionComplete(filters: Array[Filter],
      partitionCols: Seq[String], schema: StructType): Boolean =
    partitionCols.nonEmpty &&
      filters.forall(f =>
        PartitionFilterEval.supported(f, partitionCols.toSet, schema))

  private def truncateAll(filters: Array[Filter]): Boolean =
    filters.isEmpty || filters.forall(_ == AlwaysTrue())

  /** Per-conjunct classification for partitioned row-level deletes:
    * (partition-only conjuncts, data-only conjuncts), or None when a
    * conjunct mixes the two (not per-file decidable) or is outside the
    * supported algebra.
    */
  private def splitConjuncts(filters: Array[Filter],
      partitionCols: Seq[String], schema: StructType)
      : Option[(Array[Filter], Array[Filter])] = {
    val partSet = partitionCols.toSet
    val part = Array.newBuilder[Filter]
    val data = Array.newBuilder[Filter]
    val ok = filters.forall { f =>
      val refs = f.references.toSet
      if (refs.subsetOf(partSet)) {
        part += f
        PartitionFilterEval.supported(f, partSet, schema)
      } else if (refs.intersect(partSet).isEmpty && toColumn(f).isDefined) {
        data += f; true
      } else false
    }
    if (ok) Some((part.result(), data.result())) else None
  }

  def canDelete(filters: Array[Filter], schema: StructType,
      partitionCols: Seq[String]): Boolean =
    truncateAll(filters) ||
      partitionComplete(filters, partitionCols, schema) ||
      (partitionCols.isEmpty && filters.forall(f => toColumn(f).isDefined)) ||
      (partitionCols.nonEmpty &&
        splitConjuncts(filters, partitionCols, schema).isDefined)

  /** Write options a rewrite re-applies to the files it produces, so a
    * delete does not silently strip the table's encodings, blooms,
    * compression, or chunk sizing (the catalog table passes its own
    * creation options through).
    */
  private val RewriteOpts = Seq(
    "compression", "dictionary", "bitpack", "bloom", "targetChunkBytes")

  def delete(paths: Seq[String], schema: StructType, conf: Configuration,
      partitionCols: Seq[String], filters: Array[Filter],
      writeOpts: Map[String, String] = Map.empty): Unit = {
    if (!canDelete(filters, schema, partitionCols))
      throw new UnsupportedOperationException(
        s"columnfile: DELETE predicate [${filters.mkString(", ")}] is " +
          "not per-file decidable plus rewritable (a conjunct mixes " +
          "partition and data columns, or falls outside the filter " +
          "algebra) — route bulk takedowns through the table's " +
          "compaction (takedown anti-join) instead")
    paths.foreach { p =>
      val root = new Path(p)
      val fs = root.getFileSystem(conf)
      if (truncateAll(filters) ||
          partitionComplete(filters, partitionCols, schema))
        truncatePlan(fs, root, conf, schema, partitionCols, filters)
      else {
        val (partFs, dataFs) =
          if (partitionCols.isEmpty) (Array.empty[Filter], filters)
          else splitConjuncts(filters, partitionCols, schema).get
        rewrite(fs, root, conf, schema, partitionCols, partFs, dataFs,
          writeOpts.view.filterKeys(k =>
            RewriteOpts.exists(_.equalsIgnoreCase(k))).toMap)
      }
    }
  }

  /** Plan 1: whole-file victims from exact partition-value evaluation
    * (or a full truncate). No data is read; the sort claim survives.
    */
  private def truncatePlan(fs: FileSystem, root: Path, conf: Configuration,
      schema: StructType, partitionCols: Seq[String],
      filters: Array[Filter]): Unit = {
    val partSchema = StructType(partitionCols.map(c => schema(c)))
    val files = ColumnFileDataSource
      .listDataFilesWithRoots(conf, Seq(root.toString), useManifest = false)
    val victims = files.filter { case (r, st) =>
      truncateAll(filters) || {
        val raw = PartitionLayout.valuesFor(r, st.getPath, partitionCols)
        val values: Map[String, Any] = partitionCols.zipWithIndex.map {
          case (c, i) =>
            c -> PartitionLayout.parse(partSchema.fields(i).dataType, raw(i))
        }.toMap
        PartitionFilterEval.matches(filters.toSeq, values, partSchema)
      }
    }
    if (victims.isEmpty) return
    // whole-file deletion preserves any sort-order claim: per-file
    // order is untouched and one-file-per-key-dir can only stay true.
    // The prior claim comes from the prior manifest UNDER the lock
    // (the racing-committer discipline); the sidecar read covers only
    // legacy files-only manifests. STRICT read, taken BEFORE anything
    // is deleted: a malformed stamp reads as no-claim
    // (IllegalArgumentException), but a transient IO failure aborts
    // the truncate while the table is still fully intact — it must
    // neither silently drop a truthful claim nor strand the manifest.
    val sidecarPrior = try SortOrderStamp.read(conf, root, strict = true)
      catch { case _: IllegalArgumentException => None }
    val removedRels =
      victims.map { case (_, st) => ManifestFile.relativize(root, st.getPath) }
    // Manifest FIRST, physical deletes after: a crash in between leaves
    // orphaned victim files outside the manifest (walk readers see them
    // until the next run; a re-run of the same truncate is idempotent
    // and removes them), whereas the old delete-first order left the
    // manifest referencing deleted files — manifest readers failed on
    // open until a later commit healed it.
    ManifestFile.replace(conf, root, removedRels, Seq.empty,
      (_, manifestPrior) =>
        manifestPrior.orElse(sidecarPrior).getOrElse(Seq.empty))
    victims.foreach { case (_, st) => deleteDataFile(fs, st.getPath) }
    ()
  }

  /** Plans 2/3: stats-directed distributed rewrite of exactly the
    * files that might hold a matching row, grouped by partition
    * directory (an unpartitioned table is the one-group case).
    *
    * Admission: a file is a rewrite candidate iff every partition
    * conjunct is exactly TRUE on its directory values (a FALSE or
    * UNKNOWN conjunct makes the AND unsatisfiable for every row the
    * file holds) and the data conjuncts are not refuted by its chunk
    * stats. Stored data never carries partition columns, so the
    * rewrite reads and writes the DATA schema and rewritten files land
    * back in their own partition directory.
    *
    * Listing is the DIRECTORY TRUTH (never the manifest): a takedown
    * must reach matching rows wherever they physically live, including
    * orphan files a crashed commit left outside the manifest; the
    * final manifest replace then heals such orphans' surviving rows
    * into the manifest (the same walk-bootstrap philosophy as
    * [[ManifestFile.append]] — a listing that silently missed data
    * files would be worse than one that surfaces them).
    *
    * One Spark job for all groups: each group's files are read with a
    * group ordinal attached and the kept rows are written
    * `partitionBy` that ordinal into a dot-tmp directory, whose
    * per-group outputs are then renamed into the real partition
    * directories — N scattered directories cost one job, not N.
    *
    * Crash discipline: the sort claim (sidecar) is cleared BEFORE any
    * new file is published — rewritten files carry no order claim, and
    * a crash anywhere in the publish leaves the table claim-less
    * rather than under a stale claim over unsorted rewritten rows; the
    * final manifest replace clears the manifest-carried claim (and
    * re-clears the sidecar mirror) under the commit lock.
    */
  private def rewrite(fs: FileSystem, root: Path,
      conf: Configuration, schema: StructType, partitionCols: Seq[String],
      partFs: Array[Filter], dataFs: Array[Filter],
      writeOpts: Map[String, String]): Unit = {
    val partSet = partitionCols.toSet
    val partSchema = StructType(partitionCols.map(c => schema(c)))
    val dataSchema = StructType(schema.fields.filterNot(f => partSet(f.name)))
    val leaves = CellCodec.flatten(dataSchema)
    val leafIndex = leaves.zipWithIndex.map { case (l, i) => (l.name, i) }.toMap
    val leafType = leaves.map(l => (l.name, l.dataType)).toMap
    val evaluable = dataFs.filter(f => FilterEval.evaluable(f, dataSchema))
    val files = ColumnFileDataSource
      .listDataFilesWithRoots(conf, Seq(root.toString), useManifest = false)
    // a file is provably untouched iff EVERY chunk has sidecar stats
    // and some data conjunct proves the chunk empty (conjunct false =>
    // the whole AND is false for every row of the chunk)
    val affected = ColumnFileDataSource.mapFilesParallel(files) {
      case (r, st) =>
        val partTrue = partFs.isEmpty || {
          val raw = PartitionLayout.valuesFor(r, st.getPath, partitionCols)
          val values: Map[String, Any] = partitionCols.zipWithIndex.map {
            case (c, i) =>
              c -> PartitionLayout.parse(partSchema.fields(i).dataType, raw(i))
          }.toMap
          PartitionFilterEval.matches(partFs.toSeq, values, partSchema)
        }
        if (!partTrue) None
        else {
          val untouched = evaluable.nonEmpty &&
            (ChunkStatsIndex.readWithLen(conf, st.getPath) match {
              case Some((len, ss)) if len == st.getLen && ss.nonEmpty =>
                ss.forall(cs => evaluable.exists(f =>
                  ChunkStatsIndex.provesEmpty(f, cs, leafIndex, leafType)))
              case _ => false // no/stale sidecar: must rewrite
            })
          if (untouched) None else Some(st)
        }
    }.flatten
    if (affected.isEmpty) return

    // claim cleared BEFORE any publish (see the crash discipline above)
    SortOrderStamp.clear(conf, root)

    val spark = SparkSession.active
    val cond = dataFs.flatMap(toColumn).reduce(_ && _)
    val keep = not(coalesce(cond, lit(false)))
    val grpCol = "__cf_delete_grp"
    require(!dataSchema.fieldNames.contains(grpCol),
      s"columnfile: DELETE rewrite helper column $grpCol collides")
    val groups: Seq[(Path, Seq[org.apache.hadoop.fs.FileStatus])] =
      affected.groupBy(_.getPath.getParent.toString).toSeq.sortBy(_._1)
        .map { case (_, sts) => (sts.head.getPath.getParent, sts) }
    val tmp = new Path(root,
      s".delete-tmp-${java.util.UUID.randomUUID().toString}")
    groups.zipWithIndex.map { case ((_, sts), gi) =>
      spark.read.format("columnfile").schema(dataSchema)
        .load(sts.map(_.getPath.toString): _*)
        .filter(keep)
        .withColumn(grpCol, lit(gi))
    }.reduce(_ union _)
      .write.format("columnfile").options(writeOpts)
      .partitionBy(grpCol).mode("overwrite").save(tmp.toString)

    // publish: move the rewritten data files (and their stats sidecars)
    // into their partition directories, delete the victims, then swap
    // the manifest atomically — the INSERT OVERWRITE discipline
    val moved = groups.zipWithIndex.flatMap { case ((dir, _), gi) =>
      val grpDir = new Path(tmp, s"$grpCol=$gi")
      val out =
        if (!fs.exists(grpDir)) Seq.empty // group kept no rows
        else fs.listStatus(grpDir)
          .filter(_.getPath.getName.endsWith(ColumnFileDataSource.FileExtension))
          .map { st =>
            val dest = new Path(dir, st.getPath.getName)
            if (!fs.rename(st.getPath, dest))
              throw new java.io.IOException(
                s"columnfile: DELETE could not publish ${st.getPath} -> $dest")
            val side = new Path(grpDir,
              "." + st.getPath.getName + ChunkStatsIndex.Suffix)
            // fail fast like the data-file rename above: a silently
            // dropped sidecar would publish a data file without its
            // bloom/stats, stripping the pruning the RewriteOpts
            // whitelist exists to preserve
            if (fs.exists(side) &&
                !fs.rename(side, new Path(dir, side.getName)))
              throw new java.io.IOException(
                s"columnfile: DELETE could not publish stats sidecar " +
                  s"$side -> $dir")
            ManifestFile.entryFor(conf, root, dest)
          }.toSeq
      out
    }
    val removedRels = affected.map { st =>
      deleteDataFile(fs, st.getPath)
      ManifestFile.relativize(root, st.getPath)
    }
    ManifestFile.replace(conf, root, removedRels, moved,
      mirrorSidecar = true)
    try { fs.delete(tmp, true); () } catch { case _: Exception => }
  }


  /** fs.delete can fail by returning false — fail the operation rather
    * than leave a deleted row visible to walk readers (the overwrite
    * path's rule). */
  private def deleteDataFile(fs: FileSystem, p: Path): Unit = {
    if (!fs.delete(p, false) && fs.exists(p))
      throw new java.io.IOException(
        s"columnfile: DELETE failed to remove $p; aborting before the " +
          "manifest update")
    val sidecar = new Path(p.getParent, "." + p.getName + ChunkStatsIndex.Suffix)
    try { fs.delete(sidecar, false); () } catch { case _: Exception => }
  }
}
