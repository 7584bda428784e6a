package graft.spark

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.format.ColumnFileReader

object ColumnFileDataSource {
  val ShortName = "columnfile"
  val FileExtension = ".cf"
  val SchemaSidecar = "_schema.json"

  /** Ships a Hadoop conf to tasks the way Spark's own file sources do:
    * one broadcast per factory, decoded once per executor JVM and
    * released by Spark's ContextCleaner when the factory is gone. Every
    * task on an executor shares that one decoded Configuration, so
    * readers and writers must treat `value.value` as read-only.
    */
  def broadcastConf(conf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))

  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    // `load(p1, p2, ...)` arrives as a Jackson-written JSON array
    // (Spark's FileDataSourceV2.getPaths parses it the same way)
    val multi = Option(options.get("paths")).toSeq.flatMap(json =>
      new ObjectMapper().readValue(json, classOf[Array[String]]).toSeq)
    val single = Option(options.get("path")).toSeq
    val paths = multi ++ single
    if (paths.isEmpty)
      throw new IllegalArgumentException("columnfile: no path specified")
    paths.distinct
  }

  /** All data files under the given paths, recursing into partition
    * subdirectories (ignores dotfiles/_sidecars). Returned with the root
    * each file was found under (partition values parse relative to it).
    */
  def listDataFilesWithRoots(
      conf: Configuration, paths: Seq[String],
      useManifest: Boolean = false): Seq[(Path, FileStatus)] = {
    def walk(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (st.isDirectory) walk(fs, st.getPath)
        else Seq(st)
      }
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      // manifest-first (opt-in): zero listing RPCs when present/parseable.
      // Qualify against the FileSystem so paths take the same form the
      // walk returns (scheme-qualified) — consumers dedupe by path string
      // (e.g. the streaming source's seen-file log).
      val fromManifest =
        if (useManifest) ManifestFile.read(conf, path)
          .map(ManifestFile.statuses(fs.makeQualified(path), _))
        else scala.None
      fromManifest.getOrElse {
        if (!fs.exists(path)) Seq.empty
        else if (fs.getFileStatus(path).isDirectory)
          walk(fs, path).map(st => (path, st))
        else Seq((path.getParent, fs.getFileStatus(path)))
      }
      // a zero-length file cannot even hold the 4-byte magic: it is a
      // crashed writer's leftover, not data — skipping it keeps planning
      // (which walks headers on sidecar-less files) from throwing on it
    }.filter(_._2.getLen > 0).sortBy(_._2.getPath.toString)
  }

  def listDataFiles(conf: Configuration, paths: Seq[String]): Seq[FileStatus] =
    listDataFilesWithRoots(conf, paths).map(_._2)

  /** Driver-side per-file metadata work (sidecar reads, header walks) run
    * on a bounded pool — at large file counts a sequential walk is the
    * planning bottleneck; results keep input order.
    */
  def mapFilesParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, xs.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = xs.map(a =>
          new java.util.concurrent.Callable[B] { def call(): B = f(a) }).asJava
        try pool.invokeAll(tasks).asScala.toSeq.map(_.get())
        catch { // surface the real failure, not the pool wrapper
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      } finally pool.shutdown()
    }

  /** Partition column names recorded at the first root that has the
    * sidecar (all roots of one logical table share a layout).
    */
  def partitionCols(conf: Configuration, paths: Seq[String]): Seq[String] =
    paths.iterator.map(p => PartitionLayout.read(conf, new Path(p)))
      .find(_.nonEmpty).getOrElse(Seq.empty)

  /** Typed view from the reference cat tool's per-column format chars
    * ("Based on Python's 'struct' module format characters",
    * tools/columnfile-cat.cc:296-319): each char types one positional
    * column; '_' keeps the column untyped binary. Takes precedence over
    * any sidecar — the caller-declared view always wins, like `--format`.
    */
  def schemaFromFormatChars(chars: String): StructType = {
    import org.apache.spark.sql.types._
    val fields = chars.trim.zipWithIndex.map { case (c, i) =>
      val dt: DataType = c match {
        case 'h' | 'H' => ShortType
        case 'i' | 'I' => IntegerType
        case 'q' | 'Q' => LongType
        case 'f'       => FloatType
        case 'd'       => DoubleType
        case 's'       => StringType
        case 'x' | '_' => BinaryType
        case other =>
          throw new IllegalArgumentException(
            s"columnfile: unknown format char '$other'")
      }
      StructField(s"c$i", dt, nullable = true)
    }
    StructType(fields)
  }

  /** Schema resolution: `formatChars` option first, then sidecar JSON,
    * else untyped binary columns c0..cN discovered from the first file's
    * chunk headers (the storage truth: cells are byte strings, reference
    * columnfile.h:63).
    */
  /** Read-side nullability relaxation — the Spark file-source contract
    * (Parquet/ORC read everything as nullable): storage is ragged, so
    * any scalar column can be absent in some row, chunk, or whole file
    * (trailing-column schema evolution). A write-side `nullable=false`
    * must never reach Catalyst on the read path: it constant-folds
    * `IS NULL` to false and lets codegen read vector default values
    * where the null bits are set.
    *
    * The ONE flag that stays as written is a struct field's own
    * nullability: it IS physical layout (a nullable struct has a
    * presence leaf, CellCodec.flatten), so flipping it would shift
    * every following leaf index. Struct fields' inner columns relax
    * like any other; framed collections (arrays/maps) write per-element
    * null markers unconditionally, so their flags are layout-free.
    */
  private def relaxElem(dt: DataType): DataType = dt match {
    case ArrayType(et, _)   => ArrayType(relaxElem(et), containsNull = true)
    case MapType(kt, vt, _) => MapType(relaxElem(kt), relaxElem(vt), valueContainsNull = true)
    case st: StructType => // inside framed land: layout-free
      StructType(st.fields.map(f =>
        f.copy(dataType = relaxElem(f.dataType), nullable = true)))
    case other => other
  }

  private[spark] def readNullable(s: StructType): StructType =
    StructType(s.fields.map { f =>
      f.dataType match {
        case st: StructType => f.copy(dataType = readNullable(st)) // keep f.nullable: presence layout
        case dt             => f.copy(dataType = relaxElem(dt), nullable = true)
      }
    })

  def inferSchema(conf: Configuration, paths: Seq[String],
                  formatChars: Option[String] = None): StructType =
    readNullable(inferSchemaRaw(conf, paths, formatChars))

  private def inferSchemaRaw(conf: Configuration, paths: Seq[String],
                  formatChars: Option[String] = None): StructType = {
    formatChars.foreach(fc => return schemaFromFormatChars(fc))
    val sidecars = paths.flatMap { p =>
      val dir = new Path(p)
      val fs = dir.getFileSystem(conf)
      val candidate =
        if (fs.exists(dir) && fs.getFileStatus(dir).isDirectory)
          new Path(dir, SchemaSidecar)
        else new Path(dir.getParent, SchemaSidecar)
      if (fs.exists(candidate)) {
        val in = fs.open(candidate)
        try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } else None
    }.distinct.map(json =>
      org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType])
    sidecars match {
      case Seq(one) => one
      case many if many.nonEmpty =>
        // Multi-path read: merge sidecars field-by-field. Fields must
        // agree on name+type; a field nullable in ANY input is nullable
        // in the merged view (a non-nullable merged schema over a file
        // holding NULLs would read garbage).
        many.reduce { (a, b) =>
          if (a.fields.map(f => (f.name, f.dataType)).toSeq !=
              b.fields.map(f => (f.name, f.dataType)).toSeq)
            throw new IllegalArgumentException(
              s"columnfile: mismatched schemas across paths: " +
                s"${a.catalogString} vs ${b.catalogString}")
          StructType(a.fields.zip(b.fields).map { case (fa, fb) =>
            fa.copy(nullable = fa.nullable || fb.nullable)
          })
        }
      case _ =>
        val files = listDataFiles(conf, paths)
        if (files.isEmpty)
          throw new IllegalArgumentException(
            s"columnfile: no files found under ${paths.mkString(", ")}")
        val f = files.head
        val in = new HadoopSeekableInput(
          f.getPath.getFileSystem(conf), f.getPath, f.getLen)
        try {
          val chunks = ColumnFileReader.scanChunks(in)
          val maxCol = chunks.flatMap(_.fields.map(_._1)).maxOption.getOrElse(-1)
          StructType((0 to maxCol).map(i =>
            StructField(s"c$i", BinaryType, nullable = true)))
        } finally in.close()
    }
  }
}

/** `spark.read.format("columnfile")` / `df.write.format("columnfile")`. */
class ColumnFileDataSource extends TableProvider with DataSourceRegister {
  import ColumnFileDataSource._

  override def shortName(): String = ShortName
  override def supportsExternalMetadata(): Boolean = true

  private def hadoopConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ColumnFileDataSource.inferSchema(hadoopConf(), resolvePaths(options),
      Option(options.get("formatChars")))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val paths = resolvePaths(options)
    val conf = hadoopConf()
    // writes declare identity transforms via partitionBy; reads discover
    // the layout from the _partition.json sidecar
    val requested = partitioning.toSeq.map { t =>
      if (t.name() == "identity" && t.references().length == 1)
        t.references()(0).fieldNames().mkString(".")
      else throw new IllegalArgumentException(
        s"columnfile: only identity partitioning is supported, got $t")
    }
    val cols =
      if (requested.nonEmpty) requested
      else ColumnFileDataSource.partitionCols(conf, paths)
    new ColumnFileTable(paths, schema, conf, cols, options)
  }
}

class ColumnFileTable(
    paths: Seq[String],
    tableSchema: StructType,
    conf: Configuration,
    partitionCols: Seq[String] = Seq.empty,
    tableOptions: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = s"columnfile ${paths.mkString(",")}"
  override def schema(): StructType = tableSchema

  /** `DELETE FROM t WHERE ...` — see [[ColumnFileDelete]]: partition
    * truncate when the predicate is partition-complete, stats-directed
    * distributed chunk-rewrite on unpartitioned tables; anything else
    * is rejected here (analysis time), never approximated.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    ColumnFileDelete.canDelete(filters, tableSchema, partitionCols)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    ColumnFileDelete.delete(paths, tableSchema, conf, partitionCols, filters,
      // the table's own creation options ride into the rewrite so a
      // delete re-applies the table's encodings/blooms/compression
      tableOptions.asCaseSensitiveMap.asScala.toMap)

  override def partitioning(): Array[Transform] =
    partitionCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ColumnFileScanBuilder(paths, tableSchema, conf, options, partitionCols)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ColumnFileWriteBuilder(paths, info, conf, partitionCols, tableSchema)
}
