package cfbench

import java.io.{File, RandomAccessFile}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.format.{ColumnFileReader, SeekableInput}

/** The benchmark's calls into the program, each wrapped at its layer
  * boundary: a query is built (`queries.build`: the DataFrame exists),
  * planned (`connector.plan`: `executedPlan`, where the connector's scan
  * builder and chunk-stats pruning run) and executed (`execute`). Every
  * query runs under its own Spark job group, so the listener can attribute
  * each job to the query that launched it. Untraced ops make the same
  * calls; only the recording and the reading of scan counters are off.
  */
final class Harness(val spark: SparkSession, val spans: Spans,
    writePlans: WritePlanRecorder) {
  private val sc = spark.sparkContext
  private var untracedUnits = 0L

  private def inUnit[T](label: String)(body: Option[Span] => T): T =
    spans("query") { q =>
      untracedUnits += 1
      val group = q.fold(s"cfbench-u$untracedUnits")(s => s"cfbench-${s.id}")
      q.foreach(_.attrs("label") = label)
      sc.setJobGroup(group, label, interruptOnCancel = false)
      try body(q) finally sc.clearJobGroup()
    }

  /** One read query, collected on the driver. */
  def query(label: String)(build: => DataFrame): Array[Row] = inUnit(label) { _ =>
    val df = spans("queries.build")(_ => build)
    spans("connector.plan")(_ => df.queryExecution.executedPlan)
    spans("execute") { e =>
      val rows = df.collect()
      e.foreach(s => s.attrs ++= ScanStats.of(df.queryExecution))
      rows
    }
  }

  /** One columnfile write of `df` to `path` with the given writer options.
    * Returns the write's `execute` span when traced; [[recordWrite]]
    * attaches the table's size to it once the op is over.
    */
  def write(label: String, df: DataFrame, path: String,
      options: Map[String, String] = Map.empty): Option[Span] =
    inUnit(label) { _ =>
      val writer = spans("queries.build")(_ =>
        df.write.format("columnfile").options(options).mode("overwrite"))
      spans("execute") { e =>
        writer.save(path)
        e.foreach(_.attrs("write") = true)
        e
      }
    }

  def recordWrite(span: Option[Span], st: TableStats): Unit =
    span.foreach { s =>
      s.attrs("write_bytes") = st.bytes
      s.attrs("write_files") = st.files
      s.attrs("write_chunks") = st.chunks
    }

  /** Attach the write commands' planning phases (seen by the listener) as
    * `connector.plan` children of the write spans that contain them.
    */
  def attachWritePlans(): Unit = {
    val writes = spans.all.filter(s => s.name == "execute" &&
      s.attrs.contains("write"))
    writePlans.phases.foreach { case (start, end) =>
      writes.find(w => w.start <= start && end <= w.end).foreach(w =>
        spans.child(w, "connector.plan", start, end))
    }
  }
}

/** Planning phases (optimization through physical planning) of write
  * commands, reported by Spark's public `QueryExecutionListener`. A write's
  * `executedPlan` is not reachable before it runs, so its planning time is
  * taken from the query's own planning tracker. Every write is recorded;
  * [[Harness.attachWritePlans]] keeps those inside a traced write span.
  */
final class WritePlanRecorder extends QueryExecutionListener {
  private val seen = mutable.ArrayBuffer.empty[(Double, Double)]

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    for (o <- ph.get("optimization"); p <- ph.get("planning")) synchronized {
      seen += ((o.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def phases: Seq[(Double, Double)] = synchronized(seen.toSeq)
}

/** The connector's scan counters and partition count, read from the
  * executed plan's `BatchScanExec` nodes (descending into adaptive query
  * stages).
  */
object ScanStats {
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children ++ other.subqueries
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(flatten)

  def of(qe: QueryExecution): Seq[(String, Any)] = {
    val scans = flatten(qe.executedPlan).collect { case b: BatchScanExec => b }
    def metric(n: String) =
      scans.flatMap(_.metrics.get(n)).map(_.value).sum
    Seq(
      "scans" -> scans.size,
      "input_partitions" -> scans.map(_.inputPartitions.size).sum,
      "chunks_read" -> metric("cfChunksRead"),
      "chunks_skipped" -> metric("cfChunksSkipped"),
      "decoded_bytes" -> metric("cfDecodedBytes"))
  }
}

/** Size of a written columnfile table: every stored byte (data files and
  * sidecars), its data files, and their chunk count from the file footers.
  */
final case class TableStats(bytes: Long, files: Long, chunks: Long)

object TableStats {
  private final class FileInput(f: File) extends SeekableInput {
    private val raf = new RandomAccessFile(f, "r")
    def size: Long = raf.length()
    def readFully(offset: Long, length: Int): Array[Byte] = {
      val b = new Array[Byte](length)
      raf.seek(offset)
      raf.readFully(b)
      b
    }
    override def close(): Unit = raf.close()
  }

  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.sortBy(_.getName)
      .flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  def dataFiles(path: String): Seq[File] =
    files(new File(path)).filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".cf"))

  def chunkCount(f: File): Long = {
    val in = new FileInput(f)
    try ColumnFileReader.scanChunks(in).size.toLong finally in.close()
  }

  def of(path: String): TableStats = {
    val data = dataFiles(path)
    TableStats(files(new File(path)).map(_.length).sum, data.size.toLong,
      data.map(chunkCount).sum)
  }
}
