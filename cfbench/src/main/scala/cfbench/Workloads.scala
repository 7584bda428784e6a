package cfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Seeded synthetic table: a sequential long key, a random long, a double,
  * a low-cardinality string, a high-cardinality prefixed string, a ~10%-null
  * long and a small int array. Every value is a function of (key, seed).
  */
object Gen {
  final val RndMask = (1L << 36) - 1

  private def h(seed: Long, k: Int) = s"xxhash64(id, ${seed * 8 + k}L)"

  def table(spark: SparkSession, rows: Long, seed: Long, parts: Int): DataFrame =
    spark.range(0, rows, 1, parts).selectExpr(
      "id AS key",
      s"${h(seed, 0)} & $RndMask AS rnd",
      s"CAST(${h(seed, 1)} & 1048575 AS DOUBLE) / 100.0 AS dbl",
      s"concat('cat-', CAST(${h(seed, 2)} & 15 AS STRING)) AS cat",
      s"concat('user-', hex(${h(seed, 3)} & 1099511627775)) AS hic",
      s"CASE WHEN (${h(seed, 4)} & 1023) < 102 THEN NULL " +
        s"ELSE shiftrightunsigned(${h(seed, 4)}, 44) END AS nul",
      s"slice(array(CAST(${h(seed, 5)} & 255 AS INT), " +
        s"CAST(shiftrightunsigned(${h(seed, 5)}, 8) & 255 AS INT), " +
        s"CAST(shiftrightunsigned(${h(seed, 5)}, 16) & 255 AS INT)), 1, " +
        s"CAST(shiftrightunsigned(${h(seed, 5)}, 24) & 3 AS INT)) AS arr")
}

/** One benchmark workload: set-up (inputs, tables, references), then a
  * closed loop of ops, each checked after it completes. The first ops warm
  * up the JVM and the program's caches and are not timed.
  */
trait Workload {
  /** Inputs generated, tables written, reference results computed. */
  def setup(): Unit
  /** One op; returns what [[check]] verifies. */
  def op(i: Int): Any
  /** True when op `i`'s output is correct. Runs outside the op's timing. */
  def check(i: Int, out: Any): Boolean
  /** Input rows op `i` read or wrote. */
  def opRows(i: Int): Long
  /** Stored bytes and rows of the columnfile tables the workload wrote. */
  def stored: (Long, Long)
  /** Untimed warm-up ops, the first one included, before the timed loop. */
  def warmupOps: Int = 32
  /** Chunks in the data files the ops read (from the file footers). */
  def chunksTotal: Long
  /** A data file of this run's tables, for the format probes. */
  def probeFile: File
}

/** Full-width aggregate plus a ~1%-selective filter on an unsorted column,
  * over one table written once with the writer's defaults.
  */
final class ScanWide(h: Harness, seed: Long, rows: Long, dir: String)
    extends Workload {
  private val spark = h.spark
  private val path = s"$dir/scan_wide"
  private val cut = Gen.RndMask / 100
  private var want: (Row, Row) = _
  private var table: TableStats = _

  private def full(from: DataFrame) = from.selectExpr(
    "COUNT(*)", "SUM(key)", "SUM(rnd)", "SUM(dbl)",
    "SUM(CASE WHEN cat = 'cat-3' THEN 1 ELSE 0 END)", "MIN(hic)", "MAX(hic)",
    "SUM(length(hic))", "COUNT(nul)", "SUM(nul)", "SUM(size(arr))",
    "SUM(aggregate(arr, 0L, (a, x) -> a + x))")

  private def filtered(from: DataFrame) =
    from.where(s"rnd < $cut").selectExpr("COUNT(*)", "SUM(key)", "SUM(dbl)")

  private def load = spark.read.format("columnfile").load(path)

  def setup(): Unit = {
    // generated once into memory: the table is written from it and the
    // reference aggregates are computed over it
    val gen = Gen.table(spark, rows, seed, spark.sparkContext.defaultParallelism)
      .cache()
    h.recordWrite(h.write("setup write scan_wide", gen, path), {
      table = TableStats.of(path); table
    })
    want = (full(gen).collect().head, filtered(gen).collect().head)
    gen.unpersist()
  }

  def op(i: Int): Any =
    (h.query("scan_wide full")(full(load)).head,
      h.query("scan_wide filter")(filtered(load)).head)

  def check(i: Int, out: Any): Boolean = out match {
    case (a: Row, b: Row) => Check.rowsMatch(a, want._1) && Check.rowsMatch(b, want._2)
    case _ => false
  }

  def opRows(i: Int): Long = 2 * rows
  def stored: (Long, Long) = (table.bytes, rows)
  def chunksTotal: Long = table.chunks
  def probeFile: File = TableStats.dataFiles(path).head
}

/** Passes over a fixed subset of the query inventory that goes through the
  * columnfile connector, on a small committed copy of the inventory's
  * input tables. The seed permutes the query order of each pass. The first
  * (warm-up) pass builds the inventory's columnfile caches.
  */
final class InventoryCf(h: Harness, seed: Long, data: String, cacheDir: String,
    expected: Map[String, String]) extends Workload {
  val names: Seq[String] = Seq("q20_cf_scan_agg", "q25_cf_recompress_zlib",
    "q36_cf_join_runtime", "q37_cf_spj_join", "q48_cf_bloom_scan")
  private val spark = h.spark
  private val queries = graft.SparkEntry.queries
  // planning-bound passes keep getting faster for about twenty of them
  override def warmupOps: Int = 20
  private val rng = new scala.util.Random(seed)
  private var inputRows = 0L

  def setup(): Unit = {
    // the tables the queries read
    inputRows = Seq("lineitem", "orders", "customer", "supplier")
      .map(t => spark.read.parquet(s"$data/$t.parquet").count()).sum
    // the columnfile copy of lineitem that the cf queries read, written here
    // (where the inventory's own cache would write it) so the run's writes
    // are measured too
    val lineitem = graft.queries.Tables.cachePath(data, "lineitem-lz4")
    h.recordWrite(h.write("setup write lineitem", graft.queries.Tables.t(spark, data, "lineitem"),
      lineitem), TableStats.of(lineitem))
  }

  def op(i: Int): Any = rng.shuffle(names).map { n =>
    n -> Check.fingerprint(h.query(n)(queries(n)(spark, data)))
  }

  def check(i: Int, out: Any): Boolean = out match {
    case got: Seq[_] => got.map {
      case (n: String, fp: String) =>
        val ok = expected.get(n).contains(fp)
        if (!ok) System.err.println(
          s"[cfbench] $n fingerprint $fp, expected ${expected.getOrElse(n, "none")}")
        ok
      case _ => false
    }.forall(identity)
    case _ => false
  }

  def opRows(i: Int): Long = inputRows
  def stored: (Long, Long) = {
    val all = TableStats.files(new File(cacheDir))
    (all.map(_.length).sum, inputRows)
  }
  def chunksTotal: Long =
    TableStats.files(new File(cacheDir)).filter(_.getName.endsWith(".cf"))
      .map(TableStats.chunkCount).sum
  def probeFile: File =
    TableStats.files(new File(cacheDir)).filter(f => f.getName.endsWith(".cf"))
      .maxBy(_.length)
}

object Check {
  /** Equal rows, with doubles compared to a relative 1e-9 (their sums
    * depend on partition order).
    */
  def rowsMatch(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) =>
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
        case (x, y) => x == y
      }
    }

  /** Order-independent fingerprint of a result: row count and a digest of
    * the sorted row texts.
    */
  def fingerprint(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
