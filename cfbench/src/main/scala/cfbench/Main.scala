package cfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up one workload, run its closed
  * loop (one client) for the given seconds, check every op, and print one
  * `CFBENCH_RESULT {json}` line with the raw samples. With `--trace 1`,
  * every other op is traced and the spans and Spark jobs are written to
  * `--spans` when the run ends. `run.py` turns the raw line into metrics.
  *
  * Usage: cfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --expected FILE --spans FILE
  */
object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private def peakRssKb: Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case NonFatal(_) => -1L }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** `{"name": "fingerprint", ...}` written by the recording run. */
  private def readExpected(path: String): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(new File(path).toPath), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setupTicks = CpuTicks.read()
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work"))
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = graft.GraftSessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[cfbench] session up at ${(Clock.nowMs - jvmStart) / 1e3}%.1f s")
    val spans = new Spans
    val jobs = new JobRecorder
    val writePlans = new WritePlanRecorder
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(writePlans)
    }
    // only the client thread's spans are switched per op; the listeners
    // record every job and write of a traced run, and the trace analysis
    // keeps those of traced units (by job group and span interval)
    def tracing(on: Boolean): Unit = spans.enabled = on
    val h = new Harness(spark, spans, writePlans)
    val w: Workload = workload match {
      case "scan_wide" => new ScanWide(h, seed, 600000L, work)
      case "inventory_cf" => new InventoryCf(h, seed,
        arg(args, "--data").getOrElse(sys.error("--data")),
        s"${System.getProperty("java.io.tmpdir")}/graft_cf_cache",
        readExpected(arg(args, "--expected").getOrElse(sys.error("--expected"))))
      case other => sys.error(s"unknown workload $other")
    }

    tracing(trace)
    w.setup()
    tracing(false)
    // warm-up: checked but untimed ops. The first one builds any lazy state
    // (for inventory_cf, the inventory's caches); more follow while hot code
    // compiles, since in a fresh JVM op latency keeps falling for many ops.
    // A fixed count, not a fixed time: on a slower host a timed warm-up
    // would compile less, and the timed ops would start further from their
    // settled speed.
    for (k <- 1 to w.warmupOps)
      require(w.check(-k, w.op(-k)), s"$workload warm-up op $k output is wrong")
    val setupS = (Clock.nowMs - jvmStart) / 1e3
    val setupSteal = CpuTicks.stealShare(setupTicks, CpuTicks.read())
    System.err.println(f"[cfbench] set up at $setupS%.1f s")

    final case class Op(ms: Double, rows: Long, ok: Boolean, traced: Boolean,
        gcMs: Long, stealShare: Double)
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val loopStart = Clock.nowMs
    val deadline = loopStart + seconds * 1e3
    var i = 0
    var lastMs = 0.0
    // closed loop: the next op starts when the previous one is checked; no
    // op starts that would likely end more than half an op past the deadline
    while (Clock.nowMs + lastMs / 2 < deadline) {
      val traced = trace && i % 2 == 1
      tracing(traced)
      val gc0 = gcMs
      val cpu0 = CpuTicks.read()
      val t0 = System.nanoTime()
      val out =
        try Some(spans("op") { s => s.foreach(_.attrs("index") = i); w.op(i) })
        catch { case NonFatal(e) =>
          System.err.println(s"[cfbench] op $i failed: $e"); None }
      val ms = (System.nanoTime() - t0) / 1e6
      val stolen = CpuTicks.stealShare(cpu0, CpuTicks.read())
      lastMs = ms
      val gc = gcMs - gc0
      // a traced op's check is traced too (its own root span), so reads
      // made only to check an op still show in the per-layer counters
      val ok = out.exists { o =>
        try spans("check")(_ => w.check(i, o))
        catch { case NonFatal(e) =>
          System.err.println(s"[cfbench] check $i failed: $e"); false }
      }
      tracing(false)
      if (!ok) System.err.println(s"[cfbench] op $i output is wrong")
      ops += Op(ms, w.opRows(i), ok, traced, gc, stolen)
      i += 1
    }

    var layers = Seq.empty[(String, Double)]
    arg(args, "--spans").filter(_ => trace).foreach { path =>
      h.attachWritePlans()
      val recorded = jobs.drain(30000)
      System.err.println(f"[cfbench] jobs drained at ${(Clock.nowMs - jvmStart) / 1e3}%.1f s")
      layers = FormatProbe.run(w.probeFile)
      System.err.println(f"[cfbench] format probed at ${(Clock.nowMs - jvmStart) / 1e3}%.1f s")
      val out = new PrintWriter(path, "UTF-8")
      try {
        spans.all.foreach(s => out.println(s.json))
        recorded.foreach(j => out.println(j.json))
      } finally out.close()
    }
    val (storedBytes, storedRows) = w.stored
    System.err.println(f"[cfbench] ${ops.size} ops, ${ops.count(!_.ok)} failed")
    val failed = ops.count(!_.ok)
    val result = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setupS, "setup_steal_share" -> setupSteal,
      "loop_start_ms" -> loopStart,
      "op_ms" -> ops.map(_.ms), "op_rows" -> ops.map(_.rows),
      "op_ok" -> ops.map(_.ok), "op_traced" -> ops.map(_.traced),
      "op_gc_ms" -> ops.map(_.gcMs), "op_steal_share" -> ops.map(_.stealShare),
      "attempted" -> ops.size, "failed" -> failed,
      "stored_bytes" -> storedBytes, "stored_rows" -> storedRows,
      "chunks_total" -> w.chunksTotal,
      "peak_rss_kb" -> peakRssKb, "warmup_ops" -> w.warmupOps,
      "format" -> layers.toMap))
    println("CFBENCH_RESULT " + result)
    spark.stop()
  }
}
