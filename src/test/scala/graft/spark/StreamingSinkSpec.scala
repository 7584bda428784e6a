package graft.spark

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** writeStream into the columnfile format: the missing half of the
  * ingest story. Epoch commits are idempotent (exactly-once across
  * restarts), sidecars are published with the data, and readers — batch
  * and streaming — see only committed files.
  */
class StreamingSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("cf-streaming-sink-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Extensions are applied only when a session is actually BUILT: if
    // another suite in this JVM created the default session first,
    // getOrCreate() returns it WITHOUT the shred rewrite and the q72
    // rewrite/pushdown assertions below would fail order-dependently.
    // Fail fast here with a diagnosable message instead.
    assert(
      spark.sessionState.analyzer.postHocResolutionRules
        .contains(VariantShredRewrite),
      "GraftExtensions is not active on this SparkSession (a previous " +
        "suite created the default session without it?) — the shred " +
        "tests need spark.sql.extensions=graft.spark.GraftExtensions")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def filesIn(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)

  test("cf-source to cf-sink pipeline: incremental, restartable, sidecars valid") {
    val sp = spark; import sp.implicits._
    val src = Files.createTempDirectory("cf-sink-src").toString
    val ckpt = Files.createTempDirectory("cf-sink-ckpt").toString
    val sink = Files.createTempDirectory("cf-sink-out").toString

    (0 until 100).map(i => (i.toLong, s"a$i")).toDF("id", "v")
      .write.format("columnfile").mode("overwrite").save(src)
    val schema = spark.read.format("columnfile").load(src).schema

    def runOnce(): Unit = {
      val q = spark.readStream.format("columnfile").schema(schema).load(src)
        .writeStream.format("columnfile")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    runOnce()
    val back1 = spark.read.format("columnfile").load(sink)
    assert(back1.count() == 100)

    // restart processes only new files; totals stay exact
    (100 until 130).map(i => (i.toLong, s"b$i")).toDF("id", "v")
      .write.format("columnfile").mode("append").save(src)
    runOnce()
    val back2 = spark.read.format("columnfile").load(sink)
    assert(back2.count() == 130)
    assert(back2.agg(min("id"), max("id")).head.toSeq == Seq(0L, 129L))
    assert(back2.select("id").distinct().count() == 130) // no duplicates

    // a no-op restart publishes nothing new
    runOnce()
    assert(spark.read.format("columnfile").load(sink).count() == 130)

    // published files carry stats sidecars usable for planning: the
    // count above must be answerable stats-only, and pruning must work
    val names = filesIn(sink)
    val dataFiles = names.filter(_.endsWith(ColumnFileDataSource.FileExtension))
    assert(dataFiles.nonEmpty)
    assert(dataFiles.forall(f => names.contains("." + f + ChunkStatsIndex.Suffix)),
      s"missing stats sidecars in $names")
    assert(!names.exists(_.endsWith(".inprogress")), names.toString)
    val agg = spark.read.format("columnfile").load(sink).agg(count(lit(1)))
    assert(agg.queryExecution.executedPlan.toString.contains("stats-only"))
    assert(agg.head.getLong(0) == 130L)
  }

  test("epoch commit is idempotent: a replayed epoch publishes no duplicates") {
    val sp = spark; import sp.implicits._
    val sink = Files.createTempDirectory("cf-sink-replay").toString
    val conf = new Configuration()
    val schema = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").schema

    val write = new ColumnFileStreamingWrite(
      sink, schema, graft.format.Compression.fromName("lz4"),
      16L * 1024 * 1024, conf, Seq.empty)

    def writeEpoch(epochId: Long, rows: Range): ColumnFileCommitMessage = {
      val factory = write.createStreamingWriterFactory(null)
      val w = factory.createWriter(0, 0L, epochId)
      rows.foreach { i =>
        w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i.toLong,
            org.apache.spark.unsafe.types.UTF8String.fromString(s"v$i"))))
      }
      w.commit().asInstanceOf[ColumnFileCommitMessage]
    }

    // epoch 0 commits; the same epoch is then replayed (restart race)
    val m1 = writeEpoch(0L, 1 to 10)
    write.commit(0L, Array(m1))
    assert(spark.read.format("columnfile").load(sink).count() == 10)
    val m2 = writeEpoch(0L, 1 to 10) // replay attempt, new files
    write.commit(0L, Array(m2))
    assert(spark.read.format("columnfile").load(sink).count() == 10,
      "replayed epoch must not publish duplicates")
    // the replayed attempt's files are gone, not lingering invisibly
    assert(!filesIn(sink).exists(_.contains(new Path(m2.file).getName.stripPrefix("."))))

    // a NEW epoch appends normally
    val m3 = writeEpoch(1L, 11 to 15)
    write.commit(1L, Array(m3))
    assert(spark.read.format("columnfile").load(sink).count() == 15)

    // crash window: intent marker written, renames NOT performed (the
    // driver died mid-commit). The replay must COMPLETE the original
    // attempt's publish from the marker and drop its own files.
    val m4 = writeEpoch(2L, 16 to 20)
    val tmp = new Path(m4.file)
    val fin = new Path(tmp.getParent, tmp.getName.substring(1))
    val markerDir = new java.io.File(sink, "_epochs")
    markerDir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(markerDir, "2").toPath, s"$tmp\t$fin\n")
    assert(spark.read.format("columnfile").load(sink).count() == 15,
      "in-progress file visible before resume")
    val m5 = writeEpoch(2L, 16 to 20) // the replay attempt
    write.commit(2L, Array(m5))
    assert(spark.read.format("columnfile").load(sink).count() == 20,
      "resumed commit must publish the original attempt exactly once")
    assert(new java.io.File(fin.toUri.getPath).exists())
    assert(!new java.io.File(tmp.toUri.getPath).exists())

    // crash window where the ORIGINAL attempt's temps were lost entirely
    // (nothing published): the replay must be adopted as the
    // authoritative copy, not deleted — deleting it would lose the epoch
    val m6 = writeEpoch(3L, 21 to 25)
    val tmp3 = new Path(m6.file)
    java.nio.file.Files.writeString(
      new java.io.File(markerDir, "3").toPath,
      s"${new Path(tmp3.getParent, ".part-gone.cf")}\t${new Path(tmp3.getParent, "part-gone.cf")}\n")
    write.commit(3L, Array(m6))
    assert(spark.read.format("columnfile").load(sink).count() == 25,
      "replay must be adopted when the original attempt left nothing")
  }

  test("epoch markers are pruned past the replay horizon") {
    val sp = spark; import sp.implicits._
    val sink = Files.createTempDirectory("cf-sink-prune").toString
    val conf = new Configuration()
    val schema = Seq((1L, "v")).toDF("id", "v").schema

    val write = new ColumnFileStreamingWrite(
      sink, schema, graft.format.Compression.fromName("lz4"),
      16L * 1024 * 1024, conf, Seq.empty,
      keepEpochs = 2L)

    def writeEpoch(epochId: Long)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val factory = write.createStreamingWriterFactory(null)
      val w = factory.createWriter(0, 0L, epochId)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](epochId,
          org.apache.spark.unsafe.types.UTF8String.fromString(s"v$epochId"))))
      w.commit()
    }

    (0L to 4L).foreach(e => write.commit(e, Array(writeEpoch(e))))

    val markers = Option(new java.io.File(sink, "_epochs").listFiles())
      .toSeq.flatten.map(_.getName)
      .filterNot(_.startsWith(".")) // local-FS .crc sidecars
      .sorted
    assert(markers == Seq("3", "4"),
      s"markers beyond the keepEpochs=2 horizon survive: $markers")
    // pruning touches only metadata — every epoch's data is still there
    assert(spark.read.format("columnfile").load(sink).count() == 5)

    // keepEpochs=0 must not prune the epoch just committed (its marker
    // is what makes a crash-then-replay idempotent): floored to 1
    val sink0 = Files.createTempDirectory("cf-sink-prune0").toString
    val write0 = new ColumnFileStreamingWrite(
      sink0, schema, graft.format.Compression.fromName("lz4"),
      16L * 1024 * 1024, conf, Seq.empty,
      keepEpochs = 0L)
    def epoch0(id: Long): org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = write0.createStreamingWriterFactory(null).createWriter(0, 0L, id)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, org.apache.spark.unsafe.types.UTF8String.fromString("x"))))
      w.commit()
    }
    (0L to 2L).foreach(e => write0.commit(e, Array(epoch0(e))))
    val m0 = Option(new java.io.File(sink0, "_epochs").listFiles())
      .toSeq.flatten.map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(m0.contains("2"), s"just-committed marker pruned: $m0")
  }

  test("aborted epoch leaves nothing visible; partitioned streaming writes route rows") {
    val sp = spark; import sp.implicits._
    val src = Files.createTempDirectory("cf-sink-psrc").toString
    val ckpt = Files.createTempDirectory("cf-sink-pckpt").toString
    val sink = Files.createTempDirectory("cf-sink-pout").toString

    (0 until 60).map(i => (i.toLong, s"g${i % 3}", s"v$i")).toDF("id", "g", "v")
      .write.format("columnfile").mode("overwrite").save(src)
    val schema = spark.read.format("columnfile").load(src).schema

    // partitioned sink: DataStreamWriter.partitionBy doesn't reach a V2
    // table's partitioning transforms, so the layout rides an option
    val q = spark.readStream.format("columnfile").schema(schema).load(src)
      .writeStream.format("columnfile")
      .option("partitionBy", "g")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val back = spark.read.format("columnfile").load(sink)
    assert(back.count() == 60)
    assert(back.filter(col("g") === "g1").count() == 20)
    val dirs = filesIn(sink).filter(_.startsWith("g="))
    assert(dirs.toSet == Set("g=g0", "g=g1", "g=g2"), dirs.toString)
    // partition pruning on the stream-written table
    val pruned = spark.read.format("columnfile")
      .option("maxPartitionBytes", "1").load(sink)
    val one = pruned.filter(col("g") === "g1").rdd.getNumPartitions
    val all = pruned.rdd.getNumPartitions
    assert(one * 2 <= all, s"pruning ineffective: $one of $all")

    // abort path: an uncommitted epoch's files never become visible
    val write = new ColumnFileStreamingWrite(
      sink, schema, graft.format.Compression.fromName("lz4"),
      16L * 1024 * 1024,
      new Configuration(), Seq("g"))
    val factory = write.createStreamingWriterFactory(null)
    val w = factory.createWriter(0, 0L, 99L)
    import org.apache.spark.unsafe.types.UTF8String
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](999L, UTF8String.fromString("g9"), UTF8String.fromString("x"))))
    val msg = w.commit()
    // before job-level commit: invisible
    assert(spark.read.format("columnfile").load(sink).count() == 60)
    write.abort(99L, Array(msg))
    assert(spark.read.format("columnfile").load(sink).count() == 60)
    assert(!filesIn(sink).contains("g=g9"), "aborted partition dir visible")
  }

  test("shred option on the streaming sink: leaves derived per epoch, " +
    "q69 rewrite + pushdown serve the streamed table") {
    import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val src = Files.createTempDirectory("cf-sink-vsrc").toString
    val ckpt = Files.createTempDirectory("cf-sink-vckpt").toString
    val sink = Files.createTempDirectory("cf-sink-vout").toString

    spark.sql(
      """SELECT id, parse_json(concat('{"price":', id, ',"s":"x', id,
        |  '"}')) AS v FROM range(500)""".stripMargin)
      .write.format("columnfile").mode("overwrite").save(src)
    val schema = spark.read.format("columnfile").load(src).schema

    def drain(): Unit = {
      val q = spark.readStream.format("columnfile").schema(schema).load(src)
        .writeStream.format("columnfile")
        .option("shred", "v:$.price:bigint")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()

    // the streamed table carries the provenance-tagged leaf
    val back = spark.read.format("columnfile").load(sink)
    val leaf = back.schema.fields.find(_.name == "v_price")
    assert(leaf.isDefined, back.schema.catalogString)
    assert(leaf.get.metadata.contains(VariantShred.ShredOfKey) &&
      leaf.get.metadata.getString(VariantShred.ShredOfKey) == "v",
      "leaf missing shred provenance metadata")
    assert(back.count() == 500)
    back.createOrReplaceTempView("vstream")

    // q69's serving shape on the STREAMED table: rewrite fires, filter
    // pushes, variant payload pruned from the read (AQE off for a
    // crisp plan tree — this suite otherwise leaves it on)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val q = spark.sql(
      """SELECT CAST(SUM(variant_get(v, '$.price', 'bigint')) AS BIGINT)
        |    AS s, COUNT(*) AS n
        |FROM vstream
        |WHERE variant_get(v, '$.price', 'bigint')
        |  BETWEEN 100 AND 199""".stripMargin)
    val row = q.head()
    assert(row.getLong(0) == (100L to 199L).sum && row.getLong(1) == 100L)
    val exec = q.queryExecution.executedPlan
    val vgs = exec.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case g: VariantGet => g })
    assert(vgs.isEmpty, s"live VariantGet in the plan:\n$exec")
    val scan = exec.collect { case b: BatchScanExec => b }.head
    assert(!scan.output.map(_.name).contains("v"),
      s"variant column still read: ${scan.output}")
    assert(scan.toString.contains("v_price"),
      s"shred filter not pushed:\n$scan")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    // incremental restart: new source rows get their leaves too, and
    // the replayed drain publishes no duplicates
    spark.sql(
      """SELECT id, parse_json(concat('{"price":', id, ',"s":"x', id,
        |  '"}')) AS v FROM range(500, 800)""".stripMargin)
      .write.format("columnfile").mode("append").save(src)
    drain()
    val back2 = spark.read.format("columnfile").load(sink)
    assert(back2.count() == 800)
    assert(back2.where("v_price = variant_get(v, '$.price', 'bigint')")
      .count() == 800)
  }

  test("shredMode=lenient: a poison derivation writes a counted NULL " +
    "leaf; strict (default) fails the task") {
    // one poison row: price is a string that cannot cast to bigint
    val df = spark.sql(
      """SELECT id, parse_json(CASE WHEN id = 1 THEN '{"price":"oops"}'
        |  ELSE concat('{"price":', id, '}') END) AS v
        |FROM range(3)""".stripMargin)
    // copy INSIDE the RDD: the scan's iterator reuses its row buffer
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    val leaf = org.apache.spark.sql.types.LongType
    val recorded = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    def recorder() = new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      override def write(r: org.apache.spark.sql.catalyst.InternalRow): Unit =
        { recorded += r; () }
      override def commit() = null
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
    // strict: the poison row fails the write (batch parity)
    val strict = ShredAppend.writer(recorder(), df.schema,
      Seq((1, "$.price", leaf)))
    strict.write(rows(0))
    intercept[Exception] { strict.write(rows(1)) }
    // lenient: NULL leaf, counted in the task metric
    recorded.clear()
    val lenient = ShredAppend.writer(recorder(), df.schema,
      Seq((1, "$.price", leaf)), lenient = true)
    rows.foreach(lenient.write)
    assert(recorded.length == 3)
    assert(recorded(1).isNullAt(2), "poison leaf should be NULL")
    assert(recorded(0).getLong(2) == 0L && recorded(2).getLong(2) == 2L)
    val m = lenient.currentMetricsValues()
      .find(_.name == ShredAppend.LenientNulls)
    assert(m.exists(_.value == 1L),
      s"expected cfShredLenientNulls=1, got ${m.map(_.value)}")

    // end to end: the strict stream WEDGES on the poison batch; the
    // lenient stream drains it, with the NULL leaf in the table
    val src = Files.createTempDirectory("cf-sink-psrc").toString
    spark.sql(
      """SELECT id, parse_json(CASE WHEN id = 7 THEN '{"price":"oops"}'
        |  ELSE concat('{"price":', id, '}') END) AS v
        |FROM range(20)""".stripMargin)
      .write.format("columnfile").mode("overwrite").save(src)
    val schema = spark.read.format("columnfile").load(src).schema
    def drain(sink: String, ckpt: String, mode: Option[String]): Unit = {
      val w = spark.readStream.format("columnfile").schema(schema).load(src)
        .writeStream.format("columnfile")
        .option("shred", "v:$.price:bigint")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
      val q = mode.fold(w)(m => w.option("shredMode", m)).start()
      q.awaitTermination()
    }
    val exStrict = intercept[Exception] {
      drain(Files.createTempDirectory("cf-sink-pout1").toString,
        Files.createTempDirectory("cf-sink-pckpt1").toString, None)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(exStrict).nonEmpty)
    val sinkL = Files.createTempDirectory("cf-sink-pout2").toString
    drain(sinkL, Files.createTempDirectory("cf-sink-pckpt2").toString,
      Some("lenient"))
    val back = spark.read.format("columnfile").load(sinkL)
    assert(back.count() == 20)
    assert(back.where("v_price IS NULL").count() == 1)
    assert(back.where("id = 7 AND v_price IS NULL").count() == 1)
    assert(back.where("v_price = id").count() == 19)
  }
}
