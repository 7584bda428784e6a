package graft.spark

import java.io.{ByteArrayOutputStream, ObjectOutputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** cf task factories ship their Hadoop conf as a broadcast handle
  * (`ColumnFileDataSource.broadcastConf`), not inline: a written
  * Configuration is ~50 KB, and every cf scan/write factory in a plan
  * rides the task binary of its stage.
  */
class ConfBroadcastSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("conf-broadcast-spec")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def javaSize(o: AnyRef): Int = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.size()
  }

  private def writeTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("cf-confbc").toString
    val sp = spark; import sp.implicits._
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.format("columnfile").mode("overwrite").save(dir)
    dir
  }

  test("reader and writer factories Java-serialize under 4 KiB") {
    val dir = writeTable()
    val df = spark.read.format("columnfile").load(dir)
    val reader = df.queryExecution.sparkPlan.collectFirst {
      case s: BatchScanExec => s.readerFactory
    }.get
    assert(reader.isInstanceOf[ColumnFileReaderFactory])
    val conf = spark.sessionState.newHadoopConf()
    val writer = new ColumnFileWriterFactory(dir, df.schema,
      graft.format.Compression.fromName("lz4"), 1L << 20, "job",
      ColumnFileDataSource.broadcastConf(conf))
    val confBytes = {
      val bos = new ByteArrayOutputStream()
      conf.write(new java.io.DataOutputStream(bos))
      bos.size()
    }
    // an inlined conf alone would blow the bound
    assert(confBytes > 4096, s"conf writes only $confBytes bytes")
    for ((name, f) <- Seq("reader" -> reader, "writer" -> writer)) {
      val size = javaSize(f)
      assert(size < 4096, s"$name factory serializes to $size bytes")
    }
  }

  test("a deserialized stub still reads through a real cf scan") {
    // end-to-end: write a table, read it back — the reader factory's
    // conf rides the broadcast handle through the task binary
    val dir = writeTable()
    val n = spark.read.format("columnfile").load(dir).count()
    assert(n == 100)
  }
}
