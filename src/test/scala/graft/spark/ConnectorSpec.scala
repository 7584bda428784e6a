package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end DataSource V2 round-trips: write → read equality, projection
  * and filter pushdown, nulls, nested types, all codecs.
  */
class ConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("connector-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(): String =
    Files.createTempDirectory("cf-test").toString

  private def roundTrip(df: DataFrame, options: Map[String, String] = Map.empty): DataFrame = {
    val dir = tmpDir()
    df.write.format("columnfile").options(options).mode("overwrite").save(dir)
    spark.read.format("columnfile").load(dir)
  }

  private def render(v: Any): String = v match {
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row         => r.toSeq.map(render).mkString("[", ",", "]")
    case s: Seq[_]      => s.map(render).mkString("(", ",", ")")
    case m: Map[_, _]   => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
      .sorted.mkString("{", ",", "}")
    case other          => String.valueOf(other)
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val left = a.collect().map(r => render(r)).sorted
    val right = b.collect().map(r => render(r)).sorted
    assert(left.toSeq == right.toSeq)
  }

  test("typed round-trip: ints, longs, doubles, strings, dates, timestamps, nulls") {
    val sp = spark; import sp.implicits._
    val df = spark.sql(
      """SELECT id,
        |  CAST(id AS INT) AS i,
        |  CAST(id * 1.5 AS DOUBLE) AS d,
        |  CASE WHEN id % 3 = 0 THEN NULL ELSE concat('name_', id) END AS s,
        |  DATE_ADD(DATE'2020-01-01', CAST(id AS INT)) AS dt,
        |  TIMESTAMP'2021-06-01 12:00:00' + make_interval(0,0,0,0,0,0,id) AS ts,
        |  id % 2 = 0 AS b,
        |  CAST(id AS DECIMAL(12,2)) * 7.25 AS dec
        |FROM range(100)""".stripMargin)
    val back = roundTrip(df)
    assert(back.schema.map(f => (f.name, f.dataType)).toSet ==
      df.schema.map(f => (f.name, f.dataType)).toSet)
    assertSameRows(df, back)
  }

  test("all five codecs round-trip identically") {
    val sp = spark; import sp.implicits._
    val df = (0 until 500).map(i => (i.toLong, s"value_$i", i * 0.5)).toDF("a", "b", "c")
    for (codec <- Seq("none", "snappy", "lz4", "lzma", "zlib", "zstd")) {
      val back = roundTrip(df, Map("compression" -> codec))
      assertSameRows(df, back)
    }
  }

  test("projection pushdown reads only required columns") {
    val sp = spark; import sp.implicits._
    val df = (0 until 100).map(i => (i, s"s$i", i * 2.0)).toDF("x", "y", "z")
    val back = roundTrip(df).select("y")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<y:string>") || back.columns.sameElements(Array("y")))
    assert(back.collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 100).map(i => s"s$i").sorted)
  }

  test("filter pushdown with chunk skipping returns exact rows") {
    val sp = spark; import sp.implicits._
    val df = (0 until 10000).map(i => (i, s"k$i")).toDF("id", "k")
    // small chunks so skipping actually has chunks to skip
    val dir = tmpDir()
    df.repartition(1).sortWithinPartitions("id")
      .write.format("columnfile").option("targetChunkBytes", "4096")
      .mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    val got = back.filter(col("id") >= 9990).collect().map(_.getInt(0)).sorted
    assert(got.toSeq == (9990 until 10000))
    val gotStr = back.filter(col("k") === "k123").collect()
    assert(gotStr.length == 1 && gotStr(0).getInt(0) == 123)
    // IS NULL / IS NOT NULL
    val withNulls = spark.sql(
      "SELECT id, CASE WHEN id % 2 = 0 THEN NULL ELSE id END AS v FROM range(100)")
    val back2 = roundTrip(withNulls)
    assert(back2.filter(col("v").isNull).count() == 50)
    assert(back2.filter(col("v").isNotNull).count() == 50)
  }

  test("nested struct and array round-trip") {
    val df = spark.sql(
      """SELECT id,
        |  named_struct('a', id, 'b', concat('x', id),
        |               'inner', named_struct('c', id * 2)) AS st,
        |  CASE WHEN id % 5 = 0 THEN NULL
        |       ELSE named_struct('p', id, 'q', CAST(id AS STRING)) END AS maybe,
        |  array(id, id + 1, NULL) AS arr,
        |  array(concat('e', id)) AS sarr,
        |  map(concat('key', id), id) AS m
        |FROM range(50)""".stripMargin)
    val back = roundTrip(df)
    assertSameRows(df, back)
  }

  test("decimal round-trip through the vectorized path, filters and sums exact") {
    val df = spark.sql(
      """SELECT id,
        |  CAST(id AS DECIMAL(18,2)) / 4 AS d18,
        |  CAST(id AS DECIMAL(38,10)) * 1000000000 AS d38,
        |  CASE WHEN id % 3 = 0 THEN NULL
        |       ELSE CAST(id AS DECIMAL(9,1)) END AS d9
        |FROM range(500)""".stripMargin)
    val back = roundTrip(df)
    assertSameRows(df, back)
    // vectorized path eligible (all-decimal projection) + exact arithmetic
    assert(back.agg(sum("d18")).head.getDecimal(0) ==
      df.agg(sum("d18")).head.getDecimal(0))
    assert(back.filter(col("d9").isNull).count() == 167)
    assert(back.filter(col("d18") === new java.math.BigDecimal("25.00"))
      .collect().map(_.getLong(0)).toSeq == Seq(100L))
  }

  test("binary and float array (embedding-shaped) round-trip") {
    val df = spark.sql(
      """SELECT id,
        |  CAST(concat('blob', id) AS BINARY) AS payload,
        |  array(CAST(id AS FLOAT), CAST(id+0.5 AS FLOAT)) AS emb
        |FROM range(20)""".stripMargin)
    assertSameRows(df, roundTrip(df))
  }

  test("multi-partition write produces multiple files, read unions them") {
    val sp = spark; import sp.implicits._
    val df = (0 until 1000).map(i => (i, s"p$i")).toDF("id", "v").repartition(4)
    val dir = tmpDir()
    df.write.format("columnfile").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".cf"))
    assert(files.length == 4)
    val back = spark.read.format("columnfile").load(dir)
    assert(back.count() == 1000)
    assert(back.agg(sum("id")).head.getLong(0) == (0 until 1000).sum.toLong)
  }

  test("multi-path load reads every dir, including one with a comma in its name") {
    val sp = spark; import sp.implicits._
    val root = tmpDir()
    val a = s"$root/a,b"
    val c = s"$root/c"
    (0 until 30).map(i => (i.toLong, s"a$i")).toDF("id", "v")
      .write.format("columnfile").mode("overwrite").save(a)
    (30 until 50).map(i => (i.toLong, s"c$i")).toDF("id", "v")
      .write.format("columnfile").mode("overwrite").save(c)
    val back = spark.read.format("columnfile").load(a, c)
    assert(back.count() == 50)
    assert(back.agg(sum("id")).head.getLong(0) == (0 until 50).sum.toLong)
  }

  test("limit pushdown caps per-partition reads") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir()
    (0 until 5000).map(i => (i.toLong, s"l$i")).toDF("id", "v")
      .write.format("columnfile").option("targetChunkBytes", "4096")
      .mode("overwrite").save(dir)
    val limited = spark.read.format("columnfile").load(dir).limit(7)
    val plan = limited.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 7"), s"no pushed limit in:\n$plan")
    assert(limited.collect().length == 7)
    // limit + filter still correct
    val lf = spark.read.format("columnfile").load(dir)
      .filter(col("id") >= 4000).limit(5)
    assert(lf.collect().forall(_.getLong(0) >= 4000) && lf.count() == 5)
  }

  test("append mode adds files without touching existing data") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir()
    (0 until 50).map(i => (i.toLong, s"a$i")).toDF("id", "v")
      .write.format("columnfile").mode("overwrite").save(dir)
    (50 until 80).map(i => (i.toLong, s"b$i")).toDF("id", "v")
      .write.format("columnfile").mode("append").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    assert(back.count() == 80)
    assert(back.agg(min("id"), max("id")).head.toSeq == Seq(0L, 79L))
  }

  test("formatChars option types positional columns (cat --format parity)") {
    val sp = spark; import sp.implicits._
    val df = (0 until 20).map(i => (i.toLong, s"fmt_$i", i * 0.25)).toDF("a", "b", "c")
    val dir = tmpDir()
    df.write.format("columnfile").mode("overwrite").save(dir)
    new java.io.File(dir, "_schema.json").delete()
    val back = spark.read.format("columnfile").option("formatChars", "qsd").load(dir)
    assert(back.schema.map(_.dataType) == Seq(LongType, StringType, DoubleType))
    val rows = back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.sortBy(_._1).toSeq ==
      (0 until 20).map(i => (i.toLong, s"fmt_$i", i * 0.25)))
    // '_' keeps a column binary
    val part = spark.read.format("columnfile").option("formatChars", "q_d").load(dir)
    assert(part.schema.map(_.dataType) == Seq(LongType, BinaryType, DoubleType))
  }

  test("SQL DDL: CREATE TABLE USING columnfile + INSERT INTO") {
    val dir = tmpDir()
    spark.sql("DROP TABLE IF EXISTS cft_spec")
    spark.sql(
      s"CREATE TABLE cft_spec (id BIGINT, v STRING) USING columnfile " +
        s"OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT INTO cft_spec SELECT id, concat('x', id) FROM range(100)")
      assert(spark.sql("SELECT count(*) FROM cft_spec").head.getLong(0) == 100)
      assert(spark.sql("SELECT count(*) FROM cft_spec WHERE id >= 90")
        .head.getLong(0) == 10)
      spark.sql("INSERT INTO cft_spec VALUES (1000, 'appended')")
      assert(spark.sql("SELECT count(*) FROM cft_spec").head.getLong(0) == 101)
    } finally spark.sql("DROP TABLE cft_spec")
  }

  test("struct and decimal projections run through the vectorized reader") {
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType, true),
        StructField("b", StringType, true),
        StructField("inner", StructType(Seq(
          StructField("x", DoubleType, true))), true))), true),
      StructField("d", DecimalType(10, 2), true)))
    val rows = (0L until 1000L).map { i =>
      val inner = if (i % 7 == 0) null else Row(i * 0.5)
      val s =
        if (i % 5 == 0) null                       // null struct
        else if (i % 5 == 1) Row(null, null, null) // struct of all nulls
        else Row(i.toInt, s"v$i", inner)
      Row(i, s, if (i % 3 == 0) null else new java.math.BigDecimal(s"$i.25"))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmpDir()
    df.write.format("columnfile").mode("overwrite").save(dir)
    val back = spark.read.format("columnfile").load(dir)
    // batched (ColumnarToRow above the scan), not the row-reader fallback
    val plan = back.select("id", "s", "d").queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"struct/decimal projection fell back to the row reader:\n$plan")
    assertSameRows(df, back)
    // struct-leaf projection (nested column pruning) stays batched too
    val leaf = back.selectExpr("id", "s.a", "s.inner.x")
    assert(leaf.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(leaf.count() == 1000)
  }

  test("by-name append with permuted column order lands in table columns") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir()
    spark.sql("DROP TABLE IF EXISTS cft_perm")
    spark.sql(
      s"CREATE TABLE cft_perm (id BIGINT, v STRING) USING columnfile " +
        s"OPTIONS (path '$dir')")
    try {
      // DataFrameWriterV2 append is by-name; ACCEPT_ANY_SCHEMA means Spark
      // hands us the query's own column order — (v, id) must still land
      // under the table's (id, v)
      Seq(("row-one", 1L), ("row-two", 2L)).toDF("v", "id")
        .writeTo("cft_perm").append()
      val rows = spark.sql("SELECT id, v FROM cft_perm ORDER BY id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "row-one"), (2L, "row-two")))
      // permuted names with a type mismatch must fail loudly, not relabel
      val bad = Seq((3L, 4L)).toDF("v", "id") // v is BIGINT, table says STRING
      val e = intercept[Exception] { bad.writeTo("cft_perm").append() }
      assert(e.getMessage.contains("does not match table type") ||
        Option(e.getCause).exists(_.getMessage.contains("does not match table type")))
    } finally spark.sql("DROP TABLE cft_perm")
  }

  test("untyped fallback: no sidecar yields binary c0..cN columns") {
    val sp = spark; import sp.implicits._
    val df = (0 until 10).map(i => (i, s"u$i")).toDF("id", "v")
    val dir = tmpDir()
    df.write.format("columnfile").mode("overwrite").save(dir)
    // drop the sidecar: reader must fall back to untyped binary view
    new java.io.File(dir, "_schema.json").delete()
    val back = spark.read.format("columnfile").load(dir)
    assert(back.schema.fields.forall(_.dataType == BinaryType))
    assert(back.count() == 10)
  }
}
