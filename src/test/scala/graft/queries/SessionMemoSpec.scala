package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** checkpointOnce/registerOnce memoize per session, and the memoized
  * values (DataFrames, analyzed plans) reference their session, so a
  * weak key alone never lets a stopped session go. Stopping the
  * SparkContext must drop the entries of every session on it.
  */
class SessionMemoSpec extends AnyFunSuite {

  test("stopping a session drops its checkpointOnce and registerOnce entries") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("session-memo-spec")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // a second session on the same context, memoized after the first
    val child = spark.newSession()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.range(3).createOrReplaceTempView("memo_base")
      var registrations = 0
      ExtQueries.registerOnce(spark, "memo-spec", Seq("memo_base"))(registrations += 1)
      ExtQueries.registerOnce(spark, "memo-spec", Seq("memo_base"))(registrations += 1)
      assert(registrations == 1, "an unchanged base table must not re-register")
      Seq(spark, child).foreach(s =>
        assert(ExtQueries.checkpointOnce(s.range(5).toDF()).count() == 5))
      assert(ExtQueries.regMemo.containsKey(spark))
      assert(ExtQueries.ckptMemo.containsKey(spark))
      assert(ExtQueries.ckptMemo.containsKey(child))
    } finally spark.stop()
    assert(!ExtQueries.regMemo.containsKey(spark),
      "registerOnce still holds a stopped session")
    assert(!ExtQueries.ckptMemo.containsKey(spark),
      "checkpointOnce still holds a stopped session")
    assert(!ExtQueries.ckptMemo.containsKey(child),
      "checkpointOnce still holds a session of a stopped context")
  }
}
