package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkEntry}

/** The harness captures only the LAST 2000 bytes of bench stdout, and
  * sbt appends a `[success] Total time: ...` epilogue line after the
  * printed JSON. BENCH_r17..r21 all recorded `parsed: null` because the
  * 193-query headline outgrew that window — every round-over-round
  * perf comparison since has been hand-reconstructed from truncated
  * tails. These gates pin the printed contract to the capture window
  * so the regression cannot silently return as the inventory grows.
  * The simulated recovery finds the JSON as a line that starts with
  * `{`. That holds only because the root build sets
  * `run / outputStrategy := Some(StdoutOutput)`: without it sbt's
  * forked `run` relays the line as `[info] {"metric":...`.
  */
class BenchHeadlineSpec extends AnyFunSuite {

  // Representative worst-ish values: every query at 9.99 s would be a
  // box ~16x slower than any observed full run; 2.5 s (3-digit
  // centiseconds) for a third of the inventory plus a 10+ s tail is
  // beyond the slowest observed bench by a wide margin.
  private def results(perQuery: Double): Seq[(String, Double)] =
    SparkEntry.queries.keys.toSeq.sorted.map(_ -> perQuery)

  private def mixedResults: Seq[(String, Double)] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.zipWithIndex.map { case (n, i) =>
      // every 3rd query 2.5 s, every 7th 12.34 s, one failure, rest 0.25 s
      val v =
        if (i == 5) -1.0
        else if (i % 7 == 0) 12.34
        else if (i % 3 == 0) 2.5
        else 0.25
      n -> v
    }
  }

  private val sbtEpilogue =
    "[success] Total time: 1269 s (21:09), completed Dec 28, 2026, 11:44:19 AM\n"

  test("headline line for the full inventory stays under 1850 bytes") {
    // Value distribution mirroring the r21 driver bench (22 queries
    // under 0.1 s / 135 under 1 s / 36 over), with every bucket pushed
    // to its digit ceiling so this is the worst line that distribution
    // can print.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val realistic = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 5 == 0) 9.99 else if (i % 9 == 1) 0.09 else 0.99)
    }
    val line = Bench.toJsonHeadline(realistic, "/root/testdata/sf0.1")
    assert(line.length < 1850, s"headline is ${line.length} bytes:\n$line")
  }

  test("headline parses from a simulated 2000-byte tail capture") {
    val line = Bench.toJsonHeadline(mixedResults, "/root/testdata/sf0.1")
    val stdout = "x" * 5000 + "\n" + line + "\n" + sbtEpilogue
    val tail = stdout.takeRight(2000)
    // the harness's recovery: find the JSON line inside the tail
    val jsonLine = tail.split("\n").find(_.startsWith("{"))
    assert(jsonLine.contains(line), "JSON line truncated by the 2000-byte tail")
    // and it must actually be valid JSON with the contract keys
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed = JsonMethods.parse(jsonLine.get)
    val JObject(fields) = parsed: @unchecked
    val keys = fields.map(_._1).toSet
    assert(Set("metric", "value", "unit", "qunit", "queries", "sf").subsetOf(keys))
    val JObject(qs) = (parsed \ "queries"): @unchecked
    assert(qs.size == SparkEntry.queries.size)
    // integer centiseconds: 2.5 s prints as 250, failures as -1
    val vals = qs.collect { case (_, JInt(v)) => v.toInt }
    assert(vals.size == qs.size, "non-integer per-query value in headline")
    assert(vals.contains(250) && vals.contains(-1) && vals.contains(1234))
  }

  test("even a uniformly 0.99 s inventory still fits the tail window") {
    // Uniform ~1 s/query is a 190 s bench — slower than any observed
    // full run of this code at sf0.1. (A uniformly multi-second world,
    // i.e. a box >10x slower than anything measured, would overflow;
    // that trade is documented at Bench.toJsonHeadline.)
    val line = Bench.toJsonHeadline(results(0.99), "/root/testdata/sf0.1")
    assert(line.length + 1 + sbtEpilogue.length <= 2000,
      s"headline is ${line.length} bytes")
  }

  test("full-precision BENCH_LOCAL spelling keeps full names and seconds") {
    val json = Bench.toJson(Seq("q01_agg_pricing" -> 0.1523), "/root/testdata/sf0.1")
    assert(json.contains("\"q01_agg_pricing\":0.1523"))
    assert(json.contains("\"unit\":\"sec\""))
  }
}
