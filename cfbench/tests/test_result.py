import json
import unittest

from benchlib import result

RAW = {"setup_s": 12.5, "setup_steal_share": 0.0, "op_ms": [10.0, 20.0, 30.0, 40.0],
       "op_steal_share": [0.0] * 4,
       "op_rows": [100, 100, 100, 100], "op_traced": [False] * 4,
       "op_ok": [True] * 4, "op_gc_ms": [0] * 4, "attempted": 4, "failed": 0,
       "stored_bytes": 4000, "stored_rows": 100, "peak_rss_kb": 2048,
       "chunks_total": 3, "format": {}}


class ParseTest(unittest.TestCase):
    def test_plain_line(self):
        text = "noise\nCFBENCH_RESULT " + json.dumps(RAW) + "\n"
        self.assertEqual(result.parse_raw(text), RAW)

    def test_sbt_relayed_tail(self):
        # what `sbt run` with a forked JVM prints: the child's stdout relayed
        # through sbt's logger with an "[info] " prefix, stderr as "[error] "
        text = "\n".join([
            "[info] welcome to sbt 1.10.0",
            "[error] 12:00:01 WARN NativeCodeLoader: Unable to load",
            "[info] CFBENCH_RESULT " + json.dumps(RAW),
            "[success] Total time: 30 s",
        ])
        self.assertEqual(result.parse_raw(text), RAW)

    def test_last_result_wins_and_missing_is_none(self):
        other = dict(RAW, setup_s=1.0)
        text = "CFBENCH_RESULT %s\n[info] CFBENCH_RESULT %s\n" % (
            json.dumps(RAW), json.dumps(other))
        self.assertEqual(result.parse_raw(text)["setup_s"], 1.0)
        self.assertIsNone(result.parse_raw("[info] nothing here\n"))


class EndToEndTest(unittest.TestCase):
    def test_metrics(self):
        m = result.end_to_end(RAW)
        self.assertEqual(m["op_p50_ms"][0], 25.0)
        self.assertAlmostEqual(m["rows_per_s"][0], (100 / 0.02 + 100 / 0.03) / 2)
        self.assertEqual(m["stored_bytes_per_row"][0], 40.0)
        self.assertEqual(sorted(m), sorted([
            "setup_s", "op_p50_ms", "rows_per_s",
            "stored_bytes_per_row"]))

    def test_stolen_time_is_taken_out(self):
        # an op that waited a fifth of its CPU time for the host counts as
        # four fifths of its wall time; so does the set-up
        raw = dict(RAW, setup_steal_share=0.2, op_steal_share=[0.0, 0.5, 0.5, 0.0])
        m = result.end_to_end(raw)
        self.assertAlmostEqual(m["setup_s"][0], 10.0)
        # unstolen times 10, 10, 15, 40
        self.assertAlmostEqual(m["op_p50_ms"][0], 12.5)
        self.assertAlmostEqual(m["rows_per_s"][0], (100 / 0.01 + 100 / 0.015) / 2)

    def test_traced_ops_are_left_out(self):
        raw = dict(RAW, op_traced=[False, True, False, True])
        self.assertEqual(result.end_to_end(raw)["op_p50_ms"][0], 20.0)


if __name__ == "__main__":
    unittest.main()
