"""The metrics the benchmark prints are exactly the ones BENCHMARK.json lists."""
import json
import os
import unittest

from benchlib import result
from tests.test_result import RAW
from tests.test_trace import job, span

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "BENCHMARK.json")

FORMAT = (["format.%s_mb_s.%s" % (k, e) for k in ("encode", "decode")
           for e in ("plain", "dict", "bitpack")] +
          ["format.compress_mb_s." + c for c in
           ("none", "snappy", "lz4", "zstd", "zlib", "lzma")] +
          ["format.%s.%s" % (k, c) for k in ("decompress_mb_s", "ratio")
           for c in ("snappy", "lz4", "zstd", "zlib", "lzma")])


@unittest.skipUnless(os.path.exists(SPEC), "BENCHMARK.json not found")
class SpecTest(unittest.TestCase):
    def setUp(self):
        with open(SPEC) as f:
            self.spec = json.load(f)

    def units(self, key):
        return {m["name"]: m["unit"] for m in self.spec[key]}

    def test_end_to_end(self):
        got = {k: v[1] for k, v in result.end_to_end(RAW).items()}
        self.assertEqual(got, self.units("end_to_end"))

    def test_per_layer(self):
        raw = dict(RAW, op_traced=[False, True, False, True], loop_start_ms=0.0,
                   format={k: 1.0 for k in FORMAT})
        spans = [span(1, 0, "op", 0, 10), span(2, 1, "query", 0, 10),
                 span(3, 2, "execute", 5, 10, chunks_read=1, scans=1)]
        got = {k: v[1] for k, v in
               result.per_layer(raw, spans, [job(1, "cfbench-2", 6, 9)]).items()}
        self.assertEqual(got, self.units("per_layer"))


if __name__ == "__main__":
    unittest.main()
