"""Benchmark-local tests: generated inputs are a pure function of the
seed, and BENCHMARK.json lists exactly the metrics run.py reports.

    python3 -m unittest perfbench/test_gen.py
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class SeededInputs(unittest.TestCase):

    def _gen(self, kind, seed):
        d = tempfile.mkdtemp(dir=self.tmp)
        if kind == "weather":
            gen.gen_weather(d, seed, days=12, first_corrected=7)
        else:
            gen.gen_corpus(d, seed, batches=2)
        return d

    def setUp(self):
        self._td = tempfile.TemporaryDirectory()
        self.tmp = self._td.name

    def tearDown(self):
        self._td.cleanup()

    def test_same_seed_same_bytes(self):
        for kind in ("weather", "corpus"):
            a, b = self._gen(kind, 7), self._gen(kind, 7)
            self.assertEqual(_files(a), _files(b))
            for f in _files(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), "%s %s differs" % (kind, f))

    def test_other_seed_other_bytes(self):
        for kind in ("weather", "corpus"):
            a, b = self._gen(kind, 7), self._gen(kind, 8)
            differ = [f for f in _files(a)
                      if not filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)]
            self.assertTrue(differ, kind)

    def test_truth_is_consistent(self):
        d = self._gen("weather", 3)
        truth = json.load(open(os.path.join(d, "truth.json")))
        # no late corrections inside the bulk-loaded history
        exp = gen.expected_table(truth, 7)
        self.assertEqual(len(exp), sum(len(x["valid"]) for x in truth["days"][:7]))
        d = self._gen("corpus", 3)
        for b in json.load(open(os.path.join(d, "truth.json")))["batches"]:
            ids = b["must_go"] + b["should_go"] + b["must_stay"]
            self.assertEqual(len(ids), len(set(ids)))
            self.assertEqual(len(ids), b["docs"])


class BenchmarkFile(unittest.TestCase):

    def test_lists_what_run_reports(self):
        try:
            import metrics
        except ImportError as e:  # duckdb missing: nothing to compare
            self.skipTest(str(e))
        bj = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        self.assertEqual([m["name"] for m in bj["end_to_end"]], [n for n, _, _ in metrics.E2E])
        self.assertEqual([w["name"] for w in bj["workloads"]], list(metrics.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bj["per_layer"]],
                         [(n, u, b) for n, u, b, _ in metrics.per_layer_defs()])
        layer_map = json.load(open(os.path.join(HERE, "layer_map.json")))
        self.assertEqual(sorted(layer_map["per_layer"]),
                         sorted(n for n, _, _, _ in metrics.per_layer_defs()))


if __name__ == "__main__":
    unittest.main()
