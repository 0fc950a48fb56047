import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import layers  # noqa: E402


class LayersTest(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(layers.union_ms([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(layers.union_ms([(0, 10), (5, 20), (30, 40)], 8, 35), 17)
        self.assertEqual(layers.union_ms([], 0, 10), 0)

    def test_benchmark_json_lists_every_per_layer_metric(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        listed = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
        self.assertEqual(listed, layers.METRICS)
        with open(os.path.join(HERE, "config.json")) as f:
            names = set(json.load(f)["workloads"])
        self.assertTrue({w["name"] for w in spec["workloads"]} <= names)


class CompareTest(unittest.TestCase):
    def runs(self, values):
        d = tempfile.mkdtemp()
        path = os.path.join(d, "r.jsonl")
        with open(path, "w") as f:
            for seed, v in enumerate(values):
                f.write(json.dumps({"detail": {"workload": "w", "seed": seed}}) + "\n")
                f.write(json.dumps({"correct": True, "attempted": 1, "failed": 0, "metrics": {
                    "wall_s": {"value": v, "unit": "s"}}}) + "\n")
        return compare.load([path])[("w", "wall_s")]

    def test_verdicts(self):
        a = self.runs([10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0])
        faster = self.runs([9.0, 9.1, 8.9, 9.0, 9.2, 8.8, 9.0, 9.1, 8.9, 9.0])
        slower = self.runs([12.0, 12.1, 11.9, 12.0, 12.2, 11.8, 12.0, 12.1, 11.9, 12.0])
        same = self.runs([10.1, 10.0, 10.0, 9.9, 10.1, 9.9, 10.1, 10.0, 10.0, 10.0])
        self.assertEqual(compare.verdict(a, faster, True, 0.1)["verdict"], "improved")
        self.assertEqual(compare.verdict(a, slower, True, 0.1)["verdict"], "worse")
        self.assertEqual(compare.verdict(a, same, True, 0.1)["verdict"], "unchanged")
        noisy = self.runs([5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0])
        self.assertEqual(compare.verdict(noisy, same, True, 0.1)["verdict"], "unresolved")
        self.assertEqual(compare.verdict(a, faster, True, 0.1)["b_wins"], 10)


if __name__ == "__main__":
    unittest.main()
