"""The benchmark's own tests: python3 -m unittest discover -s perfbench/tests"""
import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import stats  # noqa: E402

BENCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class TailPercentile(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        for n in (21, 28, 99, 100, 101, 300, 1000, 12345):
            xs = list(range(n))
            p, v, count = stats.tail(xs, cap=100.0)
            self.assertEqual(count, n)
            beyond = sum(1 for x in xs if x > v)
            self.assertGreaterEqual(beyond, 10, (n, p))
            # the next 0.1 step up would leave fewer than ten
            up = round(p + 0.1, 1)
            if up <= 100.0:
                self.assertLess(n - math.ceil(up * n / 100.0), 10, (n, p))

    def test_cap_and_known_values(self):
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(100000)))[0], 99.0)
        p, v, n = stats.tail(list(range(1, 101)))
        self.assertEqual((p, v, n), (90.0, 90, 100))

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(19)))

    def test_twenty_samples_give_the_median(self):
        xs = [float(x) for x in range(20)]
        self.assertEqual(stats.tail(xs), (50.0, stats.median(xs), 20))


class Names(unittest.TestCase):
    def test_charset(self):
        for ok in ("setup_s", "q5.p99_ms_hi", "gate.dag_s", "a-b.c_1"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", "a b", "a/b", "p99%", "x" * 65, "msµ"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_benchmark_json_names(self):
        b = json.load(open(BENCH))
        names = [w["name"] for w in b["workloads"]]
        names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])


class FinalLine(unittest.TestCase):
    def test_parses_from_a_2000_char_tail(self):
        metrics = {f"layer.metric_{i}": {"value": i * 1.234567, "unit": "ms"} for i in range(20)}
        line = json.dumps({"correct": True, "attempted": 28, "failed": 0, "metrics": metrics})
        noise = "".join(f"log line {i} " + "x" * 50 + "\n" for i in range(200))
        out = noise + line + "\n"
        tail = out[-2000:]
        self.assertLessEqual(len(line), 1999)
        obj = stats.final_line(tail)
        self.assertEqual(obj["attempted"], 28)
        self.assertEqual(obj["metrics"]["layer.metric_3"]["unit"], "ms")

    def test_end_to_end_line_fits_the_tail(self):
        b = json.load(open(BENCH))
        metrics = {m["name"]: {"value": 123456.789012345, "unit": m["unit"]}
                   for m in b["end_to_end"]}
        line = json.dumps({"correct": True, "attempted": 300, "failed": 0, "metrics": metrics})
        obj = stats.final_line(("y" * 5000 + "\n" + line + "\n")[-2000:])
        self.assertEqual(set(obj["metrics"]), {m["name"] for m in b["end_to_end"]})

    def test_rejects_other_keys(self):
        with self.assertRaises(ValueError):
            stats.final_line('{"correct": true}\n')


if __name__ == "__main__":
    unittest.main()
