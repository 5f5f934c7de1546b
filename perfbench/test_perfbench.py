"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py

Fast tests cover the generators, the metric table and the output checks
(a wrong answer must count as a failure). The end-to-end tests run every
workload at tiny scale through run.py, untraced and traced.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in [("a", 7), ("b", 7), ("c", 8)]:
                gen.tick_file(f"{d}/{name}.txt", seed, 2000)
                gen.stream_ticks(f"{d}/{name}.stream", seed, 1000, 0.0, 2, 500, 1.0)
            read = lambda p: open(p, "rb").read()
            self.assertEqual(read(f"{d}/a.txt"), read(f"{d}/b.txt"))
            self.assertNotEqual(read(f"{d}/a.txt"), read(f"{d}/c.txt"))
            self.assertEqual(read(f"{d}/a.stream"), read(f"{d}/b.stream"))

    def test_tick_file_properties(self):
        with tempfile.TemporaryDirectory() as d:
            facts = gen.tick_file(f"{d}/t.txt", 3, 50_000)
            lines = open(f"{d}/t.txt").read().split("\n")[:-1]
        ok = [l.split(";") for l in lines if len(l.split(";")) == 5]
        vol = [int(f[4]) for f in ok]
        last = [int(f[3]) for f in ok]
        self.assertEqual(facts["ticks"], sum(vol))
        self.assertEqual(facts["bars"], sum(vol) // 21)
        self.assertAlmostEqual(vol.count(1) / len(vol), 0.60, delta=0.02)
        self.assertEqual(max(vol), 6)
        out = sum(1 for p in last if not gen.MIN_PRICE <= p <= gen.MAX_PRICE)
        self.assertAlmostEqual(out / len(last), 0.01, delta=0.003)
        self.assertGreater(len(lines) - len(ok), 0)  # malformed and blank lines
        jumps = sum(1 for a, b in zip(last, last[1:]) if 50 < abs(a - b) < 200)
        self.assertGreater(jumps, 0)

    def test_stream_schedule(self):
        with tempfile.TemporaryDirectory() as d:
            facts = gen.stream_ticks(f"{d}/s.txt", 1, 1000, 1.0, 4, 700, 2.0)
            rows = open(f"{d}/s.txt").read().split("\n")
        self.assertEqual(rows[0], "1000000 2000000 4000000")  # lead-in, bursts
        self.assertEqual(facts["ticks"], 5 * 1000 + 2 * 700)
        send = [int(r.split()[0]) for r in rows[1:] if r]
        self.assertEqual(send, sorted(send))
        self.assertEqual(send.count(2_000_000), 700 + 1)


class MetricTable(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]},
                         run.per_layer())
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         ["replay", "stream"])


class Checks(unittest.TestCase):
    def setUp(self):
        self.d = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.d)

    def answer(self, name, rows):
        os.makedirs(f"{self.d}/out/{name}", exist_ok=True)
        pq.write_table(pa.table(rows), f"{self.d}/out/{name}/part-0.parquet")

    def test_perturbed_query_answer_fails(self):
        gen.warehouse(f"{self.d}/wh", 1, 0.0001)
        with open(f"{self.d}/oracle.json", "w") as f:
            json.dump({"q": "SELECT n_regionkey AS r, count(*) AS c FROM nation GROUP BY 1"}, f)
        rows = {"c": [5] * 5, "r": list(range(5))}
        self.answer("q", rows)
        self.assertEqual(checks.queries(f"{self.d}/out", f"{self.d}/wh",
                                        f"{self.d}/oracle.json", ["q"]), 0)
        rows["c"][3] = 6
        self.answer("q", rows)
        self.assertEqual(checks.queries(f"{self.d}/out", f"{self.d}/wh",
                                        f"{self.d}/oracle.json", ["q"]), 1)
        shutil.rmtree(f"{self.d}/out/q")  # a missing answer fails too
        self.assertEqual(checks.queries(f"{self.d}/out", f"{self.d}/wh",
                                        f"{self.d}/oracle.json", ["q"]), 1)

    def test_replay_check_swaps_in_the_file_and_counts(self):
        with open(f"{self.d}/t.txt", "w") as f:
            f.write("20250619 070000 0000001;1;2;41500;2\n\nmalformed;data\n"
                    "20250619 070001 0000001;1;2;41510;1\n")
        lines = ("lines AS (\n  SELECT row_number() OVER (ORDER BY l_orderkey) AS line_idx,"
                 " 'x' AS ts_str, 0 AS last, 1 AS volume\n  FROM lineitem)")
        ticks = (f"WITH {lines}, t AS (SELECT line_idx, last, unnest(generate_series(1, volume)) r"
                 " FROM lines) SELECT row_number() OVER (ORDER BY line_idx, r) AS tick_idx,"
                 " last AS raw_price, 0 AS price_delta, 0 AS status_flag, 0.0 AS signal_re,"
                 " 0.0 AS signal_im, 1.0 AS normalization FROM t")
        bars = (f"WITH {lines} SELECT 1 AS bar_idx, 21 AS bar_ticks, 21 AS bar_volume,"
                " 0 AS bar_open_raw, 0 AS bar_high_raw, 0 AS bar_low_raw, 0 AS bar_close_raw,"
                " 0 AS bar_average_raw, 0 AS bar_price_delta, 0.0 AS bar_signal_re,"
                " 0.0 AS bar_signal_im, 1.0 AS bar_normalization, 0 AS bar_flags,"
                " 0 AS bar_end_timestamp FROM lines WHERE false")
        with open(f"{self.d}/oracle.json", "w") as f:
            json.dump({"t03_hotloop_derivative": ticks, "t07_bars_boxcar": bars}, f)
        sink = {"tick_idx": [1, 2, 3], "raw_price": [41500, 41500, 41510],
                "price_delta": [0] * 3, "status_flag": [0] * 3, "signal_re": [0.0] * 3,
                "signal_im": [0.0] * 3, "normalization": [1.0] * 3,
                "bar_idx": pa.array([None] * 3, type=pa.int64())}
        for c in ["bar_ticks", "bar_volume", "bar_open_raw", "bar_high_raw", "bar_low_raw",
                  "bar_close_raw", "bar_average_raw", "bar_price_delta", "bar_flags"]:
            sink[c] = pa.array([None] * 3, type=pa.int32())
        for c in ["bar_signal_re", "bar_signal_im", "bar_normalization"]:
            sink[c] = pa.array([None] * 3, type=pa.float64())
        facts = {"ticks": 3, "bars": 0}
        args = (f"{self.d}/out/replay", f"{self.d}/t.txt", f"{self.d}/oracle.json", facts)
        self.answer("replay", sink)
        self.assertEqual(checks.replay(*args), 0)
        sink["raw_price"][2] = 41511
        self.answer("replay", sink)
        self.assertEqual(checks.replay(*args), 1)
        sink["raw_price"][2] = 41510
        self.answer("replay", sink)
        self.assertEqual(checks.replay(f"{self.d}/out/replay", f"{self.d}/t.txt",
                                       f"{self.d}/oracle.json", {"ticks": 4, "bars": 0}), 1)

    def stream_file(self, counts, got_last="4 41500 0 0.0 0.0 1.0 0", sent=3):
        path = f"{self.d}/stream_check.txt"
        with open(path, "w") as f:
            f.write(f"consumer analytics {sent} 1 4\n")
            for i, c in enumerate(counts):
                want = f"{i + 1} 41500 0 0.0 0.0 1.0 0"
                got = got_last if i == 3 else want
                f.write(f"{c} | {want} | {got}\n")
        return path

    def test_stream_check(self):
        self.assertEqual(checks.stream(self.stream_file([1, 1, 1, 1])), 0)
        self.assertEqual(checks.stream(self.stream_file([1, 0, 1, 1])), 1)  # dropped
        self.assertEqual(checks.stream(self.stream_file([1, 2, 1, 1])), 1)  # duplicated
        self.assertEqual(checks.stream(self.stream_file(
            [1, 1, 1, 1], got_last="4 41500 0 0.5 0.0 1.0 0")), 1)  # wrong value
        self.assertEqual(checks.stream(self.stream_file([1, 1, 1, 1], sent=2)), 1)


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().split("\n")
    return p.returncode, (json.loads(lines[-1]) if p.returncode == 0 else None)


class EndToEnd(unittest.TestCase):
    def test_tiny_workloads(self):
        for w in ["replay", "stream"]:
            for trace in ["0", "1"] if w == "replay" else ["0"]:
                with self.subTest(workload=w, trace=trace):
                    code, res = bench("--workload", w, "--seed", "5", "--seconds", "2",
                                      "--trace", trace, "--scale", "tiny")
                    self.assertEqual(code, 0)
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = run.per_layer() if trace == "1" else run.END_TO_END
                    self.assertEqual(set(res["metrics"]), set(want))

    def test_without_the_program_fails_without_a_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "replay",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
