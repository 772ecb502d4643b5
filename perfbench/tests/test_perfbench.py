"""Self-tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import compare  # noqa: E402
from lib import gen, stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


class TailRule(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail(list(range(19))))

    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, pct in [(20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
                       (200, 95.0), (1000, 99.0), (10000, 99.9)]:
            xs = [float(i) for i in range(1, n + 1)]
            value, p, count = stats.tail(xs)
            self.assertEqual((p, count), (pct, n), n)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, n)

    def test_tail_is_a_nearest_rank_sample(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8            # n = 40 -> p75
        value, p, n = stats.tail(xs)
        self.assertEqual((value, p, n), (4.0, 75.0, 40))

    def test_quartiles_match_statistics_quantiles(self):
        import statistics
        xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


class Verdicts(unittest.TestCase):
    base = [100.0, 101.0, 99.0, 100.5, 99.5, 100.2, 99.8, 100.1, 99.9, 100.0]

    def run_verdict(self, b, better="lower", bound=0.1, a=None):
        a = a or self.base
        return compare.verdict(a, b, list(zip(a, b)), better, bound)[0]

    def test_same_code_is_same(self):
        self.assertEqual(self.run_verdict(list(reversed(self.base))), "same")

    def test_clear_gain_is_better(self):
        self.assertEqual(self.run_verdict([x * 0.8 for x in self.base]), "better")
        self.assertEqual(self.run_verdict([x * 1.2 for x in self.base], better="higher"), "better")

    def test_small_gain_inside_the_spread_is_not_better(self):
        a = [100.0, 90.0, 110.0, 95.0, 105.0, 100.0, 92.0, 108.0, 97.0, 103.0]
        self.assertEqual(self.run_verdict([x - 1.0 for x in a], a=a, bound=0.2), "same")

    def test_regression_past_the_bound_is_worse(self):
        self.assertEqual(self.run_verdict([x * 1.3 for x in self.base]), "worse")
        self.assertEqual(self.run_verdict([x * 0.7 for x in self.base], better="higher"), "worse")

    def test_regression_inside_the_bound_is_same(self):
        self.assertEqual(self.run_verdict([x * 1.05 for x in self.base]), "same")

    def test_wide_parent_spread_is_unresolved(self):
        a = [50.0, 150.0, 80.0, 120.0, 60.0, 140.0, 70.0, 130.0, 90.0, 110.0]
        self.assertEqual(self.run_verdict([x * 1.02 for x in a], a=a), "unresolved")


class TracingOverhead(unittest.TestCase):
    def test_pairs_traced_and_untraced_runs_of_each_seed(self):
        runs = {
            ("embed_bulk", 0): {1: {"docs_per_s": 100.0, "op_p50_ms": 10.0},
                                2: {"docs_per_s": 200.0, "op_p50_ms": 20.0},
                                3: {"docs_per_s": 300.0, "op_p50_ms": 30.0}},
            ("embed_bulk", 1): {1: {"trace.docs_per_s": 90.0, "trace.op_p50_ms": 11.0},
                                2: {"trace.docs_per_s": 190.0, "trace.op_p50_ms": 21.0}},
        }
        got = compare.tracing_overhead(runs, "embed_bulk")
        self.assertEqual(set(got), {"docs_per_s", "op_p50_ms"})
        pct, n = got["docs_per_s"]
        self.assertEqual(n, 2)
        self.assertAlmostEqual(pct, ((0.9 - 1) + (0.95 - 1)) / 2 * 100)
        self.assertAlmostEqual(got["op_p50_ms"][0], ((1.1 - 1) + (1.05 - 1)) / 2 * 100)

    def test_no_shared_seed_gives_nothing(self):
        runs = {("index_serve", 0): {1: {"docs_per_s": 1.0, "op_p50_ms": 1.0}},
                ("index_serve", 1): {2: {"trace.docs_per_s": 1.0, "trace.op_p50_ms": 1.0}}}
        self.assertEqual(compare.tracing_overhead(runs, "index_serve"), {})


class Generator(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for w in gen.WORKLOADS:
                gen.generate(w, f"{d}/{w}-a", 7, trace=True)
                gen.generate(w, f"{d}/{w}-b", 7, trace=True)
                gen.generate(w, f"{d}/{w}-c", 8, trace=True)
                a, b, c = (tree_digest(f"{d}/{w}-{s}") for s in "abc")
                self.assertEqual(a, b, w)
                self.assertNotEqual(a, c, w)

    def test_index_serve_schedule_stays_valid(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.generate("index_serve", d, 3)
            base = set(pq.read_table(f"{d}/base").column("id").to_pylist())
            sched = pq.read_table(f"{d}/schedule").to_pylist()
            live, ever = set(base), set(base)
            for op in sched:
                if op["kind"] == "ingest":
                    ids = pq.read_table(f"{d}/ingest/batch-{op['arg']:05d}.parquet") \
                        .column("id").to_pylist()
                    updates = [i for i in ids if i in ever]
                    self.assertTrue(set(updates) <= live, "an update must target a live id")
                    self.assertTrue(updates, "a batch re-embeds recent ids")
                    live |= set(ids)
                    ever |= set(ids)
                elif op["kind"] == "delete":
                    self.assertTrue(set(op["ids"]) <= live, "a delete must target live ids")
                    live -= set(op["ids"])
            self.assertEqual([op["kind"] for op in sched[:3]], ["search", "ingest", "delete"])

    def test_curate_plants_groups(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.curate_corpus(d, 5)
            text = dict(zip(*pq.read_table(f"{d}/corpus").to_pydict().values()))
            groups = pq.read_table(f"{d}/groups").to_pylist()
            by = {}
            for g in groups:
                by.setdefault((g["kind"], g["group"]), []).append(g["id"])
            exact = [ids for (k, _), ids in by.items() if k == "exact"]
            near = [ids for (k, _), ids in by.items() if k == "near"]
            self.assertTrue(exact and near)
            for ids in exact:
                self.assertGreaterEqual(len(ids), 2)
                self.assertEqual(len({text[i] for i in ids}), 1)
            self.assertTrue(any(len(ids) >= 5 for ids in near), "chains need several CC rounds")


if __name__ == "__main__":
    unittest.main()
