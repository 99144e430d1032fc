"""Self-tests of the harness logic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks   # noqa: E402
import datagen  # noqa: E402
import run      # noqa: E402
import stats    # noqa: E402

ROOT = os.path.dirname(HERE)


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 41))          # 1..40
        self.assertEqual(stats.nearest_rank(xs, 50), 20)
        self.assertEqual(stats.nearest_rank(xs, 75), 30)
        self.assertEqual(stats.nearest_rank(reversed(xs), 75), 30)

    def test_beyond_counts_samples_above_the_percentile(self):
        self.assertEqual(stats.beyond(40, 75), 10)
        self.assertEqual(stats.beyond(39, 75), 9)
        self.assertEqual(stats.beyond(27, 60), 10)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))
        self.assertIsNone(stats.tail_percentile(5))

    def passes(self, walls_and_ms, traced=False):
        return [{"traced": traced, "wall_s": w,
                 "ops": [{"ms": m, "heap_mb": 100.0 + i + m / 1e6} for m in ms]}
                for i, (w, ms) in enumerate(walls_and_ms)]

    def test_tail_is_median_of_pass_maxima_below_twenty_samples(self):
        res = {"passes": self.passes([(9.0, [1, 2, 50]), (7.0, [1, 2, 30]), (8.0, [1, 2, 40])])
               + self.passes([(1.0, [900])], traced=True)}
        m = run.e2e_metrics({"min_samples": 9}, res, 1.0)
        self.assertEqual(m["op_tail_ms"][0], 40)
        self.assertEqual(m["op_tail_ms"][2]["percentile"], 100)
        self.assertEqual(m["pass_s"][0], 8.0)
        self.assertEqual(m["op_p50_ms"][:3], (2, "ms", {"samples": 9}))
        self.assertAlmostEqual(m["heap_peak_mb"][0], 101.0, places=3)

    def test_tail_is_the_fixed_percentile_with_enough_samples(self):
        res = {"passes": self.passes([(1.0, list(range(1, 21))), (1.0, list(range(21, 41)))])}
        tail = run.e2e_metrics({"min_samples": 40}, res, 1.0)["op_tail_ms"]
        self.assertEqual(tail[0], 30)
        self.assertEqual(tail[2], {"percentile": 75, "samples": 40, "beyond": 10})


class CountVsE2e(unittest.TestCase):
    def test_gap_table_pairs_readings_of_the_same_pass(self):
        rows = [{"op": "q", "construct.ms": 10.0, "exec.ms": e, "count.ms": c}
                for e, c in ((90.0, 5.0), (110.0, 15.0), (100.0, 10.0))]
        rows.append({"op": "fold", "construct.ms": 1.0, "exec.ms": 1.0, "count.ms": 0.0})
        self.assertEqual(run.gap_table(rows),
                         [{"op": "q", "e2e_ms": 110.0, "count_ms": 20.0, "ratio": 5.5}])


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start": a, "end": b}

    def test_parent_minus_the_interval_its_children_cover(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 30), self.span(2, 0, 20, 50),   # overlap
                 self.span(3, 0, 60, 70),
                 self.span(4, 1, 12, 18)]                            # grandchild
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 40 - 10)   # [10,50) and [60,70)
        self.assertEqual(st[1], 20 - 6)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[4], 6)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([self.span(0, -1, 0, 10), self.span(1, 0, 5, 20)])
        self.assertEqual(st[0], 5)

    def test_peak_concurrency(self):
        self.assertEqual(stats.peak_concurrency([(0, 10), (5, 15), (10, 20)]), 2)
        self.assertEqual(stats.peak_concurrency([(0, 1), (2, 3)]), 1)


class WrongOutputFails(unittest.TestCase):
    def test_frames_differ(self):
        compare = checks._compare_module(ROOT)
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        self.assertIsNone(checks.frames_differ(compare, a, a.iloc[::-1]))
        self.assertIn("value mismatch", checks.frames_differ(
            compare, a, pd.DataFrame({"k": [1, 2], "v": [0.5, 1.6]})))
        self.assertIn("rowcount", checks.frames_differ(compare, a, a.head(1)))
        self.assertIn("schema", checks.frames_differ(compare, a, a.rename(columns={"v": "w"})))

    def test_fold_checks(self):
        state = {1: (3, "open", 10.0, 2), 2: (4, "done", 5.25, 1)}
        self.assertIsNone(checks.check_readback([2, 15.25, 3], state))
        self.assertIsNotNone(checks.check_readback([2, 15.5, 3], state))
        self.assertIsNotNone(checks.check_readback([3, 15.25, 3], state))
        with tempfile.TemporaryDirectory() as d:
            table = pa.table({"id": [1, 2], "grp": [3, 4], "status": ["open", "done"],
                              "amount": [10.0, 5.25], "version": [2, 1],
                              "__seq": [7, 8], "__deleted": [False, False]})
            pq.write_table(table, os.path.join(d, "part-0.parquet"))
            self.assertIsNone(checks.check_table(d, state, guarded=True))
            wrong = dict(state)
            wrong[2] = (4, "void", 5.25, 1)
            self.assertIsNotNone(checks.check_table(d, wrong, guarded=True))

    def test_wrong_output_counts_as_failed_op(self):
        wl = {"kind": "dbt"}
        merge_states = [{1: (0, "new", 1.0, 1)}]
        cdc_states = [{1: (0, "new", 1.0, 1)}]
        good = [1, 1.0, 1]
        res = {"validation": [], "passes": [{"index": 0, "ops": [
            {"name": "fold_00_merge", "error": None, "readback": good},
            {"name": "fold_01_guarded", "error": None, "readback": [1, 2.0, 1]},
            {"name": "fold_00_merge", "error": "boom", "readback": []}]}]}
        with tempfile.TemporaryDirectory() as d:
            for t in ("merged", "cdc"):
                os.makedirs(os.path.join(d, "validate", "tables", t))
                pq.write_table(pa.table({
                    "id": [1], "grp": [0], "status": ["new"], "amount": [1.0],
                    "version": [1], "__deleted": [False]}),
                    os.path.join(d, "validate", "tables", t, "p.parquet"))
            attempted, failures = run.check_outputs(wl, res, d, d, (merge_states, cdc_states))
        self.assertEqual(attempted, 5)
        self.assertEqual(sorted(f[0] for f in failures), ["fold_00_merge", "fold_01_guarded"])


def tree_digest(path):
    h = hashlib.sha256()
    for d, dirs, names in sorted(os.walk(path)):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            digests = []
            for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
                out = os.path.join(d, sub)
                datagen.tpch(os.path.join(out, "tpch"), seed, 0.001)
                datagen.reference(os.path.join(out, "ref"), seed, 200)
                datagen.changes(os.path.join(out, "chg"), seed, 500, 50, 2)
                digests.append(tree_digest(out))
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])

    def test_replay_is_last_write_wins(self):
        with tempfile.TemporaryDirectory() as d:
            merge_states, cdc_states = datagen.changes(d, 3, 300, 40, 2)
            b1 = pq.read_table(os.path.join(d, "merge_b1.parquet")).to_pydict()
            for k, g in zip(b1["id"], b1["grp"]):
                self.assertEqual(merge_states[1][k][0], g)
            self.assertEqual(len(merge_states[1]), 300 + 2 * 8)
            cdc = pq.read_table(os.path.join(d, "cdc_b0.parquet")).to_pydict()
            best = {}
            for k, op, s in zip(cdc["id"], cdc["op"], cdc["seq"]):
                if s > 300 and (k not in best or s > best[k][0]):
                    best[k] = (s, op)
            for k, (_, op) in best.items():
                self.assertEqual(k in cdc_states[0], op != "D")


if __name__ == "__main__":
    unittest.main()
