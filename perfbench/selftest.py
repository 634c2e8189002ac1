"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 perfbench/selftest.py

Run from the repository root. Covers the /proc accounting against a
known busy child, the per-pass check counting a damaged output as a
failure, the max_df precondition, and the numpy pair references
against the DuckDB twins in ``o2g_spark.operators.dedup``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import unittest

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from perfbench import inputs, proctree, reference  # noqa: E402
from perfbench.run import Passes  # noqa: E402

BUSY_S = 1.5
HOLD_MB = 300
# a child that touches HOLD_MB of memory, then burns BUSY_S of CPU
_BUSY = f"""
import time
x = b"\\x01" * ({HOLD_MB} << 20)
t = time.process_time()
while time.process_time() - t < {BUSY_S}:
    pass
"""


class ProcTreeTest(unittest.TestCase):
    def test_cpu_and_rss_of_a_busy_child(self):
        me = os.getpid()
        cpu0 = proctree.tree_cpu_s(me)
        with proctree.PeakRss(me, interval_s=0.05) as rss:
            child = subprocess.Popen([sys.executable, "-c", _BUSY])
            time.sleep(0.5 + BUSY_S / 2)
            live = proctree.tree_cpu_s(me) - cpu0  # child still running
            child.wait(timeout=60)
        reaped = proctree.tree_cpu_s(me) - cpu0  # now in our cutime
        self.assertEqual(child.returncode, 0)
        self.assertGreater(live, 0.2)
        self.assertGreater(reaped, BUSY_S * 0.9)
        self.assertLess(reaped, BUSY_S + 1.0)  # interpreter start-up + our own reads
        self.assertGreater(rss.peak_bytes, HOLD_MB << 20)

    def test_tree_holds_root_and_children(self):
        child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
        try:
            self.assertIn(child.pid, proctree.tree_pids(os.getpid()))
        finally:
            child.kill()
            child.wait()


class _Stub:
    """A workload whose passes return whatever ``outputs`` holds."""

    def __init__(self, outputs):
        self.outputs = list(outputs)

    def prepare(self):
        pass

    def run_pass(self):
        out = self.outputs.pop(0)
        if isinstance(out, Exception):
            raise out
        return out

    def check(self, out):
        return out == "good"

    @staticmethod
    def corrupt(out):
        return "bad"


class CheckTest(unittest.TestCase):
    def test_damaged_and_raising_passes_count_as_failed(self):
        passes = Passes(_Stub(["good", "bad", RuntimeError("boom"), "good"]), None,
                        os.getpid())
        for _ in range(4):
            r = passes.run()
            if r is not None:
                passes.check(r[2])
        self.assertEqual((passes.attempted, passes.failed), (4, 2))
        self.assertTrue(passes.self_check)

    def test_workload_checks_reject_corrupted_output(self):
        from perfbench.workloads import GeoTiles, IndexRefresh, TextDedup

        geo = GeoTiles.__new__(GeoTiles)
        rows = [(1, 10, 20, 3), (2, 11, 21, 1)]
        geo.ref = {(1, 10, 20): 3, (2, 11, 21): 1}
        self.assertTrue(geo.check(rows))
        self.assertFalse(geo.check(GeoTiles.corrupt(rows)))
        self.assertFalse(geo.check(rows + [rows[0]]))  # a duplicated group

        pairs = [(1, 2, 0.5), (3, 4, 1.0)]
        txt = TextDedup.__new__(TextDedup)
        txt.ref_j = txt.ref_l = {(1, 2): 0.5, (3, 4): 1.0}
        self.assertTrue(txt.check((pairs, pairs)))
        self.assertFalse(txt.check(TextDedup.corrupt((pairs, pairs))))
        self.assertFalse(txt.check(([(1, 2, 0.5), (3, 4, 0.999999)], pairs)))

        idx = IndexRefresh.__new__(IndexRefresh)
        idx.ref = [{}, {(1, 2): 0.5, (3, 4): 1.0}]
        self.assertTrue(idx.check((1, pairs)))
        self.assertFalse(idx.check(IndexRefresh.corrupt((1, pairs))))
        self.assertFalse(idx.check((0, pairs)))


class ReferenceTest(unittest.TestCase):
    def test_hot_shingle_fails_loudly(self):
        docs = inputs.gen_docs(300, seed=5)
        sets = reference.ShingleSets(docs["doc_id"], docs["text"])
        with self.assertRaises(inputs.DfCapExceeded):
            sets.jaccard_pairs(0.4, max_df=2)

    def test_batches_are_disjoint_and_plant_base_dups(self):
        base = inputs.gen_docs(500, seed=5)
        b0, b1 = (inputs.gen_batch(base, k, 100, seed=5) for k in (0, 1))
        ids = set(base["doc_id"]) | set(b0["doc_id"]) | set(b1["doc_id"])
        self.assertEqual(len(ids), 700)
        base_texts = set(base["text"])
        self.assertTrue(any(t[:-len(" dup")] in base_texts for t in b0["text"]))

    def test_pairs_equal_the_duckdb_twins(self):
        import duckdb

        from o2g_spark.operators import dedup

        docs = inputs.gen_docs(600, seed=11)
        sets = reference.ShingleSets(docs["doc_id"], docs["text"])
        con = duckdb.connect()
        con.register("docs", docs)
        for want_sql, got in (
            (dedup.jaccard_pairs_sql("docs", "doc_id", "text", 3, 0.4),
             sets.jaccard_pairs(0.4, max_df=200)),
            (dedup.minhash_lsh_pairs_sql("docs", "doc_id", "text", 32, 16, 0.4),
             sets.lsh_pairs(32, 16, 0.4)),
        ):
            want = con.execute(want_sql).fetchall()
            self.assertGreater(len(want), 10)
            self.assertTrue(reference.same_pairs(want, got))

    def test_geo_rollup_counts_points_per_zone_tile(self):
        square = [[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]]
        texts = ["Coordinates: 1.0000, 1.0000 (map).", "Coordinates: 1.0000, 1.0000 x",
                 "Coordinates: 5.0000, 5.0000", "No geo signal here.",
                 "Coordinates: 95.0000, 1.0000"]
        got = reference.geo_rollup(texts, {7: square}, zoom=11)
        self.assertEqual(sum(got.values()), 2)
        self.assertEqual({k[0] for k in got}, {7})


if __name__ == "__main__":
    unittest.main()
