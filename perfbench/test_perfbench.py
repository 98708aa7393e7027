"""The benchmark's own tests: python3 -m unittest discover -s perfbench"""
import hashlib
import os
import tempfile
import unittest

import layerdiff
import report
import treegen


def disk_state(root):
    """{relpath: (size, mtime, content digest)} of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (st.st_size, int(st.st_mtime),
                                                 hashlib.sha256(fh.read()).hexdigest())
    return out


class TreeGenTest(unittest.TestCase):
    def test_same_seed_same_digest(self):
        a = treegen.digest(treegen.make_spec(7, 500))
        self.assertEqual(a, treegen.digest(treegen.make_spec(7, 500)))
        self.assertNotEqual(a, treegen.digest(treegen.make_spec(8, 500)))

    def test_truth_matches_tiny_tree_on_disk(self):
        spec = treegen.make_spec(3, 1000)
        t = spec["truth"]
        with tempfile.TemporaryDirectory() as root:
            treegen.materialize(spec, root)
            first = disk_state(root)
            self.assertEqual(len(first), t["scanned"])
            sizes = [s for s, _, _ in first.values()]
            self.assertEqual(sum(1 for s in sizes if sizes.count(s) > 1), t["size_colliding"])
            self.assertGreaterEqual(1 - t["size_colliding"] / t["scanned"], 0.95)

            treegen.apply_churn(spec, root)
            second = disk_state(root)
            changed = [k for k in first if first[k] != second[k]]
            self.assertEqual(len(changed), t["churned"])
            # churn keeps sizes, so only the (mtime, size) check can see it
            self.assertTrue(all(first[k][0] == second[k][0] for k in changed))
            self.assertTrue(all(first[k][1] != second[k][1] for k in changed))

            treegen.apply_delete(spec, root)
            third = disk_state(root)
            self.assertEqual(len(second) - len(third), t["cleanup_removed"])
            groups = {}
            for size, _, h in third.values():
                groups[(h, size)] = groups.get((h, size), 0) + 1
            self.assertEqual(sum(1 for n in groups.values() if n > 1), t["dup_groups"])
            self.assertGreater(t["dup_groups"], 0)


class PercentileTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        for n, p in ((10, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
                     (999, 90.0), (1000, 99.0), (10000, 99.9)):
            values = list(range(n))
            got = report.tail(values)
            if p is None:
                self.assertIsNone(got, n)
                continue
            self.assertEqual(got["p"], p, n)
            self.assertEqual(got["n"], n)
            self.assertGreaterEqual(sum(1 for v in values if v > got["value"]), 10, n)

    def test_pct_interpolates(self):
        self.assertEqual(report.pct([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(report.pct([5], 90), 5)


class LayerTest(unittest.TestCase):
    def test_self_time_excludes_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "indexer.full", "start_s": 0.0, "end_s": 10.0},
            {"id": 2, "parent": 1, "name": "fs_scan.scan", "start_s": 1.0, "end_s": 3.0},
            {"id": 3, "parent": 1, "name": "checksum.hash", "start_s": 2.0, "end_s": 6.0},
        ]
        got = report.self_times(spans)
        self.assertAlmostEqual(got["indexer"], 5.0)
        self.assertAlmostEqual(got["fs_scan"], 2.0)
        self.assertAlmostEqual(got["checksum"], 4.0)

    def test_diff_ratio_has_base(self):
        a = {"per_layer": {"spark.jobs": {"value": 10, "unit": "count"}}, "layers": {}}
        b = {"per_layer": {"spark.jobs": {"value": 15, "unit": "count"}},
             "layers": {"store.load_ms": 3.0}}
        rows = {r[0]: r for r in layerdiff.diff(a, b)}
        self.assertEqual(rows["per_layer:spark.jobs"][1:4], (10, 15, 1.5))
        self.assertEqual(rows["layer:store.load_ms"][1:4], (None, 3.0, None))


if __name__ == "__main__":
    unittest.main()
