"""The benchmark's own tests: seeded inputs are byte-identical for the same
seed and differ for another; self times add up to the traced wall time.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import shutil
import tempfile
import unittest

import gen
import spans


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="graftbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def make(self, name, seed):
        out = os.path.join(self.tmp, f"{name}-{seed}-{len(os.listdir(self.tmp))}")
        man = {"tables": lambda: gen.tables(seed, out),
               "corpus": lambda: gen.corpus(seed, out, 400, 0.2),
               "statements": lambda: gen.statements(seed, out, 7.0, 2, 4)}[name]()
        return out, man

    def test_same_seed_gives_identical_bytes(self):
        for name in ("tables", "corpus", "statements"):
            a, man_a = self.make(name, 7)
            b, man_b = self.make(name, 7)
            self.assertEqual(_files(a), _files(b))
            for f in _files(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f"{name}/{f} differs")
            self.assertEqual(man_a, man_b)

    def test_other_seed_gives_other_inputs(self):
        for name in ("tables", "corpus", "statements"):
            a, _ = self.make(name, 7)
            b, _ = self.make(name, 8)
            self.assertTrue(any(not filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                                shallow=False) for f in _files(a)), name)

    def test_corpus_records_its_properties(self):
        _, man = self.make("corpus", 3)
        self.assertEqual(man["rows"]["documents"], 400)
        self.assertEqual(man["near_duplicate_docs"], 78)  # 20 % rounded to whole clusters
        self.assertEqual(man["cluster_size"], 4)

    def test_statement_mix_has_the_failing_share(self):
        _, man = self.make("statements", 3)
        self.assertEqual(man["steady"], 28)
        self.assertEqual(man["warm"], 14)
        self.assertEqual(man["fail_expected"], 1)  # 5 % of 28, exactly


class SelfTime(unittest.TestCase):
    def test_self_times_add_up_to_the_root(self):
        sp = [
            {"id": 1, "parent": 0, "name": "pass", "layer": "bench", "call": 0, "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "name": "q", "layer": "assess", "call": 1, "t0": 10, "t1": 60},
            {"id": 3, "parent": 2, "name": "job 0", "layer": "spark", "call": -1, "t0": 20, "t1": 40},
            # a job overlapping the first, and one outside its parent (clipped)
            {"id": 4, "parent": 2, "name": "job 1", "layer": "spark", "call": -1, "t0": 30, "t1": 70},
            # concurrent work on another thread hangs from the root
            {"id": 5, "parent": 0, "name": "w", "layer": "sink", "call": 0, "t0": 50, "t1": 80},
        ]
        t = spans.analyse(sp)
        self.assertAlmostEqual(sum(t["self_ms"].values()), t["wall_ms"])
        self.assertAlmostEqual(t["wall_ms"], 100 / 1e6)
        self.assertEqual(t["jobs_per_call"], [2])
        # jobs cover 20..60 once clipped: 40 ns busy of 100
        self.assertAlmostEqual(t["driver_only_ms"], 60 / 1e6)


if __name__ == "__main__":
    unittest.main()
