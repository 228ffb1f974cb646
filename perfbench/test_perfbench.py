"""Tests of the benchmark's own code: generators and statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import gen
from stats import median, quartile_spread, tail_percentile


def tree_digest(root):
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SmallSpecs(unittest.TestCase):
    """Shrink the input sizes so each generator runs in milliseconds."""

    def setUp(self):
        self.saved = {k: dict(getattr(gen, k))
                      for k in ("SCC_STREAM", "CURATION", "REPLAY")}
        gen.SCC_STREAM.update(files=30)
        gen.CURATION.update(docs=200)
        gen.REPLAY.update(events=500, docs=100)

    def tearDown(self):
        for k, v in self.saved.items():
            getattr(gen, k).clear()
            getattr(gen, k).update(v)

    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, d, seed)
            return tree_digest(d)


class GeneratorTest(SmallSpecs):
    def test_same_seed_gives_identical_bytes(self):
        for w in ("scc_stream", "curation_batch", "stream_replay"):
            with self.subTest(workload=w):
                self.assertEqual(self.digest(w, 7), self.digest(w, 7))

    def test_different_seed_gives_different_inputs(self):
        for w in ("scc_stream", "curation_batch", "stream_replay"):
            with self.subTest(workload=w):
                self.assertNotEqual(self.digest(w, 7), self.digest(w, 8))

    def test_scc_truth_counts_the_tree(self):
        import json
        with tempfile.TemporaryDirectory() as d:
            t = gen.generate("scc_stream", d, 3)
            n_files = n_msgs = 0
            for dd, _, files in os.walk(d):
                for f in files:
                    n_files += 1
                    with open(os.path.join(dd, f)) as fh:
                        n_msgs += len(json.load(fh)["messages"])
        self.assertEqual(t["files"], n_files)
        self.assertEqual(t["messages_in"], n_msgs)
        self.assertGreater(t["truth"](10 ** 9)["exact_dups"], 0)

    def test_hot_key_share_is_recorded(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen.generate("stream_replay", d, 3)
        self.assertGreater(t["hot_key_share"], 1.0 / gen.REPLAY["users"])


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertEqual(median([5.0]), 5.0)

    def test_tail_percentile(self):
        self.assertIsNone(tail_percentile(list(range(10))))
        # 11 samples: the lowest has 10 above it
        self.assertEqual(tail_percentile(list(range(11))), (100.0 / 11, 0))
        # 20 samples: the 10th smallest is the 50th percentile
        self.assertEqual(tail_percentile(list(range(1, 21))), (50.0, 10))
        self.assertEqual(tail_percentile(list(range(100)))[1], 89)

    def test_quartile_spread(self):
        # exclusive quartiles: [1..10] -> 2.75 and 8.25 around 5.5
        self.assertAlmostEqual(quartile_spread(list(range(1, 11))), 1.0)
        # [1.9, 2.0, 2.05, 2.1] -> 1.925 and 2.0875 around 2.025
        self.assertAlmostEqual(quartile_spread([2.0, 2.1, 1.9, 2.05]),
                               0.1625 / 2.025)

if __name__ == "__main__":
    unittest.main()
