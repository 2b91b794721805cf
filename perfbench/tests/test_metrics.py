import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import datagen  # noqa: E402
import metrics as M  # noqa: E402


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 0.5), 50)
        self.assertEqual(M.percentile(xs, 0.9), 90)
        self.assertEqual(M.percentile(xs, 0.99), 99)
        self.assertEqual(M.percentile([3.0], 0.9), 3.0)

    def test_order_does_not_matter(self):
        self.assertEqual(M.percentile([5, 1, 4, 2, 3], 0.5), M.percentile([1, 2, 3, 4, 5], 0.5))

    def test_weights_count_as_repeated_samples(self):
        weighted = [(1.0, 80), (2.0, 15), (10.0, 5)]
        flat = [1.0] * 80 + [2.0] * 15 + [10.0] * 5
        for q in (0.5, 0.8, 0.81, 0.95, 0.96, 0.99):
            self.assertEqual(M.percentile(weighted, q), M.percentile(flat, q))
        self.assertEqual(M.count(weighted), 100)

    def test_sample_count_rule(self):
        # a percentile needs at least ten samples beyond it
        self.assertTrue(M.supported(100, 0.9))
        self.assertFalse(M.supported(99, 0.9))
        self.assertTrue(M.supported(1000, 0.99))
        self.assertFalse(M.supported(999, 0.99))
        self.assertTrue(M.supported(20, 0.5))
        self.assertFalse(M.supported(19, 0.5))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            M.percentile([], 0.5)


class SelfTimes(unittest.TestCase):
    def test_parent_minus_children(self):
        spans = [span(1, 0, "gate", 0, 100), span(2, 1, "build", 0, 30), span(3, 1, "consume", 30, 90)]
        st = M.self_times(spans)
        self.assertAlmostEqual(st["gate"] * 1e9, 10)
        self.assertAlmostEqual(st["build"] * 1e9, 30)
        self.assertAlmostEqual(st["consume"] * 1e9, 60)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "consume", 0, 100), span(2, 1, "job", 10, 50), span(3, 1, "job", 40, 60)]
        st = M.self_times(spans)
        self.assertAlmostEqual(st["consume"] * 1e9, 50)
        self.assertAlmostEqual(st["job"] * 1e9, 60)

    def test_children_clipped_to_parent(self):
        spans = [span(1, 0, "addBatch", 100, 200), span(2, 1, "sink:ingest:4", 150, 260)]
        st = M.self_times(spans)
        self.assertEqual(st["addBatch"], 50 / 1e9)
        self.assertAlmostEqual(st["sink"] * 1e9, 110)

    def test_self_times_sum_to_root_duration(self):
        spans = [span(1, 0, "pass", 0, 1000), span(2, 1, "gate", 0, 400), span(3, 1, "gate", 500, 900),
                 span(4, 2, "build", 0, 100), span(5, 3, "consume", 600, 900), span(6, 5, "job", 650, 700)]
        self.assertAlmostEqual(sum(M.self_times(spans).values()) * 1e9, 1000)


    def test_split_by_root(self):
        spans = [span(1, 0, "setup", 0, 100), span(2, 1, "pass", 0, 90), span(3, 2, "gate", 0, 80),
                 span(4, 0, "pass", 100, 200), span(5, 4, "gate", 100, 150)]
        inside, rest = M.split_by_root(spans, "setup")
        self.assertEqual(sorted(s["id"] for s in inside), [1, 2, 3])
        self.assertEqual(sorted(s["id"] for s in rest), [4, 5])


class DataGen(unittest.TestCase):
    def test_tables_are_deterministic(self):
        self.assertEqual(datagen.build_tables(0.001), datagen.build_tables(0.001))

    def test_schema_domains(self):
        t = datagen.build_tables(0.001)
        self.assertEqual(len(t["lineitem"][1][0]), 6000)
        self.assertTrue(all(len(v) == datagen.DIM for v in t["embeddings"][1][1]))
        fields = dict(t["documents"][0])
        self.assertEqual(fields["n_chars"], "int64")
        texts, n_chars = t["documents"][1][1], t["documents"][1][4]
        self.assertEqual([len(x) for x in texts], n_chars)


if __name__ == "__main__":
    unittest.main()
