"""Tests of the benchmark's own logic: generator determinism, the feed op
contract, the percentile/N rule, self-time arithmetic and the output
normalization. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import decimal
import hashlib
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def write(self, seed):
        with tempfile.TemporaryDirectory() as d:
            tables = gen.corpus(seed, 0.001, 120, 80)
            gen.write(tables, os.path.join(d, "corpus"))
            gen.write_feeds(seed, os.path.join(d, "feeds"), tables, 3, 0.05)
            return digest(d)

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.write(5), self.write(5))

    def test_other_seed_gives_other_bytes(self):
        self.assertNotEqual(self.write(5), self.write(6))

    def test_corpus_keeps_the_shapes_the_faces_join_on(self):
        t = gen.corpus(3, 0.001, 50, 20)
        docs = t["documents"]
        self.assertEqual(docs.column("doc_id").to_pylist(), list(range(50)))
        texts = docs.column("text").to_pylist()
        self.assertEqual(docs.column("n_chars").to_pylist(), [len(x) for x in texts])
        words = {w for x in texts for w in x.split(" ")}
        self.assertLessEqual(words, set(gen.VOCAB) | {"dup"}, "closed vocabulary")
        self.assertEqual(t["embeddings"].column("vec_id").to_pylist(), list(range(20)))
        self.assertLess(max(t["lineitem"].column("l_orderkey").to_pylist()),
                        t["orders"].num_rows)

    def test_feed_info_tracks_live_payload_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            tables = gen.corpus(4, 0.001, 60, 30)
            info = gen.write_feeds(4, d, tables, 2, 0.1)
        base = sum(len(x.encode()) for x in tables["documents"].column("text").to_pylist())
        self.assertEqual([r["changes"] for r in info["doc"]], [6, 6])
        self.assertNotEqual(info["doc"][0]["live_bytes"], base)
        self.assertEqual(info["vec"][0]["changes"], 3)

    def test_change_feed_honours_the_op_contract(self):
        batches = gen.change_feed("s", 40, 8, 6, gen.text_payload)
        self.assertEqual(batches, gen.change_feed("s", 40, 8, 6, gen.text_payload))
        live, served_ever = set(range(40)), set(range(40))
        for ops in batches:
            ids = [i for i, _, _ in ops]
            self.assertEqual(len(ids), len(set(ids)), "no id twice in one batch")
            for i, op, payload in ops:
                if op == "a":
                    self.assertNotIn(i, served_ever, "'a' only for new ids")
                else:
                    self.assertIn(i, live, "'u'/'d' only for served ids")
                self.assertEqual(payload is None, op == "d")
            for i, op, _ in ops:
                served_ever.add(i)
                (live.discard if op == "d" else live.add)(i)

    def test_reduce_feed_keeps_the_last_writer(self):
        red = gen.reduce_feed([[(1, "u", "x"), (2, "a", "y")], [(1, "d", None)]])
        self.assertEqual(red, [(1, "d", None), (2, "a", "y")])

    def test_face_sample_is_stratified_and_fixed(self):
        registry = {f"M{m}": [f"m{m}_{i}" for i in range(3 + 7 * m)] for m in range(13)}
        a = gen.face_sample(registry, 40)
        self.assertEqual(a, gen.face_sample(registry, 40))
        self.assertEqual(a, sorted(a))
        self.assertEqual(len(set(a)), 40)
        self.assertEqual(len({f.split("_")[0] for f in a}), 13, "every module appears")
        one_each = gen.face_sample(registry, 5)
        self.assertEqual(len(one_each), 13)
        self.assertEqual(len({f.split("_")[0] for f in one_each}), 13)


class PercentileTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(1), 50)
        self.assertEqual(metrics.tail_percentile(39), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_percentile_interpolates(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 75), 4)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 4.6)
        self.assertEqual(metrics.percentile([7], 90), 7)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "name": f"s{i}"}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(0, -1, 10, 30)]), {0: 20})

    def test_children_are_subtracted_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 60),
                 span(3, 1, 12, 20)]
        self.assertEqual(metrics.self_times(spans), {0: 70, 1: 12, 2: 10, 3: 8})

    def test_overlapping_children_count_their_union(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 50)]
        self.assertEqual(metrics.self_times(spans)[0], 60)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130)]
        self.assertEqual(metrics.self_times(spans)[0], 90)


class NormTest(unittest.TestCase):
    def test_duckdb_values_map_to_the_harness_encoding(self):
        ts = datetime.datetime(2024, 1, 1, 0, 0, 1, 5)
        self.assertEqual(check.norm(ts), 1704067201000005)
        self.assertEqual(check.norm(datetime.date(2024, 2, 3)), "2024-02-03")
        self.assertEqual(check.norm(float("nan")), "NaN")
        self.assertEqual(check.norm(float("-inf")), "-Infinity")
        self.assertEqual(check.norm(decimal.Decimal("1.50")), 1.5)
        self.assertEqual(check.norm({"a": 1, "b": [1.0, None]}), (1, (1.0, None)))
        self.assertEqual(check.norm(b"\x01\xff"), "01ff")

    def test_compare_reports_the_first_difference(self):
        got = (["a", "b"], [(1, "x"), (2, "y")])
        self.assertIsNone(check.compare("f", got, (["a", "b"], [(1, "x"), (2, "y")])))
        self.assertIn("rowcount", check.compare("f", got, (["a", "b"], [(1, "x")])))
        self.assertIn("schema", check.compare("f", got, (["a"], [(1,), (2,)])))
        self.assertIn("row 1", check.compare("f", got, (["a", "b"], [(1, "x"), (2, "z")])))


if __name__ == "__main__":
    unittest.main()
