"""Tests for the benchmark's input generators.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import itertools
import json
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

# small sizes: the shapes the benchmark uses, fewer rows
SMALL = dict(
    netmon=lambda seed, out: gen.write_netmon(seed, out, batches=6, per_batch=500),
    txn=lambda seed, out: gen.write_txn(seed, out, keys=2000, rounds=3),
    dedup=lambda seed, out: gen.write_dedup(seed, out, shards=2, docs=200),
    olap=lambda seed, out: gen.write_olap(seed, out, sf=0.005),
)


def files(writer, seed):
    with tempfile.TemporaryDirectory() as d:
        writer(seed, d)
        out = {}
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                out[f] = fh.read()
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(d, f))
                out[f + ":shape"] = (str(t.schema), t.num_rows)
        return out


class SeededInputs(unittest.TestCase):

    def test_same_seed_gives_identical_bytes(self):
        for name, w in SMALL.items():
            with self.subTest(name):
                self.assertEqual(files(w, 7), files(w, 7))

    def test_other_seed_gives_other_values_in_the_same_shape(self):
        for name, w in SMALL.items():
            with self.subTest(name):
                a, b = files(w, 7), files(w, 8)
                self.assertEqual(sorted(a), sorted(b))
                data = [f for f in a if not f.endswith((".json", ":shape"))]
                self.assertTrue(any(a[f] != b[f] for f in data))
                for f in a:
                    if f.startswith("lineitem") and f.endswith(":shape"):
                        # 1 to 7 lines per order, as in TPC-H: the count moves a little
                        self.assertEqual(a[f][0], b[f][0], f)
                        self.assertAlmostEqual(a[f][1] / b[f][1], 1, delta=0.05)
                    elif f.endswith(":shape"):
                        self.assertEqual(a[f], b[f], f)
                    elif f.endswith(".bin"):
                        self.assertEqual(len(a[f]), len(b[f]), f)
                    elif f.endswith(".tsv"):
                        self.assertEqual(a[f].count(b"\n"), b[f].count(b"\n"), f)


class PlantedPairs(unittest.TestCase):

    def test_planted_set_is_exactly_the_similar_pairs(self):
        docs = 200
        for seed, shard in [(1, 0), (2, 3)]:
            ids, text = gen.dedup_shard(seed, shard, docs, 40, 50_000)
            sets = [set(t.split()) for t in text]
            similar = [(int(ids[i]), int(ids[j]))
                       for i, j in itertools.combinations(range(docs), 2)
                       if len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= 0.7]
            self.assertEqual(similar, gen.planted_pairs(shard, docs))

    def test_planted_pairs_sit_far_above_the_lsh_threshold(self):
        # 8 bands of 4 miss a pair of Jaccard J with probability (1 - J^4)^8
        docs = 200
        ids, text = gen.dedup_shard(4, 1, docs, 40, 50_000)
        sets = {int(i): set(t.split()) for i, t in zip(ids, text)}
        for a, b in gen.planted_pairs(1, docs):
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            self.assertLess((1 - j ** 4) ** 8, 1e-7, (a, b, j))

    def test_planted_set_arithmetic(self):
        # blocks of 20: a twin (d, d+1) each, a third member in even blocks
        self.assertEqual(gen.planted_pairs(1, 60)[:4],
                         [(60, 61), (60, 62), (61, 62), (80, 81)])
        self.assertEqual(len(gen.planted_pairs(0, 1000)), 50 + 2 * 25)


class Models(unittest.TestCase):

    def test_netmon_counters_wrap_on_a_quarter_grid(self):
        s = gen.netmon_samples(3, hosts=10, ifaces=4, parts=4, per_batch=300,
                               batches=4, batch_span_us=1_000_000)
        v = s["value"]
        self.assertTrue(((v >= 0) & (v < 100)).all())
        self.assertTrue((v * 4 == np.round(v * 4)).all())
        self.assertTrue((s["part"] == s["user_id"] % 4).all())
        m = gen.netmon_model(s, 4)
        self.assertEqual(m["rate_rows"], len(v) - len(np.unique(s["user_id"])))
        self.assertGreater(m["resets"], 0)
        self.assertGreater(m["raises"], 0)

    def test_txn_rounds_keep_the_row_count(self):
        _, plan = gen.txn_plan(5, keys=1000, files=4, groups=8, rounds=4,
                               insert_rows=50, merge_rows=60, merge_new=10,
                               update_width=40)
        for r in plan:
            self.assertEqual(r["digest"]["rows"], 1000)
            self.assertEqual(sum(g[1] for g in r["digest"]["view"]), 1000)
            self.assertEqual([s["kind"] for s in r["stmts"]],
                             ["insert", "merge", "update", "delete", "select", "select",
                              "refresh"])

    def test_inputs_are_sized_from_the_window(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_netmon(1, d, seconds=3, per_batch=100)
            gen.write_txn(1, d, seconds=3, keys=500)
            self.assertEqual(json.load(open(os.path.join(d, "netmon.json")))["batches"],
                             gen.netmon_batches(3))
            self.assertEqual(len(json.load(open(os.path.join(d, "txn.json")))["rounds_plan"]),
                             gen.txn_rounds(3))
            self.assertGreater(gen.netmon_batches(20), gen.netmon_batches(10))


if __name__ == "__main__":
    unittest.main()
