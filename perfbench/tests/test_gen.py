"""The input generator is a pure function of the seed.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen  # noqa: E402

SMALL = {"curate": {"docs": 400, "files": 3, "centers": 4},
         "admit": {"initial": 300, "batch_rows": 50, "batches": 4}}


def tree(root):
    """relative path -> sha256 of every file under root"""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def generate(self, workload, seed):
        tmp = tempfile.mkdtemp()
        out = os.path.join(tmp, "data")
        man = gen.generate(workload, seed, out, SMALL.get(workload))
        self.assertEqual(set(os.listdir(tmp)), {"data"},
                         "the generator writes only under its output directory")
        return out, man

    def check(self, workload):
        a, man_a = self.generate(workload, 7)
        b, man_b = self.generate(workload, 7)
        c, man_c = self.generate(workload, 8)
        # same seed: byte-identical files and the same planted truth
        self.assertEqual(tree(a), tree(b))
        self.assertEqual(man_a, man_b)
        # another seed: same files, shapes and sizes, different content
        ta, tc = tree(a), tree(c)
        self.assertEqual(set(ta), set(tc))
        self.assertNotEqual(ta, tc)
        for name, info in man_a["tables"].items():
            self.assertEqual(info["rows"], man_c["tables"][name]["rows"])
            self.assertEqual(info["files"], man_c["tables"][name]["files"])
        for f in ta:
            if f.endswith(".parquet") and "centers" not in f:
                self.assertEqual(pq.read_schema(os.path.join(a, f)),
                                 pq.read_schema(os.path.join(c, f)))
        return man_a

    def test_analytics(self):
        man = self.check("analytics")
        self.assertEqual(man["tables"]["lineitem"]["rows"], 600000)
        self.assertTrue(all(t["files"] == 1 for t in man["tables"].values()))

    def test_curate(self):
        man = self.check("curate")
        self.assertEqual(man["tables"]["docs"]["files"], 3)
        self.assertEqual(man["planted_shares"], {
            k: int(400 * s) / 400 for k, s in gen.CURATE_SHARES.items()})
        self.assertGreater(man["truth"]["min_near_jaccard"], 0.8)

    def test_admit(self):
        man = self.check("admit")
        self.assertEqual(man["tables"]["batches"]["files"], 4)
        first = man["truth"][0]
        self.assertEqual(len(first["fresh"]), 35)
        self.assertEqual(len(first["replay"]), 5)
        # a replay repeats an id the corpus already holds
        self.assertTrue(all(i < 300 for i in first["replay"]))
        self.assertTrue(set(man["truth"][1]["replay"]) <= set(first["fresh"]))


if __name__ == "__main__":
    unittest.main()
