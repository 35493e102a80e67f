"""Generators: the same seed gives byte-identical inputs, another seed
gives different ones."""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):

    def check(self, kind):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            gen.GENERATORS[kind](11, a)
            gen.GENERATORS[kind](11, b)
            gen.GENERATORS[kind](12, c)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))

    def test_movielens(self):
        self.check("movielens")

    def test_copurchase(self):
        self.check("copurchase")

    def test_fixture(self):
        self.check("fixture")

    def test_fixture_keeps_content(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as tmp:
            gen.fixture(5, tmp)
            for t in ("documents", "events", "lineitem"):
                a = pq.read_table(os.path.join(gen.FIXTURE, f"{t}.parquet"))
                b = pq.read_table(os.path.join(tmp, f"{t}.parquet"))
                self.assertEqual(a.schema, b.schema)
                keep = [c for c in a.column_names
                        if c not in ("doc_id", "event_id")]
                self.assertEqual(sorted(map(str, a.select(keep).to_pylist())),
                                 sorted(map(str, b.select(keep).to_pylist())))

    def test_movielens_shape(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen.movielens(3, tmp)
            with open(os.path.join(tmp, "users.dat")) as f:
                users = [ln.split("::") for ln in f]
            self.assertEqual(len(users), 6040)
            male = sum(u[1] == "M" for u in users) / len(users)
            self.assertAlmostEqual(male, 0.72, delta=0.02)
            per_user, per_movie = {}, {}
            with open(os.path.join(tmp, "ratings.dat")) as f:
                for ln in f:
                    u, m = ln.split("::")[:2]
                    per_user[u] = per_user.get(u, 0) + 1
                    per_movie[m] = per_movie.get(m, 0) + 1
            lengths = sorted(per_user.values())
            self.assertGreaterEqual(lengths[0], 20)
            self.assertTrue(80 <= lengths[len(lengths) // 2] <= 200)
            self.assertGreater(lengths[-1], 1000)
            top = max(per_movie.values()) / 6040
            self.assertTrue(0.5 <= top <= 0.65, top)

    def test_copurchase_shape(self):
        import pyarrow.parquet as pq
        import numpy as np
        with tempfile.TemporaryDirectory() as tmp:
            gen.copurchase(3, tmp)
            e = pq.read_table(os.path.join(tmp, "edges.parquet"))
            u, v = e["u"].to_numpy(), e["v"].to_numpy()
        self.assertTrue((u < v).all())
        self.assertEqual(len(set(zip(u.tolist(), v.tolist()))), len(u))
        self.assertAlmostEqual(len(u) / 60000, 1.0, delta=0.01)
        deg = np.unique(np.concatenate([u, v]), return_counts=True)[1]
        # the sf0.1 co-purchase graph: a third of the vertices of degree 1,
        # median 2, 90th percentile 6, 99th 13, maximum 28
        self.assertAlmostEqual((deg == 1).mean(), 3381 / 10022, delta=0.02)
        self.assertEqual(np.percentile(deg, 50), 2)
        self.assertTrue(5 <= np.percentile(deg, 90) <= 7)
        self.assertTrue(12 <= np.percentile(deg, 99) <= 14)
        self.assertLessEqual(deg.max(), 28)


if __name__ == "__main__":
    unittest.main()
