"""Tests of the benchmark's own Python pieces.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import shutil
import tempfile
import unittest

import check
import gen
import stats


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    """The same seed gives byte-identical inputs; another seed does not."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _digests(self, make):
        out = []
        for i, seed in enumerate((5, 5, 6)):
            d = os.path.join(self.tmp, str(i))
            make(d, seed)
            out.append(_tree_digest(d))
        return out

    def _assert_seeded(self, make):
        a, b, c = self._digests(make)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_station_etl(self):
        self._assert_seeded(lambda d, s: gen.station_etl(d, s, 2, n_existing=300,
                                                         per_dialect=40))

    def test_curate_corpus(self):
        self._assert_seeded(lambda d, s: gen.curate_corpus(d, s, 2, originals=70, copies=6))

    def test_nightly_fold(self):
        self._assert_seeded(lambda d, s: gen.nightly_fold(d, s, 4, base_docs=60,
                                                          batch_docs=10))

    def test_registry_sweep(self):
        self._assert_seeded(lambda d, s: gen.registry_sweep(d, s))


class CorpusPathologies(unittest.TestCase):
    def test_four_pathologies_present(self):
        ids, texts, _, _ = gen.corpus(gen._rng(1, 2), 122, 15, 1000)
        by_id = dict(zip(ids, texts))
        # exact-clone cliques: copies 0-4 of an original are identical
        self.assertTrue(all(by_id[1 + c * 1000] == by_id[1] for c in range(5)))
        # near-dup family: copy 5 differs from the original in every 5th word
        a, b = by_id[1].split(), by_id[1 + 5 * 1000].split()
        self.assertEqual(sum(x != y for x, y in zip(a, b)), len(a) // 5)
        # boilerplate header on every 3rd original, in every copy
        self.assertEqual(sum(t.startswith(gen.HEADER) for t in texts), 40 * 15)
        # degenerate template family: every 61st original, every copy
        self.assertEqual(sum(t == gen.TEMPLATE for t in texts), 2 * 15)


class TailRule(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, pct, beyond = stats.tail(xs)
        self.assertEqual((v, pct, beyond), (90, 90.0, 10))

    def test_order_free(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 2)

    def test_too_few_samples_fall_back_to_max(self):
        v, pct, beyond = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, pct, beyond), (3.0, 100.0, 0))

    def test_spread(self):
        med, q1, q3, sp = stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(sp, (q3 - q1) / 5.5)


class XxHash64(unittest.TestCase):
    def test_reference_vectors(self):
        # XXH64 reference values for seed 0, as signed 64-bit
        def signed(x):
            return x - (1 << 64) if x >= 1 << 63 else x
        self.assertEqual(check.xxhash64(b"", 0), signed(0xEF46DB3751D8E999))
        self.assertEqual(check.xxhash64(b"a", 0), signed(0xD24EC4F1A98C6E5B))
        self.assertEqual(check.xxhash64(b"abc", 0), signed(0x44BC2CF5AD770999))


if __name__ == "__main__":
    unittest.main()
