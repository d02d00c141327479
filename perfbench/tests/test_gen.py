"""The seeded generator: same seed, same bytes; another seed, other bytes."""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GenTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            kw = dict(scale=0.05, files=3, row_groups=2)
            sa = gen.generate(a, 1, **kw)
            gen.generate(b, 1, **kw)
            gen.generate(c, 2, **kw)
            self.assertEqual(files(a), files(b))
            self.assertEqual(files(a), files(c))
            for f in files(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)
            differ = [f for f in files(a)
                      if not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)]
            # region and nation are fixed tables; every other one moves with the seed
            self.assertEqual(sorted({f.split(".")[0] for f in differ}),
                             sorted(set(gen.FACTS) | {"customer", "supplier", "part"}))
            self.assertEqual(sa["lineitem"]["files"], 3)
            self.assertEqual(sa["lineitem"]["row_groups"], 6)
            # about 5 % of documents are near duplicates, as in the fixture
            self.assertGreater(sa["near_dup_frac"], 0.01)
            self.assertLess(sa["near_dup_frac"], 0.1)


if __name__ == "__main__":
    unittest.main()
