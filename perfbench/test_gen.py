"""Tests for the seeded input generators: the same seed gives the same
inputs, another seed other inputs of the same sizes.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import gen


def derived(seed):
    base = gen.tables(seed)
    return base, {**gen.monthly_inputs(base, seed),
                  **gen.curation_inputs(base, seed)}


class GenTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        (b1, d1), (b2, d2) = derived(3), derived(3)
        for name in b1:
            self.assertTrue(b1[name].equals(b2[name]), name)
        for name in d1:
            self.assertTrue(d1[name].equals(d2[name]), name)

    def test_other_seed_same_sizes(self):
        (b1, d1), (b2, d2) = derived(3), derived(4)
        self.assertFalse(b1["orders"].equals(b2["orders"]))
        self.assertFalse(d1["docs"].equals(d2["docs"]))
        for name in b1:
            self.assertEqual(len(b1[name]), len(b2[name]), name)
        for name in ("header", "detail", "fact", "docs", "eval", "emb",
                     "target"):
            self.assertEqual(d1[name].num_rows, d2[name].num_rows, name)


if __name__ == "__main__":
    unittest.main()
