"""Self-tests of the warehouse table generator.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_tables  # noqa: E402


def generate(seed):
    return dict(gen_tables.tables(seed, 0.001, 200))


class GenTablesTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = generate(7), generate(7)
        self.assertEqual(sorted(a), sorted(gen_tables.TABLES))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_values(self):
        a, b = generate(7), generate(8)
        self.assertFalse(a["lineitem"].equals(b["lineitem"]))
        self.assertFalse(a["documents"].equals(b["documents"]))

    def test_sizes_follow_the_scale_factor(self):
        t = generate(1)
        z = gen_tables.sizes(0.001)
        for name in ["customer", "supplier", "part", "orders", "lineitem", "events"]:
            self.assertEqual(t[name].num_rows, z[name], name)

    def test_documents_carry_exact_and_near_duplicates(self):
        docs = generate(3)["documents"].to_pydict()
        text = docs["text"]
        self.assertEqual(text[9], text[8])
        self.assertNotEqual(text[7], text[4])
        same = sum(x == y for x, y in zip(text[7].split(), text[4].split()))
        self.assertGreaterEqual(same, len(text[4].split()) - 1)
        self.assertEqual(docs["n_chars"], [len(x) for x in text])


if __name__ == "__main__":
    unittest.main()
