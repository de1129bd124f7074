"""The input generator is a pure function of its seed and scale."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402


class DatagenTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = datagen.tables(0.001, 42), datagen.tables(0.001, 42)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, b = datagen.tables(0.001, 42), datagen.tables(0.001, 43)
        self.assertFalse(a["lineitem"].equals(b["lineitem"]))

    def test_contract_shape(self):
        t = datagen.tables(0.01, 42)
        self.assertEqual(t["lineitem"].num_rows, 60_000)
        self.assertEqual(t["embeddings"].num_rows, 500)
        self.assertEqual(str(t["events"].schema.field("ts").type), "timestamp[us]")
        self.assertEqual(str(t["embeddings"].schema.field("embedding").type), "list<item: float>")


if __name__ == "__main__":
    unittest.main()
