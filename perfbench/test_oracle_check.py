"""Tests of the DuckDB-side digest: python3 -m unittest discover -s perfbench"""
import itertools
import unittest

import oracle_check

COLUMNS = ["id", "score", "label"]
ROWS = [(1, 0.25, "a"), (2, 1.0 / 3, None), (3, -7.5, "c")]


class DigestTest(unittest.TestCase):
    def test_matches_the_harness_digest(self):
        # DigestSpec asserts the same literal for the same rows
        self.assertEqual(oracle_check.digest(COLUMNS, ROWS), "3:05396d56c83662b4")

    def test_independent_of_row_order(self):
        for p in itertools.permutations(ROWS):
            self.assertEqual(oracle_check.digest(COLUMNS, list(p)), oracle_check.digest(COLUMNS, ROWS))

    def test_independent_of_column_order(self):
        rev = [tuple(reversed(r)) for r in ROWS]
        self.assertEqual(oracle_check.digest(list(reversed(COLUMNS)), rev),
                         oracle_check.digest(COLUMNS, ROWS))

    def test_type_family_counts(self):
        self.assertNotEqual(oracle_check.digest(["x"], [(1,)]), oracle_check.digest(["x"], [(1.0,)]))
        self.assertNotEqual(oracle_check.digest(["x"], [(True,)]), oracle_check.digest(["x"], [(1,)]))


if __name__ == "__main__":
    unittest.main()
