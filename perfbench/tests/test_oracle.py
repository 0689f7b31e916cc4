"""The canonical row form must make Spark's JSON rows and DuckDB's
Python rows hash alike."""
import datetime as dt
import json
import sys
import unittest
from decimal import Decimal
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from pbench import oracle  # noqa: E402


class Canon(unittest.TestCase):
    def test_spark_json_and_duckdb_values_agree(self):
        spark = oracle.spark_rows([json.dumps(
            {"c0": 12.5, "c1": "2024-01-02T03:04:05.000Z", "c2": "2024-01-02",
             "c3": None, "c4": 3, "c5": "NaN", "c6": 1.0e7})])
        duck = [(Decimal("12.50"), dt.datetime(2024, 1, 2, 3, 4, 5),
                 dt.date(2024, 1, 2), None, 3.0, float("nan"), 10000000.0)]
        self.assertEqual(oracle.digest(spark), oracle.digest(duck))

    def test_summation_order_does_not_flip_the_hash(self):
        self.assertEqual(oracle.digest([[0.1 + 0.2]]), oracle.digest([[0.3]]))

    def test_row_order_is_ignored_but_rows_count(self):
        self.assertEqual(oracle.digest([[1], [2]]), oracle.digest([[2], [1]]))
        self.assertNotEqual(oracle.digest([[1], [1]]), oracle.digest([[1]]))

    def test_positional_columns(self):
        rows = oracle.spark_rows(['{"c0": "a", "c1": 1, "c2": null}'])
        self.assertEqual(rows, [["a", 1, None]])


if __name__ == "__main__":
    unittest.main()
