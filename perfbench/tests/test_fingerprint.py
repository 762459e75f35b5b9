"""Tests of the result fingerprint: python3 -m unittest discover perfbench/tests"""
import datetime
import decimal
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import fingerprint  # noqa: E402


def frame():
    return pd.DataFrame({
        "k": [1, 2, 3, 3],
        "v": [0.5, None, 2.25, 2.25],
        "s": ["a", "b", None, "c"],
        "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-03"]),
    })


class FingerprintTest(unittest.TestCase):

    def test_row_order_does_not_matter(self):
        df = frame()
        shuffled = df.iloc[[3, 1, 0, 2]].reset_index(drop=True)
        self.assertEqual(fingerprint.fingerprint(df), fingerprint.fingerprint(shuffled))

    def test_column_order_does_not_matter(self):
        df = frame()
        self.assertEqual(fingerprint.fingerprint(df), fingerprint.fingerprint(df[["t", "s", "v", "k"]]))

    def test_duplicate_rows_count(self):
        df = frame()
        self.assertNotEqual(fingerprint.fingerprint(df), fingerprint.fingerprint(df.iloc[[0, 1, 2]]))
        doubled = pd.concat([df, df.iloc[[0]]])
        self.assertNotEqual(fingerprint.fingerprint(df), fingerprint.fingerprint(doubled))

    def test_a_changed_value_changes_the_fingerprint(self):
        df = frame()
        other = df.copy()
        other.loc[0, "v"] = 0.5000000001
        self.assertNotEqual(fingerprint.fingerprint(df), fingerprint.fingerprint(other))

    def test_integer_width_is_ignored_but_int_versus_float_is_not(self):
        a = pd.DataFrame({"x": pd.Series([1, 2], dtype="int32")})
        b = pd.DataFrame({"x": pd.Series([1, 2], dtype="uint64")})
        c = pd.DataFrame({"x": pd.Series([1.0, 2.0])})
        self.assertEqual(fingerprint.fingerprint(a), fingerprint.fingerprint(b))
        self.assertNotEqual(fingerprint.fingerprint(a), fingerprint.fingerprint(c))

    def test_dates_equal_midnight_timestamps_and_decimals_normalise(self):
        a = pd.DataFrame({"d": [datetime.date(2024, 1, 2)], "m": [decimal.Decimal("1.50")]})
        b = pd.DataFrame({"d": pd.to_datetime(["2024-01-02"]), "m": [decimal.Decimal("1.5")]})
        self.assertEqual(fingerprint.fingerprint(a), fingerprint.fingerprint(b))

    def test_rows_only_pins_count_and_columns(self):
        df = frame()
        other = df.copy()
        other.loc[0, "v"] = 9.0
        self.assertEqual(fingerprint.fingerprint(df, rows_only=True),
                         fingerprint.fingerprint(other, rows_only=True))
        self.assertEqual(fingerprint.fingerprint(df, rows_only=True), "4|k,s,t,v")


if __name__ == "__main__":
    unittest.main()
