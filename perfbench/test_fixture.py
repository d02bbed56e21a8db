"""Checks that the benchmark's catalog fixture matches the statistics
of the harness test tables recorded in catalog_profile.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Quantiles and category shares are compared as a two-sample
Kolmogorov-Smirnov test would: the fixture's cumulative share at each
recorded quantile value must lie within 1.95 * sqrt(2 / n) of the
quantile (a 0.1% level for two samples of n rows)."""
import json
import math
import os
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import profile_tables  # noqa: E402
from run import CATALOG_DATA_SEED, CATALOG_SF  # noqa: E402


class CatalogFixtureTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        fixture.catalog(cls.tmp.name, CATALOG_DATA_SEED, CATALOG_SF)
        with open(os.path.join(HERE, "catalog_profile.json")) as f:
            cls.want = json.load(f)
        cls.got = profile_tables.profile(cls.tmp.name)
        cls.con = duckdb.connect()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def cdf(self, table, column, typ, x):
        """The fixture's shares of values below and at or below x."""
        c = f'"{column}"'
        v = f"epoch_us({c})" if typ.startswith("timestamp") else c
        return self.con.execute(
            f"SELECT avg(CAST({v} < ? AS DOUBLE)), avg(CAST({v} <= ? AS DOUBLE)) "
            f"FROM read_parquet('{self.tmp.name}/{table}.parquet')", [x, x]).fetchone()

    def test_columns(self):
        for table in profile_tables.TABLES:
            want, got = self.want[table], self.got[table]
            n = want["rows"]
            tol = 1.95 * math.sqrt(2.0 / n)
            self.assertEqual(got["rows"], n, table)
            self.assertEqual(sorted(got["columns"]), sorted(want["columns"]), table)
            for name, w in want["columns"].items():
                g = got["columns"][name]
                where = f"{table}.{name}"
                self.assertEqual(g["type"], w["type"], where)
                self.assertEqual(g["nulls"], w["nulls"], where)
                if "distinct" in w:
                    if w["distinct"] == n:
                        self.assertEqual(g["distinct"], n, where)
                    else:
                        self.assertLessEqual(abs(g["distinct"] - w["distinct"]),
                                             0.1 * w["distinct"], where)
                if "shares" in w:
                    self.assertEqual(sorted(g["shares"]), sorted(w["shares"]), where)
                    for k, share in w["shares"].items():
                        self.assertLessEqual(abs(g["shares"][k] - share), tol, f"{where}={k}")
                if "mean_length" in w:
                    self.assertLessEqual(abs(g["mean_length"] - w["mean_length"]),
                                         0.05 * w["mean_length"], where)
                for q, x in w.get("quantiles", []):
                    below, at = self.cdf(table, name, w["type"], x)
                    off = 0.0 if below <= q <= at else min(abs(below - q), abs(at - q))
                    self.assertLessEqual(off, tol, f"{where} q{q}")

    def test_structure(self):
        want, got = self.want["derived"], self.got["derived"]
        n_docs = self.want["documents"]["rows"]
        self.assertEqual(got["text_vocabulary"], want["text_vocabulary"])
        self.assertLessEqual(abs(got["text_words_per_doc"] - want["text_words_per_doc"]),
                             0.05 * want["text_words_per_doc"])
        self.assertLessEqual(abs(got["text_dup_share"] - want["text_dup_share"]),
                             1.95 * math.sqrt(2.0 / n_docs))
        self.assertEqual(got["events_ts_inversions"], want["events_ts_inversions"])
        for k in ["cooccur_keys", "cooccur_edges", "cooccur_sources"]:
            self.assertLessEqual(abs(got[k] - want[k]), 0.1 * want[k], k)


if __name__ == "__main__":
    unittest.main()
