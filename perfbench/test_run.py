"""Tests of run.py's reading of the tools/check_oracle.py report.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import run


class OracleFailuresTest(unittest.TestCase):
    QUERIES = ["q1", "x2", "a3"]

    def test_all_passed(self):
        report = "OK q1 (4 rows)\nOK x2 (0 rows)\nROWS-ONLY a3: 12 rows\n\n2 ok, 0 failed\n"
        self.assertEqual(run.oracle_failures(report, self.QUERIES), [])

    def test_each_failure_kind_counts(self):
        report = ("VALUES DIFFER q1: cols=['v']\n   row0 v: spark=1 duck=2\n"
                  "MISSING OUTPUT x2\nROWS-ONLY a3: 0 rows (EMPTY!)\n\n0 ok, 2 failed\n")
        self.assertEqual(run.oracle_failures(report, self.QUERIES), ["a3", "q1", "x2"])

    def test_query_absent_from_report_fails(self):
        report = "OK q1 (4 rows)\nROWS-ONLY a3: 1 rows\n"
        self.assertEqual(run.oracle_failures(report, self.QUERIES), ["x2"])

    def test_empty_report_fails_everything(self):
        self.assertEqual(run.oracle_failures("", self.QUERIES), sorted(self.QUERIES))


if __name__ == "__main__":
    unittest.main()
