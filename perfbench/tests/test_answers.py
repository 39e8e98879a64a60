"""The DSL answer check: DSL -> DuckDB SQL, and a CSV in the
`Engine.runBatch` format passes only when it holds the right rows.

    python3 -m unittest perfbench/tests/test_answers.py
"""
import csv
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import answers  # noqa: E402
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_work")


class AnswersTest(unittest.TestCase):

    def test_sql_of_derived_columns_and_predicates(self):
        q = {"select": ["day", {"SUM": "value"}], "from": "events",
             "where": [{"col": "event_type", "op": "eq", "val": "view"},
                       {"col": "day", "op": "between", "val": ["2024-01-02", "2024-01-05"]},
                       {"not": {"col": "user_id", "op": "in", "val": [1, 2]}}],
             "group_by": ["day"]}
        self.assertEqual(
            answers.to_sql(q),
            'SELECT CAST(ts AS DATE) AS "day", sum(value) AS "sum(value)" FROM events'
            " WHERE event_type = 'view' AND CAST(ts AS DATE) BETWEEN DATE '2024-01-02'"
            " AND DATE '2024-01-05' AND (NOT user_id IN (1, 2)) GROUP BY CAST(ts AS DATE)")

    def test_check_accepts_right_rows_and_rejects_wrong_ones(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            gen.write_events(1, 500, f"{d}/events.parquet")
            oracle = answers.DslOracle([f"{d}/events.parquet"])
            q = {"select": ["event_type", {"COUNT": "*"}, {"AVG": "value"}],
                 "from": "events", "group_by": ["event_type"]}
            rows = oracle.con.execute(answers.to_sql(q)).fetchall()

            def write(rs):
                with open(f"{d}/q1.csv", "w", newline="") as fh:
                    w = csv.writer(fh)
                    w.writerow(["event_type", "count(*)", "avg(value)"])
                    w.writerows(rs)
                return oracle.check(q, f"{d}/q1.csv")

            self.assertIsNone(write(reversed(rows)))
            wrong = [(t, n + 1, a) for t, n, a in rows]
            self.assertIsNotNone(write(wrong))
            self.assertIsNotNone(write(rows[1:]))


if __name__ == "__main__":
    unittest.main()
