"""Each correctness check of the benchmark must fail on a wrong answer.

Run from the repository root: python3 -m unittest perfbench/test_checks.py
The fixtures are tiny hand-made outputs written with DuckDB; each test
first shows the check passes on the right answer, then breaks one thing.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402


def write(sql, path):
    """Write a query result as a one-file parquet directory, like Spark."""
    os.makedirs(path, exist_ok=True)
    duckdb.sql(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")


ORDERS = """SELECT * FROM (VALUES
    ('o1', 'vendor_a', TIMESTAMP '2026-02-01 10:00:00', 'e1'),
    ('o2', 'vendor_b', TIMESTAMP '2026-02-01 11:00:00', 'e2'),
    ('o3', 'vendor_a', TIMESTAMP '2026-02-02 09:00:00', 'e3'))
    t(order_id, vendor, created_at, event_id)"""
PAYMENTS = """SELECT * FROM (VALUES
    ('p1', 'o1', 100.0, 'success', 'e4'), ('p2', 'o2', 50.5, 'failed', 'e5'),
    ('p3', 'o3', 20.25, 'success', 'e6')) t(payment_id, order_id, payment_amount, payment_status, event_id)"""
REFUNDS = """SELECT * FROM (VALUES ('r1', 'o1', 'p1', 10.0, 'e7'))
    t(refund_id, order_id, payment_id, refund_amount, event_id)"""
DAILY = """SELECT * FROM (VALUES
    (DATE '2026-02-01', 'vendor_a', 100.0, 10.0, 1, 1),
    (DATE '2026-02-01', 'vendor_b', 50.5, 0.0, 1, 0),
    (DATE '2026-02-02', 'vendor_a', 20.25, 0.0, 1, 1))
    t(order_date, vendor, gross_revenue, total_refunds, order_count, paid_count)"""
REPORT = ("total_orders,total_payments,total_refunds,gross_revenue,total_refunded\n"
          "3,3,1,120.25,10.0\n")


class Fixture(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.dir)


class EltCheck(Fixture):
    def facts(self):
        out = os.path.join(self.dir, "out")
        write(ORDERS, f"{out}/fact_orders")
        write(PAYMENTS, f"{out}/fact_payments")
        write(REFUNDS, f"{out}/fact_refunds")
        write(DAILY, f"{out}/fact_order_daily")
        os.makedirs(f"{out}/quality_report")
        with open(f"{out}/quality_report/part-0.csv", "w") as fh:
            fh.write(REPORT)
        truth = {"events": 7, "orders": 3, "payments": 3, "refunds": 1}
        return {"out_dir": out, "counts": [dict(truth, daily=3)], "truth": truth}

    def test_right_answer_passes(self):
        self.assertEqual(checks.check("elt_rebuild", self.facts()), [])

    def test_reused_output_directory_fails(self):
        facts = self.facts()
        # a second run appending into the same directory doubles the log
        write(PAYMENTS, f"{facts['out_dir']}/fact_payments/again")
        problems = checks.check("elt_rebuild", facts)
        self.assertTrue(any(p.startswith("p:") for p in problems), problems)

    def test_count_off_ground_truth_fails(self):
        facts = self.facts()
        facts["counts"][0]["orders"] = 2
        self.assertIn("call 0: orders = 2, ground truth 3", checks.check("elt_rebuild", facts))

    def test_daily_total_off_facts_fails(self):
        facts = self.facts()
        shutil.rmtree(f"{facts['out_dir']}/fact_order_daily")
        write(DAILY.replace("20.25", "21.25"), f"{facts['out_dir']}/fact_order_daily")
        problems = checks.check("elt_rebuild", facts)
        self.assertTrue(any("sum(gross_revenue)" in p for p in problems), problems)

    def test_report_off_facts_fails(self):
        facts = self.facts()
        with open(f"{facts['out_dir']}/quality_report/part-0.csv", "w") as fh:
            fh.write(REPORT.replace("120.25", "100.0"))
        problems = checks.check("elt_rebuild", facts)
        self.assertTrue(any("gross_revenue" in p for p in problems), problems)


class RefreshCheck(Fixture):
    STORE = """SELECT * FROM (VALUES ('a1'), ('a2'), ('a3'), ('b1'), ('b2')) t(event_id)"""

    def facts(self, store=STORE, maintained=DAILY):
        d = self.dir
        write(maintained, f"{d}/maintained")
        write(DAILY, f"{d}/recompute")
        write(store, f"{d}/store")
        with open(f"{d}/truth.csv", "w") as fh:
            fh.write("day,event_id\n2026-02-01,a1\n2026-02-01,a2\n2026-02-01,a3\n"
                     "2026-02-02,b1\n2026-02-02,b2\n")
        return {"maintained": f"{d}/maintained", "recompute": f"{d}/recompute",
                "store": f"{d}/store", "truth": f"{d}/truth.csv",
                "batches_per_round": [3, 3]}

    def test_right_answer_passes(self):
        self.assertEqual(checks.check("daily_refresh", self.facts()), [])

    def test_incremental_differs_from_recompute_fails(self):
        problems = checks.check("daily_refresh", self.facts(maintained=DAILY.replace("50.5", "50.0")))
        self.assertTrue(any("vs batch recompute" in p for p in problems), problems)

    def test_skipped_day_fails(self):
        store = "SELECT * FROM (VALUES ('a1'), ('a2'), ('a3')) t(event_id)"
        self.assertIn("store: day 2026-02-02 has 0 of its 2 events",
                      checks.check("daily_refresh", self.facts(store=store)))

    def test_one_lost_event_fails(self):
        store = self.STORE.replace(", ('a3')", "")
        self.assertIn("store: day 2026-02-01 has 2 of its 3 events",
                      checks.check("daily_refresh", self.facts(store=store)))

    def test_duplicate_event_in_store_fails(self):
        store = self.STORE.replace("('b2')", "('b2'), ('b2')")
        self.assertIn("store: 6 rows for 5 event_ids",
                      checks.check("daily_refresh", self.facts(store=store)))


class QueryCheck(Fixture):
    def facts(self, result):
        d = self.dir
        os.makedirs(f"{d}/tables")
        for t in checks.TABLES:
            duckdb.sql(f"COPY (SELECT range AS k, range * 1.5 AS v FROM range(5)) "
                       f"TO '{d}/tables/{t}.parquet' (FORMAT parquet)")
        write(result, f"{d}/results/q")
        with open(f"{d}/oracle.json", "w") as fh:
            json.dump({"q": "SELECT k, v * 2 AS w FROM orders ORDER BY k"}, fh)
        return {"results": f"{d}/results", "oracle_sql": f"{d}/oracle.json",
                "tables": f"{d}/tables", "queries": ["q"]}

    RIGHT = "SELECT range AS k, range * 3.0 AS w FROM range(5)"

    def test_right_answer_passes(self):
        self.assertEqual(checks.check("query_mix", self.facts(self.RIGHT)), [])

    def test_perturbed_row_fails(self):
        wrong = "SELECT range AS k, CASE WHEN range = 3 THEN 9.5 ELSE range * 3.0 END AS w FROM range(5)"
        problems = checks.check("query_mix", self.facts(wrong))
        self.assertTrue(any(p.startswith("q: row 3 differs") for p in problems), problems)

    def test_missing_row_fails(self):
        problems = checks.check("query_mix", self.facts(self.RIGHT.replace("range(5)", "range(4)")))
        self.assertIn("q: 4 rows, expected 5", problems)


if __name__ == "__main__":
    unittest.main()
