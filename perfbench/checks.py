"""Correctness checks of the benchmark, made apart from the engine.

Each check reads what a run wrote (parquet, CSV) with DuckDB and compares
it with ground truth the generators produced or with DuckDB's own answer.
`check(workload, facts)` returns a list of problems; empty means correct.
"""
import csv
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect():
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    return con


def _pq(path):
    """DuckDB source for a Spark parquet directory (or a single file)."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet')"
    return f"read_parquet('{path}')"


def _one(con, sql):
    return con.sql(sql).fetchone()


def _close(a, b, tol=0.011):
    return a is not None and b is not None and abs(float(a) - float(b)) <= tol


def check_elt(facts):
    """elt_rebuild: entity counts equal the generator's ground truth, the
    written facts hold exactly those rows, and the daily aggregate and the
    quality report agree with sums DuckDB takes over the written facts."""
    problems = []
    truth = facts["truth"]
    for i, counts in enumerate(facts["counts"]):
        for k in ("events", "orders", "payments", "refunds"):
            if counts[k] != truth[k]:
                problems.append(f"call {i}: {k} = {counts[k]}, ground truth {truth[k]}")
    out = facts["out_dir"]
    con = _connect()
    for name, src in [("o", "fact_orders"), ("p", "fact_payments"), ("r", "fact_refunds"),
                      ("d", "fact_order_daily")]:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM {_pq(os.path.join(out, src))}")
    for view, key, want in [("o", "order_id", truth["orders"]),
                            ("p", "payment_id", truth["payments"]),
                            ("r", "refund_id", truth["refunds"])]:
        n, distinct = _one(con, f"SELECT count(*), count(DISTINCT {key}) FROM {view}")
        if n != want or distinct != want:
            problems.append(f"{view}: {n} rows, {distinct} distinct {key}, ground truth {want}")
    wh = facts.get("warehouse_dir")
    if wh:
        for table, want in [("fact_orders", truth["orders"]), ("fact_payments", truth["payments"]),
                            ("fact_refunds", truth["refunds"])]:
            n = _one(con, f"SELECT count(*) FROM {_pq(os.path.join(wh, table))}")[0]
            if n != want:
                problems.append(f"warehouse {table}: {n} rows, ground truth {want}")

    # fact_order_daily totals against DuckDB's own attribution of payments
    # and refunds to dated orders
    got = _one(con, "SELECT sum(order_count), sum(paid_count), sum(gross_revenue), "
                    "sum(total_refunds) FROM d")
    want = _one(con, """
        WITH od AS (SELECT order_id FROM o WHERE created_at IS NOT NULL)
        SELECT (SELECT count(*) FROM od),
               (SELECT count(*) FROM p JOIN od USING (order_id) WHERE payment_status = 'success'),
               (SELECT sum(payment_amount) FROM p JOIN od USING (order_id)),
               (SELECT coalesce(sum(refund_amount), 0) FROM r JOIN od USING (order_id))""")
    for label, g, w, tol in zip(("order_count", "paid_count", "gross_revenue", "total_refunds"),
                                got, want, (0, 0, 0.5, 0.5)):
        if g is None or w is None or abs(float(g) - float(w)) > tol:
            problems.append(f"fact_order_daily sum({label}) = {g}, DuckDB over the facts {w}")

    reports = glob.glob(os.path.join(out, "quality_report", "*.csv"))
    if len(reports) != 1:
        problems.append(f"quality_report: {len(reports)} CSV files")
    else:
        with open(reports[0]) as fh:
            rows = list(csv.DictReader(fh))
        want = _one(con, """SELECT (SELECT count(*) FROM o), (SELECT count(*) FROM p),
            (SELECT count(*) FROM r),
            (SELECT round(coalesce(sum(payment_amount) FILTER (WHERE payment_status = 'success'), 0), 2) FROM p),
            (SELECT round(coalesce(sum(refund_amount), 0), 2) FROM r)""")
        if len(rows) != 1:
            problems.append(f"quality_report: {len(rows)} rows")
        else:
            row = rows[0]
            for label, w in zip(("total_orders", "total_payments", "total_refunds"), want[:3]):
                if int(row[label]) != w:
                    problems.append(f"quality_report {label} = {row[label]}, DuckDB {w}")
            for label, w in zip(("gross_revenue", "total_refunded"), want[3:]):
                if not _close(row[label], w):
                    problems.append(f"quality_report {label} = {row[label]}, DuckDB {w}")
    return problems


def _canon(con, sql):
    """Rows of a query as a sorted list of tuples with columns by name."""
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    rows = con.sql(f"SELECT {', '.join(_q(c) for c in cols)} FROM ({sql})").fetchall()
    return cols, sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))


def _q(c):
    return '"' + c.replace('"', '""') + '"'


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def compare(con, got_sql, want_sql, label):
    """Exact comparison of two result sets (column names, rows, values)."""
    gc, gr = _canon(con, got_sql)
    wc, wr = _canon(con, want_sql)
    if gc != wc:
        return [f"{label}: columns {gc} != {wc}"]
    if len(gr) != len(wr):
        return [f"{label}: {len(gr)} rows, expected {len(wr)}"]
    for i, (x, y) in enumerate(zip(gr, wr)):
        if len(x) != len(y) or not all(_same(a, b) for a, b in zip(x, y)):
            return [f"{label}: row {i} differs: {x} != {y}"]
    return []


def check_refresh(facts):
    """daily_refresh: the maintained daily table equals the batch
    recompute over the final store, the store holds one row per event_id,
    every stored event was generated, and every day reached the store."""
    problems = []
    con = _connect()
    problems += compare(con, f"SELECT * FROM {_pq(facts['maintained'])}",
                        f"SELECT * FROM {_pq(facts['recompute'])}",
                        "maintained fact_order_daily vs batch recompute")
    con.sql(f"CREATE VIEW s AS SELECT * FROM {_pq(facts['store'])}")
    con.sql(f"CREATE VIEW t AS SELECT * FROM read_csv('{facts['truth']}', header=true, "
            "columns={'day': 'VARCHAR', 'event_id': 'VARCHAR'})")
    n, distinct = _one(con, "SELECT count(*), count(DISTINCT event_id) FROM s")
    if n != distinct:
        problems.append(f"store: {n} rows for {distinct} event_ids")
    stray = _one(con, "SELECT count(*) FROM s ANTI JOIN t USING (event_id)")[0]
    if stray:
        problems.append(f"store: {stray} event_ids the generator never made")
    for day, have, total in con.sql("""
            SELECT t.day, count(s.event_id), count(*) FROM t LEFT JOIN s USING (event_id)
            GROUP BY t.day ORDER BY t.day""").fetchall():
        if have != total:
            problems.append(f"store: day {day} has {have} of its {total} events")
    if len(set(facts["batches_per_round"])) != 1:
        problems.append(f"micro-batches per round differ: {facts['batches_per_round']}")
    return problems


def check_queries(facts):
    """query_mix: every query's result equals DuckDB running the engine's
    oracle SQL over the same parquet tables."""
    problems = []
    con = _connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{facts['tables']}/{t}.parquet')")
    with open(facts["oracle_sql"]) as fh:
        oracle = json.load(fh)
    for name in facts["queries"]:
        try:
            problems += compare(con, f"SELECT * FROM {_pq(os.path.join(facts['results'], name))}",
                                oracle[name], name)
        except duckdb.Error as e:
            problems.append(f"{name}: {e}")
    return problems


def check(workload, facts):
    return {"elt_rebuild": check_elt, "daily_refresh": check_refresh,
            "query_mix": check_queries}[workload](facts)
