"""Output checks. Each returns (attempted, failed, notes); a wrong result
counts as a failed operation.

batch_kpi: every run's two KPI tables against DuckDB over the same CSVs.
Money is summed as integer cents and rates from integer counts, so the
expected value is exact; the program sums FloatType prices and rounds to
two places, so a value may differ from the exact one by less than a cent.
Keys and counts must match exactly, and each table must have its _SUCCESS
marker. The mutated input (one order_id twice) must make run() return 1 and
write nothing.

registry headliners (traced batch_kpi runs only): each query's result
against its Q.oracle SQL in DuckDB, compared as tools/check_oracle.py does
(columns by name, rows sorted, values as strings).

stream_kpi: every landed file published, and the final upsert store equal to
EcommercePipeline.categoryKpis over the same files (compared in the JVM).
"""
import glob
import os

import duckdb

TOLERANCE = 0.01


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")  # it writes to stdout, where the result line goes
    return con

CSV_COLUMNS = {
    "products": "{'id': 'INTEGER', 'sku': 'VARCHAR', 'cost': 'DOUBLE', 'category': 'VARCHAR', "
                "'name': 'VARCHAR', 'brand': 'VARCHAR', 'retail_price': 'DOUBLE', 'department': 'VARCHAR'}",
    "orders": "{'order_id': 'INTEGER', 'user_id': 'INTEGER', 'status': 'VARCHAR', 'created_at': 'TIMESTAMP', "
              "'returned_at': 'TIMESTAMP', 'shipped_at': 'TIMESTAMP', 'delivered_at': 'TIMESTAMP', "
              "'num_of_item': 'INTEGER'}",
    "order_items": "{'id': 'INTEGER', 'order_id': 'INTEGER', 'user_id': 'INTEGER', 'product_id': 'INTEGER', "
                   "'status': 'VARCHAR', 'created_at': 'TIMESTAMP', 'shipped_at': 'TIMESTAMP', "
                   "'delivered_at': 'TIMESTAMP', 'returned_at': 'TIMESTAMP', 'sale_price': 'DOUBLE'}",
}

CATEGORY_SQL = """
SELECT p.category, CAST(oi.created_at AS DATE) AS order_date,
  sum(CAST(round(oi.sale_price * 100) AS BIGINT)) AS cents, count(*) AS n,
  count(*) FILTER (WHERE oi.status = 'returned') AS n_returned
FROM order_items oi JOIN orders o ON oi.order_id = o.order_id
JOIN products p ON oi.product_id = p.id
GROUP BY 1, 2"""

ORDER_SQL = """
SELECT CAST(o.created_at AS DATE) AS order_date, count(DISTINCT o.order_id) AS total_orders,
  sum(CAST(round(oi.sale_price * 100) AS BIGINT)) AS cents, sum(o.num_of_item) AS total_items_sold,
  count(*) FILTER (WHERE o.status = 'returned') AS n_returned,
  count(DISTINCT o.user_id) AS unique_customers
FROM orders o JOIN order_items oi ON o.order_id = oi.order_id
GROUP BY 1"""


def _expected_kpis(data):
    con = _connect()
    for t, cols in CSV_COLUMNS.items():
        path = os.path.join(data, "products.csv" if t == "products" else f"{t}/*.csv")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv('{path}', header = true, "
                    f"columns = {cols}, timestampformat = '%Y-%m-%dT%H:%M:%S')")
    category = {}
    for cat, d, cents, n, n_ret in con.execute(CATEGORY_SQL).fetchall():
        category[(cat, d)] = {"daily_revenue": cents / 100, "avg_order_value": cents / n / 100,
                              "avg_return_rate": n_ret / n * 100}
    order = {}
    for d, orders, cents, items, n_ret, users in con.execute(ORDER_SQL).fetchall():
        order[(d,)] = {"total_orders": orders, "total_revenue": cents / 100, "total_items_sold": items,
                       "return_rate": n_ret / orders * 100, "unique_customers": users}
    return category, order


def _compare(got_rows, keys, expected):
    """Number of expected or produced rows that do not match."""
    bad = 0
    got = {}
    for row in got_rows:
        got[tuple(row[k] for k in keys)] = row
    for key, exp in expected.items():
        row = got.pop(key, None)
        if row is None:
            bad += 1
            continue
        for col, v in exp.items():
            g = row[col]
            if g is None or (abs(g - v) >= TOLERANCE if isinstance(v, float) else g != v):
                bad += 1
                break
    return bad + len(got)


def _read_parquet(con, path, hive):
    cur = con.execute(f"SELECT * FROM read_parquet('{path}', hive_partitioning = {str(hive).lower()})")
    cols = [c[0] for c in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def check_batch(run_dir, r):
    category, order = _expected_kpis(os.path.join(run_dir, "batch", "data"))
    con = _connect()
    attempted, failed, notes = 0, 0, []
    for rep in r["reps"]:
        attempted += 1
        out = rep["out"]
        bad = 0 if rep["rc"] == 0 and min(rep["published_ms"]) >= 0 else 1
        if not bad:
            cat_rows = _read_parquet(con, os.path.join(out, "category_kpis", "*", "*.parquet"), True)
            ord_rows = _read_parquet(con, os.path.join(out, "order_kpis", "*.parquet"), False)
            bad = (_compare(cat_rows, ("category", "order_date"), category)
                   + _compare(ord_rows, ("order_date",), order))
        if bad:
            failed += 1
            notes.append(f"{out}: rc={rep['rc']}, published_ms={rep['published_ms']}, "
                         f"{bad} KPI rows differ from DuckDB")
    attempted += 1
    if r["mutated_rc"] != 1 or r["mutated_wrote"]:
        failed += 1
        notes.append(f"mutated input: rc={r['mutated_rc']}, wrote={r['mutated_wrote']}")
    return attempted, failed, notes


def check_registry(data, out, r):
    con = _connect()
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        con.execute(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM '{f}'")
    attempted = len(r["queries"])
    failed, notes = r["errors"], []
    for q in r["queries"]:
        name, sql = q["name"], q["oracle"]
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        if not files:
            failed += 1
            notes.append(f"{name}: no output")
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        if sql is None:
            continue
        exp = con.execute(sql).df()
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        if gcols != ecols or len(got) != len(exp):
            failed += 1
            notes.append(f"{name}: columns {gcols} vs {ecols}, rows {len(got)} vs {len(exp)}")
            continue
        gs = got[gcols].astype(str).sort_values(by=gcols, ignore_index=True)
        es = exp[ecols].astype(str).sort_values(by=ecols, ignore_index=True)
        if not gs.equals(es):
            failed += 1
            notes.append(f"{name}: {int((gs != es).any(axis=1).sum())}/{len(gs)} rows differ from the oracle")
    return attempted, failed, notes


def check_stream(r):
    attempted = r["files"]
    failed = r["unpublished"]
    notes = []
    if r["unpublished"]:
        notes.append(f"{r['unpublished']} landed files never published")
    if r["state_mismatched"]:
        failed = attempted
        notes.append(f"upsert store differs from categoryKpis in {r['state_mismatched']} rows")
    return attempted, failed, notes


def check(workload, run_dir, r):
    return check_batch(run_dir, r) if workload == "batch_kpi" else check_stream(r)
