"""Writes the small reference-layout test fixture under
src/test/resources/reference_layout/ and its expected KPI tables under
src/test/resources/reference_layout_kpis/.

The rows come from perfbench/gen.py's reference_layout at a fixed seed, so
the fixture carries the FIXTURES.md quirks (null brand, returned orders,
returned orders with no items). The expected KPIs come from the DuckDB
queries in perfbench/checks.py (_expected_kpis: money summed as integer
cents, rates from integer counts), independent of the engine under test.

    python3 tools/gen_reference_fixture.py
"""
import csv
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import numpy as np  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402

SEED = 6
N_PRODUCTS = 40
N_ORDERS = 100
ORDER_PARTS = 2
ITEM_PARTS = 6
RESOURCES = os.path.join(ROOT, "src", "test", "resources")
OUT = os.path.join(RESOURCES, "reference_layout")
KPIS = os.path.join(RESOURCES, "reference_layout_kpis")
CATEGORY_COLUMNS = ("daily_revenue", "avg_order_value", "avg_return_rate")
ORDER_COLUMNS = ("total_orders", "total_revenue", "total_items_sold", "return_rate", "unique_customers")

README = """# reference_layout — small pipeline and stream-spec fixture

The reference pipeline's CSV layout (`products.csv`, `orders/`,
`order_items/`) at a test size: {products} products, {orders} orders in {order_parts} part files,
{items} order_items in {item_parts} part files (one micro-batch each when streamed).
Written by `python3 tools/gen_reference_fixture.py` from
`perfbench/gen.py`'s `reference_layout` at seed {seed}.

The expected KPI tables are in `../reference_layout_kpis/`, computed by the
DuckDB queries of `perfbench/checks.py`'s `_expected_kpis` (exact cents and
integer counts): `category_kpis.csv` has **{category}** rows
(`(category, order_date)` groups) and `order_kpis.csv` has **{order}** rows.
"""


def write_kpis(path, keys, columns, table):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(keys + columns)
        for key in sorted(table, key=lambda k: tuple(str(x) for x in k)):
            w.writerow([str(x) for x in key] + [repr(table[key][c]) for c in columns])


def main():
    products, orders, items = gen.reference_layout(np.random.default_rng(SEED), N_PRODUCTS, N_ORDERS)
    for d in (OUT, KPIS):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    with open(os.path.join(OUT, "products.csv"), "w") as f:
        f.write(gen.PRODUCTS_HEADER + "\n" + "\n".join(products) + "\n")
    gen._write_parts(os.path.join(OUT, "orders"), gen.ORDERS_HEADER, orders, ORDER_PARTS)
    gen._write_parts(os.path.join(OUT, "order_items"), gen.ITEMS_HEADER, items, ITEM_PARTS)
    category, order = checks._expected_kpis(OUT)
    write_kpis(os.path.join(KPIS, "category_kpis.csv"), ("category", "order_date"), CATEGORY_COLUMNS,
               category)
    write_kpis(os.path.join(KPIS, "order_kpis.csv"), ("order_date",), ORDER_COLUMNS, order)
    with open(os.path.join(OUT, "README.md"), "w") as f:
        f.write(README.format(products=len(products), orders=len(orders), order_parts=ORDER_PARTS,
                              items=len(items), item_parts=ITEM_PARTS, seed=SEED,
                              category=len(category), order=len(order)))
    print(f"products={len(products)} orders={len(orders)} order_items={len(items)} "
          f"category_kpi_rows={len(category)} order_kpi_rows={len(order)}")


if __name__ == "__main__":
    main()
