"""Writes the small reference-layout test fixture under
src/test/resources/reference_layout/ and prints its category-KPI row count.

The rows come from perfbench/gen.py's reference_layout at a fixed seed, so
the fixture carries the FIXTURES.md quirks (null brand, returned orders,
returned orders with no items). The count comes from the DuckDB query in
perfbench/checks.py (_expected_kpis), independent of the engine under test.

    python3 tools/gen_reference_fixture.py
"""
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
OUT = os.path.join(ROOT, "src", "test", "resources", "reference_layout")


def main():
    products, orders, items = gen.reference_layout(np.random.default_rng(SEED), N_PRODUCTS, N_ORDERS)
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    with open(os.path.join(OUT, "products.csv"), "w") as f:
        f.write(gen.PRODUCTS_HEADER + "\n" + "\n".join(products) + "\n")
    gen._write_parts(os.path.join(OUT, "orders"), gen.ORDERS_HEADER, orders, ORDER_PARTS)
    gen._write_parts(os.path.join(OUT, "order_items"), gen.ITEMS_HEADER, items, ITEM_PARTS)
    category, _ = checks._expected_kpis(OUT)
    print(f"products={len(products)} orders={len(orders)} order_items={len(items)} "
          f"category_kpi_rows={len(category)}")


if __name__ == "__main__":
    main()
