"""Seeded inputs for the benchmark.

reference_layout() writes the reference pipeline's CSV layout
(products.csv, orders/ parts, order_items/ parts) with the column order of
graft.schema.Schemas and the quirks of FIXTURES.md: null brand, returned
orders, 1-5 items per order, and returned orders with zero items.

The same seed always gives the same files.
"""
import os

import numpy as np

CATEGORIES = ["Beauty", "Books", "Clothing", "Electronics", "Home & Kitchen", "Sports", "Toys"]
DEPARTMENTS = ["Personal Care", "Media", "Fashion", "Tech", "Home", "Outdoors", "Kids"]
BRANDS = ["Globex", "Initech", "Umbrella", "Hooli", "Acme", "Stark", "Wayne", "Soylent"]
WORDS = ["stable", "budgetary", "management", "down-sized", "adaptive", "secured",
         "global", "modular", "robust", "compact", "classic", "premium", "smart", "eco"]
DAY0 = np.datetime64("2025-03-08T00:00:00")
DAYS = 31

PRODUCTS_HEADER = "id,sku,cost,category,name,brand,retail_price,department"
ORDERS_HEADER = "order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item"
ITEMS_HEADER = ("id,order_id,user_id,product_id,status,created_at,shipped_at,"
                "delivered_at,returned_at,sale_price")


def _ts(a, mask=None):
    """ISO timestamps as the reference writes them; '' where mask is False."""
    s = np.datetime_as_string(a, unit="s")
    return s if mask is None else np.where(mask, s, "")


def _cents(c):
    return np.char.add(np.char.add((c // 100).astype(str), "."), np.char.zfill((c % 100).astype(str), 2))


def _write_parts(path, header, lines, parts):
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(lines), parts + 1).astype(int)
    for i in range(parts):
        chunk = lines[bounds[i]:bounds[i + 1]]
        with open(os.path.join(path, f"part{i + 1:03d}.csv"), "w") as f:
            f.write(header + "\n")
            if len(chunk):
                f.write("\n".join(chunk) + "\n")


def _join(cols):
    out = cols[0].astype(object)
    for c in cols[1:]:
        out = out + "," + c.astype(object)
    return out


def reference_layout(rng, n_products, n_orders):
    """Returns (products, orders, items) as lists of CSV lines."""
    pid = np.arange(1, n_products + 1)
    cat = rng.integers(0, len(CATEGORIES), n_products)
    retail = rng.integers(500, 50000, n_products)  # cents
    cost = (retail * rng.uniform(0.3, 0.8, n_products)).astype(np.int64)
    brand = np.array(BRANDS)[rng.integers(0, len(BRANDS), n_products)]
    brand = np.where(rng.random(n_products) < 0.01, "", brand)
    name = (np.array(WORDS)[rng.integers(0, len(WORDS), n_products)].astype(object) + " "
            + np.array(WORDS)[rng.integers(0, len(WORDS), n_products)].astype(object))
    sku = np.char.mod("SKU-%08d", rng.integers(0, 10**8, n_products))
    products = _join([pid.astype(str), sku, _cents(cost), np.array(CATEGORIES)[cat], name, brand,
                      _cents(retail), np.array(DEPARTMENTS)[cat]])

    oid = np.arange(1, n_orders + 1)
    user = rng.integers(1, max(2, n_orders * 2 // 3), n_orders)
    returned = rng.random(n_orders) < 0.2
    created = DAY0 + rng.integers(0, DAYS * 86400, n_orders).astype("timedelta64[s]")
    shipped = created + rng.integers(2 * 3600, 30 * 3600, n_orders).astype("timedelta64[s]")
    delivered = shipped + rng.integers(86400, 3 * 86400, n_orders).astype("timedelta64[s]")
    returned_at = delivered + rng.integers(86400, 5 * 86400, n_orders).astype("timedelta64[s]")
    n_items = rng.integers(1, 6, n_orders)
    # returned orders whose items never arrived: the inner joins drop them
    n_items = np.where(returned & (rng.random(n_orders) < 0.01), 0, n_items)
    orders = _join([oid.astype(str), user.astype(str),
                    np.where(returned, "returned", "delivered"), _ts(created),
                    _ts(returned_at, returned), _ts(shipped), _ts(delivered),
                    np.maximum(n_items, 1).astype(str)])

    o_idx = np.repeat(np.arange(n_orders), n_items)
    n = len(o_idx)
    prod = rng.integers(0, n_products, n)
    item_returned = returned[o_idx] & (rng.random(n) < 0.8)
    lag = rng.integers(0, 3600, n).astype("timedelta64[s]")
    price = (retail[prod] * rng.uniform(0.8, 1.0, n)).astype(np.int64)
    items = _join([np.arange(1, n + 1).astype(str), oid[o_idx].astype(str), user[o_idx].astype(str),
                   pid[prod].astype(str), np.where(item_returned, "returned", "delivered"),
                   _ts(created[o_idx] + lag), _ts(shipped[o_idx] + lag), _ts(delivered[o_idx] + lag),
                   _ts(returned_at[o_idx] + lag, item_returned), _cents(price)])
    return list(products), list(orders), list(items)


def write_batch(root, seed, n_products, n_orders):
    """batch_kpi inputs: the layout in data/, and mutated/ whose orders repeat one order_id."""
    rng = np.random.default_rng(seed)
    products, orders, items = reference_layout(rng, n_products, n_orders)
    data = os.path.join(root, "data")
    os.makedirs(data, exist_ok=True)
    with open(os.path.join(data, "products.csv"), "w") as f:
        f.write(PRODUCTS_HEADER + "\n" + "\n".join(products) + "\n")
    _write_parts(os.path.join(data, "orders"), ORDERS_HEADER, orders, 6)
    _write_parts(os.path.join(data, "order_items"), ITEMS_HEADER, items, 19)
    mutated = os.path.join(root, "mutated")
    for sub in ("orders", "order_items"):
        os.makedirs(os.path.join(mutated, sub), exist_ok=True)
        for name in os.listdir(os.path.join(data, sub)):
            os.link(os.path.join(data, sub, name), os.path.join(mutated, sub, name))
    os.link(os.path.join(data, "products.csv"), os.path.join(mutated, "products.csv"))
    dup = os.path.join(mutated, "orders", "part001.csv")
    os.unlink(dup)
    with open(dup, "w") as f:
        f.write(ORDERS_HEADER + "\n" + "\n".join(orders[: len(orders) // 6] + [orders[0]]) + "\n")
    return {"products": len(products), "orders": len(orders), "order_items": len(items)}


def write_stream(root, seed, n_products, n_files, rows_per_file, tags, warm_files=6, warm_rows=500):
    """stream_kpi inputs: static products.csv and orders/ plus n_files
    order_items arrival files of rows_per_file rows, for each tag in its own
    directory: data/ (the watched layout), arrivals/ (files still to land)
    and warm/ (the same layout with warm_files small files for the warm-up)."""
    rng = np.random.default_rng(seed)
    n_items = n_files * rows_per_file
    n_warm = warm_files * warm_rows
    products, orders, items = reference_layout(rng, n_products, int((n_items + n_warm) / 2.9) + 100)
    assert len(items) >= n_items + n_warm
    base = os.path.join(root, "base")
    _write_parts(os.path.join(base, "orders"), ORDERS_HEADER, orders, 6)
    with open(os.path.join(base, "products.csv"), "w") as f:
        f.write(PRODUCTS_HEADER + "\n" + "\n".join(products) + "\n")
    _write_parts(os.path.join(base, "arrivals"), ITEMS_HEADER, items[:n_items], n_files)
    _write_parts(os.path.join(base, "warm"), ITEMS_HEADER, items[n_items:n_items + n_warm], warm_files)
    for tag in tags:
        for sub, items_dir in (("data", None), ("warm", "warm")):
            d = os.path.join(root, tag, sub)
            os.makedirs(os.path.join(d, "orders"))
            os.makedirs(os.path.join(d, "order_items"))
            os.link(os.path.join(base, "products.csv"), os.path.join(d, "products.csv"))
            for name in os.listdir(os.path.join(base, "orders")):
                os.link(os.path.join(base, "orders", name), os.path.join(d, "orders", name))
            for name in os.listdir(os.path.join(base, items_dir)) if items_dir else []:
                os.link(os.path.join(base, items_dir, name), os.path.join(d, "order_items", name))
        os.makedirs(os.path.join(root, tag, "arrivals"))
        for name in os.listdir(os.path.join(base, "arrivals")):
            os.link(os.path.join(base, "arrivals", name), os.path.join(root, tag, "arrivals", name))
    return {"products": len(products), "orders": len(orders), "order_items": n_items,
            "arrival_files": n_files, "rows_per_file": rows_per_file}
