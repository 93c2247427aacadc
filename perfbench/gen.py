"""Seeded input generators for the warehouse benchmark.

Every input is a pure function of ``(seed, size)``: the same seed writes the
same bytes. Generation is never timed. Each generator returns a manifest
that records what it injected (dirty cells per audit rule, duplicate rows)
so the output checks compare the engine against the generator, never
against the engine itself.

Inputs land in ``<cache>/<kind>-<size>-seed<seed>/`` and are reused when
the manifest already exists there.

Tables mimic the engine's synthetic TPC-H-style schema (``catalog.TABLES``):
``region nation customer supplier part orders lineitem``.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# Ship countries of the sales CSV, one per nation key (alphabetic, so a
# clean cell never trips the audit's charset rule).
COUNTRIES = [
    "Algeria", "Argentina", "Brazil", "Canada", "Egypt", "Ethiopia",
    "France", "Germany", "India", "Indonesia", "Iran", "Iraq", "Japan",
    "Jordan", "Kenya", "Morocco", "Mozambique", "Peru", "China", "Romania",
    "Saudi Arabia", "Vietnam", "Russia", "United Kingdom", "United States",
]

EPOCH = dt.date(1970, 1, 1)
ORDER_DAY0 = (dt.date(1995, 1, 1) - EPOCH).days
ORDER_DAYS = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _cached(cache: str, key: str, build) -> tuple[str, dict]:
    """Return (dir, manifest) for ``key``, building it once. A half-written
    directory (no manifest) is rebuilt from scratch."""
    d = os.path.join(cache, key)
    mpath = os.path.join(d, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = build(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, d)
    _prune(cache, keep=8)
    return d, manifest


def _prune(cache: str, keep: int) -> None:
    """Bound the cache: keep the ``keep`` most recently built inputs."""
    dirs = [
        os.path.join(cache, n)
        for n in os.listdir(cache)
        if os.path.isdir(os.path.join(cache, n)) and not n.endswith(".tmp")
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def _tables(out: str, rng: np.random.Generator, sf: float) -> tuple[dict, tuple]:
    """Star-schema source tables at scale ``sf`` (sf0.1 = 600k line items).
    Returns the manifest and the arrays the sales CSV is derived from."""
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(40, int(200_000 * sf))
    n_ord = max(100, int(150_000 * sf * 10))

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c_nation = rng.integers(0, 25, n_cust)
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(c_nation, pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    price = np.round(900 + rng.integers(0, 1000, n_part) / 10, 1)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })

    o_cust = rng.integers(0, n_cust, n_ord)
    o_day = rng.integers(0, ORDER_DAYS + 1, n_ord)
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days_to_ts(ORDER_DAY0 + o_day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    # 1..7 lines per order (mean 4). Part keys step by a stride co-prime
    # with n_part inside an order, so (order, part) is unique and no two
    # sales rows derived from line items can coincide by accident.
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = np.arange(len(l_order)) - starts + 1
    stride = next(s for s in range(7919, 10**6) if np.gcd(s, n_part) == 1)
    l_part = (rng.integers(0, n_part, n_ord)[l_order] + (l_line - 1) * stride) % n_part
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days_to_ts(ORDER_DAY0 + o_day[l_order] + rng.integers(1, 122, n_li)),
    })
    manifest = {
        "sf": sf,
        "rows": {
            "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
            "part": n_part, "orders": n_ord, "lineitem": n_li,
        },
    }
    return manifest, (o_cust, o_day, c_nation, l_order, l_part, qty, price)


def star_tables(cache: str, seed: int, sf: float) -> tuple[str, dict]:
    """Source tables only (the dashboard workload's input)."""

    def build(out: str) -> dict:
        m, _ = _tables(out, np.random.default_rng([seed, 1]), sf)
        return dict(m, seed=seed)

    return _cached(cache, f"star-sf{sf}-seed{seed}", build)


# --- etl_nightly: dirty sales CSV + tax dim + weekly exchange rates -------

SALES_HEADER = [
    "OrderID", "CustomerID", "EmployeeID", "OrderDate", "RequiredDate",
    "ShippedDate", "ShipVia", "Freight", "ShipName", "ShipAddress", "ShipCity",
    "ShipRegion", "ShipPostalCode", "ShipCountry", "OrderID", "ProductID",
    "UnitPrice", "Quantity", "Discount",
]
# Dirt rates (share of sales rows). Recorded verbatim in the manifest.
DIRT = {
    "iso_order_date": 0.25,      # the rest are M/d/yy, which the audit flags
    "bad_unit_price": 0.002,     # letter-contaminated or negative
    "bad_quantity": 0.002,       # non-positive or contaminated
    "negative_freight": 0.002,
    "null_discount": 0.001,
    "dirty_country": 0.001,      # non-alphabetic charset
    "null_shipped_date": 0.03,
    "null_ship_region": 0.5,
    "duplicate_rows": 0.005,     # full-row copies appended
}


def _mdy(d: dt.date) -> str:
    return f"{d.month}/{d.day}/{d.year % 100:02d}"


def etl_inputs(cache: str, seed: int, sf: float) -> tuple[str, dict]:
    """Dirty ``sales.csv`` derived from lineitem x orders x customer x
    nation, plus ``tax.parquet`` (country -> TaxRate) and ``fx.parquet``
    (weekly per-country rate series), over the star tables at ``sf``."""

    def build(out: str) -> dict:
        rng = np.random.default_rng([seed, 2])
        m, (o_cust, o_day, c_nation, l_order, l_part, qty, price) = _tables(out, rng, sf)
        n = len(l_order)
        pick = lambda share: rng.random(n) < share  # noqa: E731

        iso = pick(DIRT["iso_order_date"])
        bad_price = pick(DIRT["bad_unit_price"])
        bad_qty = pick(DIRT["bad_quantity"])
        freight_order = np.round(rng.uniform(0.5, 900.0, len(o_day)), 2)
        neg_freight_order = rng.random(len(o_day)) < DIRT["negative_freight"]
        null_disc = pick(DIRT["null_discount"])
        dirty_ctry = pick(DIRT["dirty_country"])
        null_shipped = pick(DIRT["null_shipped_date"])
        null_region = pick(DIRT["null_ship_region"])
        disc = rng.integers(0, 26, n) / 100

        base = dt.date(1970, 1, 1)
        rows = []
        for i in range(n):
            o = l_order[i]
            day = base + dt.timedelta(days=int(ORDER_DAY0 + o_day[o]))
            cust = o_cust[o]
            country = COUNTRIES[c_nation[cust]]
            if dirty_ctry[i]:
                country = country[:-1] + "#"
            up = f"{price[l_part[i]]:.2f}"
            if bad_price[i]:
                up = f"-{up}" if i % 2 else up[:1] + "a" + up[1:]
            q = str(int(qty[i]))
            if bad_qty[i]:
                q = ("0", "-3", "1x0")[i % 3]
            fr = freight_order[o]
            if neg_freight_order[o]:
                fr = -fr
            rows.append([
                str(o),
                f"C{cust:06d}",
                str(1 + o % 9),
                day.isoformat() if iso[i] else _mdy(day),
                _mdy(day + dt.timedelta(days=28)),
                "" if null_shipped[i] else _mdy(day + dt.timedelta(days=int(3 + o % 20))),
                str(1 + o % 3),
                f"{fr:.2f}",
                f"Ship {cust % 997}",
                f"Rua {cust % 311}, {o % 97}",
                f"City {cust % 53}",
                "" if null_region[i] else f"R{cust % 7}",
                f"{10000 + cust % 89999}",
                country,
                str(o),
                str(l_part[i]),
                up,
                q,
                "" if null_disc[i] else f"{disc[i]:.2f}",
            ])
        n_dup = int(round(DIRT["duplicate_rows"] * n))
        dup_src = rng.choice(n, size=n_dup, replace=False)
        final = rows + [rows[i] for i in dup_src]
        order = rng.permutation(len(final))
        final = [final[i] for i in order]
        with open(f"{out}/sales.csv", "w", newline="") as f:
            w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
            w.writerow(SALES_HEADER)
            w.writerows(final)

        # Injected counts, measured over the final file (a duplicated dirty
        # row is two dirty rows, exactly as the audit sees it).
        def count(col: int, pred) -> int:
            return sum(1 for r in final if pred(r[col]))

        def bad_number(s: str, kind: str) -> bool:
            try:
                v = float(s) if kind == "float" else int(s)
            except ValueError:
                return True
            return v <= 0

        injected = {
            "row_count": len(final),
            "duplicate_rows": n_dup,
            "duplicate_columns": {"OrderID": ["OrderID0", "OrderID14"]},
            "violations": {
                "OrderDate": count(3, lambda s: "/" in s),
                "UnitPrice": count(16, lambda s: bad_number(s, "float")),
                "Quantity": count(17, lambda s: bad_number(s, "int")),
                "Freight": count(7, lambda s: bad_number(s, "float")),
                "ShipCountry": count(13, lambda s: "#" in s),
            },
            "missing_values": {
                "ShippedDate": count(5, lambda s: s == ""),
                "ShipRegion": count(11, lambda s: s == ""),
                "Discount": count(18, lambda s: s == ""),
            },
        }

        _write(f"{out}/tax.parquet", {
            "ShipCountry": COUNTRIES,
            "TaxRate": np.round(rng.uniform(0.0, 0.25, len(COUNTRIES)), 3),
        })
        weeks = np.arange(ORDER_DAY0 - 28, ORDER_DAY0 + ORDER_DAYS + 7, 7)
        _write(f"{out}/fx.parquet", {
            "ShipCountry": np.repeat(COUNTRIES, len(weeks)),
            "RateDate": pa.array(np.tile(weeks, len(COUNTRIES)).astype("int32"), pa.date32()),
            "Rate": np.round(rng.uniform(0.5, 2.0, len(weeks) * len(COUNTRIES)), 4),
        })
        m.update(
            seed=seed,
            dirt_rates=DIRT,
            injected=injected,
            csv_bytes=os.path.getsize(f"{out}/sales.csv"),
        )
        return m

    return _cached(cache, f"etl-sf{sf}-seed{seed}", build)


def main() -> None:
    """``python3 gen.py <cache> <workload> <seed> <size>``: build (or reuse)
    one workload's inputs and print the input directory. Run as a child
    process so generation never counts toward the run's memory peak."""
    import sys

    cache, workload, seed, size = sys.argv[1:5]
    os.makedirs(cache, exist_ok=True)
    if workload == "etl_nightly":
        d, _ = etl_inputs(cache, int(seed), float(size))
    elif workload == "dashboard_mix":
        d, _ = star_tables(cache, int(seed), float(size))
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    print(d)


if __name__ == "__main__":
    main()
