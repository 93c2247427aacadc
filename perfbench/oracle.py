"""DuckDB side of the dashboard's oracle check.

    python3 oracle.py <input dir> <out.pickle> <query name>...

Runs each named query's registry oracle (``QueryDef.oracle``) over the
input's parquet tables and pickles ``{name: normalized result}``. It runs
as a child process while the Spark session primes, so the oracles cost no
extra wall time and never share the measured window.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import pickle
import sys

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _norm(v):
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def normalized(cols, rows) -> tuple[list[str], list[tuple]]:
    """Column-name-sorted, row-sorted, exact-valued form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return [cols[i] for i in order], out


def main() -> None:
    import duckdb

    data, out, *names = sys.argv[1:]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bbt_etl_dw_spark.suite import load_all

    queries = load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    results = {}
    for n in names:
        cur = con.sql(queries[n].oracle)
        results[n] = normalized([d[0] for d in cur.description], cur.fetchall())
    with open(out, "wb") as f:
        pickle.dump(results, f)


if __name__ == "__main__":
    main()
