"""The two benchmark workloads.

Each workload drives the engine only through its public functions and
exposes the same shape to ``run.py``:

- ``tables``: catalog tables registered during set-up;
- ``warmup(spark)``: one small discarded operation, part of set-up;
- ``unit(spark, tracer, traced)`` (batch) or ``query(...)`` (dashboard):
  one timed unit; returns its op samples ``(span name, seconds)``;
- ``check(spark)``: untimed output checks; returns failure messages.

The dashboard also has ``prime(spark)``: every query once, untimed.

Every timed op is a span named after the engine layer it calls into; the
span name doubles as the Spark job group in a traced run.
"""

from __future__ import annotations

import math
import os
import pickle
import random
import shutil
import subprocess
import sys
import threading
import time

from pyspark.sql import functions as F

from bbt_etl_dw_spark.sources import parquet as bronze_io
from bbt_etl_dw_spark.sources.csv import read_csv
from bbt_etl_dw_spark.sources.publish import publish_tables, read_published
from oracle import normalized

HERE = os.path.dirname(os.path.abspath(__file__))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class EtlNightly:
    """Raw CSV -> bronze -> audit/clean/enrich/tax/as-of/anomalies ->
    silver -> star schema -> published gold, once per unit."""

    name = "etl_nightly"
    tables = ("customer", "nation", "region", "part", "supplier", "orders", "lineitem")
    SNAPSHOT = "2024-01-01"

    def __init__(self, data: str, manifest: dict, work: str, expect_wrong: bool):
        self.data = data
        self.manifest = manifest
        self.work = work
        self.csv = f"{data}/sales.csv"
        self.expected = manifest["injected"]
        if expect_wrong:
            self.expected = dict(self.expected, duplicate_rows=self.expected["duplicate_rows"] + 1)
        self.n = 0
        self.failures: list[str] = []
        self.last: dict | None = None

    def warmup(self, spark) -> None:
        read_csv(spark, self.csv).count()

    def unit(self, spark, tracer, traced: bool) -> list[tuple[str, float]]:
        from bbt_etl_dw_spark.plans import star
        from bbt_etl_dw_spark.plans.pipeline import run_sales_pipeline

        if self.last is not None:  # flush the previous unit's outputs
            shutil.rmtree(self.last["root"], ignore_errors=True)
        self.n += 1
        root = f"{self.work}/etl-{self.n}"
        gold = f"{root}/gold"
        sd = self.data
        tax = spark.read.parquet(f"{sd}/tax.parquet")
        fx = spark.read.parquet(f"{sd}/fx.parquet")
        ops = []
        with tracer.span("sources.csv", tag=traced) as s:
            raw = read_csv(spark, self.csv)
            bronze_io.write_snapshot(raw, root, "bronze", "sales", self.SNAPSHOT)
        ops.append(s)
        with tracer.span("operators.audit", tag=traced) as s:
            bronze = bronze_io.read_snapshot(
                spark, root, "bronze", "sales", self.SNAPSHOT
            ).drop("snapshot_date")
            res = run_sales_pipeline(bronze, tax_rates=tax, exchange_rates=fx)
        ops.append(s)
        with tracer.span("plans.pipeline", tag=traced) as s:
            bronze_io.write_snapshot(res.flagged, root, "silver", "sales", self.SNAPSHOT)
        ops.append(s)
        with tracer.span("operators.anomalies", tag=traced) as s:
            anomalies = res.anomalies.collect()
        ops.append(s)
        with tracer.span("plans.star", tag=traced) as s:
            version = publish_tables(
                {
                    "dim_customer": star.dim_customer(spark, sd),
                    "dim_part": star.dim_part(spark, sd),
                    "dim_supplier": star.dim_supplier(spark, sd),
                    "dim_calendar": star.dim_calendar(spark),
                    "fact_sales": star.fact_sales(spark, sd),
                },
                gold,
            )
        ops.append(s)
        self.failures += self._check_report(res.report.to_dict())
        self.last = {"root": root, "gold": gold, "version": version, "anomalies": anomalies}
        return [(o["name"], o["end"] - o["start"]) for o in ops]

    def _check_report(self, rep: dict) -> list[str]:
        exp = self.expected
        got = {
            "row_count": rep["row_count"],
            "duplicate_rows": rep["duplicate_rows"],
            "duplicate_columns": rep["duplicate_columns"],
            "violations": {k: v["count"] for k, v in rep["inconsistencies"].items()},
            "missing_values": rep["missing_values"],
        }
        return [
            f"etl: audit {k} = {got[k]!r}, generator injected {exp[k]!r}"
            for k in got
            if got[k] != exp[k]
        ]

    def check(self, spark) -> list[str]:
        import duckdb

        fails, self.failures = self.failures, []
        last = self.last
        silver = bronze_io.read_snapshot(spark, last["root"], "silver", "sales").count()
        want = self.expected["row_count"] - self.expected["duplicate_rows"]
        if silver != want:
            fails.append(f"etl: silver rows {silver}, want input - duplicates = {want}")
        from bbt_etl_dw_spark.plans.star import integrity_report

        fact = read_published(spark, last["gold"], "fact_sales", last["version"])
        ir = integrity_report(fact).first().asDict()
        n_li = self.manifest["rows"]["lineitem"]
        nulls = {k: v for k, v in ir.items() if k.startswith("null_") and v}
        if ir["total_rows"] != n_li or nulls:
            fails.append(f"etl: integrity {ir}, want {n_li} fact rows and no null keys")
        got = fact.agg(F.sum("net_amount")).first()[0]
        want_sum = duckdb.sql(
            "SELECT sum(l_extendedprice * (1 - l_discount)) "
            f"FROM read_parquet('{self.data}/lineitem.parquet')"
        ).fetchone()[0]
        if not math.isclose(got, want_sum, rel_tol=1e-9):
            fails.append(f"etl: gold sum(net_amount) {got!r}, DuckDB says {want_sum!r}")
        if not last["anomalies"]:
            fails.append("etl: anomaly summary is empty")
        return fails

    def write_amp(self) -> float:
        if self.last is None:
            return 0.0
        r = self.last["root"]
        written = sum(_dir_bytes(f"{r}/{layer}") for layer in ("bronze", "silver", "gold"))
        return written / self.manifest["csv_bytes"]


# Dashboard query mix, most popular first. Every one has a DuckDB oracle.
DASHBOARD_QUERIES = (
    "sales_by_region",
    "kpi_sales_by_client_value",
    "kpi_product_status",
    "top_customers_per_segment",
    "kpi_store_attractiveness",
    "customer_order_totals",
    "pricing_summary",
    "inactive_parts_anti_join",
    "composite_join_yearly_rates",
    "nation_revenue_gapfill",
    "kpi_store_growth",
    "revenue_rollup_region_nation",
)
WARMUP_QUERY = "kpi_product_status"  # cheap; the prime runs the rest
ZIPF_S = 1.0
BLOCK = 30


def zipf_schedule(names, seed: int, blocks: int):
    """Seeded Zipf-skewed query order. Each block of ``BLOCK`` draws holds
    every query in its Zipf share (largest-remainder rounding), shuffled by
    the seed: the mix is skewed like real traffic, but its composition does
    not wobble from seed to seed."""
    w = [1 / (r + 1) ** ZIPF_S for r in range(len(names))]
    quota = [BLOCK * x / sum(w) for x in w]
    counts = [int(q) for q in quota]
    for i in sorted(range(len(names)), key=lambda i: counts[i] - quota[i])[: BLOCK - sum(counts)]:
        counts[i] += 1
    rng = random.Random(seed)
    out = []
    for _ in range(blocks):
        block = [n for n, c in zip(names, counts) for _ in range(c)]
        rng.shuffle(block)
        out += block
    return out


class DashboardMix:
    """Closed loop of ``CLIENTS`` threads on one session, each drawing the
    next query from a shared seeded Zipf schedule and collecting its rows."""

    name = "dashboard_mix"
    # Two concurrent dashboard users; their figures were steady across seeds
    # in 15 s runs, so the one-client fallback was not needed.
    CLIENTS = 2
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

    def __init__(self, data, manifest, work, expect_wrong, seed):
        from bbt_etl_dw_spark.suite import load_all

        self.data = data
        self.work = work
        self.child: subprocess.Popen | None = None  # the DuckDB oracle process
        self.oracle: dict = {}
        self.queries = load_all()
        self.names = [n for n in DASHBOARD_QUERIES if n in self.queries]
        self.schedule = zipf_schedule(self.names, seed, blocks=200)
        self.pos = 0
        self.lock = threading.Lock()
        self.expect_wrong = expect_wrong
        self.results: dict[str, tuple] = {}
        self.rowcounts: dict[str, int] = {}
        self.failures: list[str] = []
        self.phase_ms: dict[str, list[float]] = {"build": [], "plan": [], "exec": []}

    def warmup(self, spark) -> None:
        self.queries[WARMUP_QUERY].builder(spark, self.data).collect()

    def prime(self, spark) -> None:
        """Run every query once, ``CLIENTS`` at a time, keeping the rows.
        The DuckDB oracles run meanwhile in a child process."""
        from concurrent.futures import ThreadPoolExecutor

        os.makedirs(self.work, exist_ok=True)
        out = os.path.join(self.work, "oracle.pickle")
        child = self.child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracle.py"), self.data, out, *self.names],
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
        )

        def run(n: str) -> None:
            df = self.queries[n].builder(spark, self.data)
            rows = df.collect()
            with self.lock:
                self.results[n] = (df.columns, rows)
                self.rowcounts[n] = len(rows)

        try:
            with ThreadPoolExecutor(self.CLIENTS) as pool:
                list(pool.map(run, self.names))
        finally:
            _, err = child.communicate(timeout=150)
        if child.returncode:
            raise RuntimeError(f"oracle child failed: {err[-500:]}")
        with open(out, "rb") as f:
            self.oracle = pickle.load(f)

    def _next(self) -> tuple[int, str]:
        with self.lock:
            pos = self.pos
            self.pos += 1
            return pos, self.schedule[pos % len(self.schedule)]

    def query(self, spark, tracer, traced: bool) -> tuple[str, float, int]:
        """Run the next scheduled query; return its name, wall and position
        in the schedule."""
        pos, name = self._next()
        q = self.queries[name]
        with tracer.span("suite", tag=traced, query=name) as s:
            if traced:
                t0 = time.perf_counter()
                df = q.builder(spark, self.data)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                rows = df.collect()
                t3 = time.perf_counter()
            else:
                rows = q.builder(spark, self.data).collect()
        if traced:
            with self.lock:
                self.phase_ms["build"].append((t1 - t0) * 1e3)
                self.phase_ms["plan"].append((t2 - t1) * 1e3)
                self.phase_ms["exec"].append((t3 - t2) * 1e3)
        if len(rows) != self.rowcounts.get(name, len(rows)):
            with self.lock:
                self.failures.append(
                    f"dashboard: {name} returned {len(rows)} rows, "
                    f"{self.rowcounts[name]} before"
                )
        return name, s["end"] - s["start"], pos

    def check(self, spark) -> list[str]:
        fails, self.failures = self.failures, []
        for n in self.names:
            if n not in self.results or n not in self.oracle:
                fails.append(f"dashboard: {n} has no primed result or oracle")
                continue
            s_cols, s_rows = self.results[n]
            got = normalized(s_cols, [tuple(r) for r in s_rows])
            want = self.oracle[n]
            if self.expect_wrong and n == self.names[0]:
                want = (want[0], want[1][1:])
            if got != want:
                fails.append(f"dashboard: {n} differs from its DuckDB oracle")
        return fails
