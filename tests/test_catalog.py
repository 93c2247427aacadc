"""Catalog schema memo: a table's schema is inferred once per session and
file version, so repeated loads run no Spark job and a rewritten file is
never read with its old schema."""

import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bbt_etl_dw_spark import catalog
from bbt_etl_dw_spark.suite import load_all


def _jobs_during(spark, fn):
    """(fn's result, number of Spark jobs fn launched on this thread)."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog memo test")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_load_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [3, 1, 2], "v": ["c", "a", "b"]}), tmp_path / "t.parquet")
    first, jobs = _jobs_during(spark, lambda: catalog.table(spark, str(tmp_path), "t"))
    assert jobs >= 1  # the footer-inference job: proves the count sees jobs
    second, jobs = _jobs_during(spark, lambda: catalog.table(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert second.schema == first.schema
    assert _rows(second) == _rows(first) == [(1, "a"), (2, "b"), (3, "c")]


def test_rewritten_file_reinfers(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert catalog.table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"name": ["x"], "score": [0.5]}), path)
    df = catalog.table(spark, str(tmp_path), "t")
    assert df.columns == ["name", "score"]
    assert _rows(df) == [("x", 0.5)]


def test_part_file_rewritten_in_place_reinfers(spark, tmp_path):
    """A part file two levels down changes no directory's own stat: the
    dataset's version covers every file beneath it."""
    part = tmp_path / "t.parquet" / "p=1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"k": [1]}), part)
    assert catalog.table(spark, str(tmp_path), "t").columns == ["k", "p"]
    pq.write_table(pa.table({"name": ["x"]}), part)
    df = catalog.table(spark, str(tmp_path), "t")
    assert df.columns == ["name", "p"]
    assert _rows(df) == [("x", 1)]


def test_new_session_reinfers(spark, tmp_path):
    pq.write_table(pa.table({"k": [1]}), tmp_path / "t.parquet")
    catalog.table(spark, str(tmp_path), "t")
    other = spark.newSession()
    df, jobs = _jobs_during(other, lambda: catalog.table(other, str(tmp_path), "t"))
    assert jobs >= 1
    assert _rows(df) == [(1,)]


def test_spread_decision_follows_file_version(spark, tmp_path, monkeypatch):
    pq.write_table(pa.table({"k": [1]}), tmp_path / "t.parquet")
    calls = []

    def needs_spread(path):
        calls.append(path)
        return False

    monkeypatch.setattr(catalog, "_needs_spread", needs_spread)
    catalog.table(spark, str(tmp_path), "t", spread=True)
    catalog.table(spark, str(tmp_path), "t", spread=True)
    assert len(calls) == 1
    pq.write_table(pa.table({"k": [1, 2]}), tmp_path / "t.parquet")
    catalog.table(spark, str(tmp_path), "t", spread=True)
    assert len(calls) == 2


def test_uri_path_falls_back_to_inference(spark, tmp_path):
    pq.write_table(pa.table({"k": [7]}), tmp_path / "t.parquet")
    for _ in range(2):
        df, jobs = _jobs_during(spark, lambda: catalog.table(spark, f"file://{tmp_path}", "t"))
        assert jobs >= 1
    assert _rows(df) == [(7,)]


def test_concurrent_loads_with_eviction(spark, tmp_path, monkeypatch):
    """More threads than cores load more tables than the memo holds: every
    load sees its own table's schema and the memo stays bounded."""
    names = [f"t{i}" for i in range(4)]
    for i, n in enumerate(names):
        pq.write_table(pa.table({f"c{i}": [i]}), tmp_path / f"{n}.parquet")
    monkeypatch.setattr(catalog, "_MEMO_SIZE", 2)
    errors = []

    def client(seed):
        try:
            for j in range(6):
                i = (seed + j) % len(names)
                assert catalog.table(spark, str(tmp_path), names[i]).columns == [f"c{i}"]
                assert len(catalog._memo) <= 2
        except Exception as e:  # reported by the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []


@pytest.mark.parametrize(
    "name", ["sales_by_region", "kpi_sales_by_client_value", "kpi_product_status"]
)
def test_warm_dashboard_build_runs_no_job(spark, sf_dir, name):
    """Building a dashboard query is pure driver-side planning once the
    session is warm: no Spark job may creep back into a builder."""
    builder = load_all()[name].builder
    builder(spark, sf_dir)
    _, jobs = _jobs_during(spark, lambda: builder(spark, sf_dir))
    assert jobs == 0
