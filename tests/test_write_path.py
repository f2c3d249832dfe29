"""Store reads declare the points schema, and a maintenance tick builds
its retention report and its variables/values summary from one scan."""

from __future__ import annotations

import datetime as dt
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from open_instrument_spark.model import series_key
from open_instrument_spark.operators.retention import PolicyItem, retention_report
from open_instrument_spark.plans.maintenance import maintenance_tick
from open_instrument_spark.sources.ingest import read_store, write_points

NOW = "2024-01-31 00:00:00"
SCHEMA = ("name string, labels map<string,string>, ts timestamp, "
          "dval double, sval string")


def _points(spark):
    rows = []
    for h, host in enumerate(("a", "b", "c")):
        for name in ("/m/cpu", "/m/mem", "/spool/q"):
            labels = {"host": host} if name != "/m/mem" or h else {}
            rows += [(name, labels, dt.datetime(2024, 1, 30, mi), 1.0 + mi, None)
                     for mi in range(3)]
            rows += [(name, labels, dt.datetime(2022, 3, 1 + h, hh), 10.0 + hh, None)
                     for hh in range(4)]
        rows.append(("/m/os", {"host": host}, dt.datetime(1924, 1, 30), None, "linux"))
    return spark.createDataFrame(rows, SCHEMA)


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("layout", ["plain", "name_buckets", "epoch"])
def test_read_store_declares_schema_without_a_job(spark, tmp_path, layout):
    store = str(tmp_path / "store")
    pts = _points(spark)
    if layout == "plain":
        write_points(pts, store, n_buckets=2)
    elif layout == "name_buckets":
        write_points(pts, store, n_buckets=2, name_buckets=3)
    else:
        write_points(pts.filter(F.col("ts") < "2023-01-01"), store + "/epoch=0",
                     n_buckets=2)
        write_points(pts.filter(F.col("ts") >= "2023-01-01"), store + "/epoch=1",
                     n_buckets=2)
    assert _jobs_during(spark, lambda: spark.read.parquet(store).schema)
    assert _jobs_during(spark, lambda: read_store(spark, store).schema) == []
    assert read_store(spark, store).schema == spark.read.parquet(store).schema
    assert sorted(map(repr, read_store(spark, store).collect())) == sorted(
        map(repr, spark.read.parquet(store).collect()))


POLICY = [
    PolicyItem(("/spool/*",), keep=False),
    PolicyItem(("*",), keep=True, max_age="4w"),
    PolicyItem(("/m/*",), keep=True, min_age="4w", max_age="5y",
               mutations=(("mean", "1d"),)),
]


def _two_pass(spark, store):
    """The report and totals as two separate scans compute them."""
    pts = spark.read.parquet(store).drop("dt", "bucket", "name_bucket", "epoch")
    report = [tuple(r) for r in retention_report(pts, POLICY, NOW).collect()]
    totals = pts.select(F.countDistinct(series_key()).alias("variables"),
                        F.count(F.lit(1)).alias("values")).first()
    return report, totals.asDict()


@pytest.mark.parametrize("dry_run", [True, False], ids=["dry_run", "apply"])
def test_maintenance_tick_report_and_summary_match_two_passes(spark, tmp_path,
                                                              dry_run):
    store = str(tmp_path / "store")
    write_points(_points(spark), store, n_buckets=2)
    want_report, want_totals = _two_pass(spark, store)
    assert [r[:2] for r in want_report] == [
        (-1, "default_drop"), (0, "drop"), (1, "keep"), (2, "downsample")]
    report, summary = maintenance_tick(spark, store, POLICY, NOW,
                                       dry_run=dry_run, n_buckets=2)
    assert [tuple(r) for r in report.collect()] == want_report
    assert report.columns == ["policy_idx", "action", "n_samples", "n_series"]
    assert {k: summary[k] for k in want_totals} == want_totals
    assert summary["applied"] is not dry_run


def test_maintenance_tick_on_emptied_store(spark, tmp_path):
    """A tick that drops every point leaves a store with no files; the
    next tick reports an empty store."""
    store = str(tmp_path / "store")
    write_points(_points(spark).filter(F.col("name") == "/spool/q"), store,
                 n_buckets=2)
    _, first = maintenance_tick(spark, store, POLICY, NOW, n_buckets=2)
    assert first["values"] == 21
    report, summary = maintenance_tick(spark, store, POLICY, NOW, n_buckets=2)
    assert report.collect() == []
    assert (summary["variables"], summary["values"]) == (0, 0)
    shutil.rmtree(store)
