"""Unit tests for the events timestamp normalization and resilient
table registration (io/sources.py)."""

from __future__ import annotations

import datetime
import os

import pytest

from pyspark.sql import functions as F

from mapreduce_sssp_spark.io import sources
from mapreduce_sssp_spark.io.sources import (
    load_events,
    load_table,
    normalize_event_ts,
    register_tables,
)
from mapreduce_sssp_spark.runstate import RunCache

SF = "/root/testdata/sf0.001"


def test_normalize_ntz_passthrough(spark):
    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-03-01 12:34:56.789012' AS ts"
    )
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp_ntz"
    assert out.collect()[0]["ts"] == datetime.datetime(2024, 3, 1, 12, 34, 56, 789012)


def test_normalize_bigint_nanos_floor_divides_to_micros(spark):
    # 2024-03-01 12:34:56.789012345 as epoch NANOS: the legacy
    # TIMESTAMP(NANOS)-as-long path must floor (not round) to micros.
    base = datetime.datetime(
        2024, 3, 1, 12, 34, 56, tzinfo=datetime.timezone.utc
    )
    ns = int(base.timestamp()) * 1_000_000_000 + 789_012_345
    df = spark.createDataFrame([(ns,)], "ts long")
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp_ntz"
    got = out.collect()[0]["ts"]
    assert got == datetime.datetime(2024, 3, 1, 12, 34, 56, 789012)


def test_normalize_as_timestamp_for_watermarks(spark):
    df = spark.sql("SELECT TIMESTAMP_NTZ '2024-03-01 00:00:00' AS ts")
    out = normalize_event_ts(df, as_ntz=False)
    assert dict(out.dtypes)["ts"] == "timestamp"


def test_normalize_rejects_unsupported_dtype(spark):
    df = spark.createDataFrame([("oops",)], "ts string")
    with pytest.raises(TypeError, match="unsupported dtype"):
        normalize_event_ts(df)


def test_load_events_yields_ntz_and_rows(spark):
    ev = load_events(spark, SF)
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    assert ev.count() > 0


def test_register_tables_isolates_bad_table(spark, tmp_path):
    """One missing table must not prevent the healthy tables from
    registering (the failure surfaces only when the bad table is
    actually queried)."""
    # A directory with only a couple of the expected parquet files.
    import shutil

    shutil.copy(f"{SF}/nation.parquet", tmp_path / "nation.parquet")
    shutil.copy(f"{SF}/region.parquet", tmp_path / "region.parquet")
    with pytest.warns(RuntimeWarning, match="skipped"):
        register_tables(spark, str(tmp_path))
    assert spark.sql("SELECT count(*) FROM nation").collect()[0][0] > 0
    assert spark.sql("SELECT count(*) FROM region").collect()[0][0] > 0
    # Re-register the real dir so later tests see full tables.
    register_tables(spark, SF)


def test_register_tables_drops_stale_view_on_failure(spark, tmp_path):
    """A failed re-registration must not leave the PREVIOUS sf_dir's view
    serving wrong-scale data: the stale view is dropped so queries fail
    at name resolution instead."""
    import shutil

    register_tables(spark, SF)  # healthy baseline: all views present
    shutil.copy(f"{SF}/nation.parquet", tmp_path / "nation.parquet")
    with pytest.warns(RuntimeWarning, match="skipped 'region'"):
        register_tables(spark, str(tmp_path))
    # nation re-registered from the new dir; region's stale view is gone.
    assert spark.sql("SELECT count(*) FROM nation").collect()[0][0] > 0
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|region"):
        spark.sql("SELECT count(*) FROM region").collect()
    register_tables(spark, SF)


def test_load_table_skips_memo_when_path_cannot_be_stat(spark, tmp_path, monkeypatch):
    spark.range(3).write.parquet(str(tmp_path / "region.parquet"))

    class NoStat:
        def __getattr__(self, name):
            return getattr(os, name)

        @staticmethod
        def stat(*_a, **_k):
            raise OSError("not a local path")

    monkeypatch.setattr(sources, "os", NoStat())
    monkeypatch.setattr(sources, "_SCAN_MEMO", RunCache(cap=64))
    first = load_table(spark, str(tmp_path), "region")
    second = load_table(spark, str(tmp_path), "region")
    assert first is not second
    assert first.count() == second.count() == 3
    assert len(sources._SCAN_MEMO) == 0
