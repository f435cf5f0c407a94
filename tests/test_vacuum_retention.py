"""Vacuum safety net (r11 verdict item #4): the Delta-style
retention guard matrix — sub-floor windows refuse without force, the
age gate protects a live stream's referenced files, and a time-travel
read past a vacuumed version fails LOUDLY, never silently empty."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources import lakestream
from olist_data_warehouse_spark.sources.lakehouse import LakeTable


@pytest.fixture()
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def test_sub_floor_retention_refuses_without_force(spark, orders, tmp_path):
    t = LakeTable.create(orders, str(tmp_path / "t"))
    t.overwrite(orders.limit(10))
    with pytest.raises(ValueError, match="safety floor"):
        t.vacuum(keep_versions=1, retention_seconds=0)
    with pytest.raises(ValueError, match="safety floor"):
        t.vacuum(keep_versions=1, retention_seconds=59.0, dry_run=True)
    # nothing was reclaimed by the refused calls
    assert t.read(spark, version=0).count() == orders.count()


def test_force_overrides_floor(spark, orders, tmp_path):
    t = LakeTable.create(orders, str(tmp_path / "t"))
    t.overwrite(orders.limit(10))
    removed = t.vacuum(keep_versions=1, retention_seconds=0, force=True)
    assert removed, "v0's files should be reclaimed under force"
    assert t.read(spark).count() == 10


def test_at_or_above_floor_needs_no_force(spark, orders, tmp_path):
    t = LakeTable.create(orders, str(tmp_path / "t"))
    t.overwrite(orders.limit(10))
    # young files survive a compliant window — refusal-by-age, the
    # standing in-flight-writer protection
    assert t.vacuum(
        keep_versions=1,
        retention_seconds=LakeTable.RETENTION_FLOOR_SECONDS,
    ) == []
    assert t.read(spark, version=0).count() == orders.count()


def test_retention_protects_stream_referenced_files(
    spark, orders, tmp_path
):
    """A stream checkpoint still references v0's files after an
    overwrite unreferences them. A compliant vacuum must NOT reclaim
    them (age gate) — the stream's next micro-batch still reads."""
    t = LakeTable.create(orders.limit(50), str(tmp_path / "t"))
    v0_files = set(t._state()["files"])
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    lakestream.register(spark)
    q = (
        spark.readStream.format("lakestream")
        .option("path", t.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    t.overwrite(orders.limit(5))  # v0 files now unreferenced
    removed = t.vacuum(keep_versions=1)  # compliant window
    assert not (set(removed) & v0_files), (
        "vacuum reclaimed files a stream checkpoint may reference"
    )
    for p in v0_files:
        assert os.path.exists(os.path.join(t.path, p))


def test_time_travel_past_vacuum_fails_loudly(spark, orders, tmp_path):
    t = LakeTable.create(orders, str(tmp_path / "t"))
    t.overwrite(orders.limit(10))
    t.append(orders.limit(3))
    t.vacuum(keep_versions=1, retention_seconds=0, force=True)
    # current read untouched
    assert t.read(spark).count() == 13
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.read(spark, version=0)
    # version 1's files are a subset of the current live set (the
    # append only added): time travel to it still works — the check
    # is per-referenced-file, not a blanket age cutoff
    assert t.read(spark, version=1).count() == 10
    # explicitly reading the CURRENT version number passes the check
    assert t.read(spark, version=2).count() == 13


def test_dv_sidecars_checked_on_time_travel(spark, orders, tmp_path):
    """A vacuumed deletion-vector sidecar must fail the read too —
    scanning without it would RESURRECT deleted rows, worse than
    missing data."""
    t = LakeTable.create(orders, str(tmp_path / "t"))
    t.delete_where(
        spark, F.col("o_orderkey") % 2 == 0, mode="dv"
    )
    st = t._state()
    dv_paths = [
        p
        for m in st["files"].values()
        for p in (m.get("dv") or {}).get("paths", [])
    ]
    assert dv_paths, "expected deletion-vector sidecars"
    os.unlink(os.path.join(t.path, dv_paths[0]))
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.read(spark, version=1)


def test_change_feed_past_vacuum_fails_loudly(spark, tmp_path):
    """A kept overwrite replays its delete side from the files it
    removed; once vacuum drops them the feed fails like time travel
    does, naming the vacuum window, not with Spark's missing-path
    error at scan time."""
    t = LakeTable.create(spark.range(10), str(tmp_path / "t"), cdf=True)
    t.overwrite(spark.range(5))
    t.vacuum(keep_versions=1, retention_seconds=0, force=True)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.read_changes_since(spark, 0)
    assert t.read(spark).count() == 5
