"""Footer-derived write stats must reproduce the stats-scan exactly.

r13 optimization: ``LakeTable._stage_files`` reads per-file stats from
the parquet footers the staging write produced instead of re-scanning
the staged data with a second Spark job. These tests pin the
equivalence on the awkward cases (long strings, NULL-only columns,
NaN doubles, naive + instant timestamps, dates, booleans, Hive
partition values incl. the null partition) by computing the manifest
BOTH ways over identical data and diffing it, and pin that the footer
path actually fires (no silent always-fallback)."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olist_data_warehouse_spark.sources import lakehouse
from olist_data_warehouse_spark.sources.lakehouse import LakeTable


def _tricky_frame(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("long_s", T.StringType()),
            T.StructField("all_null", T.StringType()),
            T.StructField("f", T.DoubleType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tsn", T.TimestampNTZType()),
            T.StructField("p", T.StringType()),
        ]
    )
    rows = [
        (
            1,
            "alpha",
            "x" * 500,
            None,
            float("nan"),
            True,
            datetime.date(2024, 1, 2),
            datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
            datetime.datetime(2024, 1, 2, 3, 4, 5, 654321),
            "F",
        ),
        (
            2,
            "omega",
            "y" * 500,
            None,
            1.5,
            False,
            datetime.date(2024, 6, 30),
            datetime.datetime(2024, 6, 30, 23, 59, 59),
            datetime.datetime(2024, 6, 30, 23, 59, 58),
            "O",
        ),
        (3, None, "m", None, None, None, None, None, None, None),
    ]
    return spark.createDataFrame(rows, schema)


def _metas_both_ways(monkeypatch, df, path, **kwargs):
    """Manifest files computed via the footer path AND the scan path.

    Asserts the footer path actually FIRED (returned non-None) on this
    frame — otherwise a writer/pyarrow change that silently falls back
    would make every equivalence test vacuously compare scan-to-scan."""
    real = lakehouse._footer_metas
    fired = {}

    def spy(*a, **k):
        r = real(*a, **k)
        fired["returned_none"] = r is None
        return r

    monkeypatch.setattr(lakehouse, "_footer_metas", spy)
    t = LakeTable.create(df, path, **kwargs)
    footer = t._state()["files"]
    assert fired == {"returned_none": False}, "footer path fell back"
    monkeypatch.setattr(lakehouse, "_footer_metas", lambda *a, **k: None)
    t2 = LakeTable.create(df, path + "_scan", **kwargs)
    scan = t2._state()["files"]
    return footer, scan


def _stats_by_rows(files):
    """Stats keyed by (rows, frozenset of stat items) — file NAMES
    differ between the two writes, content must not."""
    out = []
    for meta in sorted(files.values(), key=lambda m: m["path"]):
        out.append((meta["rows"], meta["stats"], meta.get("partition")))
    return sorted(out, key=lambda x: (x[0], str(x[1])))


def _val_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
    return a == b and type(a) is type(b)


def _assert_stats_equal(f, s):
    """Order-insensitive, NaN-aware equality of the (rows, stats,
    partition) triples from _stats_by_rows — repr() comparison was
    dict-insertion-order sensitive and only passed by accident."""
    assert len(f) == len(s)
    for (fr, fstats, fpart), (sr, sstats, spart) in zip(f, s):
        assert fr == sr
        assert set(fstats) == set(sstats)
        for col in fstats:
            fc, sc = fstats[col], sstats[col]
            assert set(fc) == set(sc) == {"min", "max", "nulls"}
            for k in ("min", "max", "nulls"):
                assert _val_eq(fc[k], sc[k]), (col, k, fc[k], sc[k])
        assert (fpart is None) == (spart is None)
        if fpart is not None:
            assert set(fpart) == set(spart)
            for k in fpart:
                assert _val_eq(fpart[k], spart[k]), (k, fpart[k], spart[k])


def test_footer_stats_match_scan_unpartitioned(spark, tmp_path, monkeypatch):
    df = _tricky_frame(spark).coalesce(1)
    footer, scan = _metas_both_ways(
        monkeypatch, df, str(tmp_path / "t")
    )
    f, s = _stats_by_rows(footer), _stats_by_rows(scan)
    _assert_stats_equal(f, s)
    # and the footer path actually carried full-length string stats
    (_, stats, _) = f[0]
    assert len(stats["long_s"]["max"]) == 500
    assert stats["all_null"] == {"min": None, "max": None, "nulls": 3}


def test_footer_stats_match_scan_partitioned(spark, tmp_path, monkeypatch):
    df = _tricky_frame(spark).coalesce(1)
    footer, scan = _metas_both_ways(
        monkeypatch, df, str(tmp_path / "p"), partition_by=["p"]
    )
    f, s = _stats_by_rows(footer), _stats_by_rows(scan)
    _assert_stats_equal(f, s)
    parts = {str(p) for (_, _, p) in f}
    assert parts == {"{'p': 'F'}", "{'p': 'O'}", "{'p': None}"}


def test_footer_stats_match_scan_float_partition(
    spark, tmp_path, monkeypatch
):
    """Float partition values: the reader casts the Hive dir string to
    float32 and the scan observes the float32-widened double (0.1 ->
    0.10000000149011612). The footer path must type the dir value the
    same way or pruning vs observed data silently drops files."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("fp", T.FloatType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, 0.1), (2, 0.1), (3, 2.5), (4, None)], schema
    ).coalesce(1)
    footer, scan = _metas_both_ways(
        monkeypatch, df, str(tmp_path / "fp"), partition_by=["fp"]
    )
    f, s = _stats_by_rows(footer), _stats_by_rows(scan)
    _assert_stats_equal(f, s)
    # the 0.1 partition records the float32-widened value, not 0.1
    vals = {p["fp"] for (_, _, p) in f if p["fp"] is not None}
    assert 0.10000000149011612 in vals and 2.5 in vals


def test_footer_path_fires(spark, tmp_path, monkeypatch):
    """The optimization must actually be in use on a plain frame — a
    regression to permanent fallback would silently reinstate the
    second data pass."""
    called = {}
    real = lakehouse._footer_metas

    def spy(*a, **k):
        r = real(*a, **k)
        called["returned_none"] = r is None
        return r

    monkeypatch.setattr(lakehouse, "_footer_metas", spy)
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    LakeTable.create(df, str(tmp_path / "fires"))
    assert called == {"returned_none": False}


def test_footer_nan_multigroup_merge():
    """_footer_lt must treat NaN as largest regardless of argument
    order (Python min/max with NaN are order-dependent)."""
    nan = float("nan")
    assert lakehouse._footer_lt(1.5, nan)
    assert not lakehouse._footer_lt(nan, 1.5)
    assert not lakehouse._footer_lt(nan, nan)


def test_partition_value_parse_roundtrip():
    p = lakehouse._parse_partition_value
    assert p("42", "bigint") == 42
    assert p("x y", "string") == "x y"
    assert p("true", "boolean") is True
    assert p("2024-01-02", "date") == datetime.date(2024, 1, 2)
    # float round-trips through float32 (the reader's typing);
    # double stays exact
    assert p("0.1", "float") == 0.10000000149011612
    assert p("0.1", "double") == 0.1
    assert p("2.5", "float") == 2.5
    with pytest.raises(ValueError):
        p("maybe", "boolean")


def test_nan_bound_never_prunes_a_file(spark, tmp_path):
    """Spark orders NaN above every double, so a file whose max is NaN
    may hold any value above its min: no stats prune may call it clean.
    The DataSource read, ``prune_files``, ``delete_where(prune=)`` and
    the SQL DELETE (auto-derived prune) all keep seeing its rows."""
    from olist_data_warehouse_spark.sources import lakebatch, lakesql

    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 5.0)], "k int, x double"
    ).coalesce(1)
    t = LakeTable.create(df, str(tmp_path / "nan"))
    (meta,) = t._state()["files"].values()
    assert math.isnan(meta["stats"]["x"]["max"])

    lakebatch.register(spark)
    got = (
        spark.read.format("lake").option("path", t.path).load()
        .where("x = 5.0")
    )
    assert [r.k for r in got.collect()] == [3]
    assert t.prune_files("x", "=", 5.0) == ([sorted(t._state()["files"])[0]], [])

    # NaN > 100 is TRUE in Spark: the pruned delete removes the NaN row
    # exactly as the unpruned one does
    r = t.delete_where(spark, F.col("x") > 100.0, prune=("x", ">", 100.0))
    assert r["rows_deleted"] == 1
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3]

    s = LakeTable.create(df, str(tmp_path / "nan_sql"))
    lakebatch.register_table(spark, "nan_sql", s.path)
    lakesql.sql(spark, "DELETE FROM nan_sql WHERE x > 100")
    assert sorted(r.k for r in s.read(spark).collect()) == [1, 3]
