"""Edge-input battery over the lakehouse mutators.

The registry entries get the four input batteries (empty / null-cell /
group-kill / unicode) via tools/*_sweep.py; the mutators underneath
deserve the same treatment at API level: every corpus below runs the
full create → delete → merge → append → change-feed → readback chain
and checks row-level results against plain-Python expectations.
Contracts under fire:

- DELETE three-valued logic: rows whose predicate evaluates NULL
  survive (`lakehouse.py delete_where`), at 0/1/3-row and null-riddled
  scale.
- MERGE NULL-key semantics: a NULL join key never matches (SQL
  equality), so NULL-key source rows always insert and NULL-key target
  rows are never rewritten.
- Change feed on an empty range, an empty table, and a feed whose
  delta is entirely NULL-valued.
- Stats pruning with all-NULL and zero-row files never drops a
  matching row.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from olist_data_warehouse_spark.sources.lakehouse import LakeTable

SCHEMA = StructType([
    StructField("k", LongType()),
    StructField("grp", StringType()),
    StructField("v", DoubleType()),
])

CORPORA = {
    "empty": [],
    "one_row": [(1, "a", 10.0)],
    "three_rows": [(1, "a", 10.0), (2, None, None), (3, "b", -5.0)],
    "null_riddled": [
        (None, None, None),
        (1, None, 2.0),
        (None, "a", None),
        (2, "a", None),
        (3, None, 4.0),
        (None, None, 9.0),
    ],
}


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(
        ((r["k"], r["grp"], r["v"]) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


@pytest.fixture(params=sorted(CORPORA), ids=sorted(CORPORA))
def corpus(request):
    return CORPORA[request.param]


def test_delete_null_predicate_contract(spark, tmp_path, corpus):
    t = LakeTable.create(_mk(spark, corpus), str(tmp_path / "t"))
    res = t.delete_where(spark, F.col("v") > 3.0)
    survivors = [r for r in corpus if not (r[2] is not None and r[2] > 3.0)]
    assert res["rows_deleted"] == len(corpus) - len(survivors)
    assert _rows(t.read(spark)) == _rows(_mk(spark, survivors))
    # second delete on the already-filtered table is a clean no-op
    res2 = t.delete_where(spark, F.col("v") > 3.0)
    assert res2["rows_deleted"] == 0
    assert _rows(t.read(spark)) == _rows(_mk(spark, survivors))


@pytest.mark.parametrize("mode", ["update", "keep"])
def test_merge_null_key_semantics(spark, tmp_path, corpus, mode):
    t = LakeTable.create(_mk(spark, corpus), str(tmp_path / "t"))
    source = [(1, "z", 99.0), (None, "z", 98.0), (77, "z", 97.0)]
    res = t.merge_into(spark, _mk(spark, source), ["k"], when_matched=mode)
    assert res["rows_source"] == 3
    target_keys = {r[0] for r in corpus if r[0] is not None}
    matched_src = [s for s in source if s[0] in target_keys]
    unmatched_src = [s for s in source if s[0] not in target_keys
                     or s[0] is None]
    if mode == "update":
        expected = [r for r in corpus
                    if r[0] is None or r[0] not in {s[0] for s in matched_src}]
        expected += matched_src + unmatched_src
    else:
        assert res["files_rewritten"] == 0
        expected = list(corpus) + unmatched_src
    assert _rows(t.read(spark)) == _rows(_mk(spark, expected))
    # NULL-key source rows must have been inserted, never matched
    n_null_src = t.read(spark).where(
        F.col("k").isNull() & (F.col("grp") == "z")
    ).count()
    assert n_null_src == 1


def test_change_feed_over_edge_appends(spark, tmp_path, corpus):
    t = LakeTable.create(_mk(spark, corpus), str(tmp_path / "t"))
    v0 = t.version()
    # empty-range read first
    none_df, cur = t.read_appends_since(spark, v0)
    assert cur == v0 and none_df.count() == 0
    t.append(_mk(spark, []))                      # empty append
    t.append(_mk(spark, [(9, None, None)]))       # all-NULL payload row
    delta, cur = t.read_appends_since(spark, v0)
    assert cur == t.version()
    assert _rows(delta) == _rows(_mk(spark, [(9, None, None)]))
    assert _rows(t.read(spark)) == _rows(
        _mk(spark, list(corpus) + [(9, None, None)])
    )


def test_prune_never_drops_matches_on_edge_files(spark, tmp_path, corpus):
    t = LakeTable.create(_mk(spark, corpus), str(tmp_path / "t"))
    t.append(_mk(spark, []))  # zero-row commit: no stats at all
    got = t.read(spark, prune=("v", ">=", 0.0)).where(F.col("v") >= 0.0)
    expected = [r for r in corpus if r[2] is not None and r[2] >= 0.0]
    assert _rows(got) == _rows(_mk(spark, expected))
    cand, clean = t.prune_files("v", "=", 123.0)
    # candidates ∪ clean is exactly the live file set; nothing vanishes
    assert sorted(cand + clean) == sorted(t._state()["files"])


def test_full_mutator_chain_readback(spark, tmp_path, corpus):
    """create → delete → merge → evolve-append → readback, each step's
    expectation carried forward in plain Python."""
    t = LakeTable.create(_mk(spark, corpus), str(tmp_path / "t"))
    state = list(corpus)

    t.delete_where(spark, F.col("grp").isNull())
    # isNull is never NULL: TRUE deletes, FALSE survives
    state = [r for r in state if r[1] is not None]
    assert _rows(t.read(spark)) == _rows(_mk(spark, state))

    src = [(2, "m", 0.5), (50, "m", 1.5)]
    t.merge_into(spark, _mk(spark, src), ["k"])
    # update-mode MERGE: every source row lands (matched -> replace,
    # unmatched -> insert); target rows with a matching non-NULL key
    # are replaced, everything else carries over
    src_keys = {s[0] for s in src}
    state = [r for r in state
             if r[0] is None or r[0] not in src_keys] + src
    assert _rows(t.read(spark)) == _rows(_mk(spark, state))

    evolved = _mk(spark, [(100, "e", 7.0)]).withColumn(
        "tag", F.lit("new")
    )
    t.append(evolved, merge_schema=True)
    df = t.read(spark)
    assert df.where(F.col("tag").isNull()).count() == len(state)
    assert df.where(F.col("tag") == "new").count() == 1
    assert df.count() == len(state) + 1


def _net_changes(t, spark, since):
    """The change feed since ``since`` folded to a net signed multiset
    of (k, grp, v) rows — what a downstream consumer maintains."""
    from collections import Counter

    ch, _ = t.read_changes_since(spark, since)
    net = Counter()
    for r in ch.collect():
        net[(r["k"], r["grp"], r["v"])] += (
            1 if r["_change_type"] == "insert" else -1
        )
    return {row: n for row, n in net.items() if n}


def _src(spark, rows, op=False):
    schema = "k long, grp string, v double" + (", _op string" if op else "")
    return spark.createDataFrame(rows, schema)


# Every row mutator on a cdf=True table, each as (name, call(t, spark,
# mode)). All run in rewrite and dv mode on the same corpus and must
# agree on the snapshot and the net change feed.
MUTATIONS = [
    ("delete_where", lambda t, s, m: t.delete_where(
        s, F.col("v") > 3.0, mode=m)),
    ("update_where", lambda t, s, m: t.update_where(
        s, F.col("k") <= 2, {"grp": F.lit("u"), "v": F.col("v") + 1.0},
        mode=m)),
    ("merge_update", lambda t, s, m: t.merge_into(
        s, _src(s, [(1, "m", 0.5), (None, "m", 1.5), (50, "m", 2.5)]),
        ["k"], mode=m)),
    ("merge_clause_chain", lambda t, s, m: t.merge_into(
        s, _src(s, [(1, "m", 0.5), (2, "m", 1.5), (3, None, None),
                    (60, "m", 6.0)]),
        ["k"], mode=m,
        matched_clauses=[("delete", "t.v > 5"),
                         ("update", "s.v IS NOT NULL", {"grp": "s.grp"})],
        not_matched_condition="v IS NOT NULL")),
    ("merge_by_source_delete", lambda t, s, m: t.merge_into(
        s, _src(s, [(1, "m", 0.5), (70, "m", 7.0)]), ["k"], mode=m,
        when_not_matched_by_source="delete",
        not_matched_by_source_condition="t.k IS NULL OR t.k > 2")),
    ("apply_changes", lambda t, s, m: t.apply_changes(
        s, _src(s, [(1, "c", 1.0, "u"), (3, None, None, "d"),
                    (None, None, None, "d"), (80, "c", 8.0, "u")], op=True),
        ["k"], mode=m)),
]


@pytest.mark.parametrize(
    "name,mutate", MUTATIONS, ids=[n for n, _ in MUTATIONS]
)
def test_rewrite_dv_parity(spark, tmp_path, corpus, name, mutate):
    """rewrite and dv mode are one mutation seen two ways: the same
    snapshot, the same net change feed, and dv rewrites zero files."""
    seen = {}
    for mode in ("rewrite", "dv"):
        t = LakeTable.create(
            _mk(spark, corpus), str(tmp_path / mode), cdf=True
        )
        v0 = t.version()
        res = mutate(t, spark, mode)
        seen[mode] = (_rows(t.read(spark)), _net_changes(t, spark, v0))
        if mode == "dv":
            assert res["files_rewritten"] == 0
    assert seen["rewrite"] == seen["dv"]


def test_replace_where_snapshot_and_feed(spark, tmp_path, corpus):
    """replace_where (rewrite only): the region's rows leave, the
    incoming rows land, and the net feed is exactly that swap."""
    t = LakeTable.create(_mk(spark, corpus), str(tmp_path / "t"), cdf=True)
    v0 = t.version()
    incoming = [(1, "r", 100.0), (2, "r", None)]
    res = t.replace_where(
        spark, _mk(spark, incoming), F.col("k").isin(1, 2)
    )
    gone = [r for r in corpus if r[0] in (1, 2)]
    kept = [r for r in corpus if r[0] not in (1, 2)]
    assert res["rows_deleted"] == len(gone)
    assert res["rows_inserted"] == len(incoming)
    assert _rows(t.read(spark)) == _rows(_mk(spark, kept + incoming))
    want = {r: 1 for r in incoming}
    for r in gone:
        want[r] = want.get(r, 0) - 1
    assert _net_changes(t, spark, v0) == {
        r: n for r, n in want.items() if n
    }


def test_dv_row_indexes_exact_under_pushdown(spark, tmp_path):
    """One file of many row groups, sorted on k: a predicate on k lets
    Parquet skip the leading row groups in the match pass and the dv
    staging scan, and the deletion vectors must still name each row by
    its index in the whole file — dv mode agrees with rewrite mode on
    the snapshot and the net change feed."""
    import pyarrow.parquet as pq

    rows = [(i, "g" if i % 3 else None, float(i)) for i in range(1000)]
    seen = {}
    for mode in ("rewrite", "dv"):
        spark.conf.set("parquet.block.size", "2048")
        try:
            t = LakeTable.create(
                _mk(spark, rows).coalesce(1), str(tmp_path / mode), cdf=True
            )
        finally:
            spark.conf.unset("parquet.block.size")
        (path,) = t._state()["files"]
        assert pq.ParquetFile(os.path.join(t.path, path)).num_row_groups > 4
        v0 = t.version()
        t.delete_where(spark, F.col("k") >= 900, mode=mode)
        t.update_where(
            spark, (F.col("k") >= 700) & (F.col("k") < 800),
            {"grp": F.lit("u")}, mode=mode,
        )
        seen[mode] = (_rows(t.read(spark)), _net_changes(t, spark, v0))
    assert seen["rewrite"] == seen["dv"]
    assert len(seen["dv"][0]) == 900
