"""Full MERGE clause grammar (`merge_into` on the row-mutation core).

Pins the Delta `whenMatched…` / `whenNotMatched…` /
`whenNotMatchedBySource…` surface re-expressed Spark-first:
conditional matched update/delete (IS-TRUE firing, false/NULL keeps),
matched-but-condition-failed source rows are DISCARDED (never fall
through to insert — standard MERGE), conditional inserts,
by-source delete/update with SET exprs, file granularity (only files
whose rows actually change rewrite), dv-mode composition (zero
rewrites for any clause mix, byte-identity + result + CDF parity with
rewrite mode), and the key-uniqueness precondition.

Reference parity: the reference's incremental reload
(`Package.dtsx:657-673`) is the insert-only degenerate case (J7).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources.lakehouse import LakeTable

pytestmark = pytest.mark.usefixtures("spark")


def _mk(spark, path, cdf=False, files=4):
    # ids 1..20, price = id*10, grp = F for even ids else O
    df = spark.createDataFrame(
        [
            (i, f"v{i}", float(i * 10), "F" if i % 2 == 0 else "O")
            for i in range(1, 21)
        ],
        "id long, name string, price double, grp string",
    )
    return LakeTable.create(
        df.repartitionByRange(files, "id"), path, cdf=cdf
    )


def _src(spark, lo=10, hi=26):
    # ids lo..hi-1, price = id*5
    return spark.createDataFrame(
        [(i, f"s{i}", float(i * 5), "S") for i in range(lo, hi)],
        "id long, name string, price double, grp string",
    )


def _rows(t, spark):
    return {
        r["id"]: (r["name"], r["price"], r["grp"])
        for r in t.read(spark).collect()
    }


def test_matched_delete_with_condition(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    r = t.merge_into(
        spark,
        _src(spark),
        ["id"],
        when_matched="delete",
        matched_condition="t.price > 150.0",
        when_not_matched="keep",
    )
    # matched ids 10..20; condition fires for 16..20 (price 160..200)
    assert r["rows_matched"] == 11
    assert r["rows_matched_changed"] == 5
    assert r["rows_inserted"] == 0
    got = _rows(t, spark)
    assert set(got) == set(range(1, 16))
    # kept matched rows are byte-for-byte the target rows (their
    # source rows were discarded, not applied and not inserted)
    assert got[10] == ("v10", 100.0, "F")


def test_matched_update_condition_false_keeps_target(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.merge_into(
        spark,
        _src(spark),
        ["id"],
        when_matched="update",
        matched_condition="s.price < t.price - 55.0",
        when_not_matched="keep",
    )
    got = _rows(t, spark)
    # s.price=5i, t.price=10i -> fires iff 5i < 10i-55 i.e. i >= 12
    for i in range(12, 21):
        assert got[i] == (f"s{i}", float(i * 5), "S")
    for i in list(range(1, 12)):
        assert got[i][0] == f"v{i}"
    assert set(got) == set(range(1, 21))


def test_not_matched_condition_gates_inserts(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    r = t.merge_into(
        spark,
        _src(spark),
        ["id"],
        when_matched="keep",
        not_matched_condition="price < 110.0",
    )
    # unmatched source ids 21..25 at price 105..125: only 21 inserts
    assert r["rows_inserted"] == 1
    got = _rows(t, spark)
    assert got[21] == ("s21", 105.0, "S")
    assert set(got) == set(range(1, 22))


def test_not_matched_by_source_update_and_delete(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    r = t.merge_into(
        spark,
        _src(spark),
        ["id"],
        when_matched="keep",
        when_not_matched="keep",
        when_not_matched_by_source="update",
        not_matched_by_source_condition="t.grp = 'F'",
        not_matched_by_source_set={"name": "concat(t.name, '-stale')"},
    )
    assert r["rows_not_matched_by_source_changed"] == 4  # ids 2,4,6,8
    got = _rows(t, spark)
    for i in (2, 4, 6, 8):
        assert got[i] == (f"v{i}-stale", float(i * 10), "F")
    for i in (1, 3, 5, 7, 9):
        assert got[i][0] == f"v{i}"
    # now delete the stale ones
    t.merge_into(
        spark,
        _src(spark),
        ["id"],
        when_matched="keep",
        when_not_matched="keep",
        when_not_matched_by_source="delete",
        not_matched_by_source_condition="t.name like '%-stale'",
    )
    got = _rows(t, spark)
    assert set(got) == set(range(1, 21)) - {2, 4, 6, 8}


def test_unconditional_by_source_delete_mirrors_anti_join(
    spark, tmp_path
):
    t = _mk(spark, str(tmp_path / "t"))
    t.merge_into(
        spark,
        _src(spark),
        ["id"],
        when_matched="update",
        when_not_matched_by_source="delete",
    )
    got = _rows(t, spark)
    # matched 10..20 updated, 1..9 (no source row) deleted, 21..25 in
    assert set(got) == set(range(10, 26))
    assert got[10] == ("s10", 50.0, "S")


def test_condition_null_is_not_true(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (3, "c", 500.0)],
        "id long, name string, price double",
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [(1, "s1", 1.0), (2, "s2", 2.0), (3, "s3", 3.0)],
        "id long, name string, price double",
    )
    t.merge_into(
        spark,
        src,
        ["id"],
        when_matched="delete",
        matched_condition="t.price > 100.0",
    )
    got = {r["id"] for r in t.read(spark).collect()}
    # NULL-condition row 1 and false row 2 survive; 3 deleted
    assert got == {1, 2}


def test_only_changed_files_rewrite(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), files=4)
    before = {
        p: os.path.getmtime(os.path.join(t.path, p))
        for p in t._state()["files"]
    }
    # source matches ids 1..20 but the condition fires only for
    # id = 18 — exactly ONE file (the range holding 18) may rewrite
    r = t.merge_into(
        spark,
        _src(spark, 1, 21),
        ["id"],
        when_matched="delete",
        matched_condition="t.id = 18",
        when_not_matched="keep",
    )
    assert r["rows_matched_changed"] == 1
    assert r["files_rewritten"] == 1
    after_files = t._state()["files"]
    untouched = [p for p in before if p in after_files]
    assert len(untouched) == 3
    for p in untouched:
        assert os.path.getmtime(os.path.join(t.path, p)) == before[p]
    assert set(_rows(t, spark)) == set(range(1, 21)) - {18}


def test_dv_mode_composes_all_clauses(spark, tmp_path):
    kwargs = dict(
        keys=["id"],
        when_matched="delete",
        matched_condition="t.price > 150.0",
        when_not_matched="insert",
        not_matched_condition="price < 110.0",
        when_not_matched_by_source="update",
        not_matched_by_source_condition="t.grp = 'F'",
        not_matched_by_source_set={"name": "concat(t.name, '-nms')"},
    )
    cow = _mk(spark, str(tmp_path / "cow"), cdf=True)
    dv = _mk(spark, str(tmp_path / "dv"), cdf=True)
    base = {
        (r["id"], r["name"], r["price"], r["grp"])
        for r in cow.read(spark).collect()
    }
    dv_before = {
        p: (
            os.path.getsize(os.path.join(dv.path, p)),
            os.path.getmtime(os.path.join(dv.path, p)),
        )
        for p in dv._state()["files"]
    }
    r_cow = cow.merge_into(spark, _src(spark), **kwargs)
    r_dv = dv.merge_into(spark, _src(spark), mode="dv", **kwargs)
    # zero rewrites, original data files byte-identical
    assert r_dv["files_rewritten"] == 0
    assert {
        p: (
            os.path.getsize(os.path.join(dv.path, p)),
            os.path.getmtime(os.path.join(dv.path, p)),
        )
        for p in dv_before
    } == dv_before
    # same row counts and the same table afterwards
    for k in (
        "rows_matched",
        "rows_matched_changed",
        "rows_not_matched_by_source_changed",
        "rows_inserted",
    ):
        assert r_cow[k] == r_dv[k], k
    assert _rows(cow, spark) == _rows(dv, spark)
    # CDF replay parity: both modes emit the SAME exact row delta
    for t in (cow, dv):
        cdf, _ = t.read_changes_since(spark, 0)
        ins = {
            (r["id"], r["name"], r["price"], r["grp"])
            for r in cdf.where("_change_type='insert'").collect()
        }
        dels = {
            (r["id"], r["name"], r["price"], r["grp"])
            for r in cdf.where("_change_type='delete'").collect()
        }
        assert (base - dels) | ins == {
            (k, *v) for k, v in _rows(t, spark).items()
        }
        # carried-over rows never appear in the feed
        assert not (ins & base)
    # dv compact folds the vectors away with identical rows
    rows_before = _rows(dv, spark)
    dv.compact(spark, 256 * 1024 * 1024)
    assert _rows(dv, spark) == rows_before


def test_ordered_matched_clause_chain(spark, tmp_path):
    """Delta's whenMatchedUpdate(cond).whenMatchedDelete() form: the
    FIRST clause whose condition is TRUE fires per row; a fired 'keep'
    blocks later clauses; rows firing none are kept."""
    t = _mk(spark, str(tmp_path / "t"))
    r = t.merge_into(
        spark,
        _src(spark),  # matches ids 10..20 at price id*5
        ["id"],
        matched_clauses=[
            ("update", "t.price <= 120.0"),   # ids 10,11,12
            ("keep", "t.id = 13"),            # 13 kept, blocks delete
            ("delete", None),                 # 14..20 deleted
        ],
        when_not_matched="keep",
    )
    assert r["rows_matched"] == 11
    assert r["rows_matched_changed"] == 3 + 7  # updates + deletes
    got = _rows(t, spark)
    assert set(got) == set(range(1, 14))
    for i in (10, 11, 12):
        assert got[i] == (f"s{i}", float(i * 5), "S")
    assert got[13] == ("v13", 130.0, "O")


def test_clause_chain_dv_parity(spark, tmp_path):
    kwargs = dict(
        keys=["id"],
        matched_clauses=[
            ("delete", "t.price > 150.0"),
            ("update", "s.price < 60.0"),
        ],
        when_not_matched="keep",
    )
    cow = _mk(spark, str(tmp_path / "cow"))
    dv = _mk(spark, str(tmp_path / "dv"))
    cow.merge_into(spark, _src(spark), **kwargs)
    r = dv.merge_into(spark, _src(spark), mode="dv", **kwargs)
    assert r["files_rewritten"] == 0
    assert _rows(cow, spark) == _rows(dv, spark)
    # chain semantics: 16..20 deleted (price>150); of the rest only
    # ids 10,11 update (source price 50,55 < 60); 12..15 kept
    got = _rows(cow, spark)
    assert set(got) == set(range(1, 16))
    assert got[10] == ("s10", 50.0, "S")
    assert got[11] == ("s11", 55.0, "S")
    assert got[12] == ("v12", 120.0, "F")


def test_clause_chain_validation(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    s = _src(spark)
    with pytest.raises(ValueError, match="supersedes"):
        t.merge_into(
            spark, s, ["id"],
            when_matched="delete",
            matched_clauses=[("delete", None)],
        )
    with pytest.raises(ValueError, match="non-empty"):
        t.merge_into(spark, s, ["id"], matched_clauses=[])
    with pytest.raises(ValueError, match="action must be"):
        t.merge_into(
            spark, s, ["id"], matched_clauses=[("boom", None)]
        )
    with pytest.raises(ValueError, match="not last"):
        t.merge_into(
            spark, s, ["id"],
            matched_clauses=[("update", None), ("delete", "t.id = 1")],
        )


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
@pytest.mark.parametrize("when_matched", ["update", "keep", "delete"])
def test_source_must_be_key_unique(spark, tmp_path, when_matched, mode):
    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.version()
    dup = spark.createDataFrame(
        [(1, "x", 1.0, "S"), (1, "y", 2.0, "S"),
         (3, "z", 3.0, "S"), (3, "w", 4.0, "S")],
        "id long, name string, price double, grp string",
    )
    with pytest.raises(ValueError, match="key-unique"):
        t.merge_into(
            spark, dup, ["id"], when_matched=when_matched, mode=mode
        )
    assert t.version() == v0
    # the refused attempt's frozen source is reclaimed, not orphaned
    live = set(t._state()["files"])
    on_disk = {
        os.path.relpath(os.path.join(root, n), t.path)
        for root, _d, names in os.walk(t.data_dir)
        for n in names
    }
    assert on_disk == live
    # null keys never match and are NOT multi-matches
    nulls = spark.createDataFrame(
        [(None, "a", 1.0, "S"), (None, "b", 2.0, "S")],
        "id long, name string, price double, grp string",
    )
    t.merge_into(
        spark, nulls, ["id"], when_matched=when_matched, mode=mode
    )
    assert t.read(spark).where(F.col("id").isNull()).count() == 2


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_apply_changes_key_both_upserted_and_deleted(spark, tmp_path, mode):
    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.version()
    src = spark.createDataFrame(
        [(2, "u", 1.0, "S", "u"), (2, None, None, None, "d"),
         (None, "n", 1.0, "S", "u"), (None, None, None, None, "d")],
        "id long, name string, price double, grp string, _op string",
    )
    with pytest.raises(ValueError, match="key-unique"):
        t.apply_changes(spark, src, ["id"], mode=mode)
    assert t.version() == v0


def test_grammar_validation_errors(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    s = _src(spark)
    with pytest.raises(ValueError, match="when_not_matched must"):
        t.merge_into(spark, s, ["id"], when_not_matched="boom")
    with pytest.raises(ValueError, match="when_not_matched_by_source"):
        t.merge_into(
            spark, s, ["id"], when_not_matched_by_source="boom"
        )
    with pytest.raises(ValueError, match="requires a"):
        t.merge_into(
            spark, s, ["id"], when_not_matched_by_source="update"
        )
    with pytest.raises(ValueError, match="requires"):
        t.merge_into(
            spark,
            s,
            ["id"],
            not_matched_by_source_set={"name": "'x'"},
        )
    with pytest.raises(ValueError, match="unknown columns"):
        t.merge_into(
            spark,
            s,
            ["id"],
            when_not_matched_by_source="update",
            not_matched_by_source_set={"nope": "'x'"},
        )


def test_constraints_gate_changed_rows(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, price double"
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    t.add_constraint(spark, "pos_price", "price > 0")
    src = spark.createDataFrame([(9, 5.0)], "id long, price double")
    v0 = t.version()
    with pytest.raises(ValueError, match="pos_price"):
        t.merge_into(
            spark,
            src,
            ["id"],
            when_matched="keep",
            when_not_matched="keep",
            when_not_matched_by_source="update",
            not_matched_by_source_condition="t.id = 1",
            not_matched_by_source_set={"price": "-1.0"},
        )
    # atomic: nothing committed, table unchanged
    assert t.version() == v0
    assert t.read(spark).count() == 2


def test_partitioned_table_general_merge(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "id long, p long, price double",
    )
    t = LakeTable.create(
        df, str(tmp_path / "t"), partition_by=["p"]
    )
    src = spark.createDataFrame(
        [(i, i % 3, float(i * 100)) for i in range(25, 35)],
        "id long, p long, price double",
    )
    t.merge_into(
        spark,
        src,
        ["id"],
        when_matched="update",
        matched_condition="t.id >= 27",
        when_not_matched_by_source="delete",
        not_matched_by_source_condition="t.id < 3",
    )
    got = {r["id"]: r["price"] for r in t.read(spark).collect()}
    exp = {}
    for i in range(3, 25):
        exp[i] = float(i)
    exp[25], exp[26] = 25.0, 26.0  # matched, condition false -> kept
    for i in range(27, 35):
        exp[i] = float(i * 100)  # 27..29 updated, 30..34 inserted
    assert got == exp
    # partition pruning still works on the merged table
    assert (
        t.read(spark, prune=("p", "=", 1))
        .where(F.col("p") == 1)
        .count()
        == len([i for i in exp if i % 3 == 1])
    )
