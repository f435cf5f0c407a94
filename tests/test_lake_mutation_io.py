"""What a lake write computes and writes.

Every writer stages its batch once and checks what it staged;
`LakeTable._mutate` reads only the files a mutation may change:

- Each writer evaluates its batch lineage once: `replace_where` stages
  it as the frozen batch, `create`/`append`/`overwrite`/the streaming
  sink stage it through `_land`, and a merge source stages in
  `_mutate`; the generated-column, CHECK and region checks scan the
  staged files. A refused batch leaves no file, stage directory or
  version behind.
- The per-file match pass filters on the raw predicate before it
  aggregates, so Parquet pushes it into the scan.
- A file whose every live row is deleted is removed without a
  survivor rewrite, and no write commits a zero-row file.
- A staging retried after a transient task-deserialization error is
  logged and leaves no stage directory behind.
"""

from __future__ import annotations

import logging
import os

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources.lakehouse import LakeTable

SCHEMA = "k long, day int, v double"


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _two_days(spark, path):
    """A table of two files, one per day: day 1 holds k 1-3, day 2 k 4-5."""
    t = LakeTable.create(
        _mk(spark, [(1, 1, 1.0), (2, 1, 2.0), (3, 1, 3.0)]).coalesce(1), path
    )
    t.append(_mk(spark, [(4, 2, 4.0), (5, 2, 5.0)]).coalesce(1))
    return t


def _data_files(t):
    return sorted(
        os.path.relpath(os.path.join(root, n), t.path)
        for root, _dirs, names in os.walk(t.data_dir)
        for n in names
    )


def _mutation_records(caplog):
    return [
        r.getMessage() for r in caplog.records if r.name == "olist.lake"
    ]


def test_replace_where_evaluates_its_batch_once(spark, tmp_path):
    t = _two_days(spark, str(tmp_path / "t"))
    acc = spark.sparkContext.accumulator(0)

    @F.udf("int")
    def tick(day):
        acc.add(1)
        return day

    # the predicate reads the UDF's column, so a gate that scans the
    # lineage instead of the staged batch runs the UDF again
    batch = _mk(spark, [(1, 1, 10.0), (2, 1, 20.0)]).withColumn(
        "day", tick("day")
    )
    r = t.replace_where(spark, batch, F.col("day") == 1)
    assert acc.value == 2
    assert (r["rows_deleted"], r["rows_inserted"]) == (3, 2)
    got = sorted(tuple(x) for x in t.read(spark).collect())
    assert got == [(1, 1, 10.0), (2, 1, 20.0), (4, 2, 4.0), (5, 2, 5.0)]


def _governed(spark, path):
    """Two rows under a generated column ``v2 = v * 2`` and a CHECK
    constraint ``v > 0``."""
    t = LakeTable.create(
        _mk(spark, [(1, 1, 1.0), (2, 2, 2.0)]), path,
        generated={"v2": "v * 2"},
    )
    t.add_constraint(spark, "v_pos", "v > 0")
    return t


# each writer lands ``batch`` on the governed table ``t``; create lands
# it as a new governed table next to it
WRITERS = {
    "create": lambda spark, t, batch: LakeTable.create(
        batch, t.path + "_new", generated={"v2": "v * 2"}
    ),
    "append": lambda spark, t, batch: t.append(batch),
    "overwrite": lambda spark, t, batch: t.overwrite(batch),
    "streaming_sink": lambda spark, t, batch: t.streaming_sink("app")(
        batch, 0
    ),
    "merge_into": lambda spark, t, batch: t.merge_into(spark, batch, ["k"]),
    "replace_where": lambda spark, t, batch: t.replace_where(
        spark, batch, F.col("day") > 0
    ),
}


def _batch(spark, rows, v2):
    """``rows`` of (k, day, v), with ``v2`` provided as ``v * 2 + v2``
    or, when ``v2`` is None, omitted."""
    if v2 is None:
        return _mk(spark, rows)
    return spark.createDataFrame(
        [(*r, r[2] * 2 + v2) for r in rows], SCHEMA + ", v2 double"
    )


@pytest.mark.parametrize(
    "writer, provided",
    [("create", True), ("append", True), ("append", False),
     ("overwrite", False), ("streaming_sink", False),
     ("merge_into", True), ("replace_where", True)],
)
def test_governed_writers_evaluate_their_batch_once(
    spark, tmp_path, writer, provided
):
    """With a generated column and a CHECK constraint to hold, each
    writer still runs its batch's UDF once per row: the checks read
    the staged files, not the lineage."""
    t = _governed(spark, str(tmp_path / "t"))
    acc = spark.sparkContext.accumulator(0)

    @F.udf("double")
    def tick(v):
        acc.add(1)
        return v

    rows = [(3, 1, 3.0), (4, 2, 4.0)]
    batch = _batch(spark, rows, 0.0 if provided else None)
    WRITERS[writer](spark, t, batch.withColumn("v", tick("v")))
    assert acc.value == len(rows)
    out = LakeTable(t.path + "_new") if writer == "create" else t
    got = {r["k"]: r["v2"] for r in out.read(spark).collect()}
    assert {k: got[k] for k, _d, _v in rows} == {3: 6.0, 4: 8.0}


@pytest.mark.parametrize(
    "writer, refusal",
    [("create", "generated"), ("append", "generated"),
     ("append", "check"), ("overwrite", "check"),
     ("streaming_sink", "generated"), ("streaming_sink", "check"),
     ("merge_into", "generated"), ("merge_into", "check"),
     ("replace_where", "generated")],
)
def test_refused_governed_write_leaves_nothing(
    spark, tmp_path, writer, refusal
):
    t = _governed(spark, str(tmp_path / "t"))
    if refusal == "check":
        batch, match = _batch(spark, [(3, 1, -3.0)], None), "v_pos"
    else:
        batch, match = _batch(spark, [(3, 1, 3.0)], 1.0), "GENERATED"
    out = LakeTable(t.path + "_new") if writer == "create" else t
    version, files = out.version(), (
        _data_files(out) if os.path.isdir(out.data_dir) else []
    )
    with pytest.raises(ValueError, match=match):
        WRITERS[writer](spark, t, batch)
    assert out.version() == version
    if os.path.isdir(out.path):
        assert _data_files(out) == files
        assert not [
            n for n in os.listdir(out.path) if n.startswith("_stage-")
        ]


@pytest.mark.parametrize("refusal", ["region", "check"])
def test_refused_replace_where_leaves_nothing(spark, tmp_path, refusal):
    t = _two_days(spark, str(tmp_path / "t"))
    if refusal == "check":
        t.add_constraint(spark, "v_pos", "v > 0")
        batch, match = _mk(spark, [(1, 1, -1.0)]), "CHECK constraint"
    else:
        batch, match = _mk(spark, [(1, 2, 1.0)]), "must ALL satisfy"
    version, files = t.version(), _data_files(t)
    with pytest.raises(ValueError, match=match):
        t.replace_where(spark, batch, F.col("day") == 1)
    assert t.version() == version
    assert _data_files(t) == files
    assert not [n for n in os.listdir(t.path) if n.startswith("_stage-")]


def test_wholly_deleted_file_is_removed_without_rewrite(
    spark, tmp_path, caplog
):
    t = _two_days(spark, str(tmp_path / "t"))
    files = _data_files(t)
    caplog.set_level(logging.DEBUG, logger="olist.lake")
    r = t.delete_where(spark, F.col("day") == 2)
    assert (r["rows_deleted"], r["files_rewritten"]) == (2, 1)
    h = t.history()[-1]
    assert (h["op"], h["added"], h["removed"]) == ("delete", 0, 1)
    assert _data_files(t) == files  # no data file written
    assert _mutation_records(caplog) == [
        "lake delete (rewrite): 2 candidates, 1 touched, 1 removed whole, "
        "0 rewritten, 0 source rows"
    ]
    assert sorted(x["k"] for x in t.read(spark).collect()) == [1, 2, 3]


def test_partly_deleted_file_is_rewritten(spark, tmp_path, caplog):
    t = _two_days(spark, str(tmp_path / "t"))
    caplog.set_level(logging.DEBUG, logger="olist.lake")
    t.delete_where(spark, F.col("k") == 4)
    assert t.history()[-1]["added"] == 1
    assert "0 removed whole, 1 rewritten" in _mutation_records(caplog)[0]
    assert sorted(x["k"] for x in t.read(spark).collect()) == [1, 2, 3, 5]


def test_match_pass_pushes_the_predicate(spark, tmp_path, monkeypatch):
    """The per-file pass is the collect that groups by ``_lake_file``;
    its Parquet scan carries the predicate as a pushed filter."""
    t = _two_days(spark, str(tmp_path / "t"))
    plans = []
    cls = type(spark.range(1))
    collect = cls.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    t.delete_where(spark, F.col("day") == 2)
    monkeypatch.undo()
    passes = [p for p in plans if "_lake_file" in p and "HashAggregate" in p]
    assert len(passes) == 1
    assert "EqualTo(day,2)" in passes[0]


def test_empty_mutation_stagings_add_no_file(spark, tmp_path):
    """Spark writes one part file for an empty frame; no lake write
    commits one: not a mutation's empty batch, empty insert side or
    emptied table, nor an empty create, append or overwrite. Each
    still commits its version, and reads keep the schema."""
    t = _two_days(spark, str(tmp_path / "t"))
    t.replace_where(spark, _mk(spark, []), F.col("day") == 2)
    t.merge_into(spark, _mk(spark, [(1, 1, 9.0)]), ["k"], when_matched="keep")
    t.delete_where(spark, F.lit(True))
    assert [h["added"] for h in t.history()[-3:]] == [0, 0, 0]
    e = LakeTable.create(_mk(spark, []), str(tmp_path / "e"))
    e.append(_mk(spark, []))
    e.overwrite(_mk(spark, []))
    assert [h["added"] for h in e.history()] == [0, 0, 0]
    assert _data_files(e) == []
    for table in (t, e):
        assert table._state()["files"] == {}
        df = table.read(spark)
        assert df.schema.simpleString() == (
            _mk(spark, []).schema.simpleString()
        )
        assert df.count() == 0


def test_stage_retry_is_logged_and_leaves_no_stage_dir(
    spark, tmp_path, caplog, monkeypatch
):
    """A staging whose parquet write fails with the transient
    ``OptionalDataException`` is resubmitted to a fresh stage dir, and
    each retry logs one record on ``olist.lake``."""
    t = _two_days(spark, str(tmp_path / "t"))
    cls = type(_mk(spark, []).write)
    parquet = cls.parquet
    failed = []

    def once(self, path, *a, **kw):
        if not failed:
            failed.append(path)
            raise RuntimeError("java.io.OptionalDataException")
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(cls, "parquet", once)
    caplog.set_level(logging.WARNING, logger="olist.lake")
    v = t.append(_mk(spark, [(6, 3, 6.0)]))
    monkeypatch.undo()
    assert len(failed) == 1
    assert _mutation_records(caplog) == [
        "lake stage retry 1 of 3 after OptionalDataException"
    ]
    assert t.version() == v
    assert sorted(x["k"] for x in t.read(spark).collect()) == [
        1, 2, 3, 4, 5, 6
    ]
    assert not [n for n in os.listdir(t.path) if n.startswith("_stage-")]
