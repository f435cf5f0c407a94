"""What a lake row mutation computes and writes.

`LakeTable._mutate` stages a mutation's input once and reads only the
files it may change:

- `replace_where` evaluates its batch lineage once (it stages as the
  frozen batch; the region and CHECK gates scan the staged files), and
  a refused batch leaves no file, stage directory or version behind.
- The per-file match pass filters on the raw predicate before it
  aggregates, so Parquet pushes it into the scan.
- A file whose every live row is deleted is removed without a
  survivor rewrite, and no mutation commits a zero-row file.
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
    """Spark writes one part file for an empty frame; a mutation
    commits none: not for an empty batch, an empty insert side or an
    emptied table, whose reads keep the schema."""
    t = _two_days(spark, str(tmp_path / "t"))
    t.replace_where(spark, _mk(spark, []), F.col("day") == 2)
    t.merge_into(spark, _mk(spark, [(1, 1, 9.0)]), ["k"], when_matched="keep")
    t.delete_where(spark, F.lit(True))
    assert [h["added"] for h in t.history()[-3:]] == [0, 0, 0]
    assert t._state()["files"] == {}
    df = t.read(spark)
    assert df.schema.simpleString() == _mk(spark, []).schema.simpleString()
    assert df.count() == 0
