"""Governed tables on the native write path (r10 verdict item #3).

CHECK constraints and GENERATED columns enforce on
``df.write.format('lake')`` through executor-side DuckDB evaluation of
expressions whose Spark/DuckDB agreement was PROVEN at DDL time over a
typed canary battery (recorded as ``native_proofs`` in the table
config — the sessionless data-source writer reads the verdict, it
cannot run the canary). Unproven expressions keep the refusal, and
so does a table whose proofs are missing.
Column-mapped tables write under PHYSICAL names executor-side.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources import lakebatch
from olist_data_warehouse_spark.sources.lakehouse import LakeTable


@pytest.fixture()
def registered(spark):
    lakebatch.register(spark)
    return spark


def test_generated_native_matches_table_api(registered, tmp_path):
    spark = registered
    gen = {"n2": "CAST(id * 2 AS BIGINT)"}
    base = spark.range(10).selectExpr("id")
    a = LakeTable.create(base, str(tmp_path / "a"), generated=gen)
    b = LakeTable.create(base, str(tmp_path / "b"), generated=gen)
    more = spark.range(10, 20).selectExpr("id")
    a.append(more)
    more.write.format("lake").option("path", b.path).mode(
        "append"
    ).save()
    assert sorted(map(tuple, a.read(spark).collect())) == sorted(
        map(tuple, b.read(spark).collect())
    )


def test_unproven_generated_refuses_with_remedy(registered, tmp_path):
    spark = registered
    # xxhash64 exists only in Spark -> the DDL-time canary records the
    # failure reason and the native writer refuses with it
    t = LakeTable.create(
        spark.range(5).selectExpr("id"),
        str(tmp_path / "t"),
        generated={"h": "CAST(xxhash64(id) AS BIGINT)"},
    )
    proofs = t._state()["config"]["native_proofs"]
    assert proofs["gen:h"] is not True
    with pytest.raises(Exception, match="not proven dialect-exact"):
        spark.range(5, 8).selectExpr("id").write.format("lake").option(
            "path", t.path
        ).mode("append").save()
    t.append(spark.range(5, 8).selectExpr("id"))
    assert t.read(spark).count() == 8


def test_native_write_refuses_table_without_proofs(
    registered, tmp_path
):
    """Each DDL records its own proofs; a table whose config carries
    none keeps the native writer's refusal, and the table API still
    writes it."""
    spark = registered
    t = LakeTable.create(
        spark.range(5).withColumn("v", F.col("id") * 1.0),
        str(tmp_path / "t"),
    )
    t.add_constraint(spark, "v_ok", "v >= 0")
    # a table whose config lost its proofs
    state = t._state()
    cfg = dict(state["config"])
    cfg.pop("native_proofs", None)
    t._write_commit(
        state["version"] + 1,
        {"op": "alter", "add": [], "remove": [], "config": cfg},
    )
    batch = spark.createDataFrame([(9, 1.0)], "id long, v double")
    with pytest.raises(
        Exception, match="constraint 'v_ok' has no DDL-time dialect proof"
    ):
        batch.write.format("lake").option("path", t.path).mode(
            "append"
        ).save()
    assert t.version() == 2
    t.append(batch)
    assert t.read(spark).count() == 6


def test_drop_constraint_drops_its_proof(registered, tmp_path):
    spark = registered
    t = LakeTable.create(
        spark.range(5).withColumn("v", F.col("id") * 1.0),
        str(tmp_path / "t"),
    )
    t.add_constraint(spark, "v_ok", "v >= 0")
    assert t._state()["config"]["native_proofs"] == {"check:v_ok": True}
    t.drop_constraint("v_ok")
    assert t._state()["config"]["native_proofs"] == {}


def test_constraint_over_generated_column(registered, tmp_path):
    spark = registered
    t = LakeTable.create(
        spark.createDataFrame([("abcd",)], "text string"),
        str(tmp_path / "t"),
        generated={"n": "CAST(length(text) AS BIGINT)"},
    )
    # references the generated column -> must evaluate AFTER compute
    t.add_constraint(spark, "n_pos", "n > 0")
    spark.createDataFrame([("xy",)], "text string").write.format(
        "lake"
    ).option("path", t.path).mode("append").save()
    assert t.read(spark).count() == 2
    with pytest.raises(Exception, match="CHECK constraint violation"):
        spark.createDataFrame([("",)], "text string").write.format(
            "lake"
        ).option("path", t.path).mode("append").save()


def test_governed_partitioned_native_write(registered, tmp_path):
    spark = registered
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, cat string"
    )
    t = LakeTable.create(
        df,
        str(tmp_path / "t"),
        partition_by=["cat"],
        generated={"tag": "CAST(id % 2 AS BIGINT)"},
    )
    t.add_constraint(spark, "pos", "id > 0")
    spark.createDataFrame(
        [(5, "a"), (6, "c")], "id long, cat string"
    ).write.format("lake").option("path", t.path).mode("append").save()
    got = {
        (r["id"], r["cat"], r["tag"]) for r in t.read(spark).collect()
    }
    assert got == {(1, "a", 1), (2, "b", 0), (5, "a", 1), (6, "c", 0)}
    # partition pruning covers the natively-written governed files
    assert {
        r["id"]
        for r in t.read(spark, prune=("cat", "=", "a"))
        .where(F.col("cat") == "a")
        .collect()
    } == {1, 5}


def test_canary_catches_true_divergence(spark):
    """The alignment proof is a real gate: a construct the two
    dialects disagree on (Spark int division truncates toward zero
    via DIV, DuckDB's `//` floors... use a genuinely divergent pair)
    must come back with a reason, and an agreeing one with None."""
    from pyspark.sql.types import StructType

    from olist_data_warehouse_spark.sources.lakebatch import (
        _duckdb_aligned,
    )

    schema = StructType.fromDDL("id bigint, v double, s string")
    # aligned: plain comparison
    assert (
        _duckdb_aligned(spark, schema, {"c": ("v >= 0", "v >= 0")})
        is None
    )
    # spark-only function: duckdb errors -> reason
    r = _duckdb_aligned(
        spark, schema, {"c": ("xxhash64(id) IS NOT NULL",) * 2}
    )
    assert r is not None and "canary" in r
    # engineered value divergence (constant differs) -> reason
    r = _duckdb_aligned(spark, schema, {"c": ("1", "2")})
    assert r is not None and "diverges" in r
