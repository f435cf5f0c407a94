"""SQL-text DML dispatcher (r11 verdict item #2): MERGE INTO /
DELETE FROM / UPDATE statements over register_table lake views route
to the LakeTable engines — plus the engine extensions that make the
SQL surface honest (per-clause SET maps, column-list INSERT)."""

from __future__ import annotations

import pytest
from pyspark.errors import ParseException
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources import lakebatch, lakesql
from olist_data_warehouse_spark.sources.lakehouse import LakeTable


@pytest.fixture()
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def _make(spark, orders, tmp_path, name, df=None, **create_kw):
    t = LakeTable.create(
        (df if df is not None else orders).repartition(4),
        str(tmp_path / name),
        **create_kw,
    )
    lakebatch.register_table(spark, name, t.path)
    return t


def _rows(df):
    return sorted(
        tuple(r) for r in df.select(*sorted(df.columns)).collect()
    )


# ---------------------------------------------------------------- DELETE

def test_sql_delete_with_alias_and_prune(spark, orders, tmp_path):
    t = LakeTable.create(
        orders.repartitionByRange(6, "o_totalprice"),
        str(tmp_path / "del"),
    )
    lakebatch.register_table(spark, "del_t", t.path)
    r = lakesql.sql(
        spark,
        "DELETE FROM del_t AS o WHERE o.o_totalprice > 400000.0;",
    )
    assert r["rows_deleted"] > 0
    want = _rows(
        orders.where(
            F.col("o_totalprice").isNull()
            | (F.col("o_totalprice") <= 400000.0)
        )
    )
    assert _rows(t.read(spark)) == want
    # range clustering + auto-derived prune: some files untouched
    assert r["files_kept"] > 0


def test_sql_delete_no_where_empties_table(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "del_all")
    lakesql.sql(spark, "DELETE FROM del_all")
    assert t.read(spark).count() == 0


# ---------------------------------------------------------------- UPDATE

def test_sql_update(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "upd_t")
    r = lakesql.sql(
        spark,
        "UPDATE upd_t SET o_orderpriority = upper(o_orderpriority), "
        "o_totalprice = o_totalprice + 1.0 "
        "WHERE o_orderstatus = 'F'",
    )
    assert r["rows_updated"] > 0
    isf = F.col("o_orderstatus") == "F"
    want = _rows(
        orders.withColumn(
            "o_orderpriority",
            F.when(isf, F.upper("o_orderpriority")).otherwise(
                F.col("o_orderpriority")
            ),
        ).withColumn(
            "o_totalprice",
            F.when(isf, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
    )
    assert _rows(t.read(spark)) == want


def test_sql_update_string_literal_with_keyword(spark, orders, tmp_path):
    """'WHERE'/'SET' inside string literals must not split parsing."""
    t = _make(spark, orders, tmp_path, "upd_lit")
    lakesql.sql(
        spark,
        "UPDATE upd_lit SET o_orderpriority = ' WHERE SET , ''x'' ' "
        "WHERE o_orderkey = 1",
    )
    got = t.read(spark).where(F.col("o_orderkey") == 1).collect()
    assert all(r["o_orderpriority"] == " WHERE SET , 'x' " for r in got)


def test_auto_prune_literal_with_and_inside(spark):
    """Regression (r12 advice, high): an ' AND ' inside a string
    literal must not yield a prune hint taken from literal CONTENTS,
    which would silently skip files that held real matches. The hint
    is read off Spark's expression tree, where a literal is one leaf
    whatever its quoting."""
    from olist_data_warehouse_spark.sources.lakesql import (
        _parse, _prune_hint,
    )

    def hint(pred):
        return _prune_hint(_parse(spark, pred, expression=True), pred)

    assert hint("msg = 'x AND c = 3 AND y' AND d > 5") == ("d", ">", 5)
    # literal-only predicate: no numeric conjunct, no hint
    assert hint("msg = 'a AND b = 1'") is None
    # parentheses only group: the AND-flattened conjuncts are a = 1,
    # b = 2 and d >= 7, and the first numeric one is the hint
    assert hint("(a = 1 AND b = 2) AND d >= 7") == ("a", "=", 1)
    # a double-quoted literal is a string too (Spark's default
    # dialect), so nothing inside it becomes a conjunct
    assert hint('msg <> "x AND c = -1 AND y" AND d > 5') == ("d", ">", 5)


def test_sql_delete_literal_and_does_not_poison_prune(
    spark, orders, tmp_path
):
    """End-to-end form of the same regression: with the misaligned
    prune hint ('o_totalprice', '=', -1) every file's stats exclude
    the bogus value, so the old code deleted NOTHING. The fix must
    delete exactly the rows matching the real predicate."""
    t = LakeTable.create(
        orders.repartitionByRange(6, "o_totalprice"),
        str(tmp_path / "del_lit"),
    )
    lakebatch.register_table(spark, "del_lit", t.path)
    r = lakesql.sql(
        spark,
        "DELETE FROM del_lit WHERE "
        "o_orderpriority <> 'x AND o_totalprice = -1 AND y' "
        "AND o_totalprice > 400000.0",
    )
    assert r["rows_deleted"] > 0
    want = _rows(orders.where(F.col("o_totalprice") <= 400000.0))
    assert _rows(t.read(spark)) == want


# ----------------------------------------------------------------- MERGE

def test_sql_merge_full_grammar(spark, orders, tmp_path):
    """One statement: conditional DELETE, chained partial-SET UPDATE,
    conditional column-list INSERT, by-source UPDATE SET."""
    target = orders.where(F.col("o_orderkey") % 4 != 0)
    t = _make(spark, orders, tmp_path, "mg_t", df=target)
    src = (
        orders.where(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 0.5)
        .withColumn("o_orderstatus", F.lit("XX"))
    )
    src.createOrReplaceTempView("mg_src")
    r = lakesql.sql(
        spark,
        """
        MERGE INTO mg_t AS t
        USING mg_src AS s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND t.o_totalprice > 300000.0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET
             o_totalprice = s.o_totalprice,
             o_orderpriority = '5-SQLSET'
        WHEN NOT MATCHED AND s.o_totalprice < 100000.0 THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'F'
             THEN UPDATE SET o_orderpriority = '0-MERGED'
        """,
    )
    assert r["rows_matched"] > 0

    # expected: dataframe-level expansion of the same clauses
    tgt, s = target.alias("t"), src.alias("s")
    j = tgt.join(s, F.col("t.o_orderkey") == F.col("s.o_orderkey"))
    kept_updated = j.where(
        ~F.coalesce(F.col("t.o_totalprice") > 300000.0, F.lit(False))
    ).select(
        "t.o_orderkey",
        "t.o_custkey",
        "t.o_orderstatus",  # NOT assigned: keeps target ('XX' would
        # mean a wrong full-row replace)
        F.col("s.o_totalprice").alias("o_totalprice"),
        "t.o_orderdate",
        F.lit("5-SQLSET").alias("o_orderpriority"),
    )
    by_src = tgt.join(s, ["o_orderkey"], "left_anti").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.when(F.col("o_orderstatus") == "F", "0-MERGED")
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    inserted = (
        s.join(tgt, ["o_orderkey"], "left_anti")
        .where(F.col("o_totalprice") < 100000.0)
        .select(*target.columns)
    )
    want = _rows(kept_updated.unionByName(by_src).unionByName(inserted))
    assert _rows(t.read(spark)) == want


def test_sql_merge_case_when_in_update_set(spark, orders, tmp_path):
    """Regression (r12 advice): a CASE WHEN inside an UPDATE SET
    expression is valid Delta SQL and must not be cut into a bogus
    WHEN clause — only ``WHEN [NOT] MATCHED`` starts a clause."""
    t = _make(spark, orders, tmp_path, "mrg_case")
    src = orders.limit(50).withColumn(
        "o_totalprice", F.lit(999999.0)
    )
    src.createOrReplaceTempView("mrg_case_src")
    lakesql.sql(
        spark,
        "MERGE INTO mrg_case AS t USING mrg_case_src AS s "
        "ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET o_totalprice = "
        "CASE WHEN s.o_totalprice > 1 THEN s.o_totalprice "
        "ELSE t.o_totalprice END",
    )
    keys = {r["o_orderkey"] for r in src.select("o_orderkey").collect()}
    got = t.read(spark).where(
        F.col("o_orderkey").isin(list(keys))
    ).collect()
    assert got and all(r["o_totalprice"] == 999999.0 for r in got)
    untouched = t.read(spark).where(
        ~F.col("o_orderkey").isin(list(keys))
    ).agg(F.max("o_totalprice")).first()[0]
    assert untouched != 999999.0


def test_sql_merge_insert_column_list(spark, orders, tmp_path):
    """INSERT (cols) VALUES (exprs): omitted columns land NULL,
    expressions evaluate over the source row."""
    target = orders.where(F.col("o_orderkey") % 3 == 0)
    t = _make(spark, orders, tmp_path, "mg_ins", df=target)
    orders.createOrReplaceTempView("mg_ins_src")
    lakesql.sql(
        spark,
        """
        MERGE INTO mg_ins USING mg_ins_src AS s
        ON mg_ins.o_orderkey = s.o_orderkey
        WHEN NOT MATCHED THEN INSERT
             (o_orderkey, o_totalprice, o_orderpriority)
             VALUES (s.o_orderkey, s.o_totalprice * 2.0, 'NEW')
        """,
    )
    got = t.read(spark)
    new = got.where(F.col("o_orderkey") % 3 != 0)
    assert new.where(F.col("o_custkey").isNotNull()).count() == 0
    assert new.where(F.col("o_orderpriority") != "NEW").count() == 0
    want_price = _rows(
        orders.where(F.col("o_orderkey") % 3 != 0).select(
            "o_orderkey", (F.col("o_totalprice") * 2.0).alias("p")
        )
    )
    assert _rows(new.select("o_orderkey", "o_totalprice")) == want_price
    # matched rows untouched (no WHEN MATCHED clause)
    assert _rows(got.where(F.col("o_orderkey") % 3 == 0)) == _rows(target)


def test_sql_merge_using_subquery(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "mg_sub",
              df=orders.where(F.col("o_orderkey") % 2 == 0))
    orders.createOrReplaceTempView("mg_sub_src")
    lakesql.sql(
        spark,
        """
        MERGE INTO mg_sub t
        USING (SELECT * FROM mg_sub_src WHERE o_orderkey % 2 = 1) s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """,
    )
    assert _rows(t.read(spark)) == _rows(orders)


def test_sql_merge_set_star_full_row(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "mg_star")
    src = orders.withColumn("o_totalprice", F.col("o_totalprice") + 7.0)
    src.createOrReplaceTempView("mg_star_src")
    lakesql.sql(
        spark,
        "MERGE INTO mg_star t USING mg_star_src s "
        "ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET *",
    )
    assert _rows(t.read(spark)) == _rows(src)


# ---------------------------------------------------------------- errors

def test_sql_unregistered_table_falls_through(spark):
    """DML on a non-lake name falls through to spark.sql — symmetric
    with INSERT/ALTER (r12 advice) — so Spark reports its own
    table-not-found error rather than our registry error."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        lakesql.sql(spark, "DELETE FROM nope WHERE 1 = 1")
    with pytest.raises(AnalysisException):
        lakesql.sql(spark, "UPDATE nope2 SET x = 1")


def test_sql_snapshot_view_is_not_dml_target(spark, orders, tmp_path):
    """Snapshot/CDF views ARE lake bindings but read-only — they keep
    the informative error instead of falling through to a confusing
    Spark parse failure."""
    t = LakeTable.create(orders, str(tmp_path / "snap"))
    lakebatch.register_table(spark, "snap_v0", t.path, version=0)
    with pytest.raises(ValueError, match="snapshot/CDF view"):
        lakesql.sql(spark, "DELETE FROM snap_v0")
    with pytest.raises(ValueError, match="snapshot/CDF view"):
        lakesql.sql(spark, "VACUUM snap_v0")


def test_dml_targets_are_session_scoped(spark, orders, tmp_path):
    """Two sessions in one process must not share DML bindings: a
    name registered only by session A resolves to None in session B,
    and B's DELETE falls through to spark.sql, which cannot see A's
    temp view either (r12 advice: no cross-session mutation).

    Also pins the upstream Spark 4.1 sibling-session limitation this
    design lives with: a Python data source registered by session A
    is visible to session B's EXISTS check (register raises
    DATA_SOURCE_ALREADY_EXISTS) but not to its lookup (load raises
    DATA_SOURCE_NOT_FOUND) — so a sibling session cannot read the
    lake format at all. Flip condition: if B's load ever succeeds on
    a Spark upgrade, drop the swallow in lakebatch.register() and
    extend this test to B-side DML."""
    from pyspark.errors import AnalysisException

    t = LakeTable.create(orders.limit(100), str(tmp_path / "scoped"))
    lakebatch.register_table(spark, "scoped_t", t.path)
    other = spark.newSession()
    assert lakebatch.dml_target(spark, "scoped_t") == t.path
    assert lakebatch.dml_target(other, "scoped_t") is None
    with pytest.raises(AnalysisException):
        lakesql.sql(other, "DELETE FROM scoped_t WHERE 1 = 1")
    # A's data untouched by B's attempt
    assert t.read(spark).count() == 100
    # upstream probe: B cannot plan the format (see docstring)
    with pytest.raises(Exception, match="DATA_SOURCE_NOT_FOUND"):
        other.read.format("lake").option("path", t.path).load()


def test_sql_merge_rejects_cross_named_keys(spark, orders, tmp_path):
    _make(spark, orders, tmp_path, "mg_bad")
    orders.createOrReplaceTempView("mg_bad_src")
    with pytest.raises(ValueError, match="share a column name"):
        lakesql.sql(
            spark,
            "MERGE INTO mg_bad t USING mg_bad_src s "
            "ON t.o_orderkey = s.o_custkey "
            "WHEN MATCHED THEN DELETE",
        )


def test_sql_merge_rejects_non_equi_on(spark, orders, tmp_path):
    _make(spark, orders, tmp_path, "mg_bad2")
    orders.createOrReplaceTempView("mg_bad2_src")
    with pytest.raises(ValueError, match="conjunction"):
        lakesql.sql(
            spark,
            "MERGE INTO mg_bad2 t USING mg_bad2_src s "
            "ON t.o_orderkey > s.o_orderkey "
            "WHEN MATCHED THEN DELETE",
        )


def test_sql_select_falls_through(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "ro_t")
    del t
    got = lakesql.sql(
        spark, "SELECT count(*) AS n FROM ro_t"
    ).first()["n"]
    assert got == orders.count()


# ------------------------------------------------------- parser seam

_CREATE_GENERATED = (
    "CREATE TABLE t (k INT, d INT GENERATED ALWAYS AS (k + 1)) "
    "USING lake LOCATION '/p'"
)
# one statement per shape the dispatcher reads off Spark's parser, and
# the unresolved-plan node it routes on (Spark 4.1)
_PLAN_NODES = {
    "DELETE FROM t AS a WHERE a.k > 1": "DeleteFromTable",
    "UPDATE t SET v = 1 WHERE k = 2": "UpdateTable",
    "MERGE INTO t USING s ON t.k = s.k "
    "WHEN MATCHED AND t.v > 1 THEN DELETE "
    "WHEN MATCHED THEN UPDATE SET * "
    "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k) "
    "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0": "MergeIntoTable",
    "INSERT INTO t (k) VALUES (1)": "InsertIntoStatement",
    "INSERT OVERWRITE t SELECT * FROM s": "InsertIntoStatement",
    "INSERT INTO t REPLACE WHERE k > 1 SELECT * FROM s":
        "OverwriteByExpression",
    "ALTER TABLE t ADD COLUMNS (x INT)": "AddColumns",
    "ALTER TABLE t RENAME COLUMN x TO y": "RenameColumn",
    "ALTER TABLE t DROP COLUMN x": "DropColumns",
    "ALTER TABLE t ADD CONSTRAINT c CHECK (k > 0)": "AddCheckConstraint",
    "ALTER TABLE t DROP CONSTRAINT c": "DropConstraint",
    "ALTER TABLE t SET TBLPROPERTIES ('a' = 'b')": "SetTableProperties",
    "ALTER TABLE t UNSET TBLPROPERTIES ('a')": "UnsetTableProperties",
    _CREATE_GENERATED: "CreateTable",
    "CREATE TABLE t USING lake LOCATION '/p' AS SELECT 1 AS k":
        "CreateTableAsSelect",
    "CREATE OR REPLACE TABLE t (k INT) USING lake LOCATION '/p'":
        "ReplaceTable",
    "CREATE OR REPLACE TABLE t USING lake LOCATION '/p' AS SELECT 1":
        "ReplaceTableAsSelect",
    "DROP TABLE IF EXISTS t": "DropTable",
    "SHOW TBLPROPERTIES t": "ShowTableProperties",
}


def test_parser_seam_plan_nodes(spark, tmp_path, monkeypatch):
    """Pins the one internal-API seam: ``lakesql._parse`` returns the
    node classes the dispatcher routes on, the read extensions are
    reachable through ``children()`` and ``innerChildren()``, a
    generated column arrives as its text, and DESCRIBE HISTORY /
    DETAIL never reach the parser (Spark reads both as a column
    description). A Spark upgrade that renames a node fails here."""
    from olist_data_warehouse_spark.sources.lakesql import (
        _kind, _parse, _seq, _walk,
    )

    for stmt, node in _PLAN_NODES.items():
        assert _kind(_parse(spark, stmt)) == node, stmt
    cols = _seq(_parse(spark, _CREATE_GENERATED).columns())
    assert cols[1].generationExpression().get() == "k + 1"
    reads = _parse(
        spark,
        "WITH c AS (SELECT * FROM t VERSION AS OF 1) SELECT * FROM c "
        "WHERE k IN (SELECT k FROM table_changes('t', 2))",
    )
    kinds = {_kind(n) for n in _walk(reads)}
    assert {"RelationTimeTravel", "UnresolvedTableValuedFunction"} <= kinds

    t = LakeTable.create(spark.range(3), str(tmp_path / "seam"))
    lakebatch.register_table(spark, "seam_t", t.path)
    calls = []
    monkeypatch.setattr(
        lakesql, "_parse", lambda *a, **k: calls.append(a[1])
    )
    assert lakesql.sql(spark, "DESCRIBE HISTORY seam_t").count() == 1
    assert lakesql.sql(spark, "DESCRIBE DETAIL seam_t").first()["rows"] == 3
    assert calls == []


# --------------------------------------------- engine-level extensions

def test_engine_partial_set_keeps_unassigned(spark, orders, tmp_path):
    t = LakeTable.create(orders, str(tmp_path / "eng_set"))
    src = orders.withColumn("o_custkey", F.lit(-1).cast("long"))
    r = t.merge_into(
        spark,
        src,
        ["o_orderkey"],
        matched_clauses=[
            ("update", None, {"o_totalprice": "t.o_totalprice + s.o_totalprice"})
        ],
        when_not_matched="keep",
    )
    assert r["rows_matched_changed"] == orders.count()
    got = t.read(spark)
    # o_custkey unassigned: must keep target, never take -1
    assert got.where(F.col("o_custkey") == -1).count() == 0
    want = _rows(
        orders.withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    assert _rows(got) == want


def test_engine_set_map_rejects_unknown_and_type_drift(
    spark, orders, tmp_path
):
    t = LakeTable.create(orders, str(tmp_path / "eng_bad"))
    with pytest.raises(ValueError, match="unknown columns"):
        t.merge_into(
            spark, orders, ["o_orderkey"],
            matched_clauses=[("update", None, {"nope": "1"})],
        )
    with pytest.raises(ValueError):
        t.merge_into(
            spark, orders, ["o_orderkey"],
            matched_clauses=[
                ("update", None, {"o_totalprice": "'not a number'"})
            ],
        )


def test_engine_set_map_only_on_update(spark, orders, tmp_path):
    t = LakeTable.create(orders, str(tmp_path / "eng_bad2"))
    with pytest.raises(ValueError, match="update"):
        t.merge_into(
            spark, orders, ["o_orderkey"],
            matched_clauses=[("delete", None, {"o_totalprice": "1.0"})],
        )


# ------------------------------------------------- maintenance surface

def test_sql_insert_into_select(spark, orders, tmp_path):
    half = orders.where(F.col("o_orderkey") % 2 == 0)
    t = _make(spark, orders, tmp_path, "ins_sel", df=half)
    orders.where(F.col("o_orderkey") % 2 != 0).createOrReplaceTempView(
        "ins_sel_src"
    )
    r = lakesql.sql(
        spark, "INSERT INTO ins_sel SELECT * FROM ins_sel_src"
    )
    assert r["version"] == 1
    assert _rows(t.read(spark)) == _rows(orders)


def test_sql_insert_overwrite(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "ins_ovw")
    orders.limit(7).createOrReplaceTempView("ins_ovw_src")
    lakesql.sql(
        spark, "INSERT OVERWRITE ins_ovw SELECT * FROM ins_ovw_src"
    )
    assert t.read(spark).count() == 7


def test_sql_insert_values_with_column_list(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "ins_val", df=orders.limit(0))
    r = lakesql.sql(
        spark,
        "INSERT INTO ins_val (o_orderkey, o_orderpriority) "
        "VALUES (CAST(1 AS BIGINT), 'A'), (CAST(2 AS BIGINT), 'B')",
    )
    assert r["version"] == 1
    got = t.read(spark)
    assert got.count() == 2
    # omitted columns landed NULL
    assert got.where(F.col("o_custkey").isNotNull()).count() == 0
    assert sorted(
        (r2["o_orderkey"], r2["o_orderpriority"])
        for r2 in got.collect()
    ) == [(1, "A"), (2, "B")]


def test_sql_insert_non_lake_falls_through(spark, orders, tmp_path):
    """INSERT into a non-lake target goes to spark.sql (catalog
    tables support it natively)."""
    spark.sql("DROP TABLE IF EXISTS ins_cat")
    orders.limit(0).write.saveAsTable("ins_cat")
    lakesql.sql(
        spark,
        "INSERT INTO ins_cat SELECT * FROM ins_cat",  # no-op insert
    )
    assert spark.table("ins_cat").count() == 0
    spark.sql("DROP TABLE IF EXISTS ins_cat")


def test_sql_vacuum_grammar(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "vac_t")
    t.overwrite(orders.limit(5))
    with pytest.raises(ValueError, match="safety floor"):
        lakesql.sql(spark, "VACUUM vac_t RETAIN 0 HOURS")
    would = lakesql.sql(spark, "VACUUM vac_t RETAIN 0 HOURS DRY RUN FORCE")
    assert would
    import os as _os
    assert all(
        _os.path.exists(_os.path.join(t.path, p)) for p in would
    ), "DRY RUN must not delete"
    removed = lakesql.sql(spark, "VACUUM vac_t RETAIN 0 HOURS FORCE")
    assert sorted(removed) == sorted(would)
    with pytest.raises(ValueError, match="cannot parse VACUUM clause"):
        lakesql.sql(spark, "VACUUM vac_t BANANAS")


def test_sql_vacuum_defaults_to_delta_seven_days(
    spark, orders, tmp_path, monkeypatch
):
    """Bare VACUUM must inherit Delta's 7-day retention, not the
    Python API's 24h (r12 advice): an operator typing plain VACUUM
    must not reclaim files ~6 days earlier than Delta would."""
    t = _make(spark, orders, tmp_path, "vac_def")
    seen = {}
    real = LakeTable.vacuum

    def spy(self, **kw):
        seen.update(kw)
        return real(self, **kw)

    monkeypatch.setattr(LakeTable, "vacuum", spy)
    lakesql.sql(spark, "VACUUM vac_def DRY RUN")
    assert seen["retention_seconds"] == 7 * 86400.0
    assert seen["keep_versions"] == 1
    seen.clear()
    lakesql.sql(spark, "VACUUM vac_def RETAIN 48 HOURS DRY RUN")
    assert seen["retention_seconds"] == 48 * 3600.0


def test_sql_restore_version(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "res_t")
    t.overwrite(orders.limit(5))
    r = lakesql.sql(spark, "RESTORE TABLE res_t TO VERSION AS OF 0")
    assert r["version"] == 2
    assert _rows(t.read(spark)) == _rows(orders)


def test_sql_optimize_zorder(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "opt_t")
    res = lakesql.sql(
        spark,
        "OPTIMIZE opt_t ZORDER BY (o_orderkey, o_totalprice)",
    )
    assert res["version"] >= 1
    assert _rows(t.read(spark)) == _rows(orders)
    with pytest.raises(ValueError, match="stats predicates"):
        lakesql.sql(
            spark, "OPTIMIZE opt_t WHERE o_orderstatus = 'F'"
        )


def test_sql_describe_history(spark, orders, tmp_path):
    t = _make(spark, orders, tmp_path, "hist_t")
    t.append(orders.limit(3))
    t.overwrite(orders.limit(5))
    df = lakesql.sql(spark, "DESCRIBE HISTORY hist_t LIMIT 2")
    rows = df.orderBy("version").collect()
    assert [r["version"] for r in rows] == [1, 2]
    assert rows[1]["op"] == "overwrite"
    full = lakesql.sql(spark, "DESCRIBE HISTORY hist_t")
    assert full.count() == 3


# ------------------------------------------------------------- DDL (r12)

def test_sql_create_insert_alter_roundtrip(spark, tmp_path):
    p = str(tmp_path / "ddl1")
    r = lakesql.sql(
        spark,
        f"CREATE TABLE ddl_t1 (id INT, name STRING) USING lake "
        f"LOCATION '{p}' TBLPROPERTIES ('owner' = 'alice')",
    )
    assert r == {"version": 1, "created": True}  # v0 create + v1 props
    lakesql.sql(
        spark, "INSERT INTO ddl_t1 VALUES (1, 'a'), (2, 'b'), (3, 'c')"
    )
    # metadata-only widen: existing rows backfill NULL, the SQL
    # binding refreshes so the next spark.sql sees the new schema
    lakesql.sql(
        spark, "ALTER TABLE ddl_t1 ADD COLUMNS (score DOUBLE, tag STRING)"
    )
    got = spark.sql("SELECT * FROM ddl_t1 ORDER BY id").collect()
    assert [tuple(x) for x in got] == [
        (1, "a", None, None), (2, "b", None, None), (3, "c", None, None)
    ]
    lakesql.sql(
        spark, "UPDATE ddl_t1 SET score = id * 1.5D WHERE id >= 2"
    )
    lakesql.sql(spark, "ALTER TABLE ddl_t1 RENAME COLUMN tag TO label")
    assert spark.sql("SELECT * FROM ddl_t1").columns == [
        "id", "name", "score", "label"
    ]
    lakesql.sql(spark, "ALTER TABLE ddl_t1 DROP COLUMN label")
    assert spark.sql("SELECT * FROM ddl_t1").columns == [
        "id", "name", "score"
    ]
    got = spark.sql(
        "SELECT id, score FROM ddl_t1 ORDER BY id"
    ).collect()
    assert [tuple(x) for x in got] == [(1, None), (2, 3.0), (3, 4.5)]


def test_sql_reserved_property_keys_are_lake_properties(spark, tmp_path):
    """Spark's grammar refuses the table properties its catalog owns
    (owner, location, provider, external). A lake table keeps its
    properties in its own log, so there they are ordinary keys, in
    every spelling the property grammar takes. A column named like a
    reserved key, a comment and a value stay as typed."""
    p = str(tmp_path / "reserved")
    lakesql.sql(
        spark,
        f"CREATE TABLE res_t (id INT, location STRING) USING lake "
        f"LOCATION '{p}' -- 'owner' = 'nobody'\n"
        f"TBLPROPERTIES ('steward' = 'owner', 'owner' = 'alice', "
        f"location = 'owner')",
    )
    assert spark.sql("SELECT * FROM res_t").columns == ["id", "location"]
    t = LakeTable(p)
    assert t.properties() == {
        "steward": "owner", "owner": "alice", "location": "owner"
    }
    lakesql.sql(
        spark,
        "ALTER TABLE res_t SET TBLPROPERTIES "
        "(\"provider\" = 'x', external = 'true', owner = 'carol')",
    )
    assert t.properties() == {
        "steward": "owner", "owner": "carol", "location": "owner",
        "provider": "x", "external": "true",
    }
    lakesql.sql(
        spark, "ALTER TABLE res_t UNSET TBLPROPERTIES ('owner', location)"
    )
    assert t.properties() == {
        "steward": "owner", "provider": "x", "external": "true"
    }
    # the renamed key shifts the text after it: the query of a CTAS
    # must still be read from the right place
    r = lakesql.sql(
        spark,
        f"CREATE OR REPLACE TABLE res_t USING lake LOCATION '{p}' "
        f"TBLPROPERTIES (owner = 'dave') AS SELECT 7 AS id, 'eu' AS location",
    )
    assert r["replaced"]
    got = spark.sql("SELECT * FROM res_t").collect()
    assert [tuple(x) for x in got] == [(7, "eu")]
    assert t.properties()["owner"] == "dave"
    # a catalog table is Spark's to refuse, with Spark's own error
    spark.range(1).createOrReplaceTempView("res_plain")
    with pytest.raises(ParseException, match="owner is a reserved"):
        lakesql.sql(
            spark, "ALTER TABLE res_plain SET TBLPROPERTIES ('owner' = 'a')"
        )


def test_sql_add_column_never_resurrects_dropped_data(spark, tmp_path):
    """The column-mapping hazard ADD COLUMNS must close: dropping a
    populated column and re-adding the same NAME reads NULL — the new
    logical column binds a freshly minted physical name, never the
    dropped column's bytes still sitting in old files."""
    p = str(tmp_path / "ddl2")
    lakesql.sql(
        spark,
        f"CREATE TABLE ddl_t2 (id INT, x STRING) USING lake "
        f"LOCATION '{p}'",
    )
    lakesql.sql(
        spark, "INSERT INTO ddl_t2 VALUES (1, 'secret'), (2, 'hidden')"
    )
    lakesql.sql(spark, "ALTER TABLE ddl_t2 DROP COLUMN x")
    lakesql.sql(spark, "ALTER TABLE ddl_t2 ADD COLUMNS (x STRING)")
    got = spark.sql("SELECT id, x FROM ddl_t2 ORDER BY id").collect()
    assert [tuple(r) for r in got] == [(1, None), (2, None)]
    # and the dropped data still time-travels under the OLD schema
    t = LakeTable(p)
    old = t.read(spark, version=1)
    assert sorted(tuple(r) for r in old.collect()) == [
        (1, "secret"), (2, "hidden")
    ]


def test_sql_add_columns_rejects_dup_and_existing(spark, orders, tmp_path):
    _make(spark, orders.limit(5), tmp_path, "ddl_dup")
    with pytest.raises(ValueError, match="already exists"):
        lakesql.sql(
            spark, "ALTER TABLE ddl_dup ADD COLUMNS (o_orderkey LONG)"
        )
    with pytest.raises(ValueError, match="duplicate"):
        lakesql.sql(
            spark, "ALTER TABLE ddl_dup ADD COLUMNS (z INT, z STRING)"
        )


def test_sql_constraint_clauses(spark, tmp_path):
    p = str(tmp_path / "ddl3")
    lakesql.sql(
        spark,
        f"CREATE TABLE ddl_t3 (id INT, qty INT) USING lake "
        f"LOCATION '{p}'",
    )
    lakesql.sql(spark, "INSERT INTO ddl_t3 VALUES (1, 10)")
    lakesql.sql(
        spark,
        "ALTER TABLE ddl_t3 ADD CONSTRAINT qty_pos CHECK (qty > 0)",
    )
    with pytest.raises(ValueError, match="qty_pos"):
        lakesql.sql(spark, "INSERT INTO ddl_t3 VALUES (2, -1)")
    lakesql.sql(spark, "ALTER TABLE ddl_t3 DROP CONSTRAINT qty_pos")
    lakesql.sql(spark, "INSERT INTO ddl_t3 VALUES (2, -1)")
    assert LakeTable(p).read(spark).count() == 2


def test_sql_tblproperties_and_cdf_toggle(spark, tmp_path):
    p = str(tmp_path / "ddl4")
    lakesql.sql(
        spark,
        f"CREATE TABLE ddl_t4 (id INT) USING lake LOCATION '{p}'",
    )
    lakesql.sql(spark, "INSERT INTO ddl_t4 VALUES (1), (2), (3)")
    t = LakeTable(p)
    # a rewriting commit before CDF enablement cannot replay
    lakesql.sql(spark, "DELETE FROM ddl_t4 WHERE id = 3")
    with pytest.raises(ValueError, match="predates CDF|cdf"):
        t.read_changes_since(spark, 1)
    # enable mid-life: FUTURE rewrites persist pre-images
    lakesql.sql(
        spark,
        "ALTER TABLE ddl_t4 SET TBLPROPERTIES "
        "('cdf' = 'true', 'team' = 'data')",
    )
    v = t.version()
    lakesql.sql(spark, "DELETE FROM ddl_t4 WHERE id = 2")
    cdf, _cur = t.read_changes_since(spark, v)
    assert [(r["id"], r["_change_type"]) for r in cdf.collect()] == [
        (2, "delete")
    ]
    props = {
        r["key"]: r["value"]
        for r in lakesql.sql(
            spark, "SHOW TBLPROPERTIES ddl_t4"
        ).collect()
    }
    assert props["cdf"] == "true" and props["team"] == "data"
    lakesql.sql(spark, "ALTER TABLE ddl_t4 UNSET TBLPROPERTIES ('team')")
    assert "team" not in LakeTable(p).properties()
    with pytest.raises(ValueError, match="no such table properties"):
        lakesql.sql(
            spark, "ALTER TABLE ddl_t4 UNSET TBLPROPERTIES ('ghost')"
        )
    with pytest.raises(ValueError, match="engine-managed"):
        lakesql.sql(
            spark,
            "ALTER TABLE ddl_t4 SET TBLPROPERTIES "
            "('column_mapping' = 'x')",
        )


def test_sql_ctas_partitioned_and_describe_detail(
    spark, orders, tmp_path
):
    _make(spark, orders, tmp_path, "ddl_src")
    p = str(tmp_path / "ddl5")
    r = lakesql.sql(
        spark,
        f"CREATE TABLE ddl_t5 USING lake LOCATION '{p}' AS "
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM ddl_src "
        "WHERE o_orderkey <= 100",
    )
    assert r["created"] is True
    want = spark.sql(
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM ddl_src "
        "WHERE o_orderkey <= 100"
    )
    assert _rows(spark.sql("SELECT * FROM ddl_t5")) == _rows(want)
    det = lakesql.sql(spark, "DESCRIBE DETAIL ddl_t5").first()
    assert det["version"] == 0 and det["rows"] == want.count()
    # partitioned create-empty form
    p6 = str(tmp_path / "ddl6")
    lakesql.sql(
        spark,
        f"CREATE TABLE ddl_t6 (id INT, region STRING) USING lake "
        f"LOCATION '{p6}' PARTITIONED BY (region)",
    )
    lakesql.sql(
        spark,
        "INSERT INTO ddl_t6 VALUES (1, 'na'), (2, 'eu'), (3, 'na')",
    )
    det6 = lakesql.sql(spark, "DESCRIBE DETAIL ddl_t6").first()
    assert det6["partition_by"] == '["region"]'
    got = spark.sql(
        "SELECT id FROM ddl_t6 WHERE region = 'na' ORDER BY id"
    ).collect()
    assert [r["id"] for r in got] == [1, 3]


def test_sql_drop_table_keeps_data_and_rebinds(spark, tmp_path):
    p = str(tmp_path / "ddl7")
    lakesql.sql(
        spark,
        f"CREATE TABLE ddl_t7 (id INT) USING lake LOCATION '{p}'",
    )
    lakesql.sql(spark, "INSERT INTO ddl_t7 VALUES (42)")
    assert lakesql.sql(spark, "DROP TABLE ddl_t7") == {
        "dropped": "ddl_t7"
    }
    assert lakebatch.dml_target(spark, "ddl_t7") is None
    # data survived; IF NOT EXISTS rebinds without recreating
    r = lakesql.sql(
        spark,
        f"CREATE TABLE IF NOT EXISTS ddl_t7 (id INT) USING lake "
        f"LOCATION '{p}'",
    )
    assert r["created"] is False
    assert spark.sql("SELECT id FROM ddl_t7").first()["id"] == 42
    # plain CREATE on an existing table refuses
    with pytest.raises(FileExistsError):
        lakesql.sql(
            spark,
            f"CREATE TABLE ddl_t7b (id INT) USING lake LOCATION '{p}'",
        )


def test_sql_ddl_non_lake_falls_through(spark, orders, tmp_path):
    orders.limit(3).createOrReplaceTempView("plain_view_r12")
    # ALTER on a non-lake name routes to spark.sql, whose own error
    # surfaces (temp views aren't ALTERable) — never our ValueError
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        lakesql.sql(
            spark,
            "ALTER TABLE plain_view_r12 ADD COLUMNS (z INT)",
        )
    # CREATE without USING lake falls through untouched
    lakesql.sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW ddl_passthrough AS "
        "SELECT 1 AS one",
    )
    assert spark.sql("SELECT one FROM ddl_passthrough").first()[0] == 1


# ------------------------------------------------- read rewrites (r12)

def test_sql_version_as_of_and_table_changes(spark, tmp_path):
    p = str(tmp_path / "asof")
    lakesql.sql(
        spark,
        f"CREATE TABLE asof_rw (id INT, v STRING) USING lake "
        f"LOCATION '{p}' TBLPROPERTIES ('cdf' = 'true')",
    )
    lakesql.sql(
        spark, "INSERT INTO asof_rw VALUES (1,'a'), (2,'b'), (3,'c')"
    )
    lakesql.sql(spark, "DELETE FROM asof_rw WHERE id = 2")
    # v0 create(empty), v1 insert, v2 delete
    got = lakesql.sql(
        spark, "SELECT id FROM asof_rw VERSION AS OF 1 ORDER BY id"
    ).collect()
    assert [r["id"] for r in got] == [1, 2, 3]
    # relational diff across versions inside ONE statement
    diff = lakesql.sql(
        spark,
        "SELECT id, v FROM asof_rw VERSION AS OF 1 "
        "EXCEPT ALL SELECT id, v FROM asof_rw",
    ).collect()
    assert [tuple(r) for r in diff] == [(2, "b")]
    # the TVF form replays the same delete from pre-images
    ch = lakesql.sql(
        spark,
        "SELECT id, _change_type, _commit_version "
        "FROM table_changes('asof_rw', 1)",
    ).collect()
    assert [tuple(r) for r in ch] == [(2, "delete", 2)]
    # two travels of the same table in one query get distinct views
    both = lakesql.sql(
        spark,
        "SELECT a.id FROM asof_rw VERSION AS OF 1 a "
        "JOIN asof_rw VERSION AS OF 2 b ON a.id = b.id ORDER BY a.id",
    ).collect()
    assert [r["id"] for r in both] == [1, 3]
    # TIMESTAMP AS OF resolves through the commit clock
    from olist_data_warehouse_spark.sources.lakehouse import LakeTable

    ts1 = LakeTable(p)._commit_ts(1)
    got = lakesql.sql(
        spark,
        f"SELECT id FROM asof_rw TIMESTAMP AS OF '{ts1}' ORDER BY id",
    ).collect()
    assert [r["id"] for r in got] == [1, 2, 3]
    with pytest.raises(ValueError, match="not a registered lake"):
        lakesql.sql(spark, "SELECT * FROM table_changes('ghost_t', 0)")


def test_sql_ctas_and_insert_from_time_travel(spark, tmp_path):
    p = str(tmp_path / "asof_src")
    lakesql.sql(
        spark,
        f"CREATE TABLE asof_src (id INT) USING lake LOCATION '{p}'",
    )
    lakesql.sql(spark, "INSERT INTO asof_src VALUES (1), (2), (3)")
    lakesql.sql(spark, "DELETE FROM asof_src WHERE id > 1")
    r = lakesql.sql(
        spark,
        f"CREATE TABLE asof_ct USING lake LOCATION "
        f"'{tmp_path / 'asof_ct'}' AS "
        "SELECT id FROM asof_src VERSION AS OF 1",
    )
    assert r["created"] is True
    assert spark.sql("SELECT count(*) c FROM asof_ct").first()["c"] == 3
    # INSERT ... SELECT from a travel restores the deleted rows
    lakesql.sql(
        spark,
        "INSERT INTO asof_src "
        "SELECT id FROM asof_src VERSION AS OF 1 WHERE id > 1",
    )
    got = spark.sql("SELECT id FROM asof_src ORDER BY id").collect()
    assert [r["id"] for r in got] == [1, 2, 3]


def test_sql_create_generated_column(spark, tmp_path):
    p = str(tmp_path / "gen")
    lakesql.sql(
        spark,
        f"CREATE TABLE gen_sql (id BIGINT, ts TIMESTAMP, "
        f"d DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) "
        f"USING lake LOCATION '{p}'",
    )
    # omitted generated column computes; provided-but-wrong refuses;
    # the INT literal store-assigns into the BIGINT column
    lakesql.sql(
        spark,
        "INSERT INTO gen_sql (id, ts) VALUES "
        "(1, TIMESTAMP '2024-03-05 10:00:00')",
    )
    row = spark.sql("SELECT * FROM gen_sql").first()
    assert str(row["d"]) == "2024-03-05" and row["id"] == 1
    with pytest.raises(ValueError, match="generated"):
        lakesql.sql(
            spark,
            "INSERT INTO gen_sql VALUES (2, "
            "TIMESTAMP '2024-03-05 11:00:00', DATE '1999-01-01')",
        )


def test_sql_shallow_clone(spark, tmp_path):
    p = str(tmp_path / "clsrc")
    lakesql.sql(
        spark,
        f"CREATE TABLE cl_src (id INT) USING lake LOCATION '{p}'",
    )
    lakesql.sql(spark, "INSERT INTO cl_src VALUES (1), (2)")
    r = lakesql.sql(
        spark,
        f"CREATE TABLE cl_dst SHALLOW CLONE cl_src LOCATION "
        f"'{tmp_path / 'cldst'}'",
    )
    assert r["created"] is True and r["cloned_from"] == p
    # clone evolves independently; source holds a retention pin
    lakesql.sql(spark, "INSERT INTO cl_dst VALUES (3)")
    assert spark.sql("SELECT count(*) c FROM cl_dst").first()["c"] == 3
    assert spark.sql("SELECT count(*) c FROM cl_src").first()["c"] == 2
    assert len(LakeTable(p).pins()) == 1
    with pytest.raises(ValueError, match="LOCATION"):
        lakesql.sql(spark, "CREATE TABLE cl_x SHALLOW CLONE cl_src")


def test_sql_merge_using_time_travel_subquery(spark, tmp_path):
    """MERGE USING (SELECT ... FROM t VERSION AS OF n): restore
    deleted rows from the table's own history in one statement."""
    p = str(tmp_path / "mtt")
    lakesql.sql(
        spark,
        f"CREATE TABLE mtt_t (id INT, v STRING) USING lake "
        f"LOCATION '{p}'",
    )
    lakesql.sql(
        spark, "INSERT INTO mtt_t VALUES (1,'a'), (2,'b'), (3,'c')"
    )
    lakesql.sql(spark, "DELETE FROM mtt_t WHERE id >= 2")
    r = lakesql.sql(spark, """
        MERGE INTO mtt_t AS t
        USING (SELECT id, v FROM mtt_t VERSION AS OF 1) AS h
        ON t.id = h.id
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert r["version"] == 3, r
    got = spark.sql("SELECT id, v FROM mtt_t ORDER BY id").collect()
    assert [tuple(x) for x in got] == [(1, "a"), (2, "b"), (3, "c")]


def test_sql_view_reads_its_own_writes_after_execution(spark, tmp_path):
    """Spark pins a Python-DataSource scan at the view's first
    execution — without the dispatcher's refresh, a SELECT before a
    DML would freeze the binding on the pre-DML snapshot. Every
    mutating statement re-registers its own name, so the SQL surface
    always reads its own writes."""
    p = str(tmp_path / "fresh")
    lakesql.sql(
        spark,
        f"CREATE TABLE fresh_t (id INT) USING lake LOCATION '{p}'",
    )
    lakesql.sql(spark, "INSERT INTO fresh_t VALUES (1)")
    # execute the view FIRST, pinning the snapshot
    assert spark.sql("SELECT count(*) c FROM fresh_t").first()["c"] == 1
    lakesql.sql(spark, "INSERT INTO fresh_t VALUES (2)")
    assert spark.sql("SELECT count(*) c FROM fresh_t").first()["c"] == 2
    spark.sql("SELECT * FROM fresh_t").collect()  # pin again
    lakesql.sql(spark, "DELETE FROM fresh_t WHERE id = 1")
    got = spark.sql("SELECT id FROM fresh_t").collect()
    assert [r["id"] for r in got] == [2]
    spark.sql("SELECT * FROM fresh_t").collect()  # pin again
    lakesql.sql(spark, "UPDATE fresh_t SET id = 9 WHERE id = 2")
    assert spark.sql("SELECT id FROM fresh_t").first()["id"] == 9


def test_sql_create_or_replace(spark, tmp_path):
    p = str(tmp_path / "corp")
    lakesql.sql(
        spark,
        f"CREATE TABLE corp_t (id INT, v STRING) USING lake "
        f"LOCATION '{p}'",
    )
    lakesql.sql(spark, "INSERT INTO corp_t VALUES (1, 'a')")
    # replace swaps contents AND schema in one commit
    r = lakesql.sql(
        spark,
        f"CREATE OR REPLACE TABLE corp_t USING lake LOCATION '{p}' "
        "AS SELECT 7 AS n, 2.5D AS score",
    )
    assert r["replaced"] is True and r["created"] is False
    got = spark.sql("SELECT * FROM corp_t").collect()
    assert [tuple(x) for x in got] == [(7, 2.5)]
    # history survives: the pre-replace version (v0 create, v1
    # insert; v2 is the replace overwrite) still reads
    old = LakeTable(p).read(spark, version=1)
    assert [tuple(x) for x in old.collect()] == [(1, "a")]
    # guards: partition change and generated redeclare refuse
    with pytest.raises(ValueError, match="cannot parse CREATE.*'NOT'"):
        lakesql.sql(
            spark,
            f"CREATE OR REPLACE TABLE IF NOT EXISTS corp_t (x INT) "
            f"USING lake LOCATION '{p}'",
        )
    with pytest.raises(ValueError, match="GENERATED"):
        lakesql.sql(
            spark,
            f"CREATE OR REPLACE TABLE corp_t "
            f"(a INT, b INT GENERATED ALWAYS AS (a + 1)) "
            f"USING lake LOCATION '{p}'",
        )
    with pytest.raises(ValueError, match="partitioning"):
        lakesql.sql(
            spark,
            f"CREATE OR REPLACE TABLE corp_t (a INT, r STRING) "
            f"USING lake LOCATION '{p}' PARTITIONED BY (r)",
        )


def test_register_dir_attaches_warehouse(spark, tmp_path):
    """One call attaches every lake table under a directory — the
    filesystem is the catalog, so a fresh session recovers its SQL
    surface without side-state."""
    root = tmp_path / "wh"
    root.mkdir()
    for name, rows in [("alpha", "(1), (2)"), ("beta", "(7)")]:
        lakesql.sql(
            spark,
            f"CREATE TABLE tmp_{name} (id INT) USING lake "
            f"LOCATION '{root / name}'",
        )
        lakesql.sql(spark, f"INSERT INTO tmp_{name} VALUES {rows}")
        lakesql.sql(spark, f"DROP TABLE tmp_{name}")
    (root / "scratch.txt").write_text("not a table")
    (root / "not_a_table").mkdir()
    got = lakebatch.register_dir(spark, str(root))
    assert sorted(got) == ["alpha", "beta"]
    assert spark.sql(
        "SELECT count(*) c FROM alpha"
    ).first()["c"] == 2
    # and they are DML targets: the SQL surface works immediately
    lakesql.sql(spark, "DELETE FROM beta WHERE id = 7")
    assert spark.sql("SELECT count(*) c FROM beta").first()["c"] == 0


def test_sql_insert_replace_where(spark, orders, tmp_path):
    """Delta's replaceWhere as a statement: atomic predicate-scoped
    overwrite, idempotent re-run, incoming-row gate, region-granular
    file touch."""
    t = LakeTable.create(
        orders.repartitionByRange(6, "o_totalprice"),
        str(tmp_path / "rw"),
        cdf=True,
    )
    lakebatch.register_table(spark, "rw_sql", t.path)
    orders.createOrReplaceTempView("rw_src")
    v0 = t.version()
    stmt = (
        "INSERT INTO rw_sql REPLACE WHERE o_totalprice >= 400000.0 "
        "SELECT o_orderkey, o_custkey, o_orderstatus, "
        "o_totalprice + 0.5, o_orderdate, 'BACKFILL' "
        "FROM rw_src WHERE o_totalprice >= 400000.0"
    )
    r = lakesql.sql(spark, stmt)
    assert r["rows_deleted"] > 0 and r["rows_inserted"] > 0
    # range clustering + auto-derived prune: low-price files untouched
    assert r["files_kept"] > 0
    want = _rows(
        orders.where(
            F.col("o_totalprice").isNull()
            | (F.col("o_totalprice") < 400000.0)
        ).unionByName(
            orders.where(F.col("o_totalprice") >= 400000.0)
            .withColumn("o_totalprice", F.col("o_totalprice") + 0.5)
            .withColumn("o_orderpriority", F.lit("BACKFILL"))
        )
    )
    assert _rows(t.read(spark)) == want
    # CDF replays the swap exactly: deletes = old region, inserts =
    # new region only (survivor rewrites are carried, not inserted)
    cdf, _cur = t.read_changes_since(spark, v0)
    dels = cdf.where(F.col("_change_type") == "delete")
    ins = cdf.where(F.col("_change_type") == "insert")
    n_region = orders.where(F.col("o_totalprice") >= 400000.0).count()
    assert dels.count() == n_region and ins.count() == n_region
    # idempotent re-run: same statement, same final state
    r2 = lakesql.sql(spark, stmt.replace("+ 0.5", "+ 0.5"))
    assert r2["rows_deleted"] == n_region
    assert _rows(t.read(spark)) == want
    # gate: a batch row outside the region refuses
    with pytest.raises(ValueError, match="satisfy the predicate"):
        lakesql.sql(
            spark,
            "INSERT INTO rw_sql REPLACE WHERE o_totalprice >= 400000.0"
            " SELECT * FROM rw_src WHERE o_totalprice < 400000.0",
        )
    with pytest.raises(
        ValueError, match="cannot parse INSERT.*'REPLACE'"
    ):
        lakesql.sql(
            spark,
            "INSERT OVERWRITE rw_sql REPLACE WHERE o_totalprice > 0 "
            "SELECT * FROM rw_src",
        )


def test_sql_copy_into_idempotent(spark, tmp_path):
    """COPY INTO: loads a landing zone's delta only — re-runs skip
    already-loaded files (identity recorded atomically WITH the data),
    generated columns compute, constraints enforce, feeds admit the
    append-class commit."""
    land = tmp_path / "land"
    spark.createDataFrame(
        [(1, "2024-03-05 10:00:00")], "id INT, ts_s STRING"
    ).selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts").coalesce(
        1
    ).write.parquet(str(land / "b1"))
    p = str(tmp_path / "cp")
    lakesql.sql(
        spark,
        f"CREATE TABLE cp_gen (id INT, ts TIMESTAMP, "
        f"d DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) "
        f"USING lake LOCATION '{p}' TBLPROPERTIES ('cdf' = 'true')",
    )
    lakesql.sql(
        spark, "ALTER TABLE cp_gen ADD CONSTRAINT pos CHECK (id > 0)"
    )
    glob = f"{land}/*/*.parquet"
    r1 = lakesql.sql(spark, f"COPY INTO cp_gen FROM '{glob}'")
    assert r1["files_loaded"] == 1 and r1["rows_loaded"] == 1
    # generated column computed on ingest
    assert str(spark.sql("SELECT d FROM cp_gen").first()["d"]) == (
        "2024-03-05"
    )
    # idempotent re-run
    r2 = lakesql.sql(spark, f"COPY INTO cp_gen FROM '{glob}'")
    assert r2["files_loaded"] == 0 and r2["files_skipped"] == 1
    # new drop ingests as a delta; a violating drop refuses atomically
    spark.createDataFrame(
        [(2, "2024-03-06 10:00:00")], "id INT, ts_s STRING"
    ).selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts").coalesce(
        1
    ).write.parquet(str(land / "b2"))
    r3 = lakesql.sql(spark, f"COPY INTO cp_gen FROM '{glob}'")
    assert r3["files_loaded"] == 1 and r3["files_skipped"] == 1
    spark.createDataFrame(
        [(-9, "2024-03-07 10:00:00")], "id INT, ts_s STRING"
    ).selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts").coalesce(
        1
    ).write.parquet(str(land / "b3"))
    t = LakeTable(p)
    v = t.version()
    with pytest.raises(ValueError, match="pos"):
        lakesql.sql(spark, f"COPY INTO cp_gen FROM '{glob}'")
    assert t.version() == v  # nothing recorded: the retry re-ingests
    # the strict append stream and both feeds admit copy_into commits
    ap, _cur = t.read_appends_since(spark, 0)
    assert ap.count() == 2
    cdf, _ = t.read_changes_since(spark, 0)
    assert cdf.where("_change_type = 'insert'").count() == 2


def test_sql_copy_into_csv(spark, tmp_path):
    land = tmp_path / "csvland"
    land.mkdir()
    (land / "a.csv").write_text("id,v\n1,x\n2,y\n")
    p = str(tmp_path / "cpcsv")
    lakesql.sql(
        spark,
        f"CREATE TABLE cp_csv (id INT, v STRING) USING lake "
        f"LOCATION '{p}'",
    )
    r = lakesql.sql(
        spark,
        f"COPY INTO cp_csv FROM '{land}/*.csv' FILEFORMAT = CSV",
    )
    assert r["rows_loaded"] == 2
    got = spark.sql("SELECT id, v FROM cp_csv ORDER BY id").collect()
    assert [tuple(x) for x in got] == [(1, "x"), (2, "y")]
