"""Negative-grammar battery for the lakesql dispatcher (r12 verdict
#3): every statement route gets fed syntax it does NOT support and
must reject loudly with a targeted message — a silent misparse can
never ship. Companion literal guards pin that the rejects read Spark's
parse tree, so keywords inside string literals never trip them, and
the misread battery pins that comments and double-quoted literals
mean what Spark's grammar says.

Rejects for routes not covered here live in test_lakesql.py:
MERGE cross-named/non-equi ON keys, INSERT unknown columns / count
mismatch, VACUUM leftover clause / retention floor, RESTORE grammar,
OPTIMIZE non-stats WHERE, ALTER duplicate/unknown columns, CREATE
option conflicts, REPLACE WHERE with column list / OVERWRITE.
"""

from __future__ import annotations

import pytest
from pyspark.errors import ParseException
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources import lakebatch, lakesql
from olist_data_warehouse_spark.sources.lakehouse import LakeTable


@pytest.fixture()
def t(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t = LakeTable.create(orders.limit(200), str(tmp_path / "neg"))
    lakebatch.register_table(spark, "neg_t", t.path)
    return t


# ------------------------------------------------- nested subqueries

def test_delete_rejects_subquery_in_where(spark, t):
    with pytest.raises(ValueError, match="subqueries.*DELETE WHERE"):
        lakesql.sql(
            spark,
            "DELETE FROM neg_t WHERE o_custkey IN "
            "(SELECT o_custkey FROM neg_t WHERE o_totalprice > 1)",
        )


def test_update_rejects_scalar_subquery_in_set(spark, t):
    with pytest.raises(ValueError, match="subqueries.*UPDATE SET"):
        lakesql.sql(
            spark,
            "UPDATE neg_t SET o_totalprice = "
            "(SELECT MAX(o_totalprice) FROM neg_t)",
        )


def test_update_rejects_correlated_where(spark, t):
    with pytest.raises(ValueError, match="subqueries.*UPDATE WHERE"):
        lakesql.sql(
            spark,
            "UPDATE neg_t SET o_totalprice = 0 WHERE EXISTS "
            "(SELECT 1 FROM neg_t i WHERE i.o_orderkey = "
            "neg_t.o_orderkey)",
        )


def test_merge_rejects_subquery_in_when_clause(spark, t):
    spark.range(3).toDF("o_orderkey").createOrReplaceTempView(
        "neg_src"
    )
    with pytest.raises(ValueError, match="subqueries.*MERGE WHEN"):
        lakesql.sql(
            spark,
            "MERGE INTO neg_t USING neg_src AS s "
            "ON neg_t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED AND neg_t.o_totalprice > "
            "(SELECT AVG(o_totalprice) FROM neg_t) THEN DELETE",
        )


def test_insert_rejects_subquery_in_values(spark, t):
    with pytest.raises(ValueError, match="subqueries.*VALUES"):
        lakesql.sql(
            spark,
            "INSERT INTO neg_t (o_orderkey) VALUES "
            "((SELECT MAX(o_orderkey) + 1 FROM neg_t))",
        )


def test_replace_where_rejects_subquery_predicate(spark, t):
    with pytest.raises(ValueError, match="subqueries.*REPLACE WHERE"):
        lakesql.sql(
            spark,
            "INSERT INTO neg_t REPLACE WHERE o_orderkey IN "
            "(SELECT o_orderkey FROM neg_t) SELECT * FROM neg_t",
        )


# ------------------------------------ literal guards (literals with
# keywords must NOT trip the rejects — these fail if a reject scans
# raw text instead of the parse tree)

def test_literal_select_does_not_trip_subquery_reject(spark, t):
    r = lakesql.sql(
        spark,
        "UPDATE neg_t SET o_orderpriority = 'SELECT FROM WHERE' "
        "WHERE o_orderkey = 1",
    )
    assert r["rows_updated"] <= 1
    got = (
        t.read(spark)
        .where(F.col("o_orderkey") == 1)
        .select("o_orderpriority")
        .collect()
    )
    assert all(x["o_orderpriority"] == "SELECT FROM WHERE" for x in got)


def test_literal_select_in_delete_where_is_fine(spark, t):
    before = t.read(spark).count()
    r = lakesql.sql(
        spark,
        "DELETE FROM neg_t WHERE o_orderpriority = "
        "'(SELECT nope AND 1 = 1)'",
    )
    assert r["rows_deleted"] == 0
    assert t.read(spark).count() == before


# --------------------------------------- per-route grammar rejects

def test_merge_rejects_join_in_using(spark, t):
    """Multi-table USING (a JOIN b) must be parenthesized as a
    subquery; the bare form is outside the grammar."""
    with pytest.raises(ValueError, match="cannot parse MERGE.*'JOIN'"):
        lakesql.sql(
            spark,
            "MERGE INTO neg_t USING a JOIN b ON a.k = b.k "
            "ON neg_t.o_orderkey = a.k WHEN MATCHED THEN DELETE",
        )


def test_merge_rejects_missing_using(spark, t):
    with pytest.raises(ValueError, match="USING"):
        lakesql.sql(
            spark,
            "MERGE INTO neg_t ON 1 = 1 WHEN MATCHED THEN DELETE",
        )


def test_merge_rejects_unparseable_when_kind(spark, t):
    spark.range(3).toDF("o_orderkey").createOrReplaceTempView(
        "neg_src2"
    )
    with pytest.raises(ValueError, match="cannot parse MERGE.*'UPSERT'"):
        lakesql.sql(
            spark,
            "MERGE INTO neg_t USING neg_src2 AS s "
            "ON neg_t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPSERT",
        )


def test_describe_history_rejects_trailing_garbage(spark, t):
    with pytest.raises(
        ValueError, match="cannot parse DESCRIBE HISTORY"
    ):
        lakesql.sql(spark, "DESCRIBE HISTORY neg_t SINCE YESTERDAY")


def test_copy_into_rejects_bad_grammar(spark, t):
    with pytest.raises(ValueError, match="cannot parse COPY INTO"):
        lakesql.sql(
            spark, "COPY INTO neg_t FROM '/x' PATTERN = '*.csv'"
        )


def test_update_rejects_unparseable_set(spark, t):
    with pytest.raises(ValueError, match="cannot parse UPDATE.*'42'"):
        lakesql.sql(spark, "UPDATE neg_t SET 42")


def test_optimize_rejects_bad_zorder(spark, t):
    with pytest.raises(ValueError, match="ZORDER"):
        lakesql.sql(spark, "OPTIMIZE neg_t ZORDER BY o_orderkey")


@pytest.mark.parametrize(
    "column",
    ["v INT DEFAULT 5", "v BIGINT GENERATED ALWAYS AS IDENTITY"],
    ids=["default", "identity"],
)
def test_create_rejects_column_default_and_identity(
    spark, tmp_path, column
):
    """Spark's grammar takes both clauses, but a lake table has no
    column default or identity: read past, an INSERT that omits the
    column would land NULL where the statement promised a value."""
    p = str(tmp_path / "coldef")
    with pytest.raises(ValueError, match="DEFAULT or GENERATED"):
        lakesql.sql(
            spark,
            f"CREATE TABLE coldef_t (k INT, {column}) USING lake "
            f"LOCATION '{p}'",
        )
    assert LakeTable(p).version() is None


@pytest.mark.parametrize(
    "stmt",
    [
        "CREATE VIEW neg_v AS SELEC 1",
        "DROP FUNCTION",
        "DELETE FROM neg_not_lake WHERE k >",
        "ALTER TABLE neg_not_lake ADD COLUMNS",
    ],
    ids=["create_view", "drop_function", "delete", "alter"],
)
def test_parse_error_outside_the_lake_is_sparks(spark, stmt):
    """Malformed text that names no lake table (and no ``USING
    lake``) reaches ``spark.sql`` untouched, so the caller gets
    Spark's own ParseException, not the lake's ValueError."""
    with pytest.raises(ParseException):
        lakesql.sql(spark, stmt)


def test_parse_error_in_lake_create_is_a_value_error(spark, tmp_path):
    with pytest.raises(ValueError, match="cannot parse CREATE") as e:
        lakesql.sql(
            spark,
            f"CREATE TABLE neg_c (k INT,) USING lake "
            f"LOCATION '{tmp_path / 'neg_c'}'",
        )
    assert isinstance(e.value.__cause__, ParseException)


def test_handled_parse_errors_are_not_logged(spark, tmp_path, capfd):
    """pyspark logs every ParseException it converts at ERROR on
    ``SQLQueryContextLogger``, with the JVM stack trace. The reserved
    key below is refused by Spark's grammar and then handled (the
    column named ``location`` is one more rename trial Spark refuses):
    no such record is printed. A parse error that reaches the caller
    keeps its type, message and cause."""
    p = tmp_path / "quiet"
    capfd.readouterr()
    lakesql.sql(
        spark,
        f"CREATE TABLE quiet_t (id INT, location STRING) USING lake "
        f"LOCATION '{p}' TBLPROPERTIES ('owner' = 'alice')",
    )
    assert LakeTable(str(p)).properties()["owner"] == "alice"
    with pytest.raises(
        ValueError, match=r"^cannot parse CREATE statement: \S"
    ) as e:
        lakesql.sql(
            spark,
            f"CREATE TABLE quiet_c (k INT,) USING lake "
            f"LOCATION '{tmp_path / 'quiet_c'}'",
        )
    assert isinstance(e.value.__cause__, ParseException)
    err = capfd.readouterr().err
    assert "SQLQueryContextLogger" not in err
    assert "ParseException" not in err


# ----------------------------------------------- misreads of valid SQL

@pytest.mark.parametrize(
    "stmt, changed",
    [
        # the commented-out conjunct must not become the prune hint
        ("DELETE FROM misread_t WHERE k > 400 -- AND k < 3", 599),
        # a double-quoted literal is a string: nothing inside it is a
        # conjunct
        ("DELETE FROM misread_t WHERE s <> \"x AND k = -1 AND y\" "
         "AND k > 400", 599),
        # a commented-out WHERE is no filter at all
        ("UPDATE misread_t SET v = 1\n-- WHERE k = 2", 1000),
    ],
    ids=["comment_conjunct", "double_quoted_and", "comment_where"],
)
def test_valid_sql_is_not_misread(spark, tmp_path, stmt, changed):
    """1,000 rows, k = 0..999 in 8 range files: each statement is
    valid SQL whose effect a keyword scan over the raw text got wrong
    (0, 0 and 1 rows changed)."""
    t = LakeTable.create(
        spark.range(1000).select(
            F.col("id").alias("k"), F.lit("y").alias("s"),
            F.lit(0).alias("v"),
        ).repartitionByRange(8, "k"),
        str(tmp_path / "misread"),
    )
    lakebatch.register_table(spark, "misread_t", t.path)
    r = lakesql.sql(spark, stmt)
    got = t.read(spark)
    if stmt.startswith("DELETE"):
        assert r["rows_deleted"] == changed
        assert got.count() == 1000 - changed
        assert got.where("k > 400").count() == 0
    else:
        assert r["rows_updated"] == changed
        assert got.where("v = 1").count() == changed
