"""Source/sink + catalog surface tests (S8-S11, §2.10 UDF discipline)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark import schemas
from olist_data_warehouse_spark.operators import similarity
from olist_data_warehouse_spark.sources import readers, writers


def test_csv_roundtrip_with_explicit_schema(spark, tmp_path):
    """S11: CSV ingestion with schema-on-read (no inference, ever)."""
    p = str(tmp_path / "cat")
    src = spark.createDataFrame(
        [("cat_a", "toys"), ("cat_b", "housewares")], schemas.OLIST_CATEGORY
    )
    src.write.option("header", True).csv(p)
    back = readers.read_csv(spark, p, schemas.OLIST_CATEGORY)
    assert back.schema == schemas.OLIST_CATEGORY
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in src.collect()}


def test_catalog_create_rename_introspect(spark):
    """S8 (CREATE DATABASE IF NOT EXISTS), S9 (rename), S10
    (INFORMATION_SCHEMA analog via spark.catalog)."""
    writers.create_database(spark, "cat_test")
    writers.create_database(spark, "cat_test")  # idempotent
    spark.sql("DROP TABLE IF EXISTS cat_test.t1")
    spark.sql("DROP TABLE IF EXISTS cat_test.t2")
    spark.createDataFrame([(1,)], "x int").write.saveAsTable("cat_test.t1")
    writers.rename_table(spark, "cat_test.t1", "cat_test.t2")
    # listTables also surfaces session temp views — look only at the
    # persistent tables of the database under test.
    names = [
        t.name
        for t in spark.catalog.listTables("cat_test")
        if not t.isTemporary
    ]
    assert names == ["t2"]
    cols = [c.name for c in spark.catalog.listColumns("cat_test.t2")]
    assert cols == ["x"]


def test_append_rows_literal_values(spark):
    """S6: INSERT VALUES analog appends literal rows atomically."""
    writers.create_database(spark, "cat_test")
    spark.sql("DROP TABLE IF EXISTS cat_test.vals")
    writers.ctas(
        spark.createDataFrame([("a", 1)], "k string, v int"), "cat_test.vals"
    )
    writers.append_rows(
        spark, [("b", 2), ("c", 3)], "k string, v int", "cat_test.vals"
    )
    assert spark.table("cat_test.vals").count() == 3


def test_pandas_udf_cosine_matches_native(spark):
    """§2.10: the Arrow-batched slow path must agree with the Catalyst
    fast path (and exists only for kernels that genuinely need NumPy)."""
    e = readers.load_testdata(spark, "/root/testdata/sf0.001", ("embeddings",))[
        "embeddings"
    ]
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("ia") + 1 == F.col("ib")).limit(50)
    udf_cos = similarity.cosine_pandas_udf(64)
    got = pairs.select(
        similarity.cosine(F.col("ea"), F.col("eb")).alias("native"),
        udf_cos(F.col("ea"), F.col("eb")).alias("arrow"),
    ).collect()
    assert len(got) == 50
    for r in got:
        # numpy's pairwise summation vs left-to-right fold: identical to
        # ~1e-15 relative; never compare through round() at a boundary.
        assert abs(r.native - r.arrow) < 1e-9


def test_jsonl_roundtrip_and_corrupt_line_route(spark, tmp_path):
    from pyspark.sql import types as T

    from olist_data_warehouse_spark.sources import readers

    p = str(tmp_path / "docs.jsonl")
    df = spark.createDataFrame(
        [(1, "hello"), (2, "world")], "doc_id bigint, text string"
    )
    readers.write_jsonl(df, p)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    back = readers.read_jsonl(spark, p, schema)
    assert sorted((r.doc_id, r.text) for r in back.collect()) == [
        (1, "hello"), (2, "world")
    ]
    # corrupt lines route to _corrupt_record instead of failing the read
    bad = str(tmp_path / "bad.jsonl")
    with open(bad, "w") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n')
        f.write("not json at all\n")
    got = readers.read_jsonl(spark, bad, schema)
    rows = got.collect()
    assert len(rows) == 2
    corrupt = [r for r in rows if r._corrupt_record is not None]
    assert len(corrupt) == 1 and corrupt[0].doc_id is None


def test_bucketed_join_is_shuffle_free_and_correct(spark):
    """write_bucketed's contract: two tables bucketed on the join key
    join with ZERO exchange — the layout that deletes the big-big
    shuffle at 100 TB. Plan-pinned (no Exchange node) and value-checked
    against the plain shuffled join."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from olist_data_warehouse_spark.sources.readers import load_testdata
    from olist_data_warehouse_spark.sources.writers import write_bucketed

    sf = "/root/testdata/sf0.001"
    li = load_testdata(spark, sf, ("lineitem",))["lineitem"].select(
        "l_orderkey", "l_quantity"
    )
    o = load_testdata(spark, sf, ("orders",))["orders"].select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(li, "bt_lineitem", ["l_orderkey"], 8, ["l_orderkey"])
    write_bucketed(o, "bt_orders", ["o_orderkey"], 8, ["o_orderkey"])

    want = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
    )
    want_rows = {tuple(r) for r in want.collect()}

    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force the join strategy decision to layout, not size: with
        # broadcast off, an unbucketed join MUST shuffle both sides, so
        # an Exchange-free plan can only come from the bucketing.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.table("bt_lineitem")
            .join(
                spark.table("bt_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("l_orderkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_quantity"), 2).alias("qty"),
            )
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, (
            "bucketed join must not shuffle (and the groupBy on the "
            "bucket key must reuse the bucketing too)"
        )
        assert {tuple(r) for r in j.collect()} == want_rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        spark.sql("DROP TABLE IF EXISTS bt_lineitem")
        spark.sql("DROP TABLE IF EXISTS bt_orders")


def test_orc_roundtrip_preserves_values_and_pushdown(spark, tmp_path):
    """ORC source/sink: values round-trip exactly and filters reach the
    ORC scan (PushedFilters), matching the parquet scan contract."""
    import io
    from contextlib import redirect_stdout

    from olist_data_warehouse_spark.sources import readers

    src = load_testdata_orders(spark)
    p = str(tmp_path / "orders.orc")
    readers.write_orc(src, p)
    back = readers.read_orc(spark, p)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )

    q = back.filter(F.col("o_orderkey") < 100).select("o_orderkey")
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,100)]" in plan
    assert "ReadSchema: struct<o_orderkey:bigint>" in plan


def load_testdata_orders(spark):
    from olist_data_warehouse_spark.sources.readers import load_testdata

    return load_testdata(spark, "/root/testdata/sf0.001", ("orders",))[
        "orders"
    ].select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")


def test_schema_evolution_merge_read(spark, tmp_path):
    """read_evolving_parquet: generations with added columns read as
    one DataFrame; pre-evolution rows surface NULL for new columns;
    pruning a shared column still works."""
    from pyspark.sql import functions as F

    from olist_data_warehouse_spark.sources.readers import (
        check_additive_evolution,
        read_evolving_parquet,
    )

    g1 = str(tmp_path / "gen1")
    g2 = str(tmp_path / "gen2")
    df1 = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    df2 = spark.range(3, 6).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("tagged").alias("tag"),
    )
    df1.write.parquet(g1)
    df2.write.parquet(g2)

    # validate on the read-back schemas — what future writers/readers
    # actually see in the files (parquet columns read back nullable)
    assert (
        check_additive_evolution(
            spark.read.parquet(g1).schema, spark.read.parquet(g2).schema
        )
        == []
    )

    merged = read_evolving_parquet(spark, g1, g2)
    assert set(merged.columns) == {"k", "v", "tag"}
    rows = {r.k: (r.v, r.tag) for r in merged.collect()}
    assert rows[0] == (0, None)      # old generation: NULL new column
    assert rows[5] == (50, "tagged")
    # shared-column projection still prunes to 2 columns
    assert merged.select("k", "v").count() == 6


def test_schema_evolution_guard_rejects_breaking_changes(spark):
    from pyspark.sql import types as T

    from olist_data_warehouse_spark.sources.readers import (
        check_additive_evolution,
    )

    old = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
        ]
    )
    dropped = T.StructType([T.StructField("k", T.LongType())])
    retyped = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    hard_add = T.StructType(
        old.fields + [T.StructField("req", T.LongType(), nullable=False)]
    )
    assert check_additive_evolution(old, dropped) == ["dropped column: v"]
    assert check_additive_evolution(old, retyped) == [
        "retyped column: v bigint -> string"
    ]
    assert check_additive_evolution(old, hard_add) == [
        "added column not nullable: req"
    ]


def test_analyze_table_populates_cbo_statistics(spark):
    """analyze_table: after ANALYZE, the catalog carries row count +
    size (table level) and ndv/min/max (column level) — the inputs
    Catalyst's CBO needs to size joins."""
    from olist_data_warehouse_spark.sources import writers
    from olist_data_warehouse_spark.sources.readers import load_testdata

    spark.sql("CREATE DATABASE IF NOT EXISTS stats_test")
    spark.sql("DROP TABLE IF EXISTS stats_test.nation")
    n = load_testdata(spark, "/root/testdata/sf0.001", ("nation",))[
        "nation"
    ]
    n.write.saveAsTable("stats_test.nation")

    writers.analyze_table(
        spark, "stats_test.nation", ["n_nationkey", "n_name"]
    )

    desc = {
        r.col_name: r.data_type
        for r in spark.sql(
            "DESCRIBE TABLE EXTENDED stats_test.nation"
        ).collect()
    }
    stats = desc.get("Statistics", "")
    assert "rows" in stats and "bytes" in stats

    col = {
        r.info_name: r.info_value
        for r in spark.sql(
            "DESCRIBE TABLE EXTENDED stats_test.nation n_nationkey"
        ).collect()
    }
    assert col.get("distinct_count") == "25"
    assert col.get("min") == "0" and col.get("max") == "24"


def test_observe_quality_metrics_ride_the_job_scan(spark):
    """observe_quality: DQ counters surface from the SAME action that
    ran the business query — no second scan. Values match a dedicated
    aggregate, and the job's own result is unchanged."""
    from olist_data_warehouse_spark.operators import profiling
    from olist_data_warehouse_spark.sources.readers import load_testdata

    o = load_testdata(spark, "/root/testdata/sf0.001", ("orders",))[
        "orders"
    ]
    observed, obs = profiling.observe_quality(
        o, key_cols=["o_custkey"], money_cols=["o_totalprice"]
    )
    # the "business job": revenue by status
    job = observed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    got = {r.o_orderstatus: r.n for r in job.collect()}

    m = obs.get
    want_rows = o.count()
    assert m["n_rows"] == want_rows == sum(got.values())
    assert m["null_o_custkey"] == 0
    want_cents = o.agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
    ).collect()[0][0]
    assert m["sum_o_totalprice_cents"] == want_cents


def test_manifest_roundtrip_order_invariant_and_tamper_evident(spark, tmp_path):
    from olist_data_warehouse_spark.sources.writers import (
        verify_manifest,
        write_with_manifest,
    )
    from pyspark.sql import functions as F

    df = spark.range(1000).selectExpr(
        "id", "cast(id * 7 % 13 as string) AS v"
    )
    p1 = str(tmp_path / "a")
    m1 = write_with_manifest(df, p1)
    assert m1["rows"] == 1000 and m1["fingerprint"] is not None
    assert verify_manifest(spark, p1)

    # same rows, different partitioning/order -> same fingerprint
    p2 = str(tmp_path / "b")
    m2 = write_with_manifest(
        df.repartition(7).sortWithinPartitions(F.desc("id")), p2
    )
    assert m2["fingerprint"] == m1["fingerprint"]

    # one mutated row -> different fingerprint, verify fails vs old
    p3 = str(tmp_path / "c")
    mutated = df.withColumn(
        "v", F.when(F.col("id") == 500, F.lit("tampered")).otherwise(F.col("v"))
    )
    m3 = write_with_manifest(mutated, p3)
    assert m3["fingerprint"] != m1["fingerprint"]


def test_manifest_detects_schema_drift(spark, tmp_path):
    """verify_manifest must fail when the parquet gained a column even
    if the manifest's own columns are byte-identical — projecting to
    the manifest columns would wave the drift through."""
    from olist_data_warehouse_spark.sources.writers import (
        verify_manifest,
        write_with_manifest,
    )
    from pyspark.sql import functions as F

    df = spark.range(100).selectExpr("id", "cast(id as string) AS v")
    p = str(tmp_path / "m")
    write_with_manifest(df, p)
    assert verify_manifest(spark, p)
    # rewrite with an extra column, same rows; keep the old manifest
    import json
    import os

    with open(os.path.join(p, "_MANIFEST.json")) as f:
        manifest = f.read()
    df.withColumn("leaked", F.lit("x")).write.mode("overwrite").parquet(p)
    with open(os.path.join(p, "_MANIFEST.json"), "w") as f:
        f.write(manifest)
    assert not verify_manifest(spark, p)
# -- footer schemas ------------------------------------------------------

SALES_TABLES = ("orders", "lineitem", "part", "supplier", "nation", "region")


def _footer_flavours():
    """One tmp-file flavour per timestamp/nested/logical type the footer
    mapping covers: name -> (table, pq.write_table kwargs)."""
    import datetime
    import decimal

    import pyarrow as pa

    ts = [datetime.datetime(2024, 3, 9, 1, 2, 3, 456789), None]
    naive = pa.array(ts, pa.timestamp("us"))
    utc = pa.array(ts, pa.timestamp("us", tz="UTC"))
    ms = dict(coerce_timestamps="ms", allow_truncated_timestamps=True)
    return {
        "micros_ntz": (pa.table({"t": naive}), {}),
        "micros_utc": (pa.table({"t": utc}), {}),
        "millis": (pa.table({"t": naive, "u": utc}), ms),
        "nanos": (
            pa.table({"t": pa.array(ts, pa.timestamp("ns"))}),
            dict(version="2.6", coerce_timestamps=None, store_schema=False),
        ),
        "int96": (pa.table({"t": naive}),
                  dict(use_deprecated_int96_timestamps=True)),
        "list_float": (
            pa.table({"v": pa.array([[1.0, None], None],
                                    pa.list_(pa.float32()))}),
            {},
        ),
        "date": (pa.table({"d": pa.array([datetime.date(2020, 2, 29), None])}),
                 {}),
        "decimal": (
            pa.table({
                f"d{p}": pa.array([decimal.Decimal("1.25"), None],
                                  pa.decimal128(p, 2))
                for p in (5, 12, 30)
            }),
            {},
        ),
        "ints": (
            pa.table({
                str(t): pa.array([1, None], t)
                for t in (pa.int8(), pa.int16(), pa.int32(), pa.int64(),
                          pa.uint8(), pa.uint16(), pa.uint32())
            }),
            {},
        ),
    }


def test_footer_schema_equals_inferred_schema(spark, sf_dir, tmp_path):
    """The footer schema is exactly what Spark infers (types, nullability,
    metadata) for every testdata table and every flavour of tmp file."""
    import pyarrow.parquet as pq

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    paths = [os.path.join(sf_dir, f"{n}.parquet") for n in readers.TESTDATA_TABLES]
    for name, (table, kw) in _footer_flavours().items():
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, p, **kw)
        paths.append(p)
    for p in paths:
        got = readers.footer_schema(spark, p)
        assert got is not None, p
        assert got == spark.read.parquet(p).schema, p


def test_footer_schema_unmapped_type_falls_back_and_logs(
    spark, tmp_path, caplog
):
    """A struct column is outside the footer mapping: the read falls
    back to Spark's inference, returns the same DataFrame, and says so
    on the ``olist`` logger."""
    import logging

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "region.parquet")
    pq.write_table(
        pa.table({"r_regionkey": pa.array([1, 2], pa.int32()),
                  "meta": pa.array([{"x": 1}, None])}),
        p,
    )
    assert readers.footer_schema(spark, p) is None
    caplog.set_level(logging.INFO, logger="olist")
    got = readers.load_testdata(spark, str(tmp_path), ("region",))["region"]
    want = spark.read.parquet(p)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    hits = [r for r in caplog.records
            if r.name.startswith("olist") and p in r.getMessage()]
    assert hits and "inferring" in hits[0].getMessage()


def test_load_testdata_launches_no_spark_job(spark, sf_dir):
    """Loading the six sales tables runs no job: the schemas come from
    the footers. The inferred reads of the same files, run after under
    their own group, are the control that the count sees jobs at all."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    sc.setJobGroup("footer-load", "load_testdata")
    try:
        t = readers.load_testdata(spark, sf_dir, SALES_TABLES)
        sc.setJobGroup("footer-infer", "inferred reads")
        for n in SALES_TABLES:
            spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc.listenerBus().waitUntilEmpty(30000)
    assert set(t) == set(SALES_TABLES)
    assert list(sc.statusTracker().getJobIdsForGroup("footer-load")) == []
    assert len(sc.statusTracker().getJobIdsForGroup("footer-infer")) == 6
