"""Sinks & table mutations (S3-S9 in SURVEY.md §2.1).

The reference's mutation surface is small: CTAS (``SELECT INTO``),
append (``INSERT INTO … SELECT`` / fast-load destination), literal-row
append (``INSERT VALUES``), predicate DELETE, database create, table
rename. Spark-first mapping:

- CTAS / append → ``saveAsTable`` with the right mode. A Parquet table
  write is one atomic commit per save — the same durability contract as
  the SSIS single-commit fast load (`Package.dtsx:331,335`).
- DELETE on plain Parquet has no in-place form; the engine uses
  read → filter(~pred) → overwrite, which is exactly what a
  copy-on-write lakehouse format does under the hood. On a real
  deployment you'd put Delta/Iceberg underneath and this function
  becomes ``DELETE FROM`` — the call site doesn't change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def create_database(spark: SparkSession, name: str) -> None:
    """S8: `Olist DW.sql:39-51` (existence-checked create)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def rename_table(spark: SparkSession, old: str, new: str) -> None:
    """S9: ``sp_rename`` analog (`Olist DW.sql:9-22`)."""
    spark.sql(f"ALTER TABLE {old} RENAME TO {new}")


def ctas(df: DataFrame, table: str, overwrite: bool = False) -> None:
    """S4: ``SELECT … INTO`` — create-and-populate from a query."""
    df.write.mode("overwrite" if overwrite else "errorifexists").saveAsTable(table)


def append_table(df: DataFrame, table: str) -> None:
    """S5/S3: ``INSERT INTO … SELECT`` / fast-load append."""
    df.write.mode("append").saveAsTable(table)


def append_rows(spark: SparkSession, rows: list, schema, table: str) -> None:
    """S6: ``INSERT INTO … VALUES`` — literal-row append
    (`Olist DW.sql:296-312`)."""
    spark.createDataFrame(rows, schema).write.mode("append").saveAsTable(table)


def delete_where(spark: SparkSession, table: str, predicate: Column) -> None:
    """S7: ``DELETE … WHERE pred`` (`Olist DW.sql:183-184`).

    Copy-on-write rewrite keeping rows where the predicate is NOT true
    (SQL DELETE semantics: NULL-predicate rows survive).
    """
    kept = spark.table(table).filter(~predicate.eqNullSafe(True))
    # Truncate lineage before overwriting the table being read from —
    # Spark refuses an overwrite whose plan still references the target
    # (UNSUPPORTED_OVERWRITE). localCheckpoint materializes the kept
    # rows eagerly; fine for the dim/fact sizes DELETE targets. A
    # lakehouse format (Delta/Iceberg) would make this a real DELETE.
    kept = kept.localCheckpoint(eager=True)
    kept.write.mode("overwrite").saveAsTable(table)


def write_bucketed(
    df: DataFrame, table: str, bucket_cols: list[str], n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join
    key. Two tables bucketed the same way join with ZERO exchange —
    each task reads matching bucket files from both sides — which
    deletes the big-big shuffle that dominates fact-to-fact joins at
    100 TB. The bucket count is a layout decision: pick it so one
    bucket of the larger table fits an executor's memory.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Write parquet clustered by ``cluster_cols``: range-partition
    across files, sort within files. Every row group then covers a
    narrow, (near-)disjoint slice of the cluster key, so parquet
    min/max stats let a point/range predicate skip whole row groups
    and whole files — the single biggest scan lever after partition
    pruning at 100 TB (the single-column form of Delta/Iceberg
    OPTIMIZE ZORDER; for one key, a total range-sort IS optimal
    clustering, no space-filling curve needed).

    The range partitioner samples key quantiles, so output files are
    balanced even under key skew. Layout maintenance, not a query-path
    operator.
    """
    w = df
    if n_files is not None:
        w = w.repartitionByRange(n_files, *cluster_cols)
    else:
        w = w.repartitionByRange(*cluster_cols)
    (
        w.sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(
    col_a: Column, col_b: Column,
    bounds_a: list[float], bounds_b: list[float],
) -> Column:
    """Two-dimensional Z-value: each column is bucketed against its
    (pre-sampled) quantile boundaries, then the two bucket ids'
    bits interleave into one long. Quantile bucketing — not raw value
    bits — is what makes the curve skew-robust: equal-population
    buckets give every Z-range roughly equal row mass no matter how
    the raw values distribute (the same reason Delta Z-ORDER uses
    range-partition ids, not values). Boundaries are plan literals
    (model parameters, like IVF centroids): B-1 doubles per column,
    collected once by ``write_zordered``'s driver-side sample.

    Pure Catalyst bit arithmetic — codegen'd, no UDF, no shuffle.
    """
    # size the interleave for the LARGER bucket space: deriving it from
    # one column alone would silently drop the other's high bucket bits
    # (far-apart buckets collapsing onto one Z-value = lost pruning)
    n_bits = max(1, max(len(bounds_a), len(bounds_b)).bit_length())

    def bucket(c: Column, bounds: list[float]) -> Column:
        # width_bucket against explicit boundaries: count of bounds <=
        # value. Literal fold keeps it a flat comparison chain.
        b = F.lit(0).cast("long")
        for t in bounds:
            b = b + F.when(c >= F.lit(t), 1).otherwise(0)
        return b

    ba, bb = bucket(col_a, bounds_a), bucket(col_b, bounds_b)
    z = F.lit(0).cast("long")
    for i in range(n_bits):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(ba, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftrightunsigned(bb, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    n_buckets: int = 64,
) -> None:
    """Write parquet Z-ORDERED on two columns: rows cluster along a
    space-filling curve over (col_a, col_b), so row-group min/max
    stats stay narrow in BOTH dimensions and a predicate on EITHER
    column prunes most of the scan. This is the multi-column
    counterpart of :func:`write_clustered` (whose docstring notes a
    single key needs no curve): linear sort on (a, b) leaves b's
    per-file spans as wide as the whole domain, the Z-curve splits
    the loss evenly — each of the two dimensions keeps ~sqrt(files)
    effective pruning. The same shape Delta/Iceberg OPTIMIZE ZORDER
    materializes; here it is a one-shot layout write.

    Quantile boundaries come from one ``approxQuantile`` pass over
    both columns — a driver-side collect of 2x(n_buckets-1) doubles
    (layout parameters, independent of data volume; at 100 TB run it
    on a sample). The Z-value itself is a
    pure codegen'd expression; the write is one range exchange on it.
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # one pass computes both columns' boundaries (two single-column
    # calls would scan the full input twice)
    bounds_a, bounds_b = df.stat.approxQuantile([col_a, col_b], qs, 0.01)
    z = zorder_value(F.col(col_a), F.col(col_b), bounds_a, bounds_b)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def analyze_table(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> None:
    """ANALYZE TABLE — collect table (and optionally per-column)
    statistics into the catalog for cost-based optimization: with
    sizeInBytes/rowCount present, Catalyst's CBO can pick the small
    side of a join for broadcast without relying on file-size
    heuristics, and equi-height column histograms improve join
    cardinality estimates (`spark.sql.cbo.enabled` +
    `spark.sql.statistics.histogram.enabled`). At 100 TB the stats
    scan is a one-off O(n) pass amortized over every subsequent plan;
    a lakehouse table format maintains the same stats transactionally
    on write. No-op on views; table must be catalog-managed."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(
            f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}"
        )


def write_with_manifest(df: DataFrame, path: str) -> dict:
    """Write parquet plus a ``_MANIFEST.json`` recording row count,
    column list, and a partition-order-INVARIANT content fingerprint —
    the artifact that makes pipeline outputs auditable and re-runs
    idempotent (a scheduler can compare manifests instead of re-reading
    terabytes; a consumer can verify it received exactly the rows the
    producer wrote).

    The fingerprint is the SUM of xxhash64 over each row's canonical
    JSON encoding: summation is commutative, so any partitioning or
    row order yields the same value; the sum is carried in
    DECIMAL(38,0) so it is exact (no long overflow wrap to reason
    about) and engine-portable. One extra aggregate over the data
    already being written — at 100 TB the marginal cost is a map-side
    combine on the write pass, not a second scan, when fused upstream.
    """
    import json
    import os

    df.write.mode("overwrite").parquet(path)
    written = df.sparkSession.read.parquet(path)
    row = written.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(F.to_json(F.struct(*written.columns))).cast(
                "decimal(38,0)"
            )
        ).alias("fp"),
    ).head()
    manifest = {
        "rows": row["n"],
        "fingerprint": str(row["fp"]) if row["fp"] is not None else None,
        "columns": written.columns,
    }
    with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def verify_manifest(spark: SparkSession, path: str) -> bool:
    """Recompute the manifest fingerprint from the parquet at ``path``
    and compare against ``_MANIFEST.json``. Row-order and partitioning
    independent; any changed, added, or dropped row flips the sum."""
    import json
    import os

    with open(os.path.join(path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    df = spark.read.parquet(path)
    # Schema must match EXACTLY — projecting to the manifest's columns
    # would silently wave through added/renamed columns (schema drift,
    # accidental PII columns) that the audit exists to catch.
    if df.columns != manifest["columns"]:
        return False
    df = df.select(*manifest["columns"])
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(F.to_json(F.struct(*manifest["columns"]))).cast(
                "decimal(38,0)"
            )
        ).alias("fp"),
    ).head()
    fp = str(row["fp"]) if row["fp"] is not None else None
    return row["n"] == manifest["rows"] and fp == manifest["fingerprint"]
