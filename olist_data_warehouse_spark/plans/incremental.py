"""Incremental load: the SSIS package (E3) as one Spark plan.

The reference's daily delta load is a 4-component SSIS dataflow
(`Package.dtsx:657-673`): OLE DB Source re-runs the fact aggregation
(`:471-482`, same as the build query minus the date upper bound),
Lookup probes a full cache of already-loaded date_keys (left join,
`:124-280`), Conditional Split routes ISNULL(date_key) rows to the
fast-load Destination (`:34-122`, `:281-445`); the UPDATE branch is
unwired, so granularity is whole dates — a late item for an
already-loaded date is dropped (SURVEY.md §7.4.8, replicated).

Spark form: the full-cache Lookup IS a broadcast hash join, and
Lookup + Split + Insert collapse to one ``left_anti`` + append. The
3-process SSIS topology becomes a single lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olist_data_warehouse_spark.plans import warehouse


def build_orders_delta(
    orders: DataFrame,
    order_items: DataFrame,
    products: DataFrame,
    category: DataFrame,
    sellers: DataFrame,
    product_dim: DataFrame,
    location_dim: DataFrame,
    time_period: DataFrame,
) -> DataFrame:
    """The source query (`Package.dtsx:471-482`): the fact aggregation
    WITHOUT the `< '20190101'` bound — new dates flow through."""
    return warehouse.build_orders_fact(
        orders, order_items, products, category, sellers,
        product_dim, location_dim, time_period,
        cutoff="9999-12-31",
    )


def incremental_new_rows(delta: DataFrame, dw_orders: DataFrame) -> DataFrame:
    """Lookup + Split: keep only rows whose date_key is absent from the
    warehouse. Broadcast the (small, distinct) loaded-keys set — the
    Spark twin of the SSIS full-cache Lookup (`Package.dtsx:154`)."""
    loaded = dw_orders.select("date_key").distinct()
    return delta.join(F.broadcast(loaded), "date_key", "left_anti")


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    action_col: str = "merge_action",
) -> DataFrame:
    """MERGE with BOTH branches wired — the upsert the reference's SSIS
    package sketched but never connected (`Package.dtsx:658-662` wires
    only the INSERT output; the UPDATE path dead-ends). Row classes:

    - key in both      → source values win       (``update``)
    - key source-only  → row is inserted         (``insert``)
    - key target-only  → target row passes through (``keep``)

    One full-outer shuffle join on the grain keys — the same plan shape
    as :func:`scd2_apply`, minus history. At warehouse scale both sides
    arrive hash-partitioned on the same keys, so AQE reuses one
    exchange; nothing collects to the driver. Idempotent: re-applying
    the same source leaves every value unchanged.

    ``target`` and ``source`` must share a schema; ``action_col`` is
    appended so callers (and tests) can audit branch routing.
    """
    val_cols = [c for c in source.columns if c not in keys]
    t = target.select(
        *keys, *[F.col(c).alias(f"_t_{c}") for c in val_cols]
    ).withColumn("_in_t", F.lit(True))
    s = source.select(
        *keys, *[F.col(c).alias(f"_s_{c}") for c in val_cols]
    ).withColumn("_in_s", F.lit(True))
    j = t.join(s, keys, "full_outer")
    in_t = F.coalesce("_in_t", F.lit(False))
    in_s = F.coalesce("_in_s", F.lit(False))
    return j.select(
        *keys,
        *[F.coalesce(f"_s_{c}", f"_t_{c}").alias(c) for c in val_cols],
        F.when(in_t & in_s, F.lit("update"))
        .when(in_s, F.lit("insert"))
        .otherwise(F.lit("keep"))
        .alias(action_col),
    )


def incremental_load_orders(
    staging: dict[str, DataFrame],
    dw: dict[str, DataFrame],
) -> DataFrame:
    """Full E3 pipeline against in-memory tables; returns the rows the
    Destination would fast-load (caller appends them — one atomic
    commit, matching MaxInsertCommitSize=2147483647 single-commit)."""
    delta = build_orders_delta(
        staging["orders"], staging["order_items"], staging["products"],
        staging["category"], staging["sellers"],
        dw["product"], dw["location"], dw["time_period"],
    )
    return incremental_new_rows(delta, dw["orders"])

