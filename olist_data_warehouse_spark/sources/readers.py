"""Readers: the engine's scan surface (S1, S2, S11 in SURVEY.md §2.1).

Everything is a declarative ``spark.read`` so Catalyst keeps predicate
pushdown / column pruning / partition pruning. At 100 TB the only scan
knob that matters is *not defeating* those: never ``.cache()`` a raw
scan, never materialize wider than the query needs.

Parquet scans take their schema from the file's footer, read on the
driver (:func:`footer_schema`): Spark would otherwise run one job per
``spark.read.parquet`` just to infer it. The footer mapping reproduces
Spark's inference exactly; a type it does not map falls back to the
inferred read and logs the fallback on the ``olist`` logger.
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from olist_data_warehouse_spark.schemas import TESTDATA

TESTDATA_TABLES = tuple(TESTDATA)

# Fast-path decisions log under the package logger ``olist``.
log = logging.getLogger("olist.readers")

# Parquet INT(bitWidth, signed) -> Spark type, as Spark infers it.
_INT_TYPES = {
    (8, True): T.ByteType(), (16, True): T.ShortType(),
    (32, True): T.IntegerType(), (64, True): T.LongType(),
    (8, False): T.ShortType(), (16, False): T.IntegerType(),
    (32, False): T.LongType(),
}
# Unannotated physical types. INT96 is Spark's legacy timestamp; binary
# is left unmapped (``binaryAsString`` decides it).
_PLAIN_TYPES = {
    "BOOLEAN": T.BooleanType(), "INT32": T.IntegerType(),
    "INT64": T.LongType(), "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(), "INT96": T.TimestampType(),
}


def _conf_on(spark: SparkSession, key: str, default: str) -> bool:
    return spark.conf.get(key, default).strip().lower() == "true"


def _leaf_type(spark: SparkSession, col) -> T.DataType | None:
    """Spark type of one parquet leaf column, from its physical and
    logical type (never the stored ``ARROW:schema``); None if unmapped.
    The parquet format ties each logical type to its physical types
    (STRING to BYTE_ARRAY, DATE to INT32, ...), so the logical type
    alone picks the Spark type."""
    phys, kind = col.physical_type, col.logical_type.type
    info = json.loads(col.logical_type.to_json())
    if kind == "NONE":
        return _PLAIN_TYPES.get(phys)
    if kind == "DECIMAL":
        return T.DecimalType(col.precision, col.scale)
    if kind == "STRING":
        return T.StringType()
    if kind == "DATE":
        return T.DateType()
    if kind == "INT":
        return _INT_TYPES.get((info["bitWidth"], info["isSigned"]))
    if kind == "TIMESTAMP":
        if info["timeUnit"] == "nanoseconds":
            if _conf_on(spark, "spark.sql.legacy.parquet.nanosAsLong", "false"):
                return T.LongType()
            return None
        if info["isAdjustedToUTC"] or not _conf_on(
            spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
        ):
            return T.TimestampType()
        return T.TimestampNTZType()
    return None


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark would infer for the parquet file ``path``, built
    on the driver from the file's footer — no Spark job.

    Maps flat primitive columns and 3-level LISTs of a primitive; every
    field (and array element) is nullable, as Spark's file sources make
    them. Returns None for anything else — a directory or non-local
    path, a struct/map/legacy-list column, an unmapped leaf type, an
    unreadable footer — so the caller falls back to inference.
    """
    if not os.path.isfile(path):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        pschema = pq.ParquetFile(path).schema
        arrow = pschema.to_arrow_schema()
    except (OSError, pa.ArrowException):
        return None
    fields: list[T.StructField] = []
    for col in (pschema.column(i) for i in range(len(pschema))):
        parts = col.path.split(".")
        name = parts[0]
        dt = _leaf_type(spark, col)
        if dt is None:
            return None
        if len(parts) == 3 and parts[1] == "list" \
                and col.max_repetition_level == 1 \
                and pa.types.is_list(arrow.field(name).type):
            dt = T.ArrayType(dt, True)
        elif len(parts) != 1 or col.max_repetition_level != 0:
            return None
        fields.append(T.StructField(name, dt, True))
    return T.StructType(fields)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Base-table scan (S1). Parquet: columnar, min/max stats, pushdown.

    The schema comes from the footer (:func:`footer_schema`, no Spark
    job); an unmapped file is read with Spark's own inference instead,
    and the fallback is logged.
    """
    schema = footer_schema(spark, path)
    if schema is None:
        log.info("footer schema unmapped, inferring: %s", path)
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """CSV ingestion (S11) — the reference's flat-file import analog
    (`Olist DW.sql:7-17`). Explicit schema only; inference is banned in
    the engine proper (one pass saved, and types never drift).
    """
    return spark.read.csv(path, header=header, schema=schema)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines ingestion — the interchange format of document/event
    pipelines. Explicit schema only (same rule as CSV): schema
    inference costs a full extra pass at 100 TB and lets types drift
    between days of a feed. Corrupt lines land in a `_corrupt_record`
    column instead of failing the batch (dead-letter route).
    """
    # fresh StructType: .add() would mutate the caller's schema object
    full = T.StructType(
        [f for f in schema.fields if f.name != "_corrupt_record"]
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    return spark.read.json(path, schema=full, mode="PERMISSIVE",
                           columnNameOfCorruptRecord="_corrupt_record")


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink, one object per line — newline-delimited so
    downstream consumers can split files on line boundaries."""
    df.write.mode("overwrite").json(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC ingestion — the other columnar lake format (Hive-lineage
    warehouses feed it). Column pruning and predicate pushdown work
    exactly as for parquet (ORC carries stripe-level min/max stats), so
    every plan property the engine pins on parquet scans holds here.
    Schema optional because ORC files are self-describing like parquet;
    pass one to pin reader types against producer drift.
    """
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — atomic overwrite, one commit per save (same
    durability contract as the parquet sink)."""
    df.write.mode("overwrite").orc(path)


def read_evolving_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: one DataFrame over parquet generations
    whose schemas drifted by ADDED columns (the only evolution a lake
    table should ever make in place — renames/retypes are new tables).

    ``mergeSchema`` unions the footer schemas at plan time; rows from
    generations that predate a column read it as NULL. This is a
    footer-metadata operation — no data pass — so it costs the same
    as a plain scan at any table size, and column pruning/pushdown
    still reach every file that HAS the pruned column. Writer-side
    discipline that makes this safe: only additive, nullable columns
    (enforced by check_additive_evolution).
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def check_additive_evolution(
    old: T.StructType, new: T.StructType
) -> list[str]:
    """Validate that ``new`` evolves ``old`` additively: every old
    column survives with an identical type, and every added column is
    nullable (rows from old files must be representable). Returns the
    violation list (empty = safe to write alongside old generations);
    the writer gate for what read_evolving_parquet assumes.
    """
    problems: list[str] = []
    old_by_name = {f.name: f for f in old.fields}
    new_by_name = {f.name: f for f in new.fields}
    for name, f in old_by_name.items():
        if name not in new_by_name:
            problems.append(f"dropped column: {name}")
        elif new_by_name[name].dataType != f.dataType:
            problems.append(
                f"retyped column: {name} "
                f"{f.dataType.simpleString()} -> "
                f"{new_by_name[name].dataType.simpleString()}"
            )
    for name, f in new_by_name.items():
        if name not in old_by_name and not f.nullable:
            problems.append(f"added column not nullable: {name}")
    return problems


def load_testdata(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] | None = None,
    heal=None,
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables for ``sf_dir`` as DataFrames.

    Each table is read through :func:`read_parquet`: its schema comes
    from the parquet footer on the driver, so loading launches no Spark
    job (an inferred read costs one job per table). A table whose
    footer holds a type the mapping does not cover is read with Spark's
    inference instead, and the fallback is logged on ``olist.readers``.
    The plans handed to Catalyst are the same either way.

    Session confs are (re)applied here, at the read boundary, because
    callers may hand us *any* SparkSession — not necessarily one built
    by our ``session.py`` (the correctness driver builds its own).
    ``nanosAsLong`` covers TIMESTAMP(NANOS) producers (older testdata
    generations); the UTC timezone pin makes the NTZ→LTZ timestamp
    normalization below value-preserving and DST-free, so timestamp
    arithmetic matches the DuckDB oracle's naive semantics exactly.
    Both confs are runtime-settable.

    ``heal`` picks which tables get the single-file repartition fix
    (see ``_heal_partitioning``): ``None`` applies the default policy
    (only ``documents``/``embeddings`` — their consumers do expensive
    per-row text/vector work, where parallelism beats the one-off
    shuffle); ``True`` heals every table over the size threshold
    (right for per-row-heavy relational work, e.g. exact percentiles);
    ``False`` heals nothing (right for map-side-combinable aggs, where
    the extra shuffle is pure cost); an iterable heals exactly those
    table names. Measured at sf0.1: blanket healing costs +0.3..0.7 s
    on each simple events/lineitem agg and saves 1..5 s on each
    text/vector op — hence per-table policy, not a global switch.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if heal is None:
        heal_set = _PERROW_HEAVY_TABLES
    elif heal is True or heal == "all":
        heal_set = None  # every table (size threshold still applies)
    elif heal is False:
        heal_set = frozenset()
    else:
        heal_set = frozenset(heal)
    out = {}
    for name in tables or TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            df = _normalize_timestamps(read_parquet(spark, p))
            if heal_set is None or name in heal_set:
                df = _heal_partitioning(spark, df, p)
            out[name] = df
    return out


# Consumers of these tables run expensive per-row expressions (shingle
# explosion, minhash, vector math) — parallelism always beats the one
# repartition shuffle for them.
_PERROW_HEAVY_TABLES = frozenset({"documents", "embeddings"})


# Files below this size stay unsplit — repartitioning a dim table costs
# more than it buys.
_MIN_HEAL_BYTES = 256 * 1024


def _heal_partitioning(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Repartition a scan whose file layout starves the executors.

    A single-row-group parquet file scans as ONE task no matter how
    many cores exist, and everything up to the first shuffle (broadcast
    joins, partial aggregates, expensive projections) then runs
    single-threaded. On a real cluster inputs arrive as thousands of
    files and this never triggers; locally it is the difference between
    1 and 32 cores doing the work. Catalyst still pushes filters and
    pruning through the repartition, so scan pushdown is preserved.
    """
    if os.environ.get("SPARK_GRAFT_NO_HEAL"):
        return df
    target = spark.sparkContext.defaultParallelism
    try:
        size = os.path.getsize(path)
        if size >= _MIN_HEAL_BYTES and df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception:
        pass
    return df


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize every timestamp flavor the testdata generator has
    produced to plain ``TimestampType`` (LTZ), the engine's working
    type:

    - TIMESTAMP(NANOS) arrives as LongType nanos under
      ``spark.sql.legacy.parquet.nanosAsLong`` (older generations of
      ``events.parquet``). Integer ``DIV`` (not ``/``) keeps the
      nanos→micros conversion exact — float division loses precision
      above 2^53 ns. DuckDB truncates nanos→micros the same way.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
      TIMESTAMP_NTZ under Spark 4's ``inferTimestampNTZ`` (current
      generation). Cast to LTZ under the UTC session pin is
      value-preserving (identity on the stored micros), so downstream
      epoch arithmetic (``cast("long")``, ``unix_timestamp``, windowed
      binning) equals DuckDB's naive arithmetic.

    Only top-level fields are inspected — the testdata schemas are flat.
    A timestamp_ntz nested inside a struct/array in some future
    generation would pass through un-normalized; extend to a recursive
    rewrite if that ever appears.
    """
    from pyspark.sql import functions as F

    for f in df.schema.fields:
        simple = f.dataType.simpleString()
        if f.name == "ts" and simple == "bigint":
            df = df.withColumn(
                f.name, F.timestamp_micros(F.expr(f"`{f.name}` DIV 1000"))
            )
        elif simple == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each testdata table as a temp view (SQL entry point E1)."""
    for name, df in load_testdata(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
