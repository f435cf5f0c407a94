"""The three benchmark workloads: ``reports``, ``etl`` and ``corpus``.

Each workload is closed loop with one client: the next op starts when
the previous one has finished. Every op belongs to one of two classes,
the ops that exercise the workload's mechanism (``mech``) and the ops
that bypass it (``bypass``):

- ``reports``: mech = OLTP-form queries, which read raw tables (one
  schema-inference job per table), and a dedup pass on a new shard;
  bypass = DW-form queries, which read the warehouse parquet with an
  explicit schema, and the dedup pass repeated on the same shard.
- ``etl``: mech = one daily batch, from staged files to lake commit
  (kinds ``load`` and ``fix``); bypass = the read-after-write report
  over the lake table.
- ``corpus``: mech = a pass repeated on the previous shard, which hits
  the dedup plan cache; bypass = a pass on a shard no earlier op saw.

A workload writes all of its inputs in :meth:`generate`, before any
timed window; :meth:`setup_state` builds what the ops need, once;
:meth:`ops` yields the seeded op sequence in rounds that run every op
kind once; :meth:`check_before` and :meth:`check` compare outputs with
DuckDB oracles, untimed, before and after the timed rounds.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import sys
from dataclasses import dataclass, field
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import gen

WARMUP_ROWS = 200_000
SETUP_REPS = 3


@dataclass
class Op:
    cls: str  # "mech" or "bypass"
    key: str  # what the output check groups failures by
    run: Callable[[], None]
    round_end: bool = False  # runs stop only after a whole round


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    rounds: int  # timed rounds in this run
    fraction: float | None = None  # overrides the workload's FRACTION
    info: dict = field(default_factory=dict)


def noop_write(tr, df) -> None:
    tr.catalyst(df)
    with tr.span("exec", jobs=True):
        df.write.format("noop").mode("overwrite").save()


def warmup(ctx: Ctx) -> None:
    """A fixed scan-shuffle-aggregate job: loads and JIT-compiles the
    engine's hot paths before the first timed op."""
    from pyspark.sql import functions as F

    with ctx.tracer.span("session.warmup", jobs=True):
        ctx.spark.range(WARMUP_ROWS).groupBy((F.col("id") % 97).alias("k")).count().collect()


def _run_registry(ctx: Ctx, name: str, sf_dir: str, tables: tuple[str, ...]) -> None:
    """One registry entry through the noop sink; traced, the op's raw
    tables are first read by a direct reader call."""
    from olist_data_warehouse_spark.plans.queries import REGISTRY
    from olist_data_warehouse_spark.sources.readers import load_testdata

    tr = ctx.tracer
    if tr.enabled and tables:
        with tr.span("readers", jobs=True):
            load_testdata(ctx.spark, sf_dir, tables)
    with tr.span("plans", jobs=True):
        df = REGISTRY[name].fn(ctx.spark, sf_dir)
    noop_write(tr, df)


def _compare(ctx: Ctx, sf_dir: str, name: str) -> bool:
    from tests.oracle_check import compare_query

    ok, detail = compare_query(ctx.spark, sf_dir, name)
    print(f"check {name} @ {os.path.basename(sf_dir)}: {detail}", file=sys.stderr)
    return ok


# ---------------------------------------------------------------------------


class Reports:
    """The reference's paired OLTP-vs-DW top-k queries over a warehouse
    built in setup, plus a MinHash-LSH dedup pass that runs on a new
    document shard and is then repeated on the same shard."""

    FRACTION = 1 / 8  # of sf0.1's rows
    ROUND_S = 6.0  # nominal seconds per round (seven queries, two passes)
    _RAW = ("orders", "lineitem", "part", "supplier", "nation", "region")
    QUERIES = {
        "q1_top_units_oltp": ("mech", _RAW),
        "q2_top_revenue_oltp": ("mech", _RAW),
        "q3_conversion_oltp": ("mech", ("events",)),
        "q4_shipping_priority": ("mech", ("customer", "orders", "lineitem")),
        "q1_top_units_dw": ("bypass", ()),
        "q2_top_revenue_dw": ("bypass", ()),
        "q3_conversion_dw": ("bypass", ()),
    }
    # The fresh pass reads and dedups a shard no earlier op saw (mech);
    # the repeat finds its plan in the operators.dedup cache (bypass).
    DEDUP = "dedup_minhash_lsh"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.base = os.path.join(ctx.work, "in", "base")
        self.sf_dir = ""
        self.shards: list[str] = []
        self.warm = ""
        self.ran: list[str] = []
        self.resident: tuple[int, float] = (0, 0.0)

    def generate(self) -> None:
        rng = np.random.default_rng([self.ctx.seed, 0])
        rows = gen.sf01_rows(self.ctx.fraction or self.FRACTION)
        n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
        tabs = gen.dims(rng, n_cust, n_supp, n_part)
        tabs["orders"], tabs["lineitem"] = gen.orders_lineitem(
            rng, rows["orders"], dt.date(1995, 1, 1), dt.date(2001, 8, 1),
            n_cust, n_supp, n_part,
        )
        tabs["events"] = gen.events(rng, rows["events"], rows["users"])
        for name, t in tabs.items():
            gen.write_table(t, os.path.join(self.base, f"{name}.parquet"))
        # One shard per round plus one that only compiles the pass.
        self.shards = _shards(self.ctx, rng, rows["documents"], self.ctx.rounds + 1)
        self.warm = self.shards.pop()
        self.ctx.info["rows"] = {**rows, "lineitem": tabs["lineitem"].num_rows}

    def setup_state(self) -> None:
        """Build the warehouse cold: the input path is new to this
        process, so both the ``.cache/star_*`` key and the session memo
        key miss."""
        from olist_data_warehouse_spark.plans.queries import warehouse_tables

        self.sf_dir = self.base
        with self.ctx.tracer.span("setup.warehouse", jobs=True):
            warehouse_tables(self.ctx.spark, self.sf_dir, groups=("sales", "events"))

    def ops(self) -> Iterator[Op]:
        """Rounds of the seven queries and the dedup pair, each round in
        a seeded order; the repeat pass directly follows its fresh pass."""
        rng = np.random.default_rng([self.ctx.seed, 1])
        names = sorted(self.QUERIES) + [self.DEDUP]
        shards = iter(self.shards)
        while True:
            order = rng.permutation(len(names))
            for j, i in enumerate(order):
                last = j == len(order) - 1
                name = names[i]
                if name == self.DEDUP:
                    shard = next(shards)
                    run = lambda shard=shard: self._pass(shard)  # noqa: E731
                    yield Op("mech", f"{name}:fresh", run)
                    yield Op("bypass", f"{name}:repeat", run, round_end=last)
                    continue
                cls, tables = self.QUERIES[name]

                def run(name=name, tables=tables):
                    _run_registry(self.ctx, name, self.sf_dir, tables)

                yield Op(cls, name, run, round_end=last)

    def _pass(self, shard: str) -> None:
        if shard not in self.ran:
            self.ran.append(shard)
        _run_registry(self.ctx, self.DEDUP, shard, ("documents",))
        if self.ctx.tracer.enabled:
            self.resident = max(self.resident, self.ctx.tracer.resident_cache())

    def check_before(self) -> dict[str, bool]:
        """Each query's output is a function of the query and the input
        files alone, so the queries are checked before the timed rounds,
        where the check also compiles their code paths (a first run is
        up to 2x slower, and a run holds only a few rounds). The dedup
        pass is checked (and compiled) on the warm-up shard no op reads."""
        out = {name: _compare(self.ctx, self.sf_dir, name) for name in sorted(self.QUERIES)}
        ok = _compare(self.ctx, self.warm, self.DEDUP)
        return {**out, f"{self.DEDUP}:fresh": ok, f"{self.DEDUP}:repeat": ok}

    def check(self) -> dict[str, bool]:
        """The dedup pass on every shard the timed rounds read."""
        ok = all([_compare(self.ctx, shard, self.DEDUP) for shard in self.ran])
        return {f"{self.DEDUP}:fresh": ok, f"{self.DEDUP}:repeat": ok}


def _shards(ctx: Ctx, rng, size: int, n: int) -> list[str]:
    """``n`` document shards of ``size`` docs, each a seeded sample of
    one sf0.1-sized pool, written as their own input dirs."""
    n_pool = gen.SF01_ROWS["documents"]
    pool = gen.documents(rng, n_pool)
    out = []
    for i in range(n):
        ids = np.sort(rng.choice(n_pool, size, replace=False))
        d = os.path.join(ctx.work, "in", f"shard{i:03d}")
        gen.write_table(pool.take(pa.array(ids)), os.path.join(d, "documents.parquet"))
        out.append(d)
    ctx.info["shard_docs"] = size
    return out


# ---------------------------------------------------------------------------


@dataclass
class Batch:
    kind: str  # "load" or "fix"
    dir: str
    orders: pa.Table
    lines: pa.Table
    day: int = 0  # the corrected day (fix batches)


class Etl:
    """Star build plus daily lake loads with late corrections."""

    FRACTION = 1 / 5  # of sf0.1's rows
    FIRST, LAST = dt.date(1995, 1, 1), dt.date(2000, 12, 31)
    WITHHELD_DAYS = 150
    BLOCK = 3  # the second batch of every block re-delivers a loaded
    # day (a seeded one, with seeded corrections)
    RESEND_SHARE = 0.5  # load batches that also re-send the last loaded day
    WARM_BATCHES = 2
    ROUND_S = 2.5  # nominal seconds per round (a batch and a report)
    REPORT_FROM, REPORT_TO = 20000101, 20001231
    _DIMS = ("part", "supplier", "nation", "region")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.base = os.path.join(ctx.work, "in", "base")
        self.batches: list[Batch] = []
        self.done = 0
        self.lake = None
        self.dims: dict[str, tuple[str, object]] = {}

    def generate(self) -> None:
        rng = np.random.default_rng([self.ctx.seed, 0])
        rows = gen.sf01_rows(self.ctx.fraction or self.FRACTION)
        n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
        tabs = gen.dims(rng, n_cust, n_supp, n_part)
        orders, lines = gen.orders_lineitem(
            rng, rows["orders"], self.FIRST, self.LAST, n_cust, n_supp, n_part
        )
        self.ctx.info["rows"] = {k: rows[k] for k in ("orders", "customer", "part", "supplier")}
        self.ctx.info["rows"]["lineitem"] = lines.num_rows
        day = np.asarray(pc.cast(orders["o_orderdate"], pa.int64())) // 86_400_000_000
        cut = gen._day(self.LAST) - self.WITHHELD_DAYS + 1
        held = day >= cut
        okeys = np.asarray(orders["o_orderkey"])
        held_keys = okeys[held]
        line_held = np.isin(np.asarray(lines["l_orderkey"]), held_keys)
        tabs["orders"] = orders.filter(pa.array(~held))
        tabs["lineitem"] = lines.filter(pa.array(~line_held))
        for name in ("orders", "lineitem", *self._DIMS):
            gen.write_table(tabs[name], os.path.join(self.base, f"{name}.parquet"))
        self.snapshot = {"orders": tabs["orders"], "lineitem": tabs["lineitem"],
                         **{n: tabs[n] for n in self._DIMS}}
        self._plan_batches(rng, orders.filter(pa.array(held)),
                           lines.filter(pa.array(line_held)), day[held], cut)

    def _plan_batches(self, rng, orders, lines, days, cut) -> None:
        """The seeded batch sequence over the withheld days, written as
        one staged (orders, lineitem) file pair per batch."""
        line_day = dict(zip(np.asarray(orders["o_orderkey"]).tolist(), days.tolist()))
        lday = np.array([line_day[k] for k in np.asarray(lines["l_orderkey"]).tolist()])
        current = {}  # day -> (orders, lines) as last delivered
        for d in range(cut, cut + self.WITHHELD_DAYS):
            current[d] = (orders.filter(pa.array(days == d)), lines.filter(pa.array(lday == d)))
        nxt, loaded = cut, []
        while nxt < cut + self.WITHHELD_DAYS:
            i = len(self.batches)
            bdir = os.path.join(self.ctx.work, "in", f"batch{i:03d}")
            if i % self.BLOCK == 1:
                d = int(loaded[rng.integers(0, len(loaded))])
                o, li = current[d]
                qty = rng.integers(1, 51, li.num_rows).astype("float64")
                li = li.set_column(li.schema.get_field_index("l_quantity"), "l_quantity", pa.array(qty))
                li = li.set_column(
                    li.schema.get_field_index("l_extendedprice"), "l_extendedprice",
                    pa.array(np.round(qty * rng.uniform(900, 2000, li.num_rows), 2)),
                )
                current[d] = (o, li)
                batch = Batch("fix", bdir, o, li, day=d)
            else:
                k = int(rng.integers(1, 4))
                new = list(range(nxt, min(nxt + k, cut + self.WITHHELD_DAYS)))
                send = ([loaded[-1]] if loaded and rng.random() < self.RESEND_SHARE else []) + new
                batch = Batch(
                    "load", bdir,
                    pa.concat_tables([current[d][0] for d in send]),
                    pa.concat_tables([current[d][1] for d in send]),
                )
                loaded += new
                nxt += k
            gen.write_table(batch.orders, os.path.join(bdir, "orders.parquet"))
            gen.write_table(batch.lines, os.path.join(bdir, "lineitem.parquet"))
            self.batches.append(batch)

    def setup_state(self) -> None:
        """The full star build (dims to parquet, fact created as a lake
        table), then the first batches."""
        from olist_data_warehouse_spark.plans import star
        from olist_data_warehouse_spark.sources.lakehouse import LakeTable
        from olist_data_warehouse_spark.sources.readers import load_testdata

        spark, tr = self.ctx.spark, self.ctx.tracer
        out = os.path.join(self.ctx.work, "dw")
        with tr.span("readers", jobs=True):
            t = load_testdata(spark, self.base, ("orders", "lineitem", *self._DIMS))
        built = {}
        for name, build in (
            ("product_dim", lambda: star.build_product_dim(t["part"])),
            ("location_dim", lambda: star.build_location_dim(t["nation"], t["region"])),
            ("time_period", lambda: star.build_time_period(t["orders"])),
        ):
            with tr.span(f"star.{name}", jobs=True):
                df = build()
                p = os.path.join(out, name)
                df.write.parquet(p)
                built[name] = (p, df.schema)
        dims = {n: spark.read.schema(s).parquet(p) for n, (p, s) in built.items()}
        with tr.span("star.sales_fact", jobs=True):
            fact = star.build_sales_fact(
                t["orders"], t["lineitem"], t["part"], t["supplier"], t["nation"],
                t["region"], dims["product_dim"], dims["location_dim"], dims["time_period"],
            )
            self.lake = LakeTable.create(fact, os.path.join(out, "sales_fact"))
        self.dims = built
        # The first two batches (a load, a fix) compile the load, fix and
        # report paths; timed rounds start after them.
        for b in self.batches[: self.WARM_BATCHES]:
            self._load(b)
            self.done += 1
            self._report()
        if tr.enabled:
            det = self.lake.detail()
            tr.counts["star.fact_rows"] = det["rows"]
            tr.counts["star.bytes_written"] = det["bytes"] + sum(
                os.path.getsize(os.path.join(dp, f))
                for p, _ in built.values() for dp, _, fs in os.walk(p) for f in fs
            )

    def ops(self) -> Iterator[Op]:
        """One round per batch: the load, then the report."""
        for b in self.batches[self.WARM_BATCHES:]:
            def load(b=b):
                self._load(b)
                self.done += 1

            yield Op("mech", b.kind, load)
            yield Op("bypass", "report", self._report, round_end=True)

    def _dim(self, name: str):
        p, schema = self.dims[name]
        return self.ctx.spark.read.schema(schema).parquet(p)

    def _load(self, b: Batch) -> None:
        from pyspark.sql import functions as F

        from olist_data_warehouse_spark.plans import incremental, star
        from olist_data_warehouse_spark.sources.readers import load_testdata

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("readers", jobs=True):
            t = load_testdata(spark, b.dir, ("orders", "lineitem"))
            t.update(load_testdata(spark, self.base, self._DIMS))
        with tr.span("plans", jobs=True):
            delta = star.build_sales_fact(
                t["orders"], t["lineitem"], t["part"], t["supplier"], t["nation"],
                t["region"], self._dim("product_dim"), self._dim("location_dim"),
                star.build_time_period(t["orders"]),
            )
        if b.kind == "fix":
            key = int((dt.date(1970, 1, 1) + dt.timedelta(days=b.day)).strftime("%Y%m%d"))
            with tr.span("lake.replace", jobs=True), self._commit_errors():
                self.lake.replace_where(spark, delta, F.col("date_key") == key)
            return
        with tr.span("lake.read", jobs=True):
            current = self.lake.read(spark)
        with tr.span("incremental.delta", jobs=True):
            new = incremental.incremental_new_rows(delta, current)
        if tr.enabled:
            tr.add("incremental.rows_offered", delta.count())
            tr.add("incremental.rows_kept", new.count())
        with tr.span("lake.append", jobs=True), self._commit_errors():
            self.lake.append(new)

    @contextlib.contextmanager
    def _commit_errors(self):
        from olist_data_warehouse_spark.sources.lakehouse import ConcurrentCommitError

        try:
            yield
        except ConcurrentCommitError:
            self.ctx.tracer.add("lake.commit_errors", 1)
            raise

    def _report(self) -> None:
        """DW top-5 sellers by units for the loaded year, over the lake."""
        from pyspark.sql import functions as F

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("lake.read", jobs=True):
            fact = self.lake.read(spark)
        with tr.span("plans", jobs=True):
            df = (
                fact.filter(F.col("date_key").between(self.REPORT_FROM, self.REPORT_TO))
                .join(F.broadcast(self._dim("location_dim")), "location_key")
                .join(F.broadcast(self._dim("product_dim")), "product_key")
                .groupBy("seller_id", "state", "product")
                .agg(F.sum("sales_quantity").alias("total_units"))
                .orderBy(F.desc("total_units"), "seller_id", "state", "product")
                .limit(5)
            )
        noop_write(tr, df)

    def final_staging(self) -> str:
        """The staging state after the batches that ran: the snapshot
        plus every delivered day, corrected days at their last version."""
        orders = [self.snapshot["orders"]]
        lines = [self.snapshot["lineitem"]]
        by_day: dict[int, tuple[pa.Table, pa.Table]] = {}
        for b in self.batches[: self.done]:
            if b.kind == "fix":
                by_day[b.day] = (b.orders, b.lines)
                continue
            days = np.asarray(pc.cast(b.orders["o_orderdate"], pa.int64())) // 86_400_000_000
            lday = dict(zip(np.asarray(b.orders["o_orderkey"]).tolist(), days.tolist()))
            ld = np.array([lday[k] for k in np.asarray(b.lines["l_orderkey"]).tolist()])
            for d in np.unique(days).tolist():
                by_day.setdefault(d, (b.orders.filter(pa.array(days == d)),
                                      b.lines.filter(pa.array(ld == d))))
        for o, li in by_day.values():
            orders.append(o)
            lines.append(li)
        out = os.path.join(self.ctx.work, "in", "final")
        tabs = {**self.snapshot, "orders": pa.concat_tables(orders),
                "lineitem": pa.concat_tables(lines)}
        for name, t in tabs.items():
            gen.write_table(t, os.path.join(out, f"{name}.parquet"))
        return out

    def check_before(self) -> dict[str, bool]:
        return {}

    def check(self) -> dict[str, bool]:
        from olist_data_warehouse_spark.plans.queries import SQL_STAR, register

        name = "perfbench_etl_sales_fact"
        lake = self.lake
        register(name, oracle=f"{SQL_STAR}\nSELECT * FROM sales_fact")(
            lambda spark, sf_dir: lake.read(spark)
        )
        ok = _compare(self.ctx, self.final_staging(), name)
        return {"load": ok, "fix": ok, "report": ok}


# ---------------------------------------------------------------------------


class Corpus:
    """Curation passes over seeded document shards; every fresh pass is
    followed by a repeat of the same shard and pass."""

    FRACTION = 1 / 2  # shard size, of sf0.1's documents
    PASSES = ("dedup_minhash_lsh", "dedup_ngram_jaccard", "pipe_corpus_curation")
    ROUND_S = 9.0  # nominal seconds per round (three passes, each twice)

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.shards: list[str] = []
        self.warm = ""
        self.ran: set[tuple[str, str]] = set()
        self.resident: tuple[int, float] = (0, 0.0)

    def generate(self) -> None:
        rng = np.random.default_rng([self.ctx.seed, 0])
        size = gen.sf01_rows(self.ctx.fraction or self.FRACTION)["documents"]
        # One shard per pass and round, plus one that only warms up.
        self.shards = _shards(self.ctx, rng, size, len(self.PASSES) * self.ctx.rounds + 1)
        self.warm = self.shards.pop()

    def setup_state(self) -> None:
        """Run every pass once on a warm-up shard that no op reads: the
        passes' code paths are compiled before timing."""
        for name in self.PASSES:
            with self.ctx.tracer.span("setup.passes", jobs=True):
                _run_registry(self.ctx, name, self.warm, ())

    def ops(self) -> Iterator[Op]:
        """Rounds of the three passes in a seeded order; each pass runs
        on a new shard and then once more on the same shard."""
        rng = np.random.default_rng([self.ctx.seed, 1])
        shards = iter(self.shards)
        while True:
            order = rng.permutation(len(self.PASSES))
            for j, i in enumerate(order):
                name, shard = self.PASSES[i], next(shards)
                run = lambda name=name, shard=shard: self._pass(name, shard)  # noqa: E731
                yield Op("bypass", name, run)
                yield Op("mech", name, run, round_end=j == len(order) - 1)

    def _pass(self, name: str, shard: str) -> None:
        self.ran.add((name, shard))
        _run_registry(self.ctx, name, shard, ("documents",))
        if self.ctx.tracer.enabled:
            self.resident = max(self.resident, self.ctx.tracer.resident_cache())

    def check_before(self) -> dict[str, bool]:
        return {}

    def check(self) -> dict[str, bool]:
        out: dict[str, bool] = {}
        for name, shard in sorted(self.ran):
            out[name] = _compare(self.ctx, shard, name) and out.get(name, True)
        return out


WORKLOADS = {"reports": Reports, "etl": Etl, "corpus": Corpus}
