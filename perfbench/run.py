"""Benchmark entry point: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 15 --trace 0

Run from the repository root. The seed generates every input file before
any timed window. The ops run closed loop, one client, in rounds that
run every op kind once; ``--seconds`` over the workload's nominal round
time sets the number of rounds. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` the same rounds run
with spans and Spark counters on, and the last line carries the
per-layer metrics (``--trace-out FILE`` also writes every span). The
line before it (``info``) carries the resources, versions, every op's
latency and CPU time, and the checks. Outputs are checked against DuckDB
oracles outside the timed rounds; a mismatch counts every op of the
mismatched query as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _resources(work: str) -> dict:
    """Pin the engine's resources before the package reads them."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # JVM heap: a quarter of physical memory, at most 4 GiB — the
    # session's own default is larger than small boxes have.
    mem_mb = min(4096, total_kb // 1024 // 4)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{mem_mb}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    tempfile.tempdir = tmp
    return {"nproc": cpus, "jvm_heap_mb": mem_mb, "tmp": tmp}


def _versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "pyarrow": pyarrow.__version__}


def _class_value(by_key: dict[str, list[float]], cls: str) -> float:
    """The typical per-op value (wall or CPU seconds) of a class: each op
    kind's median, averaged over the class's kinds. Every round runs
    each kind equally often, so this does not move with how many rounds
    fit in a run, where a median over the mixed kinds would jump."""
    meds = [statistics.median(v) for k, v in by_key.items() if k.startswith(cls + ":")]
    return sum(meds) / len(meds)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str) -> dict:
    phase = {"begin": time.perf_counter()}
    res = _resources(work)
    sys.path[:0] = [ROOT, HERE]
    import spans
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    # A fixed number of rounds per run, sized by --seconds over the
    # workload's nominal round time: the JVM keeps getting faster
    # for many ops after set-up, so runs that stop on the clock
    # would average different stretches of that curve.
    n_rounds = max(2, round(args.seconds / cls.ROUND_S))
    ctx = workloads.Ctx(spark=None, tracer=None, work=work, seed=args.seed,
                        rounds=n_rounds, fraction=args.fraction)
    wl = cls(ctx)
    wl.generate()
    phase["generate"] = time.perf_counter()

    # session start: package import, JVM launch and session build
    t0, py0 = time.perf_counter(), spans.own_cpu_s()
    from olist_data_warehouse_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={res['tmp']}",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )
    start_s = time.perf_counter() - t0
    ctx.spark = spark
    tr = ctx.tracer = spans.Tracer(spark, enabled=bool(args.trace))
    try:
        tr.counts["session.start_s"] = start_s
        # Set-up = session start + engine warm-up + the workload's state.
        # The warm-up runs several times (its median counts in the wall
        # figure); the state (a cold warehouse build, or the first
        # compile of the workload's plans) is built once.
        reps = []
        for rep in range(workloads.SETUP_REPS):
            tr.begin_op(f"setup{rep}")
            t = time.perf_counter()
            workloads.warmup(ctx)
            reps.append(time.perf_counter() - t)
        tr.begin_op("setup")
        t = time.perf_counter()
        wl.setup_state()
        state_s = time.perf_counter() - t
        setup_wall_s = start_s + statistics.median(reps) + state_s
        # Set-up CPU: the JVM's whole life so far (launch included) and
        # this process's share since the session start.
        setup_cpu_s = spans.jvm_cpu_s(spark) + spans.own_cpu_s() - py0
        tr.keep_only(("session.", "setup.", "star."))
        phase["setup"] = time.perf_counter()
        checks = wl.check_before()
        phase["check_before"] = time.perf_counter()

        keys: dict[str, int] = {}
        by_key: dict[str, list[float]] = {}  # "class:kind" -> latencies
        cpu_by_key: dict[str, list[float]] = {}  # "class:kind" -> CPU seconds
        clock = spans.CpuClock(spark)
        steal0 = spans.cpu_jiffies()
        failed = attempted = rounds = 0
        for i, op in enumerate(wl.ops()):
            tr.begin_op(f"op{i}:{op.key}")
            attempted += 1
            keys[op.key] = keys.get(op.key, 0) + 1
            c, t = clock.now(), time.perf_counter()
            try:
                with tr.span(f"op.{op.cls}"):
                    op.run()
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
            else:
                wall, cpu = time.perf_counter() - t, clock.now() - c
                by_key.setdefault(f"{op.cls}:{op.key}", []).append(wall)
                cpu_by_key.setdefault(f"{op.cls}:{op.key}", []).append(cpu)
            rounds += op.round_end
            if rounds == n_rounds:
                break

        phase["measure"] = time.perf_counter()
        steal = [b - a for a, b in zip(steal0, spans.cpu_jiffies())]
        for k, ok in wl.check().items():
            checks[k] = checks.get(k, True) and ok
        phase["check"] = time.perf_counter()
        wrong = sum(n for k, n in keys.items() if not checks.get(k, False))
        failed = min(attempted, failed + wrong)
        rss = spans.jvm_rss_peak_mb(spark)
        jvm = tr.jvm() if args.trace else {}
        if args.trace and args.trace_out:
            tr.write(args.trace_out)
        self_s = tr.self_times() if args.trace else {}
    finally:
        _stop(spark)
    phase["stop"] = time.perf_counter()
    names = list(phase)
    phase_s = {b: round(phase[b] - phase[a], 3) for a, b in zip(names, names[1:])}

    samples = {cls: sum(len(v) for k, v in by_key.items() if k.startswith(cls + ":"))
               for cls in ("mech", "bypass")}
    if not all(samples.values()):
        raise RuntimeError(f"an op class has no completed ops: {samples}")
    all_lat = [x for v in by_key.values() for x in v]
    latency = {
        "mech_op_s": _class_value(by_key, "mech"),
        "bypass_op_s": _class_value(by_key, "bypass"),
        # the typical op: each kind's median, averaged over all kinds
        "op_s": statistics.mean(statistics.median(v) for v in by_key.values()),
        "p90_s": statistics.quantiles(all_lat, n=10, method="inclusive")[-1],
        "ops_per_s": len(all_lat) / sum(all_lat),
    }
    cpu = {
        "round_cpu_s": sum(x for v in cpu_by_key.values() for x in v) / rounds,
        "mech_cpu_s": _class_value(cpu_by_key, "mech"),
        "bypass_cpu_s": _class_value(cpu_by_key, "bypass"),
    }
    info = {
        **{k: v for k, v in res.items() if k != "tmp"}, **_versions(), **ctx.info,
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session_start_s": round(start_s, 4), "warmup_reps_s": [round(x, 4) for x in reps],
        "state_s": round(state_s, 4), "setup_wall_s": round(setup_wall_s, 4),
        "setup_cpu_s": round(setup_cpu_s, 4), "samples": samples, "rounds": rounds,
        "latency": {k: round(v, 4) for k, v in latency.items()},
        "cpu": {k: round(v, 4) for k, v in cpu.items()},
        "rss_peak_mb": round(rss, 1),
        "latencies_s": {k: [round(x, 3) for x in v] for k, v in by_key.items()},
        "cpu_s": {k: [round(x, 3) for x in v] for k, v in cpu_by_key.items()},
        "checks": checks, "phase_s": phase_s,
        "steal_share": round(steal[0] / max(steal[1], 1), 4),
    }
    if args.trace:
        metrics = _layer_metrics(tr, wl, jvm, latency)
        info["self_s"] = {k: round(v, 4) for k, v in sorted(self_s.items())}
        info["layer_times_s"] = {
            k: round(v, 4) for k, v in sorted(tr.counts.items()) if k.endswith("_s")
        }
    else:
        metrics = {
            "setup_s": (setup_cpu_s, "s"),
            "op_s": (latency["op_s"], "s"),
            "round_cpu_s": (cpu["round_cpu_s"], "s"),
            "mech_cpu_s": (cpu["mech_cpu_s"], "s"),
        }
    print(json.dumps({"info": info}), flush=True)
    return {
        "correct": all(checks.values()) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _layer_metrics(tr, wl, jvm, latency) -> dict:
    c = tr.counts
    run_ms = c["exec.run_ms"]
    lake = _lake_stats(wl.lake) if getattr(wl, "lake", None) is not None else {}
    m = {
        "session.start_s": (c["session.start_s"], "s"),
        "session.warmup_s": (c["session.warmup_s"], "s"),
        "readers.load_s": (c["readers_s"], "s"),
        "readers.jobs": (c["readers.jobs"], "count"),
        "plans.build_s": (c["plans_s"], "s"),
        "plans.build_jobs": (c["plans.jobs"], "count"),
        "catalyst.analysis_ms": (c["catalyst.analysis_ms"], "ms"),
        "catalyst.optimization_ms": (c["catalyst.optimization_ms"], "ms"),
        "catalyst.planning_ms": (c["catalyst.planning_ms"], "ms"),
        "exec.wall_s": (c["exec_s"], "s"),
        "exec.jobs": (c["exec.jobs"], "count"),
        "exec.stages": (c["exec.stages"], "count"),
        "exec.tasks": (c["exec.tasks"], "count"),
        "exec.run_ms": (run_ms, "ms"),
        "exec.cpu_ms": (c["exec.cpu_ns"] / 1e6, "ms"),
        "exec.cpu_share": (c["exec.cpu_ns"] / 1e6 / run_ms if run_ms else 0.0, "ratio"),
        "exec.gc_ms": (c["exec.gc_ms"], "ms"),
        "exec.shuffle_write_bytes": (c["exec.shuffle_write_bytes"], "bytes"),
        "exec.spill_bytes": (c["exec.mem_spill_bytes"] + c["exec.disk_spill_bytes"], "bytes"),
        "exec.input_bytes": (c["exec.input_bytes"], "bytes"),
        "star.fact_rows": (c["star.fact_rows"], "count"),
        "star.bytes_written": (c["star.bytes_written"], "bytes"),
        "incremental.rows_offered": (c["incremental.rows_offered"], "count"),
        "incremental.rows_kept": (c["incremental.rows_kept"], "count"),
        "incremental.keep_ratio": (
            c["incremental.rows_kept"] / c["incremental.rows_offered"]
            if c["incremental.rows_offered"] else 0.0, "ratio"),
        "lake.commits": (lake.get("commits", 0), "count"),
        "lake.files_added": (lake.get("files_added", 0), "count"),
        "lake.files_removed": (lake.get("files_removed", 0), "count"),
        "lake.live_files": (lake.get("live_files", 0), "count"),
        "lake.data_bytes_per_row": (lake.get("bytes_per_row", 0.0), "bytes"),
        "lake.log_bytes": (lake.get("log_bytes", 0), "bytes"),
        "lake.commit_errors": (c["lake.commit_errors"], "count"),
        "jvm.heap_peak_mb": (jvm["heap_peak_mb"], "MB"),
        "jvm.gc_ms": (jvm["gc_ms"], "ms"),
        "trace.mech_op_s": (latency["mech_op_s"], "s"),
        "trace.bypass_op_s": (latency["bypass_op_s"], "s"),
    }
    # the dedup plan cache layer: 0 on etl, which runs no dedup pass
    resident = getattr(wl, "resident", (0, 0.0))
    m["dedup_cache.resident_rdds"] = (resident[0], "count")
    m["dedup_cache.resident_mb"] = (resident[1], "MB")
    return m


def _lake_stats(lake) -> dict:
    hist = lake.history()
    det = lake.detail()
    log_bytes = sum(
        os.path.getsize(os.path.join(lake.log_dir, f)) for f in os.listdir(lake.log_dir)
    )
    return {
        "commits": len(hist),
        "files_added": sum(h["added"] for h in hist),
        "files_removed": sum(h["removed"] for h in hist),
        "live_files": det["num_files"],
        "bytes_per_row": det["bytes"] / det["rows"] if det["rows"] else 0.0,
        "log_bytes": log_bytes,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("reports", "etl", "corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", default=None, help="write the spans here (JSON)")
    p.add_argument("--fraction", type=float, default=None,
                   help="input size as a fraction of sf0.1's rows (default: the workload's)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "olist_data_warehouse_spark")):
        print("perfbench: the olist_data_warehouse_spark package is not beside "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    # SIGTERM (a timeout) unwinds like an exception, so the clean-up
    # below and the session stop in run() still happen.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cache = os.path.join(ROOT, ".cache")
    had_cache = os.path.isdir(cache)
    before = set(os.listdir(cache)) if had_cache else set()
    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        # Remove what this run created: its work dir (inputs, lake
        # tables, Spark local dirs) and the warehouse cache dirs.
        shutil.rmtree(work, ignore_errors=True)
        _rmdir_if_empty(parent)
        if os.path.isdir(cache):
            for d in set(os.listdir(cache)) - before:
                if d.startswith("star_"):
                    shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
            if not had_cache:
                _rmdir_if_empty(cache)
    print(json.dumps(result), flush=True)
    return 0


def _rmdir_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass  # not empty, or already gone


if __name__ == "__main__":
    sys.exit(main())
