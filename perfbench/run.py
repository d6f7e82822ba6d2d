"""Engine benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The run generates its inputs from the
seed, starts a ``local[<nproc>]`` session, warms up with whole passes of
the workload's op list (``Workload.warmup_passes``), then runs
passes until ``--seconds`` have passed, checks every op's result once,
and prints an info line and then one JSON object as the last line of
standard output.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` turns on the Spark event log and the layer wrappers and
reports the per-layer metrics instead.  Everything the run writes goes
under ``.bench_run/`` in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "automated_batch_data_pipeline_nyc_spark"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the run, the JVM and the Python workers write under
    ``work``; must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _stop(spark, pids: list[int]) -> None:
    """Stop the session and the JVM and wait for every process below us."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.05)
    for p in pids:
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)


def _run_op(op, spark, record: list, failures: list):
    """One timed op; returns the DataFrame it built (None if it raised)."""
    name, build, action = op
    start = time.time()
    t0 = time.perf_counter()
    try:
        df = build(spark)
        t1 = time.perf_counter()
        action(df)
    except Exception:  # keep the closed loop going; the op counts as failed
        traceback.print_exc()
        failures.append(name)
        return None
    t2 = time.perf_counter()
    record.append({"name": name, "start": start, "end": time.time(), "build_s": t1 - t0, "action_s": t2 - t1})
    return df


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"error: run from the repository root; no {PKG}/ in {root}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import proc
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from {list(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    try:
        return _bench(args, work, proc, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(args, work, proc, workloads) -> int:
    layers: dict[str, float] = {}
    me = os.getpid()

    import pyspark.sql  # noqa: F401  (pyspark's own import is setup, not suite)

    t = time.perf_counter()
    from automated_batch_data_pipeline_nyc_spark import get_session
    from automated_batch_data_pipeline_nyc_spark import suite  # noqa: F401

    layers["suite.import_s"] = time.perf_counter() - t

    tracer = None
    overrides = {}
    if args.trace:
        import spans

        tracer = spans.Tracer()
        tracer.install()
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        overrides = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    wl = workloads.WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
    t = time.perf_counter()
    inputs = wl.generate()
    layers["bench.generate_s"] = time.perf_counter() - t

    t = time.perf_counter()
    spark = get_session(f"perfbench-{args.workload}", **overrides)
    layers["session.start_s"] = time.perf_counter() - t
    jvm = spark.sparkContext._gateway.proc.pid

    ops = wl.ops()
    # The cold first pass runs the op list in its fixed order: which op a
    # fresh JVM runs first changes how fast every op runs for the rest of
    # the process (perfbench/NOTES.md, "Warm-up").  Every later pass runs
    # it in another order drawn from the seed, so no op always follows the
    # same neighbour.
    order = random.Random(args.seed)
    failures: list[str] = []
    t = time.perf_counter()
    warm: list[dict] = []
    warm_pass_s = []
    while len(warm_pass_s) < wl.warmup_passes:
        p0 = time.perf_counter()
        for op in order.sample(ops, len(ops)) if warm_pass_s else ops:
            _run_op(op, spark, warm, failures)
        warm_pass_s.append(time.perf_counter() - p0)
    layers["bench.warmup_s"] = time.perf_counter() - t
    setup_s = proc.seconds_since_start(me)

    # timed closed loop: whole passes until --seconds have elapsed
    records: list[dict] = []
    pass_s: list[float] = []
    last: dict[str, object] = {}
    failures.clear()
    cpu0 = proc.tree_cpu_s(me)
    ticks0 = proc.cpu_ticks()
    deadline = time.perf_counter() + args.seconds
    while not pass_s or time.perf_counter() < deadline:
        p0 = time.perf_counter()
        for op in order.sample(ops, len(ops)):
            last[op[0]] = _run_op(op, spark, records, failures)
        pass_s.append(time.perf_counter() - p0)
    cpu_s = (proc.tree_cpu_s(me) - cpu0) / len(pass_s)
    steal = proc.steal_share(ticks0, proc.cpu_ticks())
    peak_rss_mb = proc.vm_hwm_mb(jvm) + proc.vm_hwm_mb(me)

    # correctness, once, outside the timed passes
    t = time.perf_counter()
    try:
        ok = wl.check(spark, {k: v for k, v in last.items() if v is not None})
    except Exception:
        traceback.print_exc()
        ok = {}
    check_s = time.perf_counter() - t
    runs = {op[0]: sum(r["name"] == op[0] for r in records) for op in ops}
    wrong = [n for n in runs if not ok.get(n, False)]
    attempted = len(records) + len(failures)
    failed = len(failures) + sum(runs[n] for n in wrong)

    pids = [p for p in proc.descendants(me) if p != me]
    _stop(spark, pids)

    lat = sorted(r["end"] - r["start"] for r in records)
    op_median_s = {
        n: statistics.median(r["end"] - r["start"] for r in records if r["name"] == n)
        for n in dict.fromkeys(r["name"] for r in records)
    }
    # the median pass: each op at its median latency over the timed part
    wall_s = sum(op_median_s.values())
    # reported on the info line; see perfbench/NOTES.md for why they are
    # not end-to-end metrics with a bound
    extra = {
        "op_p50_s": {"value": statistics.median(lat) if lat else None, "unit": "s"},
        "op_p90_s": {"value": statistics.quantiles(lat, n=10)[-1] if len(lat) >= 100 else None,
                     "unit": "s", "samples": len(lat)},
        "cpu_s": {"value": cpu_s, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MiB"},
        "failed_ratio": {"value": failed / max(attempted, 1), "unit": "ratio"},
    }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": inputs,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "steal_share": steal,  # of the timed part; CPU time other guests took
        **extra,
        "setup_parts_s": layers,
        "warmup_pass_s": warm_pass_s,
        "first_op_s": {r["name"]: r["end"] - r["start"] for r in reversed(warm)},
        "pass_s": pass_s,
        "pass_median_s": statistics.median(pass_s),
        "op_median_s": op_median_s,
        "check_s": check_s,
        "wrong_results": wrong,
        "failed_ops": sorted(set(failures)),
    }
    if args.trace:
        metrics = _per_layer(tracer, records, pass_s, layers, work)
        info["per_op"] = metrics.pop("_per_op")
        metrics["trace.wall_s"] = (wall_s, "s")
        metrics["trace.cpu_s"] = (cpu_s, "s")
        metrics["op.p50_s"] = (extra["op_p50_s"]["value"], "s")
        metrics["mem.peak_rss_mb"] = (peak_rss_mb, "MiB")
    else:
        metrics = {"setup_s": (setup_s, "s"), "wall_s": (wall_s, "s")}
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": not wrong and not failures and bool(records),
                "attempted": max(attempted, 1),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _per_layer(tracer, records, pass_s, layers, work) -> dict:
    import eventlog

    log_dir = os.path.join(work, "eventlog")
    (log_file,) = os.listdir(log_dir)
    log = eventlog.read(os.path.join(log_dir, log_file))
    n = len(pass_s)
    windows = [(r["start"], r["end"]) for r in records]
    ms = lambda ws: [(s * 1000, e * 1000) for s, e in ws]  # noqa: E731
    spark_m = eventlog.summarize(log, ms(windows))
    gate_jobs = eventlog.summarize(log, ms(tracer.windows_of("quality.gate", windows)))["jobs"]

    out = {k: (v, "s") for k, v in layers.items()}
    for layer in ("sources.read", "sources.write", "sources.commit", "plans.run", "quality.gate"):
        out[f"{layer}_s"] = (tracer.total_s(layer, windows) / n, "s")
    written = lambda d: sum(d.get(k, 0) for k in ("sources.write", "sources.commit"))  # noqa: E731
    out["sources.bytes_written"] = (written(tracer.bytes_written) / n, "B")
    out["sources.files_written"] = (written(tracer.files_written) / n, "count")
    out["quality.gate_jobs"] = (gate_jobs / n, "count")
    out["op.build_s"] = (sum(r["build_s"] for r in records) / n, "s")
    out["op.action_s"] = (sum(r["action_s"] for r in records) / n, "s")
    units = {"cpu_ratio": "ratio", "parallelism": "ratio", "jobs": "count", "stages": "count",
             "tasks": "count", "failed_tasks": "count", "input_records": "count", "batches": "count",
             "state_rows": "count"}
    for k, v in spark_m.items():
        prefix = "streaming" if k in ("batches", "batch_s", "state_rows") else "spark"
        unit = units.get(k, "B" if k.endswith("_bytes") else "s")
        per_pass = v if k in ("cpu_ratio", "parallelism") else v / n
        out[f"{prefix}.{k}"] = (per_pass, unit)

    per_op = {}
    for name in dict.fromkeys(r["name"] for r in records):
        mine = [r for r in records if r["name"] == name]
        m = eventlog.summarize(log, ms([(r["start"], r["end"]) for r in mine]))
        per_op[name] = {
            "runs": len(mine),
            "build_s": statistics.median(r["build_s"] for r in mine),
            "action_s": statistics.median(r["action_s"] for r in mine),
            **{k: (v if k in ("cpu_ratio", "parallelism") else v / len(mine)) for k, v in m.items()},
        }
    out["_per_op"] = per_op
    return out


if __name__ == "__main__":
    sys.exit(main())
