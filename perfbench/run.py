"""Benchmark of the engine: two closed-loop, single-client workloads.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Set-up (session
start, the fixed inputs and the store or index built twice, then one
untimed warm op) is timed first; then ops run back to
back for ``--seconds``, each on freshly generated input files, each
checked against the generator's truth. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the run's context (cores,
load average, Spark version, seed, per-op times). Exits non-zero when
any op fails or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_data_processing_challenge_spark"
SETUP_REPS = 2
# timed ops a run makes at least, so its median discards one outlier
MIN_OPS = 3
END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s", "ok_rate": "fraction",
    "peak_rss_mb": "MB", "write_amp": "ratio", "recall": "fraction",
}


def _environment(work: str, cores: int) -> None:
    """Point every scratch path of Python, the JVM and Spark into the
    checkout, and let this process and its Python workers import the
    engine package."""
    for path in (ROOT, HERE):
        if path not in sys.path:
            sys.path.insert(0, path)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")


def _session(work: str, cores: int):
    from pyspark_data_processing_challenge_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    return get_session(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: with a growing one, peak RSS followed
            # GC timing and varied ±15% between identical runs
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_DRIVER_MEMORY']}"
            ),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )


def _stop(spark) -> None:
    """Stop Spark, then end the driver JVM (it exits when its stdin
    closes) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def _one_op(wl, spark, tracer, stats) -> tuple[float, dict | None]:
    """Prepare, run and check one op: (op wall seconds, check figures or
    None when the op raised or its output was wrong)."""
    inp = wl.prepare()
    spark.catalog.clearCache()
    if tracer is not None:
        tracer.begin_op()
    stats["attempted"] += 1
    t0 = time.perf_counter()
    op_s = None
    try:
        res = wl.run(inp, tracer)
        op_s = time.perf_counter() - t0
        return op_s, wl.check(inp, res)
    except Exception as exc:  # noqa: BLE001 - a failed or wrong op is counted, not fatal
        traceback.print_exc()
        stats["failed"] += 1
        stats["errors"].append(f"{type(exc).__name__}: {exc}")
        return (time.perf_counter() - t0 if op_s is None else op_s), None


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str = "full") -> dict:
    """Set up, measure and check one workload; returns the result line
    plus an ``info`` dict."""
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cores)
    import layertrace as tr  # noqa: E402  (the benchmark's own modules)
    import workloads  # noqa: E402

    load_before = os.getloadavg()
    t0 = time.perf_counter()
    spark = _session(work, cores)
    session_s = time.perf_counter() - t0
    stats = {"attempted": 0, "failed": 0, "errors": []}
    try:
        wl = workloads.WORKLOADS[workload](spark, work, seed, workloads.SCALES[scale])
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.build(rep)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = {"attempted": 0, "failed": 0, "errors": []}
        if _one_op(wl, spark, None, warm)[1] is None:
            raise workloads.OpFailed("warm op: " + warm["errors"][0])
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + warm_s

        tracer = tr.Tracer(spark, cores) if trace else None
        op_times, checks, layer_ops, plain_times = [], [], [], []
        deadline = time.perf_counter() + seconds
        step = 0.0  # wall time of one loop iteration
        # start another op only while it is expected to end near the deadline
        min_ops = 1 if trace else MIN_OPS
        while len(op_times) < min_ops or time.perf_counter() + step / 2 < deadline:
            t_iter = time.perf_counter()
            op_s, check = _one_op(wl, spark, tracer, stats)
            op_times.append(op_s)
            if check is not None:
                checks.append(check)
            if tracer is not None:
                layer_ops.append(tracer.end_op(len(op_times)))
                # an untraced op beside each traced one: the difference of
                # the two medians is the tracing overhead
                op_s, check = _one_op(wl, spark, None, stats)
                plain_times.append(op_s)
                if check is not None:
                    checks.append(check)
            step = time.perf_counter() - t_iter
        peak = _peak_rss_mb(spark)
        spark_version = spark.version
    finally:
        _stop(spark)
    load_after = os.getloadavg()

    if trace:
        metrics = tr.layer_summary(layer_ops)
        metrics.update(
            {name: 0.0 for name in tr.EXTRA},
            **{
                "session.s": session_s,
                "sources.input_mb": _median_of(layer_ops, "sources", "input_mb"),
                "sources.output_mb": _median_of(layer_ops, "sources", "output_mb"),
                "dedup.store_scan_mb": _median_of(layer_ops, "dedup", "input_mb"),
                "sources.files_written": statistics.median(c["files_written"] for c in checks),
                "similarity.assign_s": statistics.median(
                    sum(sp["end"] - sp["start"] for sp in tracer.spans
                        if sp["op"] == i and sp["name"] == "ivf_assign")
                    for i in range(1, len(layer_ops) + 1)
                ),
                "trace.overhead_s": statistics.median(op_times) - statistics.median(plain_times),
            },
        )
        metrics.update(wl.layer_extras())
        if any(metrics[f"{layer}.stages_skipped"] for layer in tr.LAYERS):
            stats["failed"] += 1
            stats["errors"].append("a shuffle stage was reused across ops")
        out_dir = os.path.join(ROOT, ".perfbench_runs")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{workload}-seed{seed}.json"))
        units = {name: tr.unit(name) for name in tr.metric_names()}
    else:
        attempted = stats["attempted"]
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(op_times),
            "rows_per_s": sum(c["rows"] for c in checks) / sum(op_times),
            "ok_rate": (attempted - stats["failed"]) / attempted,
            "peak_rss_mb": peak,
            "write_amp": _ratio(checks, "out_bytes", "in_bytes"),
            "recall": _ratio(checks, "found", "expected"),
        }
        units = END_TO_END
    shutil.rmtree(work, ignore_errors=True)
    info = {
        "workload": workload, "seed": seed, "trace": int(trace), "scale": scale,
        "nproc": cores, "spark_version": spark_version,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "session_s": session_s, "build_reps_s": reps, "warm_op_s": warm_s,
        "op_times_s": op_times, "untraced_op_times_s": plain_times, "errors": stats["errors"],
    }
    result = {
        "correct": stats["failed"] == 0,
        "attempted": stats["attempted"],
        "failed": stats["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return {"info": info, "result": result}


def _median_of(layer_ops: list[dict], layer: str, key: str) -> float:
    return statistics.median(op.get(layer, {}).get(key, 0.0) for op in layer_ops)


def _ratio(checks: list[dict], num: str, den: str) -> float:
    total = sum(c[den] for c in checks)
    return sum(c[num] for c in checks) / total if total else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_batch", "dedup_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(json.dumps(out["info"]))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
