"""Toy-size self-test of the benchmark: every workload and its checks.

    python3 perfbench/selftest.py

1. In one Spark session, runs one toy op of each workload, checks it,
   then corrupts one fact of the truth at a time and requires the check
   to fail.
2. Runs ``run.py`` on each workload at toy size with ``--trace 0`` and
   ``--trace 1`` and requires exit 0 and a last line that carries every
   metric ``BENCHMARK.json`` names, with its unit.
3. Runs ``run.py`` in a directory that holds only ``BENCHMARK.json`` and
   the benchmark, and requires a non-zero exit and no result line.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys

import run

BENCH = os.path.join(run.ROOT, "BENCHMARK.json")
SELFTEST_WORK = os.path.join(run.ROOT, ".perfbench_work", "selftest")


def _corruptions(name: str):
    """(label, function that breaks one fact of an op's truth)."""
    if name == "etl_batch":
        return [
            ("row count", lambda t: t.__setitem__("rows", t["rows"] + 1)),
            ("total sum", lambda t: t.__setitem__("total_fsum", t["total_fsum"] + 0.01)),
            ("partitions", lambda t: t.__setitem__("partitions", t["partitions"][1:])),
        ]
    return [
        ("exact dups", lambda t: t.__setitem__("fresh", t["fresh"] - 1)),
        ("near pairs", lambda t: t.__setitem__("expected_pairs", t["expected_pairs"][1:])),
        ("semantic top-10", lambda t: t["ann"]["ivf_cos"].__setitem__(
            next(iter(t["ann"]["ivf_cos"])),
            [c + 1e-6 for c in next(iter(t["ann"]["ivf_cos"].values()))],
        )),
    ]


def check_detection() -> None:
    cores = len(os.sched_getaffinity(0))
    shutil.rmtree(SELFTEST_WORK, ignore_errors=True)
    run._environment(SELFTEST_WORK, cores)
    import workloads

    spark = run._session(SELFTEST_WORK, cores)
    try:
        for name, cls in workloads.WORKLOADS.items():
            wl = cls(spark, os.path.join(SELFTEST_WORK, name), 7, workloads.SCALES["toy"])
            wl.build(0)
            inp = wl.prepare()
            res = wl.run(inp)
            for label, corrupt in _corruptions(name):
                bad = dict(inp, truth=copy.deepcopy(inp["truth"]))
                corrupt(bad["truth"])
                try:
                    wl.check(bad, res)
                except workloads.OpFailed:
                    continue
                raise SystemExit(f"FAIL {name}: a wrong {label} passed the check")
            out = wl.check(inp, res)
            if not 0 < out["found"] <= out["expected"]:
                raise SystemExit(f"FAIL {name}: recall counts {out}")
            print(f"ok   {name}: checks pass on the truth and catch {len(_corruptions(name))} corruptions")
        check_reuse_detection(spark)
    finally:
        run._stop(spark)
        shutil.rmtree(SELFTEST_WORK, ignore_errors=True)


def check_reuse_detection(spark) -> None:
    """An RDD whose shuffle output the next op reads again must show up
    as a stage skipped across ops; a fresh plan per op must not."""
    import layertrace

    tracer = layertrace.Tracer(spark, 1)
    reused = spark.sparkContext.parallelize(range(1000), 4).map(lambda x: (x % 7, 1)).reduceByKey(
        lambda a, b: a + b
    )
    counts = []
    for op in range(2):
        tracer.begin_op()
        with tracer.span("dedup", "fresh plan"):
            spark.range(1000).selectExpr("id % 5 AS k").groupBy("k").count().collect()
        with tracer.span("sources", "reused shuffle"):
            reused.count()
        per_layer = tracer.end_op(op)
        counts.append((per_layer["dedup"]["stages_skipped"], per_layer["sources"]["stages_skipped"]))
    if counts != [(0, 0), (0, 1)]:
        raise SystemExit(f"FAIL reuse detection: skipped stages per op {counts}")
    print("ok   tracer: a shuffle reused across ops is counted, a fresh plan is not")


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--scale", "toy"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_cli() -> None:
    with open(BENCH, encoding="utf-8") as fh:
        bench = json.load(fh)
    for wl in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = _run(run.ROOT, wl["name"], trace)
            if proc.returncode != 0:
                raise SystemExit(f"FAIL {wl['name']} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                raise SystemExit(f"FAIL {wl['name']}: result keys {sorted(result)}")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want or not result["correct"] or result["failed"]:
                raise SystemExit(f"FAIL {wl['name']} trace={trace}: {result}")
            print(f"ok   {wl['name']} --trace {trace}: {result['attempted']} ops, all {len(got)} metrics")


def check_lonely() -> None:
    """Without the engine beside it the benchmark must fail, not report."""
    lonely = os.path.join(run.ROOT, ".perfbench_work", "selftest-lonely")
    shutil.rmtree(lonely, ignore_errors=True)
    os.makedirs(lonely)
    try:
        shutil.copy(BENCH, lonely)
        shutil.copytree(run.HERE, os.path.join(lonely, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(lonely, "etl_batch", 0)
        if proc.returncode == 0 or proc.stdout.strip():
            raise SystemExit(f"FAIL lonely run: exit {proc.returncode}, stdout {proc.stdout!r}")
        print(f"ok   lonely checkout: exit {proc.returncode}, no result")
    finally:
        shutil.rmtree(lonely, ignore_errors=True)


if __name__ == "__main__":
    check_lonely()
    check_detection()
    check_cli()
    print("selftest passed")
