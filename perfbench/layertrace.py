"""Layer spans for the traced run.

A span wraps one call into a layer of the engine. Its Spark jobs are
tagged with ``setJobGroup``; when the span ends, the stage and task
metrics of those jobs are read from the driver's status store (the store
behind the Spark UI, also read by tools/profile_query.py). Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

LAYERS = ("session", "sources", "relational", "quality", "functions", "dedup", "similarity")
COMMON = (
    "s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
    "busy_frac", "task_skew", "stages_skipped",
)
EXTRA = (
    "sources.input_mb", "sources.output_mb", "sources.files_written",
    "sources.store_files", "dedup.store_scan_mb", "similarity.assign_s",
    "similarity.scored_per_result", "similarity.recall_at_10", "trace.overhead_s",
)
MB = 1024.0 * 1024.0


def metric_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    return [f"{layer}.{m}" for layer in LAYERS for m in COMMON] + list(EXTRA)


def unit(name: str) -> str:
    m = name.split(".", 1)[1]
    if m in ("s", "cpu_s", "gc_s", "assign_s", "overhead_s"):
        return "s"
    if m.endswith("_mb"):
        return "MB"
    if m in ("busy_frac", "recall_at_10"):
        return "fraction"
    if m in ("task_skew", "scored_per_result"):
        return "ratio"
    return "count"


class Tracer:
    """Records spans of the current op and turns them into per-layer
    figures. ``layer=None`` spans are timed and stored but belong to no
    layer's totals (a standalone measurement such as ``ivf_assign``)."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc
        self.store = self.jsc.sc().statusStore()
        self.cores = cores
        self.spans: list[dict] = []
        self.op_spans: list[dict] = []
        self._seq = 0
        self._op_first_rdd = 0
        self._op_seen: set[int] = set()

    def begin_op(self) -> None:
        """Mark the op boundary. RDDs that exist now belong to earlier ops:
        a stage the op skips because its shuffle output already exists
        reused a shuffle across ops when that stage's RDDs predate the op
        (AQE's own skipped stages read map output made within the op)."""
        self._drain()
        self.op_spans = []
        self._op_seen = set()
        self._op_first_rdd = self.sc.emptyRDD().id() + 1

    @contextmanager
    def span(self, layer: str | None, name: str):
        self._seq += 1
        group = f"perfbench-{id(self):x}-{self._seq}"
        self.sc.setJobGroup(group, f"{layer}:{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.jsc.clearJobGroup()
            sp = {"layer": layer, "name": name, "group": group, "start": t0, "end": t1}
            # read now: a later job that reuses one of these stages within
            # the op rewrites its status-store record as skipped
            self._drain()
            sp["metrics"] = self._span_metrics(sp)
            self.op_spans.append(sp)

    def end_op(self, op_index: int) -> dict[str, dict[str, float]]:
        """Per-layer figures of the op just traced."""
        per_layer: dict[str, dict[str, float]] = {}
        for sp in self.op_spans:
            sp["op"] = op_index
            self.spans.append(sp)
            if sp["layer"] is None:
                continue
            acc = per_layer.setdefault(sp["layer"], {"_stages": []})
            for k, v in sp["metrics"].items():
                if k != "_stages":
                    acc[k] = acc.get(k, 0.0) + v
            acc["_stages"].extend(sp["metrics"]["_stages"])
        out = {}
        for layer, acc in per_layer.items():
            stages = acc.pop("_stages")
            acc["busy_frac"] = acc["run_s"] / max(acc["s"] * self.cores, 1e-9)
            acc["task_skew"] = self._skew(stages)
            acc.pop("run_s")
            out[layer] = acc
        for sp in self.op_spans:
            sp["metrics"].pop("_stages")
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh, indent=1)

    # -- status store ------------------------------------------------------

    def _drain(self) -> None:
        self.jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _no_q(self):
        return self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)

    def _span_metrics(self, sp: dict) -> dict:
        jobs = [int(j) for j in self.sc.statusTracker().getJobIdsForGroup(sp["group"])]
        seen = self._op_seen
        m = {
            "s": sp["end"] - sp["start"], "jobs": float(len(jobs)), "tasks": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "input_mb": 0.0, "output_mb": 0.0, "run_s": 0.0, "stages_skipped": 0.0,
            "_stages": [],
        }
        for jid in jobs:
            for sid in _seq(self.store.job(jid).stageIds()):
                sid = int(sid)
                if sid in seen:
                    continue
                seen.add(sid)
                for st in _seq(self.store.stageData(sid, False, None, False, self._no_q())):
                    if str(st.status().toString()) == "SKIPPED":
                        rdds = [int(r) for r in _seq(st.rddIds())]
                        if rdds and min(rdds) < self._op_first_rdd:
                            m["stages_skipped"] += 1
                        continue
                    run_ms = float(st.executorRunTime())
                    m["tasks"] += st.numCompleteTasks()
                    m["cpu_s"] += st.executorCpuTime() / 1e9
                    m["gc_s"] += st.jvmGcTime() / 1e3
                    m["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                    m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                    m["input_mb"] += st.inputBytes() / MB
                    m["output_mb"] += st.outputBytes() / MB
                    m["run_s"] += run_ms / 1e3
                    m["_stages"].append((run_ms, sid, int(st.attemptId())))
        return m

    def _skew(self, stages: list) -> float:
        """max / median task run time in the layer's longest stage."""
        if not stages:
            return 0.0
        _, sid, attempt = max(stages)
        q = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self.store.taskSummary(sid, attempt, q)
        if dist.isEmpty():
            return 0.0
        run = dist.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else 1.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def layer_summary(per_op: list[dict[str, dict[str, float]]]) -> dict[str, float]:
    """Median over ops of each layer figure; a layer absent from every op
    reports 0. ``stages_skipped`` is the total, since any is a failure."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        for m in COMMON:
            vals = [op.get(layer, {}).get(m, 0.0) for op in per_op]
            if m == "stages_skipped":
                out[f"{layer}.{m}"] = float(sum(vals))
            else:
                out[f"{layer}.{m}"] = statistics.median(vals) if vals else 0.0
    return out
