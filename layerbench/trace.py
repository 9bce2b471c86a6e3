"""Spans around the library's public calls, and layer attribution from
Spark's own status store.

A span sets its own Spark job group on the calling thread (or, for a
streaming trigger, names the query's group), so after an op every job,
stage and SQL execution the span caused can be looked up. Nothing in the
library is instrumented: the numbers come from

- ``AppStatusStore.lastStageAttempt``: per-stage wall interval, executor
  run/CPU/GC time, shuffle and output bytes;
- the stage's accumulator updates, matched to SQL plan nodes through
  ``SQLAppStatusStore.planGraph``: Python feed bytes and run time, state
  store commit time, task commit time.

Attribution: each stage's wall interval (clipped to its span, and scaled
down where stages of one span overlap) is split between layers by the
share of task time its metrics account for. A span's time outside all of
its stages is that span's driver-side self time. Per op the layer
self-times plus ``trace.unattributed_s`` (op time outside every span) equal
the op's wall time by construction; ``Op.layers`` checks it.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PY_BUILD = "FlatMapGroupsInArrow"
PY_PROBE = "ArrowEvalPython"
PY_STATE = "FlatMapGroupsInPandasWithState"
WRITE = "Execute InsertIntoHadoopFsRelationCommand"
GENERATE = "Generate"
BATCH_RDD = "Scan ExistingRDD"    # a foreachBatch frame over its micro-batch
RECENT_EXECUTIONS = 200


@dataclass
class Span:
    name: str
    group: str
    t0: float
    t1: float = 0.0
    stages: list = field(default_factory=list)
    jobs: int = 0
    #: state-store commit time of a trigger (task-summed ms, from the
    #: query's progress; the status store does not keep it)
    state_commit_ms: float = 0.0


@dataclass
class Op:
    t0: float
    t1: float = 0.0
    spans: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    def layers(self) -> dict:
        """Self time per layer (seconds) plus ``trace.unattributed_s``."""
        out: dict[str, float] = {}
        covered = 0.0
        for sp in self.spans:
            covered += sp.t1 - sp.t0
            for k, v in _attribute(sp).items():
                out[k] = out.get(k, 0.0) + v
        out["trace.unattributed_s"] = max(0.0, self.wall - covered)
        err = abs(sum(out.values()) - self.wall)
        if err > 1e-6 * max(1.0, self.wall):
            raise AssertionError(
                f"layer times sum to {sum(out.values()):.6f}s, "
                f"op wall is {self.wall:.6f}s")
        return out


class Tracer:
    """Records spans when enabled; a no-op context otherwise."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self._ids = itertools.count()
        self._local = threading.local()
        self._seen_jobs: set[int] = set()
        self._lock = threading.Lock()
        self.overhead_s = 0.0
        if enabled:
            self._store = self.sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def op(self):
        op = Op(t0=time.perf_counter())
        self._local.op = op
        try:
            yield op
        finally:
            op.t1 = time.perf_counter()
            self._local.op = None

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Span ``name`` around a public call. ``group`` names an existing
        job group (a streaming query's run id) instead of setting one."""
        op = getattr(self._local, "op", None)
        if not self.enabled or op is None:
            yield
            return
        t = time.perf_counter()
        own = group is None
        if own:
            group = f"layerbench:{name}:{next(self._ids)}"
            self.sc.setJobGroup(group, name)
        sp = Span(name, group, time.perf_counter())
        self.overhead_s += sp.t0 - t
        try:
            yield
        finally:
            sp.t1 = time.perf_counter()
            if own:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            op.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp.t1

    def collect(self, op: Op) -> None:
        """Read the stages of every span of ``op`` from the status store."""
        if not self.enabled:
            return
        t = time.perf_counter()
        # perf_counter -> epoch offset, for the store's Date stamps
        offset = time.time() - time.perf_counter()
        tracker = self.sc.statusTracker()
        for sp in op.spans:
            with self._lock:
                jobs = [j for j in tracker.getJobIdsForGroup(sp.group)
                        if j not in self._seen_jobs]
                self._seen_jobs.update(jobs)
            sp.jobs = len(jobs)
            execs = self._executions(jobs)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in list(info.stageIds) if info else []:
                    st = self._stage(sid, execs.get(j), offset)
                    if st is not None:
                        sp.stages.append(st)
        self.overhead_s += time.perf_counter() - t

    def _executions(self, jobs: list[int]) -> dict[int, dict]:
        """job id -> the SQL execution that ran it: its id, the names of
        its plan nodes, and its metrics keyed by (node, metric)."""
        want = set(jobs)
        out: dict[int, dict] = {}
        if not want:
            return out
        # an op's executions are among the most recent ones
        n = self._sql.executionsCount()
        it = self._sql.executionsList(max(0, n - RECENT_EXECUTIONS),
                                      RECENT_EXECUTIONS).iterator()
        while it.hasNext():
            e = it.next()
            ejobs = set()
            jit = e.jobs().keysIterator()
            while jit.hasNext():
                ejobs.add(int(jit.next()))
            if not ejobs & want:
                continue
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            names, metrics = set(), {}
            nit = self._sql.planGraph(eid).allNodes().iterator()
            while nit.hasNext():
                node = nit.next()
                name = node.name().strip()
                names.add(name)
                mit = node.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        key = (name, m.name())
                        metrics[key] = metrics.get(key, 0.0) + _parse(
                            v.get())
            x = {"id": eid, "roles": frozenset(names), "metrics": metrics}
            for j in ejobs & want:
                out[j] = x
        return out

    def _stage(self, sid: int, x: dict | None, offset: float) -> dict | None:
        s = self._store.lastStageAttempt(sid)
        if s.status().toString() != "COMPLETE":
            return None
        st = {
            "t0": s.submissionTime().get().getTime() / 1000.0 - offset,
            "t1": s.completionTime().get().getTime() / 1000.0 - offset,
            "run_ms": float(s.executorRunTime()),
            "cpu_ns": float(s.executorCpuTime()),
            "gc_ms": float(s.jvmGcTime()),
            "sw_ns": float(s.shuffleWriteTime()),
            "sw_bytes": float(s.shuffleWriteBytes()),
            "sr_records": float(s.shuffleReadRecords()),
            "in_bytes": float(s.inputBytes()),
            "out_bytes": float(s.outputBytes()),
            "exec": x["id"] if x else None,
            "roles": x["roles"] if x else frozenset(),
            "xm": x["metrics"] if x else {},
        }
        st["node"] = _python_node(st)
        return st


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _parse(text: str) -> float:
    """A SQL metric as the status store formats it ("200,000", "2.1 MiB",
    "812 ms", or "total (min, med, max ...)\n3.4 s (...)") -> a number
    (bytes, milliseconds or a count)."""
    line = text.split("\n")[-1].strip()
    parts = line.replace(",", "").split()
    try:
        value = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    return value * _SIZE.get(unit, _TIME_MS.get(unit, 1.0))


def _python_node(st: dict) -> str | None:
    """The Python operator a stage runs, told apart from the other stages
    of its execution by what the stage reads and writes: the build's
    Python stage writes the table, the probe's scans the probe keys. The
    dedup runs inside the refresh's key-log append, whose plan scans the
    micro-batch as an RDD: its state stage reads the bucket shuffle and
    writes the distinct shuffle."""
    roles = st["roles"]
    if PY_BUILD in roles and st["out_bytes"] > 0:
        return PY_BUILD
    if PY_PROBE in roles and st["in_bytes"] > 0:
        return PY_PROBE
    if PY_STATE in roles or (
            BATCH_RDD in roles and WRITE in roles and st["sr_records"] > 0
            and st["sw_bytes"] > 0 and st["out_bytes"] == 0):
        return PY_STATE
    return None


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------

def _py_ms(st: dict, node: str) -> float:
    return st["xm"].get((node, "time to run Python workers"), 0.0)


def _stage_split(sp: Span, st: dict, dedup_run_ms: float) -> dict:
    """Shares of one stage's wall time, by layer (they sum to 1)."""
    span = sp.name
    run = max(st["run_ms"], 1e-9)
    node, roles = st["node"], st["roles"]
    sw = min(1.0, st["sw_ns"] / 1e6 / run)
    if node == PY_STATE:
        commit = min(1.0, sp.state_commit_ms / max(dedup_run_ms, 1e-9))
        return {"streaming.stateful_dedup.commit_s": commit,
                "streaming.stateful_dedup.update_s": 1.0 - commit}
    if node == PY_BUILD:
        commit = min(1.0, st["xm"].get((WRITE, "task commit time"), 0.0)
                     / run)
        py = min(1.0 - commit, _py_ms(st, PY_BUILD) / run)
        return {"dataflow.build.python_s": py,
                "dataflow.build.commit_s": commit,
                "dataflow.build.feed_s": 1.0 - py - commit}
    if node == PY_PROBE:
        py = min(1.0, _py_ms(st, PY_PROBE) / run)
        return {"dataflow.probe.udf_s": py, "dataflow.probe.scan_s": 1.0 - py}
    if span == "load":
        return {"dataflow.probe.load_s": 1.0}
    if PY_PROBE in roles:       # the aggregation after the probe
        return {"dataflow.probe.scan_s": 1.0}
    if BATCH_RDD in roles:      # feed scan, key-log distinct and append
        return {"streaming.filter_refresh.add_batch_s": 1.0}
    if PY_BUILD in roles:       # map side of a build
        if GENERATE not in roles:
            rest = "streaming.filter_refresh.rebuild_s"
        elif st["in_bytes"] > 0:
            rest = "dataflow.keys.derive_s"
        else:
            rest = "dataflow.build.dedup_s"
        return {rest: 1.0 - sw, "dataflow.build.shuffle_write_s": sw}
    if GENERATE in roles:       # the distinct count that sizes n_shards
        return {"dataflow.build.sizing_s": 1.0}
    if span == "trigger":       # e.g. the refresh's replay and resume checks
        return {"streaming.filter_refresh.rebuild_s": 1.0}
    return {_DRIVER[span]: 1.0}


#: a span's time outside its stages: driver-side work of that layer
_DRIVER = {
    "shingle_keys": "dataflow.keys.derive_s",
    "build": "dataflow.build.driver_s",
    "load": "dataflow.probe.load_s",
    "probe": "dataflow.probe.driver_s",
    "trigger": "streaming.driver_s",
}


def _attribute(sp: Span) -> dict[str, float]:
    stages = []
    for st in sp.stages:
        t0, t1 = max(st["t0"], sp.t0), min(st["t1"], sp.t1)
        if t1 > t0:
            stages.append((t0, t1, st))
    # union of the clipped stage intervals
    covered, end = 0.0, None
    for t0, t1, _ in sorted(stages, key=lambda x: x[0]):
        if end is None or t0 >= end:
            covered += t1 - t0
            end = t1
        elif t1 > end:
            covered += t1 - end
            end = t1
    total = sum(t1 - t0 for t0, t1, _ in stages)
    scale = covered / total if total > 0 else 0.0
    dedup_run_ms = sum(st["run_ms"] for *_, st in stages
                       if st["node"] == PY_STATE)
    out: dict[str, float] = {}
    for t0, t1, st in stages:
        for k, share in _stage_split(sp, st, dedup_run_ms).items():
            out[k] = out.get(k, 0.0) + (t1 - t0) * scale * share
    driver = _DRIVER[sp.name]
    out[driver] = out.get(driver, 0.0) + (sp.t1 - sp.t0) - covered
    return out


def stage_counts(op: Op, cores: int) -> dict[str, float]:
    """Per-op counters: stage metrics summed over the op's stages, SQL
    metrics summed once per execution."""
    c = {"spark.gc_s": 0.0, "cpu_ns": 0.0, "build_jobs": 0,
         "dataflow.build.shuffle_write_bytes": 0.0,
         "dataflow.build.feed_rows": 0.0, "dataflow.build.feed_bytes": 0.0,
         "dataflow.build.commit_bytes": 0.0,
         "dataflow.probe.feed_rows": 0.0, "dataflow.probe.feed_bytes": 0.0,
         "probe_py_ms": 0.0, "dataflow.probe.load_bytes": 0.0,
         "shingle_rows": 0.0}
    execs: dict = {}
    for sp in op.spans:
        if sp.name in ("build", "trigger"):
            c["build_jobs"] += sp.jobs
        for st in sp.stages:
            c["spark.gc_s"] += st["gc_ms"] / 1000.0
            c["cpu_ns"] += st["cpu_ns"]
            if st["exec"] is not None:
                execs[st["exec"]] = st["xm"]
            if st["node"] == PY_BUILD:
                c["dataflow.build.feed_rows"] += st["sr_records"]
                c["dataflow.build.commit_bytes"] += st["out_bytes"]
            elif PY_BUILD in st["roles"]:
                c["dataflow.build.shuffle_write_bytes"] += st["sw_bytes"]
            if sp.name == "load":
                c["dataflow.probe.load_bytes"] += st["in_bytes"]
    for xm in execs.values():
        c["dataflow.build.feed_bytes"] += xm.get(
            (PY_BUILD, "data sent to Python workers"), 0.0)
        if (PY_BUILD, "number of output rows") in xm:
            c["shingle_rows"] += xm.get((GENERATE, "number of output rows"),
                                        0.0)
        c["dataflow.probe.feed_rows"] += xm.get(
            (PY_PROBE, "number of output rows"), 0.0)
        c["dataflow.probe.feed_bytes"] += xm.get(
            (PY_PROBE, "data sent to Python workers"), 0.0)
        c["probe_py_ms"] += xm.get((PY_PROBE, "time to run Python workers"),
                                   0.0)
    c["spark.cpu_util"] = c.pop("cpu_ns") / 1e9 / max(op.wall * cores, 1e-9)
    return c
