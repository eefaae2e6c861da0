"""Span recorder, self-time reducer and Spark status-store counters.

Spans are recorded only at layer boundaries, by wrappers this module
installs around the program's public functions (the program itself is
not changed).  Each span gets its own Spark job group, so the jobs a
span starts can be read back from the status store when the operation
that contains it ends.  Spans stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict

COUNTERS = (
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_records",
)


def self_times(spans: list[dict]) -> list[float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    counted once)."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        ivs = sorted(
            (max(spans[c]["start"], s["start"]), min(spans[c]["end"], s["end"]))
            for c in children[i]
        )
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s["end"] - s["start"] - covered)
    return out


class StatusReader:
    """Counters of a set of jobs, read from Spark's status store.

    A stage's metrics are counted once per run, by the first operation
    that lists it: a later job that reuses its shuffle output lists the
    same stage id as skipped, and must not count its work again."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.seen_stages: set[int] = set()

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def counters(self, job_ids: list[int]) -> dict[str, float]:
        c = dict.fromkeys(COUNTERS, 0)
        c["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self.store.job(jid)
            c["stages"] += job.numCompletedStages()
            c["stages_skipped"] += job.numSkippedStages()
            c["tasks"] += job.numCompletedTasks()
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids - self.seen_stages):
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            self.seen_stages.add(sid)
            c["executor_run_ms"] += st.executorRunTime()
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["jvm_gc_ms"] += st.jvmGcTime()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["input_records"] += st.inputRecords()
        return c


class Tracer:
    """Records spans for one run.  ``enabled=False`` gives the untraced
    run: every method is a cheap no-op and no wrapper is installed."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._spark = None
        self._status: StatusReader | None = None
        self._undo: list = []
        self.persist_calls = 0
        self.overhead_s = 0.0

    # -- session ------------------------------------------------------

    def attach(self, spark) -> None:
        """Point the tracer at the (new) session."""
        if self.enabled:
            self._spark = spark
            self._status = StatusReader(spark)

    def _set_group(self, group: str | None, desc: str = "") -> None:
        sc = self._spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, desc)

    # -- spans --------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "start": 0.0,
            "end": 0.0,
            "parent": parent,
            "op": self._op["id"] if self._op else None,
            "group": f"perfbench-{idx}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        if self._spark is not None:
            self._set_group(rec["group"], name)
        t1 = time.perf_counter()
        rec["start"] = t1
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t2 = time.perf_counter()
            self._stack.pop()
            if self._spark is not None:
                if self._stack:
                    p = self.spans[self._stack[-1]]
                    self._set_group(p["group"], p["name"])
                else:
                    self._set_group(None)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str, **attrs):
        """One user-visible operation (a request, an operator run, a
        route call).  In a traced run it is the root span, and the
        status-store counters of every span inside it are read when it
        ends.  Yields the operation's record, for attributes known only
        at its end."""
        if not self.enabled:
            yield None
            return
        persist_before = self.persist_calls
        rdds_before = self._persistent_rdds()
        self._op = {"id": op_id, "kind": kind, **attrs}
        first = len(self.spans)
        try:
            with self.span(kind, **attrs):
                yield self._op
        finally:
            t0 = time.perf_counter()
            self._op["spans"] = (first, len(self.spans))
            self._op["wall_s"] = self.spans[first]["end"] - self.spans[first]["start"]
            new_rdds = {i: b for i, b in self._persistent_rdds().items() if i not in rdds_before}
            self._op["cache"] = {
                "blocks_created": self.persist_calls - persist_before,
                "blocks_left": len(new_rdds),
                "bytes_persisted": sum(new_rdds.values()),
            }
            for s in self.spans[first:]:
                s["counters"] = self._status.counters(self._status.group_jobs(s["group"]))
            self.ops.append(self._op)
            self._op = None
            self.overhead_s += time.perf_counter() - t0

    def _persistent_rdds(self) -> dict[int, int]:
        """Persisted RDD id -> bytes held (memory + disk)."""
        if self._spark is None:
            return {}
        jsc = self._spark.sparkContext._jsc.sc()
        sizes = {int(i.id()): int(i.memSize() + i.diskSize()) for i in jsc.getRDDStorageInfo()}
        ids = self._spark.sparkContext._jvm.scala.collection.JavaConverters.mapAsJavaMap(
            jsc.getPersistentRDDs()
        ).keySet()
        return {int(i): sizes.get(int(i), 0) for i in ids}

    # -- wrappers -----------------------------------------------------

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def count_calls(self, owner, attr: str) -> None:
        """Count calls of ``owner.attr`` (cache creation) without a span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            tracer.persist_calls += 1
            return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- reduction ----------------------------------------------------

    def layer_totals(self) -> dict[str, dict]:
        """Per span name: count, summed self time and summed counters,
        over the spans of every operation."""
        selfs = self_times(self.spans)
        out: dict[str, dict] = {}
        for op in self.ops:
            lo, hi = op["spans"]
            for i in range(lo, hi):
                s = self.spans[i]
                t = out.setdefault(s["name"], {"n": 0, "self_s": 0.0, **dict.fromkeys(COUNTERS, 0)})
                t["n"] += 1
                t["self_s"] += selfs[i]
                for k in COUNTERS:
                    t[k] += s.get("counters", {}).get(k, 0)
        return out

    def op_counters(self, op: dict) -> dict[str, float]:
        lo, hi = op["spans"]
        c = dict.fromkeys(COUNTERS, 0)
        for s in self.spans[lo:hi]:
            for k in COUNTERS:
                c[k] += s.get("counters", {}).get(k, 0)
        return c
