"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from outside the engine: ``Tracer.wrap`` replaces a
public function of an engine module with a wrapper that opens a span
around each call, so nested calls (``merge_into`` calling the writer's
``insert_overwrite_dynamic_partitions``) give parent/child spans and a
layer's self time is its span time minus its child spans.

Spark's own counters are read per op from the application status
store, for the jobs of the job group the benchmark set around that op.
This works with ``spark.ui.enabled=false``.

With tracing off, ``Tracer(enabled=False)`` records nothing and wraps
nothing; ``span`` is a no-op context manager.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.overhead_s = 0.0  # time spent inside the tracer itself
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": t,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t2

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper (traced
        runs only). ``restore`` puts the originals back."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reporting ------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"]:
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            dict(s, start=round(s["start"] - t0, 6),
                 end=round((s["end"] or s["start"]) - t0, 6))
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f)


class SparkCounters:
    """Per-op job, stage and task counters from Spark's status store,
    read for one job group at a time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc
        self.store = self.jsc.sc().statusStore()
        jvm = self.sc._jvm
        self._empty_list = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def _drain(self) -> None:
        """Wait until the listener bus has applied every event, so the
        status store holds the finished op's stages."""
        self.jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def group(self, group_id: str) -> dict:
        self._drain()
        tracker = self.sc.statusTracker()
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "input_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0,
        }
        for jid in tracker.getJobIdsForGroup(group_id):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                seq = self.store.stageData(sid, False, self._empty_list, False, self._no_quantiles)
                for i in range(seq.size()):
                    st = seq.apply(i)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["input_bytes"] += st.inputBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out["gc_ms"] += st.jvmGcTime()
        return out

    def cache_state(self) -> tuple[int, float]:
        """Persisted RDD count and their in-memory + on-disk MB."""
        n = self.jsc.getPersistentRDDs().size()
        infos = self.jsc.sc().getRDDStorageInfo()
        mb = sum((r.memSize() + r.diskSize()) for r in infos) / MB
        return n, mb

    def old_gen_peak_mb(self, reset: bool = False) -> float:
        """Peak use of the JVM's old generation since the last reset, in
        MB: what outlived young collections (persisted and cached data,
        broadcast tables). Unlike the process RSS it does not depend on
        how far the collector has grown the committed heap."""
        peak = 0.0
        for pool in self.sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
            if "Old Gen" in pool.getName() or "Tenured" in pool.getName():
                peak += pool.getPeakUsage().getUsed() / MB
                if reset:
                    pool.resetPeakUsage()
        return peak
