"""Traced-run instrumentation, installed from the benchmark's files only.

- Spans ``(name, start, end, parent, op)`` around the benchmark's calls into
  the engine and the plans, and around ``StateStore``'s public table and
  commit methods (wrapped on the class while a ``Tracer`` is installed).
- A counter around py4j's ``send_command``: every Python-to-JVM round trip.
- The Spark event log (written uncompressed), folded into per-operation and
  per-run Spark metrics by job submission time.

Spans stay in memory; ``Tracer.dump`` writes them out at the end.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

#: StateStore public methods by the layer metric they feed
STATE_METHODS = {
    "get": "read",
    "get_parts": "read",
    "get_append": "read",
    "nonempty_buckets": "read",
    "append_segment_count": "read",
    "put": "write",
    "put_parts": "write",
    "append_parts": "write",
    "clear_parts": "write",
    "commit": "commit",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.py4j_s = 0.0
        #: time spent in the tracer's own bookkeeping
        self.self_s = 0.0
        self.buckets_written = 0
        self.buckets_existing = 0
        self._lock = threading.Lock()
        self._op: str | None = None
        self._undo: list = []

    # -- spans ---------------------------------------------------------------

    def _record(self, name, start, end, parent=None) -> None:
        """``parent`` is the id of the operation span a layer call ran under."""
        t = time.perf_counter()
        with self._lock:
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, "op": self._op}
            )
            self.self_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Span around one benchmark call. With ``op`` it is an operation
        span, naming the batch or job that later spans are attributed to;
        without, it is a child of the current operation."""
        parent = None if op is not None else self._op
        if op is not None:
            self._op = op
        start = time.time()
        try:
            yield
        finally:
            self._record(name, start, time.time(), parent)

    # -- installation --------------------------------------------------------

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        from flink_cooccurrence_spark.streaming.state import StateStore

        self._per_call_s = self._wrapper_cost()
        self._nonempty_buckets = StateStore.nonempty_buckets
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            self._wrap_py4j(cls)
        for meth, kind in STATE_METHODS.items():
            self._wrap_state(StateStore, meth, kind)

    def _wrapper_cost(self, n: int = 2000) -> float:
        """Per-call cost of a counting wrapper, measured on a no-op."""

        class Noop:
            def send_command(self, command):
                return command

        bare = Noop()
        t = time.perf_counter()
        for _ in range(n):
            bare.send_command(None)
        base = time.perf_counter() - t
        self._wrap_py4j(Noop)
        t = time.perf_counter()
        for _ in range(n):
            bare.send_command(None)
        cost = (time.perf_counter() - t - base) / n
        self.uninstall()
        self.py4j_calls, self.py4j_s = 0, 0.0
        return max(cost, 0.0)

    def overhead_s(self) -> float:
        """The tracer's own cost: span bookkeeping plus the measured wrapper
        cost times the wrapped calls. The JVM's event-log writing is not
        included."""
        return self.self_s + self._per_call_s * (self.py4j_calls + len(self.spans))

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._undo):
            setattr(cls, name, orig)
        self._undo = []

    def _patch(self, cls, name, fn) -> None:
        self._undo.append((cls, name, getattr(cls, name)))
        setattr(cls, name, fn)

    def _wrap_py4j(self, cls) -> None:
        orig = cls.send_command
        tracer = self

        def send_command(conn, command, *a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(conn, command, *a, **kw)
            finally:
                dt = time.perf_counter() - t0
                with tracer._lock:
                    tracer.py4j_calls += 1
                    tracer.py4j_s += dt

        self._patch(cls, "send_command", send_command)

    def _wrap_state(self, cls, meth: str, kind: str) -> None:
        orig = getattr(cls, meth)
        tracer = self

        def wrapped(store, *a, **kw):
            start = time.time()
            try:
                return orig(store, *a, **kw)
            finally:
                tracer._record(f"state.{kind}.{meth}", start, time.time(), parent=tracer._op)
                if meth == "put_parts":
                    tracer._count_buckets(store, a, kw)

        self._patch(cls, meth, wrapped)

    def _count_buckets(self, store, a, kw) -> None:
        """Buckets a MERGE rewrote against the buckets its table holds."""
        t = time.perf_counter()
        name = a[0] if a else kw["name"]
        buckets = a[2] if len(a) > 2 else kw["buckets"]
        existing = len(self._nonempty_buckets(store, name))
        with self._lock:
            self.buckets_written += len(buckets)
            self.buckets_existing += max(existing, len(buckets), 1)
            self.self_s += time.perf_counter() - t

    # -- reports -------------------------------------------------------------

    def state_totals(self, t0: float, t1: float) -> dict:
        out = {}
        for kind in ("read", "write", "commit"):
            ss = [
                s for s in self.spans
                if s["name"].startswith(f"state.{kind}.") and t0 <= s["start"] <= t1
            ]
            out[kind] = (sum(s["end"] - s["start"] for s in ss), len(ss))
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


# -- Spark event log -----------------------------------------------------------


def read_event_log(log_dir: str, app_id: str) -> dict:
    """Jobs ``{id: (submit_s, end_s)}`` and finished tasks from an
    uncompressed Spark event log."""
    files = glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")) or glob.glob(
        os.path.join(log_dir, f"*{app_id}*")
    )
    jobs: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    want = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"', '"SparkListenerTaskEnd"')
    for path in sorted(f for f in files if os.path.isfile(f)):
        with open(path) as fh:
            for line in fh:
                head = line[:48]
                if not any(w in head for w in want):
                    continue
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = [e["Submission Time"] / 1000, None, len(e["Stage IDs"])]
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]][1] = e["Completion Time"] / 1000
                else:
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    tasks.append(
                        {
                            "job": stage_job.get(e["Stage ID"]),
                            "stage": e["Stage ID"],
                            "launch": e["Task Info"]["Launch Time"] / 1000,
                            "run_s": m.get("Executor Run Time", 0) / 1000,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1000,
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        }
                    )
    done = {j: (s, e, n) for j, (s, e, n) in jobs.items() if e is not None}
    return {"jobs": done, "tasks": tasks}


def busy_seconds(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[t0, t1]``."""
    clipped = sorted((max(s, t0), min(e, t1)) for s, e in intervals if e > t0 and s < t1)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def spark_window(log: dict, t0: float, t1: float) -> dict:
    """Spark runtime metrics of the jobs submitted within ``[t0, t1]``."""
    jobs = {j: v for j, v in log["jobs"].items() if t0 <= v[0] <= t1}
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    busy = busy_seconds([(s, e) for s, e, _ in jobs.values()], t0, t1)
    run_s = sum(t["run_s"] for t in tasks)
    return {
        "jobs": len(jobs),
        "stages": len({t["stage"] for t in tasks}),
        "tasks": len(tasks),
        "job_busy_s": busy,
        "idle_s": max(t1 - t0 - busy, 0.0),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "parallelism": run_s / busy if busy > 0 else 0.0,
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "input_bytes": sum(t["input"] for t in tasks),
        "output_bytes": sum(t["output"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
    }
