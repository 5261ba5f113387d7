"""In-memory spans around calls into the engine's public functions, a py4j
round-trip counter, and attribution of Spark jobs and stages to spans.

Spans are recorded from the benchmark's side only: a traced run replaces
selected module functions and methods with wrappers for its duration and
restores them afterwards, so nothing inside the package changes. A job or
stage belongs to the innermost span whose window holds its submission time.
Time windows, not job groups, decide attribution because ``validate()``
submits jobs from pool threads that carry no job group.

Every metric of a span is inclusive of its child spans.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

#: metrics every span accumulates from the status store
STAGE_METRICS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    """Spans of one benchmark run. ``enabled`` is False on untraced
    operations, where ``span`` records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._py4j = 0
        self._pending: list[dict] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    # -- py4j --------------------------------------------------------------
    def count_py4j(self) -> None:
        with self._lock:
            self._py4j += 1

    def install_py4j_counter(self, gateway_client) -> None:
        cls = type(gateway_client)
        orig = cls.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            if tracer.enabled:
                tracer.count_py4j()
            return orig(client, *args, **kwargs)

        self.patch(cls, "send_command", send_command, orig)

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(),
            "_t0": time.perf_counter(),
            "_py4j0": self._py4j,
            "jobs": 0,
            **{m: 0 for m in STAGE_METRICS},
        }
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()
            s["wall_s"] = time.perf_counter() - s.pop("_t0")
            s["py4j_calls"] = self._py4j - s.pop("_py4j0")
            self.spans.append(s)
            self._pending.append(s)

    def wrap(self, owner, attr: str, name) -> None:
        """Record a span around every call of ``owner.attr``. ``name`` is the
        span name, or a function of the call's arguments returning it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label):
                return orig(*args, **kwargs)

        self.patch(owner, attr, traced, orig)

    def patch(self, owner, attr, new, orig) -> None:
        setattr(owner, attr, new)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- status store --------------------------------------------------------
    def attribute(self, spark) -> None:
        """Charge the current SparkContext's jobs and stages to the spans
        recorded since the last call. Call before the context stops: each
        context has its own status store."""
        spans, self._pending = self._pending, []
        if not spans:
            return
        jobs, stages = status_store(spark)
        by_id = {s["id"]: s for s in self.spans}

        def owner(t_ms):
            t = t_ms / 1000.0
            inside = [s for s in spans if s["start"] <= t <= s["end"]]
            return max(inside, key=lambda s: s["start"]) if inside else None

        def charge(s, key, v):
            # inclusive: the span and every ancestor
            while s is not None:
                s[key] += v
                s = by_id.get(s["parent"])

        for j in jobs:
            if j.get("submissionTime") is not None:
                s = owner(j["submissionTime"])
                if s is not None:
                    charge(s, "jobs", 1)
        for st in stages:
            if st.get("submissionTime") is None:  # skipped: reused output
                continue
            s = owner(st["submissionTime"])
            if s is None:
                continue
            for key, v in stage_metrics(st).items():
                charge(s, key, v)


def stage_metrics(st: dict) -> dict:
    return {
        "tasks": st["numCompleteTasks"],
        "executor_run_s": st["executorRunTime"] / 1e3,
        "executor_cpu_s": st["executorCpuTime"] / 1e9,
        "input_records": st["inputRecords"],
        "shuffle_read_bytes": st["shuffleReadBytes"],
        "shuffle_write_bytes": st["shuffleWriteBytes"],
        "spill_bytes": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
    }


def status_store(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) of the running SparkContext as JSON dicts, serialised
    in the JVM so the read costs two py4j round trips, not thousands."""
    sc = spark.sparkContext
    jvm, jsc = sc._jvm, sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    return jobs, stages


def phase_totals(spans: list[dict], op: str) -> dict[str, dict]:
    """name → summed metrics over the spans of operation ``op``; a name that
    occurs several times in one operation, such as a table load, adds up."""
    out: dict[str, dict] = {}
    for s in spans:
        if s["op"] != op:
            continue
        tot = out.setdefault(s["name"], {})
        for k in ("wall_s", "py4j_calls", "jobs", *STAGE_METRICS):
            tot[k] = tot.get(k, 0) + s[k]
    return out


def coverage(spans: list[dict], op: str, root: str) -> float:
    """Share of the operation span ``root``'s wall time covered by its
    direct child spans."""
    mine = [s for s in spans if s["op"] == op]
    top = next(s for s in mine if s["name"] == root)
    return sum(s["wall_s"] for s in mine if s["parent"] == top["id"]) / top["wall_s"]
