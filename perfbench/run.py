"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see perfbench/workloads.py) in a closed loop from this
single client process on Spark ``local[<cores>]``. Every operation runs in
a fresh SparkSession in the same JVM, as a spark-submit per request would
get one; the first session also launches the JVM and its operation is the
cold one. Sessions are started until ``--seconds`` have passed since the
cold operation ended, and at least as often as the workload asks (three
times in a traced run).
Every operation's output is checked against the seeded input's ledger.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones of perfbench/metrics.py:

* ``setup_s``: median of two set-ups, each ``build_session()`` plus that
  session's first operation: the first session's, which includes the JVM
  launch and the cold operation, and the second session's;
* ``op_cpu_s``: median CPU seconds per operation, cold operation excluded,
  of this process and the Spark JVM together (the operations run no Python
  UDFs, so Spark's Python workers are idle). CPU time leaves out the time
  the hypervisor stole and the time a thread waited for a core, which on a
  shared host moved wall time by up to half with no change to the program; each
  operation's wall time is on the stamp line and in the traced run's
  ``op.wall_s``;
* ``rows_per_cpu_s``: input rows (turns or documents) per CPU second of
  operation;
* ``ok_ratio``: operations that completed and passed their check over
  operations attempted (1 − the failure ratio);
* ``peak_rss_mb``: peak resident memory of the Spark JVM.

With ``--trace 1`` sessions alternate between untraced and traced
operations; the metrics are the per-layer ones, the medians over the traced
operations, plus the tracing overhead (traced over untraced operation
time). The spans and their attributed jobs are written to
``.perfbench/traces/``.

On the line before the result, each run is stamped with the share of the
host's CPU time that was idle and that the hypervisor stole during the run
(/proc/stat); a traced run adds bench.py's host probe before and after.

All files go under ``.perfbench/`` in the checkout: input cache, Spark
scratch space, per-run tables and outputs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from typing import NamedTuple

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
#: A traced run makes three sessions after the cold one, at least, and
#: traces the middle one: operations speed up as the JVM's JIT warms, so the
#: overhead compares it with the mean of its untraced neighbours. An
#: untraced run makes as many as its workload's ``min_sessions``.
TRACED_SESSIONS = 3


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size as a share of the workload's default; the selftest's smoke
    # run uses a small one
    p.add_argument("--scale", type=float, default=1.0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def scratch_env() -> dict[str, str]:
    """Keep Spark's and Python's scratch files inside the checkout; returns
    the extra Spark conf that does the same for the JVM."""
    local, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    return {
        "spark.driver.memory": "2g",
        # a heap sized up front: the peak RSS then follows the young
        # generation's cap and the live data, not when the heap was grown
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def start_session(conf: dict):
    from safedata_validator_spark.session import build_session

    n = cores()
    return build_session(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )


def cpu_times() -> dict[str, int]:
    """The host's cumulative CPU time by kind, in clock ticks (/proc/stat)."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), ticks))


def cpu_shares(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """Share of the host's CPU time between two ``cpu_times()`` that went
    idle, and that the hypervisor stole for other guests."""
    d = {k: after[k] - before[k] for k in before}
    total = max(sum(d.values()), 1)
    return {"idle": round(d["idle"] / total, 4), "steal": round(d["steal"] / total, 4)}


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def cpu_s(spark) -> float:
    """CPU seconds this process and the Spark JVM have used so far. Time the
    hypervisor stole, or that a thread waited for a core, is not in it."""
    t = os.times()
    total = t.user + t.system
    if spark is not None:
        with open(f"/proc/{jvm_pid(spark)}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def shutdown(spark) -> None:
    """Stop Spark, the JVM and the Python workers it forked, and wait for
    all of them to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    workers = _children(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if os.path.exists(f"/proc/{w}")]
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Op(NamedTuple):
    """One timed operation: wall seconds, CPU seconds, input rows, traced
    or not."""

    wall: float
    cpu: float
    rows: int
    traced: bool


class Run:
    """One benchmark run: sessions, operations, checks and samples."""

    def __init__(self, workload, seconds: float, trace: bool):
        from perfbench.tracing import Tracer

        self.wl = workload
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.setup: list[float] = []
        self.ops: list[Op] = []
        self.problems: list[str] = []

    def _operation(self, spark, cid: str, traced: bool) -> float | None:
        """One timed operation and its check; None when it raised."""
        self.attempted += 1
        self.tracer.enabled = traced
        try:
            c0, t0 = cpu_s(spark), time.perf_counter()
            with self.tracer.span("op", op=cid):
                out = self.wl.op(spark, self.tracer)
            wall, cpu = time.perf_counter() - t0, cpu_s(spark) - c0
        except Exception:
            self.tracer.enabled = False
            self.failed += 1
            self.problems.append(f"{cid}: {traceback.format_exc()}")
            print(self.problems[-1], file=sys.stderr)
            return None
        self.tracer.enabled = False
        log(f"{cid}: operation took {wall:.2f}s, {cpu:.2f} CPU s")
        if traced:
            self.tracer.attribute(spark)
        problems = self.wl.check(out)
        log(f"{cid}: checked")
        if problems:
            self.failed += 1
            self.problems.extend(f"{cid}: {p}" for p in problems)
            print("\n".join(self.problems[-len(problems):]), file=sys.stderr)
        self.ops.append(Op(wall, cpu, self.wl.rows_per_op(), traced))
        return wall

    def execute(self) -> dict:
        conf = scratch_env()
        t0 = time.perf_counter()
        spark = start_session(conf)
        build = time.perf_counter() - t0
        pid = jvm_pid(spark)
        log(f"session built in {build:.2f}s")
        if self.trace:
            self.tracer.install_py4j_counter(spark.sparkContext._gateway._gateway_client)
            self.wl.trace(self.tracer)
        try:
            least = TRACED_SESSIONS if self.trace else self.wl.min_sessions
            self.wl.prepare(spark)
            log("inputs ready")
            cold = self._operation(spark, "cold", traced=False)
            if cold is not None:
                self.setup.append(build + cold)
            self.ops.clear()  # the cold operation is a set-up sample only
            t_measure = time.perf_counter()
            n = 0
            while n < least or time.perf_counter() - t_measure < self.seconds:
                cid = f"c{n}"
                traced = self.trace and n % 2 == 1
                spark.stop()
                self.tracer.enabled = traced
                t0 = time.perf_counter()
                with self.tracer.span("session.build", op=cid):
                    spark = start_session(conf)
                build = time.perf_counter() - t0
                wall = self._operation(spark, cid, traced)
                if wall is not None and n == 0:
                    self.setup.append(build + wall)
                n += 1
            extra = {}
            if self.trace:
                self.tracer.enabled = True
                extra = self.wl.probes(spark, self.tracer)
                self.tracer.enabled = False
                self.tracer.attribute(spark)
                log("probes done")
            rss = peak_rss_mb(pid)
        finally:
            self.tracer.unpatch()
            shutdown(spark)
            self.wl.cleanup()
            log("Spark stopped")
        return self.trace_metrics(extra) if self.trace else self.e2e_metrics(rss)

    def e2e_metrics(self, rss: float) -> dict:
        return {
            "setup_s": statistics.median(self.setup),
            "op_cpu_s": statistics.median(o.cpu for o in self.ops),
            "rows_per_cpu_s": statistics.median(o.rows / o.cpu for o in self.ops),
            "ok_ratio": (self.attempted - self.failed) / self.attempted,
            "peak_rss_mb": rss,
        }

    def trace_metrics(self, extra: dict) -> dict:
        from perfbench import metrics
        from perfbench.tracing import coverage, phase_totals

        spans = self.tracer.spans
        traced_ops = sorted({s["op"] for s in spans if s["name"] == "op"})
        per_op = [phase_totals(spans, op) for op in traced_ops]
        phases: dict[str, dict] = {}
        for name in {n for p in per_op for n in p}:
            for m in metrics.PHASE_METRICS:
                vals = [p.get(name, {}).get(m, 0) for p in per_op]
                phases.setdefault(name, {})[m] = statistics.median(vals)
        # probes fill in phases the timed operations do not have
        for probe in ("probes", "cli"):
            for name, tot in phase_totals(spans, probe).items():
                phases.setdefault(name, tot)
        values = {
            f"{phase}.{m}": phases.get(phase, {}).get(m, 0)
            for phase, ms in metrics.PHASES.items()
            for m in ms
        }
        traced = [o.wall for o in self.ops if o.traced]
        plain = [o.wall for o in self.ops if not o.traced]
        values.update({name: 0 for name, _, _ in metrics.DERIVED})
        values["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(plain)
        values["trace.phase_coverage"] = statistics.median(
            coverage(spans, op, "op") for op in traced_ops
        )
        values.update(self.wl.derived(phases))
        values.update(extra)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{self.wl.name}-s{self.wl.seed}.json"), "w") as fh:
            json.dump({"spans": spans, "phases": phases, "metrics": values}, fh, indent=1)
        return values


def result_line(run: Run, values: dict, trace: bool) -> dict:
    from perfbench import metrics

    spec = metrics.per_layer() if trace else metrics.END_TO_END
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit, _ in spec},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    from bench import host_probe
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    log("start")
    # bench.py's host probe costs about 4 s a call, which the untraced
    # runs' time budget cannot spare; they are stamped with the host's CPU
    # steal over the run instead
    probe_before = host_probe(cores()) if args.trace else None
    cpu_before = cpu_times()
    run = Run(WORKLOADS[args.workload](WORK, args.seed, args.scale), args.seconds, bool(args.trace))
    values = run.execute()
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores(),
        "op_wall_s": [round(o.wall, 4) for o in run.ops],
        "op_cpu_s": [round(o.cpu, 4) for o in run.ops],
        "setup_s": [round(s, 4) for s in run.setup],
        "host_cpu": cpu_shares(cpu_before, cpu_times()),
        "problems": run.problems[:20],
    }
    if args.trace:
        probe_after = host_probe(cores())
        a, b = probe_before["stream_sec"], probe_after["stream_sec"]
        stamp.update(
            host_probe_before=probe_before,
            host_probe_after=probe_after,
            probe_drift_ratio=round(max(a, b) / max(min(a, b), 1e-9), 3),
        )
    log(f"done; host CPU {stamp['host_cpu']}")
    print(json.dumps({"perfbench_run": stamp}))
    print(json.dumps(result_line(run, values, bool(args.trace))))
    return 0


if __name__ == "__main__":
    # import the repository's modules, not siblings of this script
    sys.path[0] = ROOT
    sys.exit(main())
