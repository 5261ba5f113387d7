"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. BENCHMARK.json names exactly the workloads and metrics the code has.
2. The output checks reject corrupted outputs, and the run loop counts an
   operation whose check fails as failed (no Spark needed).
3. A smoke run of every workload at a small input size, untraced and
   traced, ends with a well-formed result line whose metric names match
   BENCHMARK.json and whose outputs are all correct.

Exits 0 when every test passes.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMOKE_SCALE = "0.02"


def test_benchmark_json() -> None:
    from perfbench import metrics
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert spec["command"] == ["python3", "perfbench/run.py"], spec["command"]
    assert spec["paths"] == ["perfbench"], spec["paths"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == metrics.per_layer()
    assert len(spec["per_layer"]) <= 128
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_checks_reject_corruption() -> None:
    from perfbench import inputs
    from perfbench.workloads import check_clusters, check_validation

    want = inputs.ledger(seed=7, n_turns=inputs.TURNS)
    assert check_validation(dict(want), want) == []
    rule = next(iter(want["counts"]))
    fewer = dict(want, counts={**want["counts"], rule: want["counts"][rule] - 1})
    assert check_validation(fewer, want)
    extra_scope = dict(want, failing_scopes=want["failing_scopes"] | {"1999-01-01"})
    assert check_validation(extra_scope, want)
    assert check_validation(dict(want, n_rows=want["n_rows"] + 1), want)

    groups = inputs.doc_groups(seed=7, n_docs=inputs.DOCS)
    assert check_clusters([sorted(g) for g in groups], groups) == []
    merged = [groups[0] + groups[1]] + groups[2:]
    assert check_clusters(merged, groups)
    split = [groups[0][:1], groups[0][1:]] + groups[1:]
    assert check_clusters(split, groups)
    assert check_clusters(groups[1:], groups)


class _CorruptWorkload:
    """Stands in for a workload whose operation returns a wrong output."""

    name = "corrupt"
    seed = 0

    def op(self, spark, tracer):
        return [[1, 2, 3]]

    def check(self, out):
        from perfbench.workloads import check_clusters

        return check_clusters(out, [[1, 2], [3, 4]])

    def rows_per_op(self):
        return 4


def test_failed_check_counts_as_failed() -> None:
    from perfbench.run import Run, result_line

    run = Run(_CorruptWorkload(), seconds=1, trace=False)
    assert run._operation(None, "c0", traced=False) is not None
    assert (run.attempted, run.failed) == (1, 1)
    line = result_line(run, {"setup_s": 1.0, "op_cpu_s": 1.0, "rows_per_cpu_s": 1.0,
                             "ok_ratio": 0.0, "peak_rss_mb": 1.0}, trace=False)
    assert line["correct"] is False and line["failed"] == 1


def smoke(workload: str, trace: int) -> None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", SMOKE_SCALE]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def main() -> int:
    sys.path[0] = ROOT
    from perfbench.workloads import WORKLOADS

    tests = [
        (t.__name__, t)
        for t in (test_benchmark_json, test_checks_reject_corruption, test_failed_check_counts_as_failed)
    ]
    tests += [
        (f"smoke {w} trace={t}", functools.partial(smoke, w, t)) for w in WORKLOADS for t in (0, 1)
    ]
    failed = 0
    for label, test in tests:
        try:
            test()
            print(f"ok   {label}", flush=True)
        except Exception as e:  # report every failing test, then fail
            failed += 1
            print(f"FAIL {label}: {type(e).__name__}: {e}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
