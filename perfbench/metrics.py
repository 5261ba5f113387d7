"""Names, units and directions of every metric the benchmark reports; the
selftest holds ``BENCHMARK.json`` to these lists."""

from __future__ import annotations

#: (name, unit, better) of the end-to-end metrics, printed with --trace 0
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_cpu_s", "s", "lower"),
    ("rows_per_cpu_s", "1/s", "higher"),
    ("ok_ratio", "ratio", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

#: (metric, unit, better) of one phase, read from its spans and the Spark
#: status store. shuffle_read_bytes is left out: within one operation it
#: equals the shuffle bytes written.
PHASE_METRICS = {
    "wall_s": ("s", "lower"),
    "py4j_calls": ("count", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "executor_run_s": ("s", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "input_records": ("count", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
}

_OP = ["wall_s", "py4j_calls", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
       "input_records", "shuffle_write_bytes"]
_PROBE = ["wall_s", "jobs", "executor_run_s", "input_records", "shuffle_write_bytes",
          "spill_bytes"]

#: phase → metrics reported for it. Phases inside one operation come from
#: spans around the engine's public calls. The family probes run one rule
#: family at a time through ValidationEngine.violations, and the checkpoint
#: phases come from one CLI request (``cli.main``), both outside the timed
#: operations.
PHASES = {
    "session.build": ["wall_s", "py4j_calls", "jobs"],
    "op": ["wall_s", "py4j_calls", "jobs"],
    "validator.call": _OP,
    "validator.violations": _OP,
    "validator.verdicts": _OP,
    "validator.stats": _OP,
    "cli.main": ["wall_s", "jobs"],
    "checkpoint.resumable_call": _OP,
    "checkpoint.pending": _OP,
    "checkpoint.record": ["wall_s", "jobs"],
    "rules.row_scan": _PROBE,
    "ordering.sequential": _PROBE,
    "ordering.adjacency": _PROBE,
    "referential.categorical": _PROBE,
    "extents": _PROBE,
    "profiler.profile": _PROBE,
    "dedup.minhash": _OP,
    "dedup.components": _OP,
    "dedup.collect": ["wall_s"],
}

#: metrics derived from several phases: (name, unit, better)
DERIVED = [
    ("validator.fact_reads", "ratio", "lower"),
    ("dedup.components.rounds", "count", "lower"),
    ("dedup.lsh_precision", "ratio", "higher"),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.phase_coverage", "ratio", "higher"),
]


def per_layer() -> list[tuple[str, str, str]]:
    out = [
        (f"{phase}.{m}", *PHASE_METRICS[m]) for phase, ms in PHASES.items() for m in ms
    ]
    return out + DERIVED
