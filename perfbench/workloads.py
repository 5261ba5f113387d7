"""The benchmark's workloads: how each one prepares its inputs, what one
operation is, how its output is checked, and which engine calls a traced
run wraps in spans.

``validate_bulk`` validates a 120k-turn table with the transcript rule set
scoped per day, stats on, then persists the violations and writes
violations, verdicts and stats to the noop sink. Its fact passes (row-rule
scan, scope aggregate, categorical counts, sequential screen and drilldown,
and the adjacency shuffle with a hot conversation) carry the data-dependent
share of the time; the rest is the driver's plan build and per-job floors.
Its traced run adds one probe per rule family and a probe of the CLI's
``--manifest --out`` flow, the only path that writes files and keeps a
checkpoint manifest.

``curate_dedup`` is MinHash-LSH near-duplicate detection plus duplicate
clusters with the catalog's settings. It runs ``functions/dedup``, which
the validation workload never touches, so a validation change must predict
no change here and the reverse.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time

from pyspark.sql import functions as F

from perfbench import inputs

SCOPE = "date_format(ts,'yyyy-MM-dd')"


def check_validation(seen: dict, want: dict) -> list[str]:
    """Problems of one validation's outputs against the planted ledger.
    Both dicts hold counts (rule_id → violations), failing_scopes and
    n_rows (rows over all verdict scopes)."""
    return [
        f"{k}: got {seen.get(k)!r}, want {v!r}" for k, v in want.items() if seen.get(k) != v
    ]


def check_clusters(seen: list[list[int]], groups: list[list[int]]) -> list[str]:
    """Every planted group must come back as exactly one cluster, and no
    cluster may hold anything but one planted group."""
    got = {frozenset(c) for c in seen}
    want = {frozenset(g) for g in groups}
    problems = []
    if len(seen) != len(got):
        problems.append(f"{len(seen) - len(got)} duplicate clusters")
    missing, extra = want - got, got - want
    if missing:
        problems.append(f"{len(missing)} planted groups not recovered, e.g. {sorted(next(iter(missing)))}")
    if extra:
        problems.append(f"{len(extra)} clusters that are no planted group, e.g. {sorted(next(iter(extra)))}")
    return problems


class ValidateBulk:
    name = "validate_bulk"
    #: warm sessions an untraced run times, at least: one operation outlasts
    #: ``run_seconds``, and the benchmark's time budget allows one
    min_sessions = 1

    def __init__(self, work: str, seed: int, scale: float):
        self.seed = seed
        self.n_turns = max(2_000, int(inputs.TURNS * scale))
        self.cache = os.path.join(work, "cache")
        self.run_dir = os.path.join(work, f"run-{self.name}-{seed}-{os.getpid()}")
        self.table = os.path.join(self.run_dir, "table")
        self.want = inputs.ledger(seed, self.n_turns)

    def prepare(self, spark) -> None:
        from safedata_validator_spark.rules.presets import transcript_ruleset

        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.table)
        # the clean table is the same for every seed; the seed's defective
        # conversations are one more file in the table directory
        clean = inputs.cached(
            self.cache,
            f"transcripts-n{self.n_turns}",
            self.n_turns,
            # clustered by conversation, as a production layout would be
            lambda: inputs.transcripts(spark, self.n_turns)
            .repartition(16, "conv_id")
            .sortWithinPartitions("conv_id", "turn_idx"),
        )
        bad = inputs.cached(
            self.cache,
            f"defects-s{self.seed}-n{self.n_turns}",
            inputs.defect_rows(self.seed, self.n_turns),
            lambda: inputs.defective(spark, self.seed, self.n_turns).coalesce(1),
        )
        for src, tag in ((clean, "clean"), (bad, "defects")):
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    os.link(os.path.join(src, f), os.path.join(self.table, f"{tag}-{f}"))
        self.ruleset = transcript_ruleset(scope=SCOPE)

    def rows_per_op(self) -> int:
        return self.want["n_rows"]

    def op(self, spark, tracer):
        from bench import materialize
        from safedata_validator_spark.data import synth
        from safedata_validator_spark.engine.validator import ValidationEngine

        df = spark.read.parquet(self.table)
        res = ValidationEngine().validate(df, self.ruleset, synth.dims(spark), with_stats=True)
        res.violations.persist()
        with tracer.span("validator.violations"):
            materialize(res.violations)
        with tracer.span("validator.verdicts"):
            materialize(res.verdicts)
        with tracer.span("validator.stats"):
            materialize(res.stats)
        return res

    def observe(self, res) -> dict:
        """Read the run's outputs back (untimed), then free its caches."""
        try:
            counts = {
                r["rule_id"]: r["count"]
                for r in res.violations.groupBy("rule_id").count().collect()
            }
            verdicts = res.verdicts.select("scope", "n_rows", "passed").collect()
        finally:
            res.violations.unpersist(blocking=True)
            res.unpersist()
        return {
            "counts": counts,
            "failing_scopes": {v["scope"] for v in verdicts if not v["passed"]},
            "n_rows": sum(dict((v["scope"], v["n_rows"]) for v in verdicts).values()),
        }

    def check(self, res) -> list[str]:
        return check_validation(self.observe(res), self.want)

    def trace(self, tracer) -> None:
        from safedata_validator_spark.engine import checkpoint
        from safedata_validator_spark.engine.validator import ValidationEngine
        from safedata_validator_spark.sources import tables

        tracer.wrap(ValidationEngine, "validate", "validator.call")
        # the CLI probe's calls
        tracer.wrap(tables, "load_table", "sources.load")
        tracer.wrap(
            tables, "write_results", lambda df, ref, **kw: "cli.write." + os.path.basename(ref)
        )
        tracer.wrap(ValidationEngine, "validate_resumable", "checkpoint.resumable_call")
        tracer.wrap(checkpoint, "pending_partitions", "checkpoint.pending")
        tracer.wrap(checkpoint.CheckpointManifest, "record", "checkpoint.record")

    def probes(self, spark, tracer) -> dict:
        """One rule family at a time through ValidationEngine.violations, the
        profiler, and one CLI request for the last day of the table against a
        manifest that records every other day."""
        from bench import materialize
        from safedata_validator_spark import cli
        from safedata_validator_spark.data import synth
        from safedata_validator_spark.engine.checkpoint import MANIFEST_DDL, CheckpointManifest
        from safedata_validator_spark.engine.profiler import default_profile_columns, profile
        from safedata_validator_spark.engine.validator import ValidationEngine
        from safedata_validator_spark.rules import registry
        from safedata_validator_spark.rules.model import RuleSet

        full = self.ruleset
        df = spark.read.parquet(self.table)
        dims = synth.dims(spark)
        families = {
            "rules.row_scan": set(registry.ROW_COMPILERS),
            "ordering.sequential": {"sequential", "unique_key"},
            "ordering.adjacency": {"monotone", "transition_grammar"},
            "referential.categorical": {"levels_audit", "ref_integrity"},
            "extents": {"extent", "extent_congruence"},
        }
        engine = ValidationEngine()
        for name, types in families.items():
            rs = RuleSet(name, [r for r in full.rules if r.rule_type in types], full.key_cols, full.scope)
            with tracer.span(name, op="probes"):
                materialize(engine.violations(df, rs, dims))
        with tracer.span("profiler.profile", op="probes"):
            materialize(profile(df, default_profile_columns(df, full), scope=full.scope))

        manifest = os.path.join(self.run_dir, "manifest")
        done = [(inputs.day_name(d), full.content_hash(), "", 0, 0, 0, True, time.time(), "")
                for d in range(inputs.DAYS - 1)]
        CheckpointManifest(manifest).record(spark.createDataFrame(done, MANIFEST_DDL))
        dim_args = []
        for name in ("tools", "tool_aliases"):
            path = os.path.join(self.run_dir, f"dim-{name}")
            dims[name].write.parquet(path)
            dim_args += ["--dim", f"{name}=parquet:{path}"]
        argv = ["--table", f"parquet:{self.table}", "--manifest", manifest, "--scope", SCOPE,
                "--out", os.path.join(self.run_dir, "out"), *dim_args]
        with tracer.span("cli.main", op="cli"), contextlib.redirect_stdout(io.StringIO()):
            cli.main(argv)
        return {}

    def derived(self, phases: dict) -> dict:
        """Fact-table reads per table row in one operation."""
        return {"validator.fact_reads": phases.get("op", {}).get("input_records", 0) / self.want["n_rows"]}

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


class CurateDedup:
    name = "curate_dedup"
    #: two, as the time budget allows: the first warm operation still runs
    #: partly on code the JIT has not compiled yet and spends about a
    #: quarter more CPU time than the second; their median evens out how
    #: far the JIT had got
    min_sessions = 2

    def __init__(self, work: str, seed: int, scale: float):
        self.seed = seed
        self.n_docs = max(500, int(inputs.DOCS * scale))
        self.cache = os.path.join(work, "cache")
        self.groups = inputs.doc_groups(seed, self.n_docs)
        self.rounds: dict = {}

    def prepare(self, spark) -> None:
        self.path = inputs.cached(
            self.cache,
            f"docs-s{self.seed}-n{self.n_docs}",
            self.n_docs,
            lambda: inputs.documents(self.seed, self.n_docs, self.groups),
        )

    def rows_per_op(self) -> int:
        return self.n_docs

    def _pairs(self, docs):
        from safedata_validator_spark import queries
        from safedata_validator_spark.functions import dedup

        return dedup.minhash_lsh_dedup(
            docs, "doc_id", "text",
            n=queries.JACCARD_N, threshold=queries.JACCARD_THRESHOLD,
            max_df=queries.SHINGLE_MAX_DF, adaptive_cut=True,
        )

    def op(self, spark, tracer):
        from safedata_validator_spark.functions import dedup

        clusters = dedup.dup_clusters(self._pairs(spark.read.parquet(self.path)))
        with tracer.span("dedup.collect"):
            rows = clusters.select("member_ids").collect()
        dedup.release(clusters)
        return [r["member_ids"] for r in rows]

    def check(self, clusters) -> list[str]:
        return check_clusters(clusters, self.groups)

    def trace(self, tracer) -> None:
        from safedata_validator_spark.functions import dedup

        tracer.wrap(dedup, "minhash_lsh_dedup", "dedup.minhash")
        tracer.wrap(dedup, "dup_clusters", "dedup.dup_clusters")
        tracer.wrap(dedup, "connected_components", "dedup.components")
        components = dedup.connected_components

        def with_stats(*args, **kwargs):
            kwargs.setdefault("stats", self.rounds)
            return components(*args, **kwargs)

        tracer.patch(dedup, "connected_components", with_stats, components)

    def probes(self, spark, tracer) -> dict:
        """LSH precision: verified pairs over banded candidate pairs."""
        from safedata_validator_spark import queries
        from safedata_validator_spark.functions import dedup

        docs = spark.read.parquet(self.path)
        hashes = dedup.shingle_hash_array(docs, "doc_id", "text", queries.JACCARD_N)
        sig = dedup.signatures_from_hash_arrays(hashes.where(F.size("hs") > 0))
        with tracer.span("dedup.lsh_candidates", op="probes"):
            cand = dedup.lsh_candidate_pairs(sig, num_perm=64)
            n_cand = cand.count()
            dedup.release(cand)
        pairs = self._pairs(docs)
        n_verified = pairs.count()
        dedup.release(pairs)
        return {"dedup.lsh_precision": n_verified / max(n_cand, 1)}

    def derived(self, phases: dict) -> dict:
        return {"dedup.components.rounds": self.rounds.get("rounds", 0)}

    def cleanup(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (ValidateBulk, CurateDedup)}
