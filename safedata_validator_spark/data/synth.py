"""Deterministic synthetic transcript tables + dimensions.

The analogue of the reference's golden test files (good=0 / bad=94 errors,
test/test_dataset.py:11-24) re-expressed for the transcript schema of
BASELINE.json's input_hint: a 'good' table with zero violations and a 'bad'
table with explicitly planted defects whose exact counts tests assert.

Everything is generated INSIDE Spark from ``spark.range`` + hash-derived
pseudo-randomness (xxhash64 with a fixed seed) — no driver-side row
materialisation, no wall-clock, bit-identical at any parallelism, and the
same generator scales to bench sizes (10^7+ turns) without touching the
driver.

Shape mirrors FIXTURES.md: per-conversation turn counts vary, one
conversation is 'hot' (≥60× median turns) so skew handling is exercised by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from safedata_validator_spark.engine.common import local_table

SEED = 42
BASE_TS = "2024-01-01 00:00:00"

ROLES = ["system", "user", "assistant", "tool"]

#: Deterministic per-turn role grammar used by the generator:
#: turn 1 = system; then the cycle user → assistant → tool → assistant …
#: All adjacent pairs fall inside ALLOWED_TRANSITIONS.
ALLOWED_TRANSITIONS = [
    ["system", "user"],
    ["user", "assistant"],
    ["assistant", "tool"],
    ["assistant", "user"],
    ["tool", "assistant"],
    ["tool", "tool"],
]
ALLOWED_START = ["system"]

TOOLS = [
    ("bash", "shell"),
    ("read", "fs"),
    ("write", "fs"),
    ("grep", "search"),
    ("web", "net"),
]
TOOL_ALIASES = [("shell", "bash"), ("rg", "grep"), ("browser", "web")]

TAXONOMY_NODES = [
    # (node_id, parent_id, name, rank, status) — a small capability tree, the
    # analogue of the truncated GBIF backbone fixture
    # (reference test/fixtures/gbif_backbone_truncator.py).
    (1, None, "capability", "domain", "accepted"),
    (2, 1, "io", "family", "accepted"),
    (3, 1, "compute", "family", "accepted"),
    (4, 2, "filesystem", "genus", "accepted"),
    (5, 2, "network", "genus", "accepted"),
    (6, 3, "shell", "genus", "accepted"),
    (7, 4, "read", "leaf", "accepted"),
    (8, 4, "write", "leaf", "accepted"),
    (9, 5, "web", "leaf", "accepted"),
    (10, 6, "bash", "leaf", "accepted"),
    (11, 4, "grep", "leaf", "accepted"),
    (12, 10, "bash-legacy", "leaf", "synonym"),  # synonym points at canon (taxa.py:474-486)
    (13, 4, "read", "leaf", "doubtful"),  # name+rank collision with node 7
]


def dims(spark: SparkSession) -> dict[str, DataFrame]:
    roles = local_table(
        spark,
        [(r, f"the {r} role", i) for i, r in enumerate(ROLES)],
        "role string, description string, ordered_idx int",
    )
    tools = local_table(spark, TOOLS, "tool string, category string")
    aliases = local_table(spark, TOOL_ALIASES, "alias string, tool string")
    nodes = local_table(
        spark, TAXONOMY_NODES, "node_id int, parent_id int, name string, rank string, status string"
    )
    return {"roles": roles, "tools": tools, "tool_aliases": aliases, "taxonomy_nodes": nodes}


def _h(*cols) -> F.Column:
    return F.xxhash64(*cols, F.lit(SEED))


def transcripts_good(
    spark: SparkSession,
    n_convs: int = 60,
    mean_turns: int = 30,
    hot_factor: int = 60,
) -> DataFrame:
    """Zero-violation transcript table. conv 0 is hot (hot_factor × mean)."""
    convs = spark.range(n_convs).select(
        F.format_string("conv-%05d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_no"),
        F.when(F.col("id") == 0, F.lit(mean_turns * hot_factor))
        .otherwise(5 + F.pmod(_h(F.col("id")), F.lit(2 * mean_turns - 9)))
        .cast("int")
        .alias("n_turns"),
    )
    turns = convs.select(
        "conv_id",
        "conv_no",
        F.explode(F.sequence(F.lit(1), F.col("n_turns"))).alias("turn_idx"),
    )
    h = _h(F.col("conv_id"), F.col("turn_idx"))
    role = (
        F.when(F.col("turn_idx") == 1, F.lit("system"))
        .when(F.pmod(F.col("turn_idx") - 2, F.lit(4)) == 0, F.lit("user"))
        .when(F.pmod(F.col("turn_idx") - 2, F.lit(4)) == 2, F.lit("tool"))
        .otherwise(F.lit("assistant"))
    )
    tool = F.when(
        role == "tool",
        F.element_at(F.array(*[F.lit(t) for t, _ in TOOLS]), (F.pmod(h, F.lit(len(TOOLS))) + 1).cast("int")),
    )
    # Monotone non-decreasing by construction: 90s step dominates 0-29s jitter.
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(BASE_TS))
        + F.col("conv_no") * 3600
        + F.col("turn_idx") * 90
        + F.pmod(h, F.lit(30))
    )
    text = F.concat(
        F.lit("msg "),
        F.col("conv_id"),
        F.lit(" t"),
        F.col("turn_idx").cast("string"),
        F.lit(": "),
        F.repeat(F.lit("lorem ipsum dolor sit amet "), (F.pmod(h, F.lit(5)) + 1).cast("int")),
    )
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        F.rtrim(text).alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


# Planted defects for the bad variant. Each entry: (conv_no, turn_idx,
# column, replacement SQL literal description). Chosen so cascades are
# known: see tests/test_golden.py for the per-rule expected counts.
def transcripts_bad(spark: SparkSession, n_convs: int = 60, mean_turns: int = 30) -> DataFrame:
    """Good table + explicitly planted violations (FIXTURES.md §1 table)."""
    df = transcripts_good(spark, n_convs=n_convs, mean_turns=mean_turns)

    def at(cno: int, tno: int):
        return (F.col("conv_id") == f"conv-{cno:05d}") & (F.col("turn_idx") == tno)

    df = df.withColumn(
        "text",
        F.when(at(1, 3), F.lit(None))  # NULL text
        .when(at(1, 5), F.lit("   "))  # whitespace-only text
        .when(at(2, 2), F.lit("NA"))  # NA sentinel
        .when(at(2, 4), F.lit("#DIV/0!"))  # excel error sentinel
        .otherwise(F.col("text")),
    )
    df = df.withColumn(
        "role",
        F.when(at(3, 2), F.lit(" user"))  # padded role (also undeclared level)
        .when(at(4, 2), F.lit("operator"))  # undeclared level
        .otherwise(F.col("role")),
    )
    df = df.withColumn(
        "tool",
        F.when(at(5, 4), F.lit("quantum-sdk"))  # unknown tool
        .when(at(6, 4), F.lit("shell"))  # alias of bash
        .otherwise(F.col("tool")),
    )
    df = df.withColumn(
        "turn_idx",
        F.when((F.col("conv_id") == "conv-00008") & (F.col("turn_idx") >= 5), F.col("turn_idx") + 1)
        .otherwise(F.col("turn_idx"))  # gap at 5 in conv 8
        .cast("int"),
    )
    df = df.withColumn(
        "ts",
        F.when(at(9, 6), F.col("ts") - F.expr("INTERVAL 1 HOUR"))  # ts decrease
        .when(at(10, 1), F.to_timestamp(F.lit("2021-06-01 00:00:00")))  # soft-bound breach
        .when(at(11, 1), F.to_timestamp(F.lit("2019-06-01 00:00:00")))  # hard-bound breach
        .otherwise(F.col("ts")),
    )
    # mid-conversation grammar break: tool→user and user→user both forbidden
    df = df.withColumn(
        "role", F.when(at(12, 5), F.lit("user")).otherwise(F.col("role"))
    )
    # duplicate (conv_id, turn_idx): replay conv 7 turn 2
    dupe = df.where(at(7, 2))
    return df.unionByName(dupe)


def transcripts_scaled(
    spark: SparkSession,
    n_turns: int,
    turns_per_conv: int = 50,
    hot_fraction: float = 0.05,
) -> DataFrame:
    """Bench-scale generator: ``n_turns`` total, fixed-size conversations plus
    ONE hot conversation holding ``hot_fraction`` of all turns — the skew the
    north rule requires the ordering rules to survive. Pure column
    expressions over ``spark.range``; generation cost is embarrassingly
    parallel and deterministic at any core count."""
    n_hot = int(n_turns * hot_fraction)
    n_norm = n_turns - n_hot

    norm = spark.range(n_norm).select(
        F.format_string("conv-%09d", (F.col("id") / turns_per_conv).cast("long") + 1).alias("conv_id"),
        ((F.col("id") / turns_per_conv).cast("long") + 1).alias("conv_no"),
        (F.pmod(F.col("id"), F.lit(turns_per_conv)) + 1).cast("int").alias("turn_idx"),
    )
    hot = spark.range(n_hot).select(
        F.lit("conv-hot-000").alias("conv_id"),
        F.lit(0).cast("long").alias("conv_no"),
        (F.col("id") + 1).cast("int").alias("turn_idx"),
    )
    turns = norm.unionByName(hot)

    h = _h(F.col("conv_id"), F.col("turn_idx"))
    role = (
        F.when(F.col("turn_idx") == 1, F.lit("system"))
        .when(F.pmod(F.col("turn_idx") - 2, F.lit(4)) == 0, F.lit("user"))
        .when(F.pmod(F.col("turn_idx") - 2, F.lit(4)) == 2, F.lit("tool"))
        .otherwise(F.lit("assistant"))
    )
    tool = F.when(
        role == "tool",
        F.element_at(F.array(*[F.lit(t) for t, _ in TOOLS]), (F.pmod(h, F.lit(len(TOOLS))) + 1).cast("int")),
    )
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(BASE_TS))
        + F.pmod(F.col("conv_no"), F.lit(86400)) * 60
        + F.col("turn_idx") * 90
        + F.pmod(h, F.lit(30))
    )
    text = F.concat(
        F.lit("msg "),
        F.col("conv_id"),
        F.lit(" t"),
        F.col("turn_idx").cast("string"),
        F.lit(": "),
        F.repeat(F.lit("lorem ipsum dolor sit amet "), (F.pmod(h, F.lit(5)) + 1).cast("int")),
    )
    return turns.select(
        "conv_id",
        "turn_idx",
        role.alias("role"),
        F.rtrim(text).alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def documents_scaled(
    spark: SparkSession,
    n_docs: int,
    n_words: int = 20,
    vocab: int = 50_000,
    neardup_every: int = 50,
) -> DataFrame:
    """Bench-scale document corpus for the dedup/curation operators:
    ``n_docs`` rows of ``n_words`` synthetic tokens drawn from a ``vocab``-id
    space by hash mixing — pure column expressions over ``spark.range``
    (embarrassingly parallel, deterministic at any core count, like
    ``transcripts_scaled``).

    Near-dup structure: every ``neardup_every``-th EVEN doc id shares its
    first ``n_words - 2`` words with ``id + 1`` (the pair differs only in
    the last two words), giving word-3-shingle Jaccard ≈ 0.64 — above the
    0.5 pipeline threshold, so the planted pairs are exactly the pairs
    MinHash-LSH must find and exact verification must confirm. Everything
    else is hash-random and collides only by chance."""
    paired = (F.pmod(F.col("id"), F.lit(neardup_every)) == 1) & (F.col("id") > 0)
    content_id = F.when(paired, F.col("id") - 1).otherwise(F.col("id"))
    words = [
        F.format_string(
            "w%05d",
            F.pmod(
                _h(
                    # the last two words mutate on the paired twin
                    F.when(paired & (F.lit(i) >= n_words - 2), F.col("id")).otherwise(content_id),
                    F.lit(i),
                ),
                F.lit(vocab),
            ),
        )
        for i in range(n_words)
    ]
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *words).alias("text"),
    )
