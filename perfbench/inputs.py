"""Seeded benchmark inputs and the ledger of what each input must produce.

Two input families:

* transcripts for ``validate_bulk``: 50-turn conversations spread over 30
  calendar days (the verdict scope) plus one hot conversation holding 5% of
  all turns, built on ``data.synth.transcripts_scaled`` and re-timed so that
  a 50-turn conversation stays inside its day. The clean table is shared by
  every seed; the seed adds ~0.1% more conversations, each carrying one
  planted defect, and picks their kinds, turns and days.
* documents for ``curate_dedup``: 20-word documents over a 50k-word
  vocabulary; the seed draws the words and picks near-duplicate groups of
  2-4 documents. They are drawn in Python and written with pyarrow, which
  keeps a per-seed input out of Spark and off the run's clock.

Inputs are written once as parquet under the work directory and reused.
The cache key holds the generator source hash, the seed and the size, and
a reused directory must still hold the expected row count: a directory
left half-written by a killed run reads fine with rows missing.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import inspect
import os
import random
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from safedata_validator_spark.data import synth

TURNS = 120_000
DAYS = 30
TURNS_PER_CONV = 50
HOT_FRACTION = 0.05
#: share of conversations that carry one planted defect
DEFECT_SHARE = 0.001
FIRST_DAY = "2024-03-01"

DOCS = 20_000
DOC_WORDS = 20
VOCAB = 50_000
#: one near-duplicate group per this many documents
DOCS_PER_GROUP = 60
#: parquet files an Arrow-built input is written as
ARROW_FILES = 4

#: planted defect kind → {rule_id: violations it causes}. Cascades follow
#: the golden ledger in tests/test_golden.py: a replayed turn also breaks
#: the sequence and forms a forbidden same-role edge with its twin; a
#: mid-conversation role swap breaks the edge into and out of the turn.
DEFECT_RULES = {
    "gap": {"turn_idx.sequential": 1},
    "dup": {"key.unique": 1, "turn_idx.sequential": 1, "role.grammar": 1},
    "role": {"role.grammar": 2},
    "tool": {"tool.ref_integrity": 1},
    "ts": {"ts.monotone": 1},
    "blank": {"text.not_blank": 1},
}


def _defect_turn(kind: str, rng: random.Random) -> int:
    """Turn a defect hits, inside a 50-turn conversation. The role cycle is
    system, then user/assistant/tool/assistant from turn 2 on, so turn k is
    a tool turn when k % 4 == 0 and an assistant turn between a tool turn
    and a user turn when k % 4 == 1."""
    if kind == "tool":
        return rng.choice([k for k in range(8, 46) if k % 4 == 0])
    if kind == "role":
        return rng.choice([k for k in range(9, 46) if k % 4 == 1])
    if kind == "dup":
        # a replayed tool turn would form the allowed tool→tool edge
        return rng.choice([k for k in range(6, 46) if k % 4 != 0])
    return rng.randrange(6, 46)


def day_name(day: int) -> str:
    return (dt.date.fromisoformat(FIRST_DAY) + dt.timedelta(days=day)).isoformat()


def transcripts(
    spark: SparkSession,
    n_turns: int,
    prefix: str = "",
    hot_fraction: float = HOT_FRACTION,
    day_shift: int = 0,
) -> DataFrame:
    """``transcripts_scaled`` re-timed: conversation c runs on day
    (c - 1 + day_shift) % DAYS, starting at most 20 h into the day, 90 s a
    turn; the hot conversation starts on the first day at 01:00 and steps
    60 s a turn across days. Conversation ids get ``prefix``."""
    base = synth.transcripts_scaled(
        spark, n_turns, turns_per_conv=TURNS_PER_CONV, hot_fraction=hot_fraction
    )
    hot = F.col("conv_id") == "conv-hot-000"
    conv_no = F.when(hot, F.lit(0)).otherwise(F.substring("conv_id", 6, 9).cast("long"))
    # keep transcripts_scaled's 0-29 s per-turn jitter on the 90 s steps:
    # recover it from its timestamp formula, then re-base the turn
    jitter = (
        F.unix_timestamp("ts")
        - F.unix_timestamp(F.lit(synth.BASE_TS))
        - F.pmod(conv_no, F.lit(86400)) * 60
        - F.col("turn_idx") * 90
    )
    day = F.pmod(conv_no - 1 + day_shift, F.lit(DAYS))
    start = F.pmod(F.floor((conv_no - 1) / DAYS), F.lit(1200)) * 60
    offset = F.when(hot, F.col("turn_idx") * 3).otherwise(
        day * 86400 + start + F.col("turn_idx") * 90 + jitter
    )
    return base.select(
        F.concat(F.lit(prefix), "conv_id").alias("conv_id"),
        "turn_idx",
        "role",
        "text",
        "tool",
        F.timestamp_seconds(F.unix_timestamp(F.lit(f"{FIRST_DAY} 00:00:00")) + offset)
        .alias("ts"),
    )


def n_base_convs(n_turns: int) -> int:
    return (n_turns - int(n_turns * HOT_FRACTION)) // TURNS_PER_CONV


def defects(seed: int, n_turns: int) -> tuple[int, list[tuple[int, str, int]]]:
    """(day_shift, [(conversation number, kind, turn)]) of the defective
    conversations the seed adds to a table of ``n_turns`` clean turns."""
    rng = random.Random(f"bulk:{seed}")
    n = max(1, round(DEFECT_SHARE * n_base_convs(n_turns)))
    shift = rng.randrange(DAYS)
    out = []
    for c in range(1, n + 1):
        kind = rng.choice(sorted(DEFECT_RULES))
        out.append((c, kind, _defect_turn(kind, rng)))
    return shift, out


def ledger(seed: int, n_turns: int) -> dict:
    """What validating the table must report: violations per rule, the
    failing day scopes (every planted defect is an ERROR) and the rows."""
    shift, planted = defects(seed, n_turns)
    counts: dict[str, int] = {}
    for _, kind, _ in planted:
        for rule, n in DEFECT_RULES[kind].items():
            counts[rule] = counts.get(rule, 0) + n
    return {
        "counts": counts,
        "failing_scopes": {day_name((c - 1 + shift) % DAYS) for c, _, _ in planted},
        "n_rows": n_turns + defect_rows(seed, n_turns),
    }


def defect_rows(seed: int, n_turns: int) -> int:
    _, planted = defects(seed, n_turns)
    return len(planted) * TURNS_PER_CONV + sum(kind == "dup" for _, kind, _ in planted)


def defective(spark: SparkSession, seed: int, n_turns: int) -> DataFrame:
    """The seed's extra conversations, one planted defect each."""
    shift, planted = defects(seed, n_turns)
    prefix = f"s{seed}-"
    df = transcripts(spark, len(planted) * TURNS_PER_CONV, prefix, hot_fraction=0.0, day_shift=shift)
    plant = spark.createDataFrame(
        [(f"{prefix}conv-{c:09d}", kind, k) for c, kind, k in planted],
        "conv_id string, __kind string, __k int",
    )
    df = df.join(F.broadcast(plant), "conv_id")
    kind, at = F.col("__kind"), F.col("turn_idx") == F.col("__k")
    out = df.select(
        "conv_id",
        F.when((kind == "gap") & (F.col("turn_idx") >= F.col("__k")), F.col("turn_idx") + 1)
        .otherwise(F.col("turn_idx"))
        .cast("int")
        .alias("turn_idx"),
        F.when((kind == "role") & at, F.lit("user")).otherwise(F.col("role")).alias("role"),
        F.when((kind == "blank") & at, F.lit("   ")).otherwise(F.col("text")).alias("text"),
        # one unknown value per defect: ref_integrity reports distinct values
        F.when((kind == "tool") & at, F.concat(F.lit("unknown-"), F.col("conv_id")))
        .otherwise(F.col("tool"))
        .alias("tool"),
        F.when((kind == "ts") & at, F.col("ts") - F.expr("INTERVAL 200 SECONDS"))
        .otherwise(F.col("ts"))
        .alias("ts"),
    )
    replayed = df.where((kind == "dup") & at).select(*out.columns)
    return out.unionByName(replayed)


def doc_groups(seed: int, n_docs: int) -> list[list[int]]:
    """Planted near-duplicate groups (2-4 doc ids each, disjoint); the first
    id of a group is the document the others copy."""
    rng = random.Random(f"dedup:{seed}")
    sizes = [rng.randint(2, 4) for _ in range(max(1, n_docs // DOCS_PER_GROUP))]
    ids = rng.sample(range(n_docs), sum(sizes))
    groups, i = [], 0
    for s in sizes:
        groups.append(ids[i : i + s])
        i += s
    return groups


def documents(seed: int, n_docs: int, groups: list[list[int]]):
    """``n_docs`` documents as an Arrow table, drawn in this process without
    a Spark job; every non-first member of a group copies its group's first
    document except for the last word, which gives a 5-word shingle Jaccard
    of 15/17 against every other member."""
    import pyarrow as pa

    rng = random.Random(f"docs:{seed}")
    words = [[rng.randrange(VOCAB) for _ in range(DOC_WORDS)] for _ in range(n_docs)]
    for g in groups:
        src = words[g[0]]
        for m in g[1:]:
            last = rng.randrange(VOCAB - 1)
            words[m] = src[:-1] + [last + (last >= src[-1])]
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": [" ".join(f"w{w:05d}" for w in ws) for ws in words],
    })


def _generator_hash() -> str:
    src = inspect.getsource(sys.modules[__name__]) + inspect.getsource(synth)
    return hashlib.sha256(src.encode()).hexdigest()[:10]


def parquet_rows(path: str) -> int:
    """Rows in a parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def cached(cache_dir: str, key: str, n_rows: int, build) -> str:
    """Path of the parquet directory for ``key``, written by ``build()`` on a
    miss or when the stored row count is not ``n_rows``. ``build`` returns a
    DataFrame or an Arrow table; a table is written as ``ARROW_FILES``
    files, as many as a Spark job on a 4-core host writes, so that a scan of
    it has as many splits."""
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"{key}-g{_generator_hash()}")
    if os.path.isdir(path) and parquet_rows(path) == n_rows:
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    out = build()
    if isinstance(out, DataFrame):
        out.write.mode("overwrite").parquet(tmp)
    else:
        os.makedirs(tmp)
        step = -(-out.num_rows // ARROW_FILES)
        for i in range(ARROW_FILES):
            pq.write_table(out.slice(i * step, step), os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, path)
    if parquet_rows(path) != n_rows:
        raise RuntimeError(f"generated {path} does not hold {n_rows} rows")
    return path
