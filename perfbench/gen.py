"""Seeded input generators owned by the benchmark.

These are ports of the closed forms the program's own synthetic generators
use (per-column ``xxhash64`` expressions of row indices over ``spark.range``),
kept here so that a change to the program cannot change the benchmark's
inputs. Every column is a pure function of (seed, row indices): the same
seed gives bit-identical tables whatever the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The number of turns per conversation always comes from this seed, so every
# seed gives the same table shape (the same work per run); the run's seed
# varies every value in it.
SHAPE_SEED = 42
BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
CONV_SPACING_US = 7_200_000_000  # 2 h between conversation starts
STEP_US = 500_000
JITTER_US = 300_000
BLOCK = 9
LONG_GAP_US = 3_600_000_000

_VOCAB = (
    "the quick brown fox jumps over lazy dog spark shuffle partition arrow "
    "kernel feature vector session gap window lag lead backfill probe join "
    "naïve café 数据 流 🙂 tensor batch "
)
# tool names in flag-bit order; the program maps each to one flag bit
TOOLS = ("finish", "search", "retry", "python", "answer", "browse", "write", "edit")


def _h(*cols) -> F.Column:
    return F.abs(F.xxhash64(*[F.lit(c) if isinstance(c, (str, int)) else c for c in cols]))


def transcripts(
    spark: SparkSession, n_convs: int, turns_mean: int, hot_factor: int, seed: int
) -> DataFrame:
    """(conv_id, turn_idx, role, text, tool, ts): 2..2*mean turns per conv,
    every 37th conv single-turn, conv 0 hot (mean * hot_factor turns), ts ties,
    zero-duration convs, long gaps opening extra sessions, empty texts."""
    s = F.lit(seed)
    cid = F.col("cid")
    n_turns = (
        F.when(cid == 0, F.lit(turns_mean * hot_factor))
        .when(cid % 37 == 3, F.lit(1))
        .otherwise(2 + F.pmod(_h(F.lit(SHAPE_SEED), "nt", cid), F.lit(2 * turns_mean - 1)))
    )
    df = (
        spark.range(n_convs).withColumnRenamed("id", "cid")
        .withColumn("turn_idx", F.explode(F.sequence(F.lit(0), n_turns - 1)))
    )
    i = F.col("turn_idx")
    tie = (F.pmod(_h(s, "tie", cid, i), F.lit(13)) == 0) & (i > 0)
    eff = i - tie.cast("int")
    gappy = F.pmod(_h(s, "gappy", cid), F.lit(4)) == 0
    frozen = cid % 53 == 7
    ts_us = (
        F.lit(BASE_US) + cid * F.lit(CONV_SPACING_US)
        + F.when(frozen, F.lit(0)).otherwise(
            eff * F.lit(STEP_US)
            + F.pmod(_h(s, "j", cid, eff), F.lit(JITTER_US))
            + F.when(
                gappy, (eff / F.lit(BLOCK)).cast("long") * F.lit(LONG_GAP_US)
            ).otherwise(F.lit(0))
        )
    )
    role = (
        F.when(F.pmod(_h(s, "mono", cid), F.lit(23)) == 0, F.lit("assistant"))
        .when(F.pmod(_h(s, "role", cid, i), F.lit(10)) <= 4, F.lit("user"))
        .when(F.pmod(_h(s, "role", cid, i), F.lit(10)) <= 8, F.lit("assistant"))
        .otherwise(F.lit("system"))
    )
    text = F.when(F.pmod(_h(s, "empty", cid, i), F.lit(29)) == 0, F.lit("")).otherwise(
        F.substring(
            F.lit(_VOCAB * 3),
            (F.pmod(_h(s, "off", cid, i), F.lit(80)) + 1).cast("int"),
            (1 + F.pmod(_h(s, "len", cid, i), F.lit(160))).cast("int"),
        )
    )
    tool = F.when(
        F.pmod(_h(s, "hastool", cid, i), F.lit(3)) == 0,
        F.element_at(
            F.array(*[F.lit(t) for t in TOOLS]),
            (F.pmod(_h(s, "tool", cid, i), F.lit(len(TOOLS))) + 1).cast("int"),
        ),
    ).otherwise(F.lit(None).cast("string"))
    return df.select(
        F.format_string("conv%08d", cid).alias("conv_id"),
        i.cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_micros(ts_us.cast("long")).alias("ts"),
    )


def probes(
    spark: SparkSession, n_convs: int, per_entity: int, seed: int
) -> DataFrame:
    """(entity_id, probe_ts) for every conv plus 5 ghost entities: probe 0
    precedes the conv, probe 1 sits on a turn's nominal timestamp, the rest
    spread across the conversation."""
    s = F.lit(seed)
    cid, p = F.col("cid"), F.col("pidx")
    df = spark.range(n_convs + 5).withColumnRenamed("id", "cid").withColumn(
        "pidx", F.explode(F.sequence(F.lit(0), F.lit(per_entity - 1)))
    )
    start = F.lit(BASE_US) + cid * F.lit(CONV_SPACING_US)
    eff_hit = (p * 3).cast("long")
    probe_us = (
        F.when(p == 0, start - F.lit(60_000_000))
        .when(
            p == 1,
            start + eff_hit * F.lit(STEP_US)
            + F.pmod(_h(s, "j", cid, eff_hit), F.lit(JITTER_US)),
        )
        .otherwise(
            start + p.cast("long") * F.lit(STEP_US * 7)
            + F.pmod(_h(s, "p", cid, p), F.lit(STEP_US * 20))
        )
    )
    return df.select(
        F.format_string("conv%08d", cid).alias("entity_id"),
        F.timestamp_micros(probe_us.cast("long")).alias("probe_ts"),
    )
