"""Seeded workload inputs, staged to parquet before anything is timed.

Every table is a pure function of the seed: ``synth.transcripts`` hashes
(conv_id, turn_idx, seed), and the long tool outputs below hash the same
keys plus the word position.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dp_data_quality_spark import synth
from dp_data_quality_spark.pipeline import with_bucket

# two waves of tasks on a 4-core box; the CLI's default is 256 buckets
N_BUCKETS = 8

# Sizes: a warm pass takes about 3 s on 4 cores, so a whole run, with its
# JVM launch, staging, set-up and warm-up, takes about a minute.  Each table
# keeps its first *_TURNS turns in (conv_id, turn_idx) order, so every seed
# gives the same number of turns; the conversation counts leave many
# standard deviations of room above *_TURNS.
# chat: the two mega-threads are 8% of the turns.
CHAT_TURNS = 5_000
CHAT_CONVS = 700
CHAT_MEGA_TURNS = 200

# longtool: 4-16 KB per turn, about 4 MB of text, at most
# LONGTOOL_CONV_TURNS turns per conversation, so that the text spreads over
# many conversations and the buckets hold similar bytes.
LONGTOOL_TURNS = 400
LONGTOOL_CONVS = 200
LONGTOOL_CONV_TURNS = 4
LONGTOOL_WORDS = (600, 2200)
# one token in PII_EVERY is an email, phone or IP address
PII_EVERY = 24


def _long_tool_text(seed: int) -> F.Column:
    """In-vocabulary English tool output of LONGTOOL_WORDS words, dense with
    emails, phones and IPs.  The 512-char scoring prefix scores as clean
    English, so the turns are kept and the full text reaches scrub and the
    sink."""
    def h(*parts) -> F.Column:
        return F.xxhash64(*[p if isinstance(p, F.Column) else F.lit(p) for p in parts],
                          F.lit(seed))

    def pick(words: list[str], hv: F.Column) -> F.Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.element_at(arr, (F.pmod(hv, F.lit(len(words))) + 1).cast("int"))

    cid, tidx = F.col("conv_id"), F.col("turn_idx")
    lo, hi = LONGTOOL_WORDS
    # the length depends on the turn's position only, not on the seed, so
    # every seed writes about the same bytes and out_bytes_per_turn moves
    # with the code, not with the draw
    n_words = (F.pmod(F.xxhash64(F.lit("lt_n"), cid, tidx), F.lit(hi - lo + 1)) + lo).cast("int")
    pii = synth.PII_EMAILS + synth.PII_PHONES + synth.PII_IPS
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.when(
            F.pmod(h("lt_p", cid, tidx, i), F.lit(PII_EVERY)) == 0,
            pick(pii, h("lt_v", cid, tidx, i)),
        ).otherwise(pick(synth.LANG_VOCAB["en"], h("lt_w", cid, tidx, i))),
    )
    return F.array_join(words, " ")


def _table(spark: SparkSession, workload: str, seed: int) -> DataFrame:
    if workload == "longtool":
        base = synth.strip_truth(synth.transcripts(spark, LONGTOOL_CONVS, seed=seed))
        df, turns = base.filter(F.col("turn_idx") < LONGTOOL_CONV_TURNS).select(
            "conv_id",
            "turn_idx",
            F.lit("tool").alias("role"),
            _long_tool_text(seed).alias("text"),
            F.coalesce("tool", F.lit("browser")).alias("tool"),
            "ts",
        ), LONGTOOL_TURNS
    else:
        df, turns = synth.strip_truth(synth.transcripts(
            spark, CHAT_CONVS, seed=seed, mega_threads=2, mega_turns=CHAT_MEGA_TURNS,
        )), CHAT_TURNS
    return df.orderBy("conv_id", "turn_idx").limit(turns)


@dataclass
class Table:
    path: str
    turns: int
    buckets: int  # non-empty buckets of with_bucket(table, N_BUCKETS)


def stage(spark: SparkSession, workload: str, seed: int, path: str) -> Table:
    """Write the workload's input table to ``path``."""
    _table(spark, workload, seed).write.mode("overwrite").parquet(path)
    row = with_bucket(spark.read.parquet(path), N_BUCKETS).agg(
        F.count("*"), F.countDistinct("bucket")).first()
    if row[0] != (LONGTOOL_TURNS if workload == "longtool" else CHAT_TURNS):
        raise RuntimeError(f"staged {row[0]} turns for {workload}")
    return Table(path, row[0], row[1])

