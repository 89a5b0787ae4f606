"""Seeded inputs for the benchmark workloads, and the output checks.

The program never sees the seed. It receives only generated DataFrames and
files. The seed picks how many leading cold conversations of a larger
``generate_transcripts`` table are cut away, so every seed yields
conversations with other ids. The generator hashes those ids for its noise,
so the seed also moves which turns are malformed, their jitter, their start
times and their arrival order.

Expected values are derived from the generated input with a JSON parser
other than the program's, never written down as constants, so any seed can
be checked.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.sources.transcripts import (
    append_flush_sentinel,
    generate_transcripts,
    write_time_ordered_stream,
)

TURNS_PER_CONV = 20
SENTINEL_CONV = "conv-sentinel"  # the id append_flush_sentinel writes
_BUNDLE_TURNS = "array<struct<turn_idx:int>>"


def seeded_transcripts(
    spark: SparkSession, seed: int, total_turns: int, hot_frac: float
) -> DataFrame:
    """``total_turns`` generated turns: the hot conversation holds
    ``hot_frac`` of them and the rest sit in 20-turn conversations whose
    ids start at a seed-dependent offset."""
    skip = (seed * 7919) % 4999 + 1
    hot = int(total_turns * hot_frac)
    cold = (total_turns - hot) // TURNS_PER_CONV * TURNS_PER_CONV
    generated = hot + cold + skip * TURNS_PER_CONV
    df = generate_transcripts(
        spark,
        total_turns=generated,
        turns_per_conv=TURNS_PER_CONV,
        # +0.5 keeps int(generated * hot_frac) at exactly `hot` under rounding
        hot_frac=(hot + 0.5) / generated,
    )
    # "conv-hot" sorts after every numbered id, so the hot conversation stays
    return df.filter(F.col("conv_id") >= F.lit(f"conv-{skip:06d}"))


def write_batch_input(df: DataFrame, path: str) -> int:
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path).count()


def write_stream_input(df: DataFrame, path: str, n_files: int) -> list[int]:
    """Time-ordered file stream plus the end-of-input flush sentinel.
    Returns the turn count of each data file in arrival (mtime) order,
    which is the order the file source consumes them, one per trigger."""
    import pyarrow.parquet as pq

    write_time_ordered_stream(df, path, n_files=n_files)
    files = sorted(
        (os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    append_flush_sentinel(df.sparkSession, path)
    return [pq.ParquetFile(f).metadata.num_rows for f in files]


def read_turns(spark: SparkSession, path: str) -> DataFrame:
    """The generated turns of an input directory, sentinel excluded."""
    return spark.read.parquet(path).filter(F.col("conv_id") != SENTINEL_CONV)


def well_formed(turns: DataFrame) -> DataFrame:
    """Turns whose text parses as JSON (Jackson, not the program's VARIANT
    parser): the turns that must be bundled. The rest must be dead-lettered."""
    return turns.filter(F.get_json_object("text", "$").isNotNull())


def bundled_turns(bundles: DataFrame, cap: int) -> DataFrame:
    """(conv_id, turn_idx) per turn inside the bundles' JSON, plus flags for
    a bundle whose ``n_turns`` disagrees with its contents and, where the
    bundles carry ``bundle_seq``, for a turn chunked into the wrong bundle
    of at most ``cap`` turns."""
    t = bundles.select(
        "*", F.from_json("bundle", _BUNDLE_TURNS).alias("_turns")
    ).select(
        "*",
        (F.size("_turns") != F.col("n_turns")).alias("_bad_count"),
        F.explode("_turns").alias("_t"),
    )
    bad_chunk = F.lit(False)
    if "bundle_seq" in bundles.columns:
        bad_chunk = F.col("bundle_seq") != F.floor(F.col("_t.turn_idx") / cap)
    return t.select(
        "conv_id",
        F.col("_t.turn_idx").alias("turn_idx"),
        (F.col("_bad_count") | bad_chunk).alias("misplaced"),
    )


def turn_errors(expected: DataFrame, actual: DataFrame) -> int:
    """Turns missing from, duplicated in, or misplaced within ``actual``
    (a :func:`bundled_turns` frame), against the ``expected`` turns."""
    keys = ["conv_id", "turn_idx"]
    signed = expected.select(
        *keys, F.lit(1).alias("d"), F.lit(0).alias("m")
    ).unionByName(
        actual.select(*keys, F.lit(-1).alias("d"), F.col("misplaced").cast("int").alias("m"))
    )
    row = (
        signed.groupBy(*keys)
        .agg((F.abs(F.sum("d")) + F.sum("m")).alias("bad"))
        .agg(F.sum("bad"))
        .first()
    )
    return int(row[0] or 0)
