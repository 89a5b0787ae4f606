"""The two benchmark workloads, driven through the program's public
functions only.

``batch``: the backfill path. One job maps ~1M generated turns, splits ok
from dead-lettered turns, bundles conversations with a 10k-turn cap and
writes one large commit through ``ExactlyOnceParquetSink``. After three
full-size warm-up jobs the job repeats for the run's seconds; the metrics
are medians over those repetitions.

``stream``: a ``HarmonizationPipeline`` (``state_v1`` session assembly, its
default 10-minute watermark) replays a time-ordered file stream one file
per trigger with ``availableNow``. Sessions close and emit in every
micro-batch, so no end-of-input flush carries a large share of the run.
Two warm-up micro-batches precede the 21 timed ones.

Each workload returns end-to-end metrics (untraced) or per-layer metrics
(traced), the units checked and the units found wrong.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.model.errors import ok_rows
from healthcare_data_harmonization_dataflow_spark.operators.bundles import (
    assemble_bundles,
)
from healthcare_data_harmonization_dataflow_spark.operators.mapping_op import (
    apply_mapping,
)
from healthcare_data_harmonization_dataflow_spark.streaming.pipeline import (
    HarmonizationPipeline,
)
from healthcare_data_harmonization_dataflow_spark.streaming.sink import (
    ExactlyOnceParquetSink,
)

from . import inputs
from .probes import MB, ProgressListener, StageWindow, median

MAPPING = "out Output: Proj(root);\ndef Proj(input) { foo: input.bar; }"
BUNDLE_CAP = 10_000

BATCH_TURNS = 1_000_000
BATCH_HOT_FRAC = 0.10
BATCH_WARMUP = 3
BATCH_MIN_REPS = 3

STREAM_TURNS = 69_000
STREAM_HOT_FRAC = 0.01
STREAM_FILES = 23  # one per trigger
STREAM_WARMUP = 2  # micro-batches before the timed ones
SCALING_FILES = 5  # the local[1] baseline replays this many files

# every per-layer metric, with its unit; a layer a workload does not run
# reports 0
PER_LAYER_UNITS = {
    "transcripts.generate_s": "s",
    "mapping_op.compile_ms": "ms",
    "mapping_op.busy_s": "s",
    "mapping_op.rows_ok": "count",
    "mapping_op.rows_err": "count",
    "bundles.busy_s": "s",
    "bundles.shuffle_write_mb": "MB",
    "bundles.spill_mb": "MB",
    "bundles.max_task_s": "s",
    "assembly.state_rows_max": "count",
    "assembly.state_mem_mb_max": "MB",
    "assembly.state_update_ms_p50": "ms",
    "assembly.state_commit_ms_p50": "ms",
    "assembly.late_dropped": "count",
    "pipeline.add_batch_ms_p50": "ms",
    "pipeline.fixed_ms_p50": "ms",
    "pipeline.plan_ms_p50": "ms",
    "pipeline.wal_ms_p50": "ms",
    "pipeline.batches": "count",
    "pipeline.scaling_eff_1toN": "frac",
    "sink.write_s_p50": "s",
    "sink.lineage_ms_p50": "ms",
    "sink.commit_ms_p50": "ms",
    "sink.commits": "count",
    "sink.read_committed_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "host.nproc": "count",
    "host.mem_gb": "GB",
    "host.load1_before": "load",
    "host.load1_after": "load",
    "trace.overhead_frac": "frac",
    "check.conservation_gap": "count",
    "check.stream_vs_batch_diff": "count",
}


class Outcome:
    """What a workload hands back to the command line."""

    def __init__(self):
        self.metrics: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}


class Context:
    """The session, host sizing and scratch space one run works in."""

    def __init__(self, spark, work: str, seed: int, seconds: int, nproc: int,
                 t_start: float, restart):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.nproc = nproc
        self.t_start = t_start
        self.restart = restart  # (master) -> new SparkSession

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _map(df, obs: Observation | None = None):
    mapped = apply_mapping(df, MAPPING, id_col="conv_id", data_col="text")
    if obs is not None:
        mapped = mapped.observe(
            obs,
            F.count("ok").alias("ok"),
            F.count("err").alias("err"),
        )
    return mapped


def _ok_turns(mapped):
    return ok_rows(mapped).select(
        "conv_id", "turn_idx", "role", F.col("ok").alias("text"), "ts"
    )


def _bundle(ok):
    # chunking alone de-skews the hot conversation, so the salted
    # pre-aggregation would add a second shuffle for nothing
    return assemble_bundles(ok, salt_buckets=None, max_turns_per_bundle=BUNDLE_CAP)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _compile_ms(df) -> float:
    """The first ``apply_mapping`` call of the process: config compile plus
    plan construction (the job itself runs later)."""
    t = time.time()
    _map(df)
    return (time.time() - t) * 1000


def _sink_profile(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _layer_mapping_and_bundles(ctx: Context, turns, m: dict) -> None:
    """mapping_op and bundles layers on materialized input, each timed on
    its own into a noop sink."""
    obs = Observation("bench_mapping_layer")
    t = time.time()
    _noop(_map(turns, obs))
    m["mapping_op.busy_s"] = time.time() - t
    counts = obs.get
    m["mapping_op.rows_ok"] = counts["ok"]
    m["mapping_op.rows_err"] = counts["err"]
    ok_path = ctx.path("ok_turns")
    _ok_turns(_map(turns)).write.mode("overwrite").parquet(ok_path)
    with StageWindow(ctx.spark) as w:
        t = time.time()
        _noop(_bundle(ctx.spark.read.parquet(ok_path)))
        m["bundles.busy_s"] = time.time() - t
    m["bundles.shuffle_write_mb"] = w.totals["shuffle_write_mb"]
    m["bundles.spill_mb"] = w.totals["spill_mb"]
    m["bundles.max_task_s"] = w.totals["max_task_s"]


def _spark_layer(m: dict, totals: dict) -> None:
    for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb", "tasks",
              "executor_run_s"):
        m[f"spark.{k}"] = totals[k]


# ====================================================================== batch
def _batch_job(ctx: Context, in_path: str, out_dir: str) -> dict:
    """One backfill job; returns its wall time, its observed ok/err counts
    and the bundle rows its single commit recorded."""
    t = time.time()
    obs = Observation("bench_batch")
    mapped = _map(ctx.spark.read.parquet(in_path), obs)
    sink = ExactlyOnceParquetSink(out_dir, "bundles")
    sink.write_batch(_bundle(_ok_turns(mapped)), 0)
    seconds = time.time() - t
    (commit,) = sink.lineage()
    return {"s": seconds, "ok": obs.get["ok"], "err": obs.get["err"],
            "bundles": commit["rows"], "sink": sink}


def run_batch(ctx: Context, traced: bool) -> Outcome:
    out = Outcome()
    m: dict[str, float] = {}
    spark = ctx.spark
    in_path = ctx.path("batch_in")
    t = time.time()
    turns_in = inputs.write_batch_input(
        inputs.seeded_transcripts(spark, ctx.seed, BATCH_TURNS, BATCH_HOT_FRAC),
        in_path,
    )
    m["transcripts.generate_s"] = time.time() - t
    m["mapping_op.compile_ms"] = _compile_ms(spark.read.parquet(in_path))

    def job(i: int) -> dict:
        out_dir = ctx.path("batch_out", str(i))
        r = _batch_job(ctx, in_path, out_dir)
        if i > 0:  # keep only the newest output on disk
            shutil.rmtree(ctx.path("batch_out", str(i - 1)), ignore_errors=True)
        return r

    for i in range(BATCH_WARMUP):
        job(i)
    setup_s = time.time() - ctx.t_start
    reps: list[dict] = []
    deadline = time.time() + ctx.seconds
    while len(reps) < BATCH_MIN_REPS or time.time() < deadline:
        reps.append(job(BATCH_WARMUP + len(reps)))
    rep_s = median(r["s"] for r in reps)
    n_jobs = BATCH_WARMUP + len(reps)

    # ---- output check: every repetition's counts, the last one turn by turn
    t_check = time.time()
    ok_expected = inputs.well_formed(spark.read.parquet(in_path))
    exp_ok, exp_bundles = ok_expected.agg(
        F.count(F.lit(1)),
        F.count_distinct("conv_id", F.floor(F.col("turn_idx") / BUNDLE_CAP)),
    ).first()
    last = reps[-1]
    out.failed = inputs.turn_errors(
        ok_expected, inputs.bundled_turns(last["sink"].read_committed(spark), BUNDLE_CAP)
    )
    for r in reps:
        out.failed += abs(r["ok"] - exp_ok) + abs(r["err"] - (turns_in - exp_ok))
        out.failed += abs(r["bundles"] - exp_bundles)
    out.attempted = turns_in * len(reps)
    out.info = {"turns": turns_in, "generate_s": m["transcripts.generate_s"],
                "check_s": time.time() - t_check,
                "reps": len(reps),
                "rep_s": [round(r["s"], 3) for r in reps],
                "expected_ok": exp_ok, "expected_bundles": exp_bundles}

    if not traced:
        out.metrics = {
            "turns_per_s": turns_in / rep_s,
            "batch_p50_ms": rep_s * 1000,
            "setup_s": setup_s,
        }
        return out

    # ---- traced pass: three more jobs with the sink profile, stage totals
    # over the first
    prof = ctx.path("sink_profile.jsonl")
    os.environ["SINK_PROFILE"] = prof
    try:
        with StageWindow(spark) as w:
            traced_jobs = [job(n_jobs)]
        traced_jobs += [job(n_jobs + i) for i in (1, 2)]
    finally:
        del os.environ["SINK_PROFILE"]
    traced_job = traced_jobs[-1]
    _spark_layer(m, w.totals)
    sink_rows = _sink_profile(prof)
    m["sink.write_s_p50"] = median(r["write_s"] for r in sink_rows)
    m["sink.lineage_ms_p50"] = median(r["lineage_s"] * 1000 for r in sink_rows)
    m["sink.commit_ms_p50"] = median(r["commit_s"] * 1000 for r in sink_rows)
    m["sink.commits"] = len(sink_rows) / len(traced_jobs)  # per job
    t = time.time()
    bundles = traced_job["sink"].read_committed(spark)
    m["sink.read_committed_s"] = time.time() - t
    m["check.conservation_gap"] = abs(
        turns_in - traced_job["ok"] - traced_job["err"]
    ) + abs(bundles.agg(F.sum("n_turns")).first()[0] - traced_job["ok"])
    m["trace.overhead_frac"] = median(j["s"] for j in traced_jobs) / rep_s - 1
    _layer_mapping_and_bundles(ctx, spark.read.parquet(in_path), m)
    out.failed += m["check.conservation_gap"]
    out.metrics = m
    return out


# ===================================================================== stream
def _replay(ctx: Context, in_path: str, name: str, listener=None) -> dict:
    """One replay of the file stream from a fresh checkpoint. Returns the
    pipeline and the commit time of each micro-batch, by batch id."""
    spark = ctx.spark
    pipe = HarmonizationPipeline(
        mapping_config=MAPPING,
        out_dir=ctx.path(name, "out"),
        trigger={"availableNow": True},
        assembly="state_v1",
        max_files_per_trigger=1,
        max_turns_per_bundle=BUNDLE_CAP,
    )
    # the state store's partition count is fixed when the checkpoint is made
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(ctx.nproc))
    if listener is not None:
        spark.streams.addListener(listener)
    try:
        q = pipe.run_harmonization(spark, in_path, ctx.path(name, "ckpt"))
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    committed = {c["batch_id"]: c["committed_at"] for c in pipe.bundles_sink.lineage()}
    events = []
    if listener is not None:
        events = listener.wait_for(max(committed))
        spark.streams.removeListener(listener)
    return {"pipe": pipe, "committed": committed, "events": events}


def _timed(committed: dict, first: int, last: int) -> tuple[float, list[float]]:
    """Wall time from the commit of batch ``first - 1`` to that of ``last``,
    and the cycle of each batch in between (commit to commit)."""
    cycles = [committed[b] - committed[b - 1] for b in range(first, last + 1)]
    return committed[last] - committed[first - 1], cycles


def run_stream(ctx: Context, traced: bool) -> Outcome:
    out = Outcome()
    m: dict[str, float] = {}
    spark = ctx.spark
    in_path = ctx.path("stream_in")
    t = time.time()
    per_file = inputs.write_stream_input(
        inputs.seeded_transcripts(spark, ctx.seed, STREAM_TURNS, STREAM_HOT_FRAC),
        in_path,
        STREAM_FILES,
    )
    m["transcripts.generate_s"] = time.time() - t
    turns = inputs.read_turns(spark, in_path)
    m["mapping_op.compile_ms"] = _compile_ms(turns)

    run = _replay(ctx, in_path, "replay")
    last = STREAM_FILES - 1
    wall, cycles = _timed(run["committed"], STREAM_WARMUP, last)
    timed_turns = sum(per_file[STREAM_WARMUP:])
    setup_s = run["committed"][STREAM_WARMUP - 1] - ctx.t_start

    # ---- output check: the bundled turns are exactly the well-formed ones
    t_check = time.time()
    turns_in = sum(per_file)
    expected = inputs.well_formed(turns)
    stream_turns = inputs.bundled_turns(run["pipe"].bundles(spark), BUNDLE_CAP)
    out.failed = inputs.turn_errors(expected, stream_turns)
    out.attempted = turns_in
    out.info = {"turns": turns_in, "generate_s": m["transcripts.generate_s"],
                "check_s": time.time() - t_check,
                "timed_batches": len(cycles),
                "cycle_s": [round(c, 3) for c in cycles],
                "batches": len(run["committed"])}
    if not traced:
        out.metrics = {
            "turns_per_s": timed_turns / wall,
            "batch_p50_ms": median(cycles) * 1000,
            "setup_s": setup_s,
        }
        return out

    # ---- traced pass: same replay with progress events and sink profile
    prof = ctx.path("sink_profile.jsonl")
    listener = ProgressListener()
    os.environ["SINK_PROFILE"] = prof
    try:
        with StageWindow(spark) as w:
            tr = _replay(ctx, in_path, "replay_traced", listener)
    finally:
        del os.environ["SINK_PROFILE"]
    _spark_layer(m, w.totals)
    t_wall, _ = _timed(tr["committed"], STREAM_WARMUP, last)
    m["trace.overhead_frac"] = t_wall / wall - 1

    timed_ids = set(range(STREAM_WARMUP, last + 1))
    events = tr["events"]
    timed_ev = [e for e in events if e["batch_id"] in timed_ids]
    dur = lambda e, k: e["duration_ms"].get(k, 0)  # noqa: E731
    m["pipeline.add_batch_ms_p50"] = median(dur(e, "addBatch") for e in timed_ev)
    m["pipeline.fixed_ms_p50"] = median(
        dur(e, "triggerExecution") - dur(e, "addBatch") for e in timed_ev
    )
    m["pipeline.plan_ms_p50"] = median(dur(e, "queryPlanning") for e in timed_ev)
    m["pipeline.wal_ms_p50"] = median(dur(e, "walCommit") for e in timed_ev)
    m["pipeline.batches"] = len(events)
    state = [s for e in timed_ev for s in e["state"]]
    m["assembly.state_rows_max"] = max(s["rows"] for s in state)
    m["assembly.state_mem_mb_max"] = max(s["mem_bytes"] for s in state) / MB
    m["assembly.state_update_ms_p50"] = median(s["update_ms"] for s in state)
    m["assembly.state_commit_ms_p50"] = median(s["commit_ms"] for s in state)
    m["assembly.late_dropped"] = sum(
        s["dropped"] for e in events for s in e["state"]
    )
    sink_rows = [r for r in _sink_profile(prof) if r["batch"] in timed_ids]
    m["sink.write_s_p50"] = median(r["write_s"] for r in sink_rows)
    m["sink.lineage_ms_p50"] = median(r["lineage_s"] * 1000 for r in sink_rows)
    m["sink.commit_ms_p50"] = median(r["commit_s"] * 1000 for r in sink_rows)
    m["sink.commits"] = len(tr["committed"])
    t = time.time()
    traced_bundles = tr["pipe"].bundles(spark)
    m["sink.read_committed_s"] = time.time() - t

    # conservation: turns in = bundled + dead-lettered + late-dropped; the
    # flush sentinel is one well-formed input row that stays in state
    seen = sum(e["input_rows"] for e in events) - 1
    dead = sum(
        e["observed"].get("mapping_metrics", {}).get("rows_err", 0) for e in events
    )
    bundled = traced_bundles.agg(F.sum("n_turns")).first()[0]
    m["check.conservation_gap"] = abs(seen - bundled - dead - m["assembly.late_dropped"])

    # the batch path on the same input bundles exactly the same turns
    _layer_mapping_and_bundles(ctx, turns, m)
    batch_turns = inputs.bundled_turns(
        _bundle(ctx.spark.read.parquet(ctx.path("ok_turns"))), BUNDLE_CAP
    ).select("conv_id", "turn_idx")
    m["check.stream_vs_batch_diff"] = inputs.turn_errors(
        batch_turns, inputs.bundled_turns(traced_bundles, BUNDLE_CAP)
    )
    out.failed += int(m["check.conservation_gap"] + m["check.stream_vs_batch_diff"])

    # single-threaded baseline over the first files, against the same files
    # in the (warm) traced replay
    base_in = ctx.path("scaling_in")
    os.makedirs(base_in)
    files = sorted(
        (os.path.join(in_path, f) for f in os.listdir(in_path) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    for f in files[:SCALING_FILES]:
        shutil.copy2(f, base_in)
    ctx.spark = spark = ctx.restart("local[1]")
    one = _replay(ctx, base_in, "replay_1core")
    t_one, _ = _timed(one["committed"], 1, SCALING_FILES - 1)
    t_n, _ = _timed(tr["committed"], 1, SCALING_FILES - 1)
    m["pipeline.scaling_eff_1toN"] = t_one / (ctx.nproc * t_n)
    out.metrics = m
    return out


WORKLOADS = {"batch": run_batch, "stream": run_stream}


def fill_layers(m: dict) -> dict:
    """Every per-layer metric with its unit; absent layers read 0."""
    return {k: {"value": float(m.get(k, 0)), "unit": u} for k, u in PER_LAYER_UNITS.items()}
