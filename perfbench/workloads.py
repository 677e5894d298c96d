"""The benchmark's workloads: the jobs a user of the package runs.

A workload's repetition runs its jobs one after the other, each over its
own generated input. A batch job calls ``plans.pipeline.run_pipeline`` on
the parquet and lands the chosen buckets with ``sinks.write_routed``. A
streaming job drains ``streaming.stream.streaming_correlate`` over a
file-source replay into ``stream_to_routed_sinks`` with an availableNow
trigger (a closed loop: the next micro-batch starts when the previous
one has committed).
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Callable

from gen import InputShape

from logstash_filter_aggregate_spark.config import PipelineConfig
from logstash_filter_aggregate_spark.plans.pipeline import (
    example1_config,
    example3_config,
    run_pipeline,
)
from logstash_filter_aggregate_spark.sinks import write_routed
from logstash_filter_aggregate_spark.streaming.stream import (
    STREAM_SINKS,
    stream_to_routed_sinks,
    streaming_correlate,
)

SESSION_SINKS = ("completed", "timeout", "inline", "open")
ALL_SINKS = SESSION_SINKS + ("passthrough",)
# one input file per micro-batch: the stream's files split it by event time
MAX_FILES_PER_TRIGGER = 1


@dataclass(frozen=True)
class Job:
    """One job of a workload: the program over one generated input."""

    name: str
    shape: InputShape
    config: Callable[[], PipelineConfig]
    sinks: tuple[str, ...]
    streaming: bool = False
    # the untimed warm-up runs the job once, on a small input of the
    # same kind (InputShape overrides for it), or on the job's own input
    # when None
    warmup: dict | None = field(default_factory=lambda: {"replicas": 120, "hot_turns": 100})


@dataclass(frozen=True)
class Workload:
    """What one repetition runs: its jobs, one after the other."""

    name: str
    why: str
    jobs: tuple[Job, ...]
    # a run times round(--seconds / rep_s) repetitions, at least one:
    # the count depends on --seconds only, so every run of a workload
    # reports the same statistic
    rep_s: float

    @property
    def batch_job(self) -> Job | None:
        return next((j for j in self.jobs if not j.streaming), None)

    @property
    def stream_job(self) -> Job | None:
        return next((j for j in self.jobs if j.streaming), None)


def _ex1() -> PipelineConfig:
    return example1_config(timeout=3600.0)


def _clicks_exact() -> PipelineConfig:
    return example3_config(timeout=600.0, inactivity_timeout=600.0, exact_age_cap=True)


# Replica counts are multiples of 12 so every scenario appears equally
# often whatever the seed's replica -> scenario offset.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "routed_example1",
            "docs example 1 over the 3%-hot table into all five sinks: the common, "
            "write-heavy job (grok, task exchange, windows, guards, passthrough)",
            # warmed up at full size: the cold JVM's first job costs the
            # same on any input, and the timed repetitions then start warm
            (Job("routed", InputShape(replicas=3_600, hot_turns=372, files=8), _ex1, ALL_SINKS, warmup=None),),
            8.0,
        ),
        # ROADMAP item 3 puts batch exact mode and the streaming state walk
        # on one map-lifecycle kernel; this workload runs both paths
        Workload(
            "exact_and_stream",
            "the two map-lifecycle scans: exact_age_cap click counting through the "
            "applyInPandas numpy scan, then an availableNow streaming_correlate drain",
            (
                Job(
                    "exact",
                    InputShape(replicas=360, hot_turns=9_000, files=4),
                    _clicks_exact,
                    SESSION_SINKS,
                ),
                Job(
                    "stream",
                    InputShape(replicas=600, hot_turns=62, files=2, ts_ordered_files=True, start_spacing_s=1),
                    _ex1,
                    STREAM_SINKS,
                    streaming=True,
                    warmup={"replicas": 120, "hot_turns": 100, "files": 1},
                ),
            ),
            20.0,
        ),
    )
}


def run_batch(spark, job: Job, input_path: str, out_base: str, tag: str, spans=None):
    """One batch job: read the input, plan the pipeline, land the sinks.

    Returns the sink -> row-count map from the run manifest. ``spans``
    (a ``tracing.Spans`` or None) records a span around each public call.
    """
    span = spans.span if spans is not None else _no_span
    shutil.rmtree(out_base, ignore_errors=True)
    cfg = job.config()
    with span("sources.read"):
        df = spark.read.parquet(input_path)
    with span("pipeline.run_pipeline"):
        out = run_pipeline(spark, df, cfg)
    buckets = {k: v for k, v in out.as_dict().items() if k in job.sinks}
    rows = {}
    for sink, frame in buckets.items():
        # one write_routed call per sink, so each sink's action is its own span
        with span(f"sinks.{sink}"):
            manifest = write_routed({sink: frame}, out_base, cfg, tag, input_df=df)
        rows[sink] = manifest.sinks[sink]["rows"]
    return rows


def run_stream(spark, job: Job, input_path: str, out_base: str, tag: str, spans=None):
    """One availableNow drain of a streaming job.

    Returns ``(progress, plan_s)``: the query's progress reports (one
    per micro-batch) and the driver time spent in ``streaming_correlate``
    (None when not traced).
    """
    span = spans.span if spans is not None else _no_span
    shutil.rmtree(out_base, ignore_errors=True)
    cfg = job.config()
    with span("sources.read"):
        schema = spark.read.parquet(input_path).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
            .parquet(input_path)
        )
    with span("stream.streaming_correlate") as s:
        correlated = streaming_correlate(src, cfg)
    with span("stream.drain"):
        q = stream_to_routed_sinks(
            correlated, os.path.join(out_base, "sinks"), os.path.join(out_base, "checkpoint")
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream {tag} failed: {q.exception()}")
    return list(q.recentProgress), s.seconds if s is not None else None


def _no_span(name: str):
    return nullcontext()
