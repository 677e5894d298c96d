"""Per-layer tracing for ``run.py --trace 1``.

Three sources, none of them inside the package:

- spans recorded by the benchmark around each call into a layer's public
  functions (``run_pipeline``, each ``write_routed`` sink,
  ``streaming_correlate``), kept in memory and written when the run ends;
  the span name also rides every Spark job as the local property
  ``perfbench.span``;
- cumulative prefixes of the pipeline ``run_pipeline`` composes
  (scan -> parse -> classify -> narrow_for_correlation -> sessionize ->
  apply_guards -> aggregate_sessions -> route_sessions), each forced to
  the noop sink; a layer's self time is the difference between
  consecutive prefixes;
- Spark's own event log (task CPU, GC, shuffle, spill, task durations,
  and the SQL metrics of the task exchange and of
  ``FlatMapGroupsInPandas``), read after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql import Observation
from pyspark.sql import functions as F

from logstash_filter_aggregate_spark.operators.classify import classify
from logstash_filter_aggregate_spark.operators.correlate import (
    aggregate_sessions,
    apply_guards,
    narrow_for_correlation,
    route_sessions,
)
from logstash_filter_aggregate_spark.operators.sessionize import sessionize
from logstash_filter_aggregate_spark.plans.pipeline import parse

SPAN_PROPERTY = "perfbench.span"
# each prefix is forced this many times; its time is the minimum
PREFIX_PASSES = 2


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float | None
    parent: str | None
    run: str

    @property
    def seconds(self) -> float | None:
        return None if self.end is None else self.end - self.start


class Spans:
    """In-memory span recorder; one instance per traced run."""

    def __init__(self, spark, run: str):
        self._sc = spark.sparkContext
        self.run = run
        self.records: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, time.time(), None, parent.name if parent else None, self.run)
        self._stack.append(rec)
        self._sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(SPAN_PROPERTY, parent.name if parent else None)
            self.records.append(rec)

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.records if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.records], f, indent=1)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def prefix_times(spark, job, input_path: str, spans: Spans) -> dict:
    """Force each cumulative prefix of a batch job's pipeline to the noop
    sink; returns per-prefix seconds (min over ``PREFIX_PASSES``) and the
    row counts observed on the way."""
    cfg = job.config()
    df = spark.read.parquet(input_path)
    parsed = parse(df)
    classified = classify(parsed, cfg)
    narrowed = narrow_for_correlation(classified, cfg)
    sess = sessionize(narrowed, cfg)
    guarded = apply_guards(sess, cfg)
    sessions = aggregate_sessions(guarded, cfg)
    routed = route_sessions(sessions, cfg, watermark_df=df)
    chain = [
        ("sources", df, F.count(F.lit(1))),
        ("grok", parsed, F.count("grok_pattern")),
        ("classify", classified, F.count("_rule_id")),
        ("correlate.narrow", narrowed, None),
        ("sessionize", sess, None),
        ("guards", guarded, None),
        ("aggregate", sessions, F.count(F.lit(1))),
        ("route", routed.sessions, None),
    ]
    times: dict[str, float] = {}
    counts: dict[str, int] = {}
    for p in range(PREFIX_PASSES):
        for name, frame, count in chain:
            obs = None
            if count is not None and p == 0:
                obs = Observation(f"n_{name}")
                frame = frame.observe(obs, count.alias("n"))
            with spans.span(f"prefix.{name}.{p}") as s:
                _noop(frame)
            times[name] = min(times.get(name, float("inf")), s.seconds)
            if obs is not None:
                counts[name] = int(obs.get["n"])
    counts["sessionize.groups"] = narrowed.select("_task_id").distinct().count()
    return {"times": times, "counts": counts}


# ---------------------------------------------------------------------------
# event log


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class EventLog:
    """The parts of a Spark event log the layer table needs."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}  # job id -> {span, start, stages}
        self.stages: dict[int, dict] = {}  # stage id -> {start, end, tasks: [...]}
        self.acc_meta: dict[int, tuple[str, str, str]] = {}  # acc id -> (node string, metric, type)
        self.acc_sum: dict[int, int] = {}
        self.acc_stage: dict[int, set[int]] = {}
        self.final_plans: dict[int, dict] = {}  # sql execution id -> last plan
        self.exec_time: dict[int, float] = {}  # sql execution id -> start (epoch s)
        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "span": props.get(SPAN_PROPERTY),
                    "start": e["Submission Time"] / 1000.0,
                    "stages": list(e["Stage IDs"]),
                }
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = self.stages.setdefault(info["Stage ID"], {"tasks": []})
                st["start"] = (info.get("Submission Time") or 0) / 1000.0
                st["end"] = (info.get("Completion Time") or 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                st = self.stages.setdefault(e["Stage ID"], {"tasks": []})
                st["tasks"].append(
                    {
                        "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "shuffle_read": sum(
                            (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                            for k in ("Remote Bytes Read", "Local Bytes Read")
                        ),
                    }
                )
                for acc in info.get("Accumulables", []):
                    if acc.get("Metadata") == "sql":
                        self.acc_sum[acc["ID"]] = self.acc_sum.get(acc["ID"], 0) + int(acc["Update"])
                        self.acc_stage.setdefault(acc["ID"], set()).add(e["Stage ID"])
            elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                self._walk(e["sparkPlanInfo"])
                self.final_plans[e["executionId"]] = e["sparkPlanInfo"]
                if kind == "SparkListenerSQLExecutionStart":
                    self.exec_time[e["executionId"]] = e["time"] / 1000.0
            elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in e["sqlPlanMetrics"]:
                    self.acc_meta.setdefault(m["accumulatorId"], ("", m["name"], m["metricType"]))
            elif kind == "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    self.acc_sum[acc_id] = self.acc_sum.get(acc_id, 0) + int(value)

    def _walk(self, node: dict) -> None:
        for m in node["metrics"]:
            # Spark may prefix a node string with "!"; match on the operator text
            self.acc_meta[m["accumulatorId"]] = (node["simpleString"].lstrip("!"), m["name"], m["metricType"])
        for child in node["children"]:
            self._walk(child)

    def jobs_between(self, t0: float, t1: float) -> list[int]:
        return [j for j, d in self.jobs.items() if t0 <= d["start"] <= t1]

    def jobs_of_span(self, span: str) -> list[int]:
        return [j for j, d in self.jobs.items() if d["span"] == span]

    def stages_of(self, jobs: list[int]) -> set[int]:
        return {s for j in jobs for s in self.jobs[j]["stages"] if s in self.stages and self.stages[s]["tasks"]}

    def tasks_of(self, jobs: list[int], shuffle_read_only: bool = False) -> list[dict]:
        """Tasks of ``jobs``; optionally only those of stages that read a shuffle."""
        out = []
        for s in self.stages_of(jobs):
            tasks = self.stages[s]["tasks"]
            if not shuffle_read_only or any(t["shuffle_read"] for t in tasks):
                out.extend(tasks)
        return out

    def sql_metric(self, stages: set[int], node_prefix: str, metric: str) -> float:
        """Sum of a SQL metric over plan nodes whose description starts
        with ``node_prefix``, restricted to updates from ``stages``.
        Times come back in seconds, everything else as counted."""
        total = 0.0
        for acc_id, (node, name, mtype) in self.acc_meta.items():
            if name != metric or not node.startswith(node_prefix):
                continue
            if not (self.acc_stage.get(acc_id, set()) & stages):
                continue
            v = self.acc_sum.get(acc_id, 0)
            total += v / 1e9 if mtype == "nsTiming" else v / 1e3 if mtype == "timing" else v
        return total

    def exchange_passes(self, t0: float, t1: float, node_prefix: str) -> int:
        """Task-exchange nodes in the final plans of the SQL executions
        started in ``[t0, t1]``."""

        def count(node: dict) -> int:
            own = node["nodeName"] == "Exchange" and node["simpleString"].lstrip("!").startswith(node_prefix)
            return int(own) + sum(count(c) for c in node["children"])

        return sum(
            count(plan) for x, plan in self.final_plans.items() if t0 <= self.exec_time.get(x, -1) <= t1
        )

    def driver_gap(self, t0: float, t1: float, jobs: list[int]) -> float:
        """Wall time in ``[t0, t1]`` during which no stage of ``jobs`` ran."""
        iv = sorted(
            (max(self.stages[s]["start"], t0), min(self.stages[s]["end"], t1))
            for s in self.stages_of(jobs)
            if self.stages[s].get("end")
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return max(0.0, (t1 - t0) - busy)


def task_skew(tasks: list[dict]) -> tuple[float, float]:
    """(max task seconds, max / median task seconds)."""
    if not tasks:
        return 0.0, 0.0
    durs = [t["dur"] for t in tasks]
    med = statistics.median(durs)
    return max(durs), (max(durs) / med if med > 0 else 0.0)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.startswith("_"):
                total += os.path.getsize(os.path.join(root, f))
    return total
