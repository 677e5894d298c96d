"""The per-layer table of a traced run (``run.py --trace 1``).

Every layer metric is reported for every workload; a layer the workload
does not exercise reads 0 (a workload without a streaming job has no
micro-batches). The batch metrics (prefix chain, pipeline, sinks) come
from the workload's batch job, the ``stream.*`` ones from its streaming
job.

Attribution, batch job: the cumulative prefixes of one correlation
pass give each layer's self time; its unattributed remainder is the
full action over the same chain (the ``completed`` sink's write) minus
the sum of those self times, i.e. the write itself plus noise.
Streaming job: the remainder is the drain's wall time minus the time
spent inside micro-batches. A workload with both reports the sum.
Tracing overhead is the traced repetition's ``run_s`` against an
untraced one at the same point of the JVM's warm-up: the first timed
repetition of a ``--trace 0`` run of the same workload, seed, run length
and sources when one has been recorded, else the first timed repetition
of the same run (which leaves out the event log's cost; the table says
which).
"""

from __future__ import annotations

import os
import statistics

import tracing
from workloads import ALL_SINKS

TASK_EXCHANGE = "Exchange hashpartitioning(_task_id"
EXACT_SCAN = "FlatMapGroupsInPandas "  # the trailing space excludes ...WithState
STREAM_STATE = "FlatMapGroupsInPandasWithState"
CHAIN = (
    ("sources", "sources.scan_s"),
    ("grok", "grok.parse_s"),
    ("classify", "classify.s"),
    ("correlate.narrow", "correlate.narrow_s"),
    ("sessionize", "sessionize.s"),
    ("guards", "guards.s"),
    ("aggregate", "aggregate.s"),
    ("route", "route.s"),
)


def build(wl, traced: dict, untraced: tuple[float, str], work: str) -> dict:
    untraced_run_s, untraced_from = untraced
    spans: tracing.Spans = traced["spans"]
    ev = tracing.EventLog(tracing.read_event_log(os.path.join(work, "eventlog")))
    t0, t1 = traced["span"]
    jobs = ev.jobs_between(t0, t1)
    stages = ev.stages_of(jobs)
    tasks = ev.tasks_of(jobs)
    m: dict[str, tuple[float, str]] = {}

    # batch prefix chain
    times = traced.get("prefix", {}).get("times", {})
    counts = traced.get("prefix", {}).get("counts", {})
    prev = 0.0
    chain_rows = []
    for name, metric in CHAIN:
        t = times.get(name)
        self_s = 0.0 if t is None else t - prev
        prev = prev if t is None else t
        m[metric] = (self_s, "s")
        chain_rows.append((name, self_s, t))
    rows_in = counts.get("sources", 0)
    m["sources.rows_in"] = (rows_in, "count")
    m["grok.match_ratio"] = (counts.get("grok", 0) / rows_in if rows_in else 0.0, "ratio")
    m["classify.rows_out"] = (counts.get("classify", 0), "count")
    m["aggregate.sessions_out"] = (counts.get("aggregate", 0), "count")

    # task exchange and sessionize, from the event log
    m["correlate.exchange_bytes"] = (ev.sql_metric(stages, TASK_EXCHANGE, "shuffle bytes written"), "bytes")
    m["correlate.exchange_s"] = (ev.sql_metric(stages, TASK_EXCHANGE, "shuffle write time"), "s")
    sess_jobs = ev.jobs_of_span("prefix.sessionize.0")
    sess_tasks = ev.tasks_of(sess_jobs, shuffle_read_only=True)
    max_task, skew = tracing.task_skew(sess_tasks)
    m["sessionize.max_task_s"] = (max_task, "s")
    m["sessionize.task_skew"] = (skew, "ratio")
    m["sessionize.spill_bytes"] = (sum(t["spill"] for t in ev.tasks_of(sess_jobs)), "bytes")
    exact = wl.batch_job is not None and wl.batch_job.config().exact_age_cap
    m["sessionize.arrow_groups"] = (counts.get("sessionize.groups", 0) if exact else 0, "count")
    m["sessionize.arrow_bytes_sent"] = (ev.sql_metric(stages, EXACT_SCAN, "data sent to Python workers"), "bytes")
    m["sessionize.arrow_bytes_returned"] = (
        ev.sql_metric(stages, EXACT_SCAN, "data returned from Python workers"), "bytes")
    m["sessionize.python_s"] = (ev.sql_metric(stages, EXACT_SCAN, "time to run Python workers"), "s")

    # pipeline and sinks, from the spans
    m["pipeline.plan_s"] = (spans.seconds("pipeline.run_pipeline"), "s")
    m["pipeline.passthrough_s"] = (traced.get("passthrough_noop_s", 0.0), "s")
    landed = traced["sink_rows"].get(wl.batch_job.name, {}) if wl.batch_job else {}
    for sink in ALL_SINKS:
        m[f"sinks.{sink}.s"] = (spans.seconds(f"sinks.{sink}"), "s")
        m[f"sinks.{sink}.rows"] = (landed.get(sink, 0), "count")
    m["sinks.bytes_written"] = (traced["bytes_written"], "bytes")

    # Spark as a whole during the traced repetition
    m["spark.jobs"] = (len(jobs), "count")
    m["spark.stages"] = (len(stages), "count")
    m["spark.exchange_passes"] = (ev.exchange_passes(t0, t1, TASK_EXCHANGE), "count")
    m["spark.task_cpu_s"] = (sum(t["cpu"] for t in tasks), "s")
    m["spark.gc_s"] = (sum(t["gc"] for t in tasks), "s")
    m["spark.driver_gap_s"] = (ev.driver_gap(t0, t1, jobs), "s")

    # streaming
    progress = traced.get("progress") or []
    batch_s = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress]
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    m["stream.plan_s"] = (traced.get("plan_s") or 0.0, "s")
    m["stream.batches"] = (len(progress), "count")
    m["stream.add_batch_s"] = (sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0, "s")
    m["stream.batch_p50_s"] = (statistics.median(batch_s) if batch_s else 0.0, "s")
    m["stream.batch_max_s"] = (max(batch_s) if batch_s else 0.0, "s")
    # the peak over the drain: the last micro-batch evicts what timed out
    m["stream.state_rows"] = (max((s.get("numRowsTotal", 0) for s in state), default=0), "count")
    m["stream.state_memory_bytes"] = (max((s.get("memoryUsedBytes", 0) for s in state), default=0), "bytes")
    m["stream.state_commit_s"] = (sum(s.get("commitTimeMs", 0) for s in state) / 1000.0, "s")
    m["stream.python_s"] = (ev.sql_metric(stages, STREAM_STATE, "time to run Python workers"), "s")

    # attribution bookkeeping
    action_s = attributed = 0.0
    actions = []
    if wl.batch_job is not None:
        action_s += spans.seconds("sinks.completed")
        attributed += sum(self_s for _n, self_s, _t in chain_rows)
        actions.append("completed sink write; attributed = sum of prefix self times")
    if wl.stream_job is not None:
        action_s += spans.seconds("stream.drain")
        attributed += sum(batch_s)
        actions.append("drain wall time; attributed = time inside micro-batches")
    action = " + ".join(actions)
    m["trace.unattributed_s"] = (action_s - attributed, "s")
    m["trace.run_s"] = (traced["run_s"], "s")
    m["trace.overhead_ratio"] = (traced["run_s"] / untraced_run_s - 1.0, "ratio")
    return {
        "metrics": m,
        "chain": chain_rows,
        "action": action,
        "action_s": action_s,
        "attributed_s": attributed,
        "untraced_run_s": untraced_run_s,
        "untraced_from": untraced_from,
    }


def print_table(table: dict) -> None:
    m = table["metrics"]
    print("layer table (one traced run):")
    if any(t is not None for _n, _s, t in table["chain"]):
        print(f"  {'layer':<18}{'self s':>10}{'prefix s':>10}  (self = difference of cumulative prefixes)")
        for name, self_s, t in table["chain"]:
            print(f"  {name:<18}{self_s:>10.3f}{t:>10.3f}")
    else:
        print("  no batch prefix chain: see the stream.* metrics")
    print(
        f"  unattributed remainder: {m['trace.unattributed_s'][0]:.3f} s of {table['action_s']:.3f} s "
        f"({table['action']}: {table['attributed_s']:.3f} s)"
    )
    print(
        f"  tracing overhead: traced run_s {m['trace.run_s'][0]:.3f} s vs untraced "
        f"{table['untraced_run_s']:.3f} s ({100 * m['trace.overhead_ratio'][0]:+.1f}%; untraced = "
        f"{table['untraced_from']})"
    )
    print("per-layer metrics:")
    for k, (v, u) in m.items():
        print(f"  {k:<34}{v:>16.4f} {u}")
