#!/usr/bin/env python3
"""Benchmark of the task-correlation engine, one workload per invocation.

    python3 perfbench/run.py --workload routed_example1 --seed 1 --seconds 16 --trace 0

Run from the repository root. The run generates the inputs of the
workload's jobs from the seed (``gen.py``), computes the expected sink
contents with DuckDB (``oracle.py``), starts Spark on
``local[<cpus this process may use>]`` in this one process, does one
untimed warm-up repetition, then times ``round(--seconds / rep_s)``
repetitions (at least one) and checks every repetition's output.
``run_s`` is the best of the timed repetitions; the other per-repetition
metrics are medians.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones (``BENCHMARK.json``);
with ``--trace 1`` the run also makes one traced repetition, attributes
its time to layers (``tracing.py``, ``layers.py``) and reports the
per-layer metrics. The lines before it print every metric by name and unit, and a layer
table on traced runs. Full results, the layer report and the spans are
written under ``.perfbench/results``.
"""

from __future__ import annotations

import time

_PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import oracle  # noqa: E402
import procstat  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "logstash_filter_aggregate_spark"

WORKLOAD_NAMES = ("routed_example1", "exact_and_stream")
# the end-to-end metrics of BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
# printed as well, but not BENCHMARK.json metrics: on a shared host, wall
# time follows the host's CPU steal (METHOD.md, "Spread")
WALL = {
    "run_s": "s",
    "turns_per_s": "1/s",
}
# the driver heap, fixed in size (-Xms = -Xmx): resident memory then
# does not track how far the JVM's adaptive sizing happened to grow it
DRIVER_MEM = "2g"
# the JIT stops at C1. With C2, compiler threads kept working through
# the first ten repetitions, so a repetition's cost tracked how far the
# JIT had got, and competing CPU load slowed a repetition 1.65x against
# C1's 1.13x (METHOD.md, "Spread")
JIT_OPTS = "-XX:TieredStopAtLevel=1"
# a percentile is reported only with this many samples beyond it
MIN_TAIL = 10


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _provenance(cpus: int) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    # the checkout may not be a git repository: also fingerprint the
    # sources under test
    h = hashlib.sha256()
    files = [os.path.join(ROOT, f) for f in ("bench.py", "__spark_entry__.py")]
    for d, _sub, names in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        if os.path.exists(f):
            with open(f, "rb") as fh:
                h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read())
    return {
        "nproc": cpus,
        "master": f"local[{cpus}]",
        "spark_version": pyspark.__version__,
        "git_commit": commit,
        "source_sha256": h.hexdigest()[:16],
        "driver_memory": DRIVER_MEM,
        "jit": JIT_OPTS,
    }


def _prepare_env(work: str, cpus: int) -> None:
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{cpus}]"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the package and the benchmark's modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} {JIT_OPTS} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    return conf


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    started = procstat.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline + 10:
                time.sleep(0.1)


def _sink_dirs(job, out: str) -> dict[str, str]:
    base = os.path.join(out, "sinks") if job.streaming else out
    return {s: os.path.join(base, s) for s in job.sinks}


class Runner:
    """Runs one repetition of a workload, its jobs in order, and checks
    every job's output."""

    def __init__(self, spark, work: str):
        self.spark, self.work = spark, work
        self.n = 0
        self.problems: list[str] = []

    def rep(self, inputs: list, spans=None) -> dict:
        """``inputs``: (job, input info, expected sinks) per job."""
        import workloads

        self.n += 1
        out_base = os.path.join(self.work, "out")
        shutil.rmtree(out_base, ignore_errors=True)
        tag = f"rep{self.n}"
        rec = {"ok": True, "batch_s": [], "sink_rows": {}}
        cpu0 = procstat.cpu_seconds()
        steal0, ticks0 = procstat.host_cpu_ticks()
        with procstat.PeakRss() as rss:
            wall0 = time.time()
            t0 = time.perf_counter()
            try:
                for job, info, _expected in inputs:
                    out = os.path.join(out_base, job.name)
                    if job.streaming:
                        progress, plan_s = workloads.run_stream(self.spark, job, info.path, out, tag, spans)
                        rec["progress"] = progress
                        rec["plan_s"] = plan_s
                        rec["batch_s"] = [
                            p["durationMs"]["triggerExecution"] / 1000.0
                            for p in progress
                            if "triggerExecution" in p.get("durationMs", {})
                        ]
                    else:
                        rec["sink_rows"][job.name] = workloads.run_batch(
                            self.spark, job, info.path, out, tag, spans
                        )
            except Exception:  # a failed run is counted, reported and survived
                rec["ok"] = False
                self.problems.append(f"{tag}: raised\n{traceback.format_exc()}")
            rec["run_s"] = time.perf_counter() - t0
            rec["wall"] = (wall0, time.time())
        rec["cpu_s"] = procstat.cpu_seconds() - cpu0
        steal1, ticks1 = procstat.host_cpu_ticks()
        rec["host_steal"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
        rec["peak_rss_mb"] = rss.peak / 1e6
        if rec["ok"]:
            for job, _info, expected in inputs:
                problems = oracle.check_outputs(
                    expected,
                    _sink_dirs(job, os.path.join(out_base, job.name)),
                    rec["sink_rows"].get(job.name, {}),
                )
                if problems:
                    rec["ok"] = False
                    self.problems.extend(f"{tag} {job.name}: {p}" for p in problems)
        rec["out_base"] = out_base
        return rec


def _materialize(job, seed: int, work: str, warm: bool = False):
    """Generate a job's input (or its warm-up input) and the expected
    outputs: (job, input info, expected sinks)."""
    import gen

    shape = dataclasses.replace(job.shape, **job.warmup) if warm else job.shape
    path = os.path.join(work, "warmup_input" if warm else "input", job.name)
    shutil.rmtree(path, ignore_errors=True)
    info = gen.materialize(shape, seed, path)
    cfg = job.config()
    if cfg.exact_age_cap:
        expected = oracle.expected_clicks_exact(path, cfg.timeout, cfg.effective_inactivity_timeout)
    else:
        expected = oracle.expected_example1(path, cfg.timeout, streaming=job.streaming)
    return job, info, expected


def _percentile_with_tail(values: list[float], q: float):
    """The q-th percentile, or None unless at least ``MIN_TAIL`` samples
    lie beyond it."""
    if len(values) < 2:
        return None
    cut = statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]
    return cut if sum(v > cut for v in values) >= MIN_TAIL else None


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and its processes (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    _prepare_env(work, cpus)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, cpus, work, results_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cpus: int, work: str, results_dir: str) -> int:
    import workloads
    from logstash_filter_aggregate_spark import get_spark

    wl = workloads.WORKLOADS[args.workload]
    prov = _provenance(cpus)
    phases: dict[str, float] = {"imports_s": time.perf_counter() - _PROCESS_T0}

    # inputs and expectations are the benchmark's work, not the
    # program's: they are made before set-up and left out of setup_s
    t = time.perf_counter()
    inputs = [_materialize(job, args.seed, work) for job in wl.jobs]
    warm_inputs = [
        inp if job.warmup is None else _materialize(job, args.seed, work, warm=True)
        for job, inp in zip(wl.jobs, inputs)
    ]
    phases["inputs_s"] = time.perf_counter() - t
    turns = sum(info.turns for _job, info, _exp in inputs)

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{wl.name}", master=f"local[{cpus}]",
        extra_conf=_spark_conf(work, bool(args.trace)),
    )
    phases["session_s"] = time.perf_counter() - t
    runner = Runner(spark, work)
    report_base = os.path.join(results_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}")
    try:
        t = time.perf_counter()
        warm = [runner.rep(warm_inputs)]
        phases["warmup_s"] = time.perf_counter() - t
        setup_s = phases["imports_s"] + phases["session_s"] + phases["warmup_s"]

        traced = None
        if args.trace:
            import tracing as tr

            # the traced repetition takes the place of the first timed one
            # of a --trace 0 run, on a JVM that has run as many jobs
            spans = tr.Spans(spark, run=f"{wl.name}-seed{args.seed}")
            with spans.span("run"):
                traced = runner.rep(inputs, spans)
            traced["span"] = traced["wall"]
            traced["spans"] = spans
            traced["bytes_written"] = tr.dir_bytes(traced["out_base"])

        reps = [runner.rep(inputs) for _ in range(_timed_reps(wl, args.seconds))]

        if args.trace:
            for job, info, _exp in inputs:
                if not job.streaming:
                    traced["prefix"] = tr.prefix_times(spark, job, info.path, spans)
                if "passthrough" in job.sinks:
                    with spans.span("pipeline.passthrough_noop") as pt:
                        _force_passthrough(spark, job, info.path)
                    traced["passthrough_noop_s"] = pt.seconds
            spans.dump(report_base + "-spans.json")
    finally:
        _stop_spark(spark)

    # every repetition counts, the warm-up and the traced one too
    checked = warm + reps + ([traced] if traced else [])
    attempted = len(checked)
    failed = sum(not r["ok"] for r in checked)
    correct = failed == 0

    # the best repetition: host CPU steal comes and goes within a run and
    # only ever slows a repetition down
    run_s = min(r["run_s"] for r in reps)
    e2e = {
        "setup_s": setup_s,
        "run_s": run_s,
        "turns_per_s": turns / run_s,
        "cpu_s": statistics.median(r["cpu_s"] for r in reps),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in reps),
    }
    batch_s = [b for r in reps for b in r["batch_s"]]
    extra = {
        "error_rate": failed / attempted,
        "batch_latency_p50_s": statistics.median(batch_s) if batch_s else None,
        "batch_latency_p90_s": _percentile_with_tail(batch_s, 90) if batch_s else None,
        "batch_samples": len(batch_s),
    }
    result = {
        "workload": wl.name,
        "why": wl.why,
        "seed": args.seed,
        "seconds": args.seconds,
        "provenance": prov,
        "input": {job.name: info.as_dict() for job, info, _exp in inputs},
        "checks": {job.name: oracle.check_kinds(exp) for job, _info, exp in inputs},
        "setup_phases_s": phases,
        "end_to_end": e2e,
        "also": extra,
        "host_steal": statistics.median(r["host_steal"] for r in reps),
        "reps": [
            {k: r[k] for k in ("run_s", "cpu_s", "peak_rss_mb", "host_steal", "ok", "batch_s")} for r in reps
        ],
        "problems": runner.problems,
    }

    _print_header(result)
    _print_end_to_end(e2e, extra, len(reps), attempted, failed, wl.stream_job is not None, bool(args.trace))
    if args.trace:
        import layers

        table = layers.build(wl, traced, _untraced_run_s(results_dir, args, reps[0]["run_s"], prov), work)
        result["layers"] = table
        layers.print_table(table)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in table["metrics"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for p in runner.problems:
        print(f"problem: {p}")
    with open(report_base + ".json", "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _timed_reps(wl, seconds: float) -> int:
    return max(1, round(seconds / wl.rep_s))


def _untraced_run_s(results_dir: str, args, same_run_s: float, prov: dict) -> tuple[float, str]:
    """The untraced run_s the traced repetition is compared with.

    The event log, tracing's main cost, is on for the whole traced
    session, so the timed repetitions of a traced run carry it too. The
    first timed repetition of a ``--trace 0`` result of the same
    workload, seed, run length and sources is the true untraced figure,
    at the same point of the JVM's warm-up; without one, the comparison
    falls back to this run's first timed repetition, leaves the event
    log's cost out and says so.
    """
    path = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    try:
        with open(path) as f:
            untraced = json.load(f)
        if (untraced["provenance"]["source_sha256"], untraced["seconds"]) == (prov["source_sha256"], args.seconds):
            return untraced["reps"][0]["run_s"], f"first timed repetition of {os.path.basename(path)}"
    except (OSError, ValueError, KeyError, IndexError):
        pass
    return same_run_s, (
        "this run's first timed repetition, one job later and with the event log on too: "
        "the event log's cost is not included"
    )


def _force_passthrough(spark, job, input_path: str) -> None:
    from logstash_filter_aggregate_spark.plans.pipeline import run_pipeline

    out = run_pipeline(spark, spark.read.parquet(input_path), job.config())
    out.passthrough.write.mode("overwrite").format("noop").save()


def _print_header(result: dict) -> None:
    p = result["provenance"]
    print(
        f"perfbench {result['workload']} seed={result['seed']} master={p['master']} "
        f"spark={p['spark_version']} commit={p['git_commit'] or '-'} sources={p['source_sha256']}"
    )
    for job, i in result["input"].items():
        print(
            f"input {job}: {i['turns']} turns, {i['tasks']} tasks, hot task share {i['hot_task_share']}, "
            f"{i['files']} files"
        )
        print(f"checks {job}: " + ", ".join(f"{s} {k}" for s, k in result["checks"][job].items()))
    print("setup: " + ", ".join(f"{k} {v:.2f}" for k, v in result["setup_phases_s"].items()))
    print(f"host: median CPU steal during the timed runs {100 * result['host_steal']:.1f}%")


def _print_end_to_end(e2e, extra, n_timed, attempted, failed, streaming, traced) -> None:
    tracing = "event log on in this traced run (--trace 0 runs without it)" if traced else "tracing off"
    print(f"end-to-end, {tracing} ({n_timed} timed repetitions; run_s the best, cpu_s and peak_rss_mb medians):")
    for k, u in (END_TO_END | WALL).items():
        print(f"  {k:<22}{e2e[k]:>14.4f} {u}")
    for k in ("batch_latency_p50_s", "batch_latency_p90_s"):
        v = extra[k]
        if v is not None:
            print(f"  {k:<22}{v:>14.4f} s    ({extra['batch_samples']} micro-batches)")
        elif streaming:
            print(f"  {k:<22}{'-':>14} s    (needs {MIN_TAIL} samples beyond it; {extra['batch_samples']} micro-batches)")
        else:
            print(f"  {k:<22}{'-':>14} s    (no streaming job: no micro-batches)")
    print(f"  {'error_rate':<22}{extra['error_rate']:>14.4f} ratio ({failed} failed / {attempted} attempted)")


if __name__ == "__main__":
    sys.exit(main())
