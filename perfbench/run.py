"""Benchmark for the lab3_spark engine.

    python3 perfbench/run.py --workload text_pipelines --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout.  It generates the workload's
inputs from ``--seed`` under ``.perfbench/`` in the checkout, builds one
SparkSession at ``SPARK_GRAFT_CPUS`` = the CPUs this process may use,
warms it up, and then runs a fixed number of whole passes over the
workload's queries (at ``--seconds 10``: two of text_pipelines, one of
catalog_cold; other durations scale the count), one query in flight at a
time (a closed loop with one client).  After the session has stopped,
every query's output is checked against its DuckDB oracle (cached per
input digest).

It prints every metric by name with its unit, then, as the last line, a
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
spans are recorded around every call into an engine layer and the
metrics are the per-layer ones (see BENCHMARK.json).  End-to-end
numbers come only from untraced runs.

Each run appends a record (metrics, per-query counters, load average
and CPU steal) to ``.perfbench/runs.jsonl``; traced runs also write
their spans to ``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402

UNITS = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s", "executor_cpu_s": "s"}
# end-to-end metrics in the result line; pass_s and query_p50_s are
# printed and recorded only, because host CPU steal moves their run-to-run
# spread past any bound the benchmark could fix (on 4 cores, 5-18% steal
# made passes 23-35% slower but raised executor CPU time by only 6-8%)
GATED = ("setup_s", "executor_cpu_s")
# per-layer metrics: per query, and per workload as the median over
# passes of the pass total (exit-state metrics: of the pass maximum)
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.input_mb": "MB", "sources.input_rows": "count", "sources.scan_tasks": "count",
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "plans.plan_s": "s", "plans.exchanges": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.idle_s": "s",
    "cache.memo_result_hits": "count", "cache.persisted_rdds_exit": "count",
    "cache.pinned_mb_exit": "MB",
    "sinks.write_s": "s", "sinks.output_mb": "MB",
}
EXIT_STATE = {"cache.persisted_rdds_exit", "cache.pinned_mb_exit"}
SESSION = {"session.start_s", "session.warmup_s"}


class Context:
    """What a workload needs from the run: the session, the tracer, the
    stage reader and the work directory."""

    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.work = WORK
        self.tracer = probes.Tracer(traced, run_id)
        self.phases: dict[str, float] = {}
        self.pass_no = 0
        self.spark = None
        self.stages = None
        from perfbench.oracle import OracleCache

        self.oracle_cache = OracleCache(os.path.join(WORK, "oracle-cache"))

    @contextmanager
    def phase(self, name: str):
        t = time.time()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.time() - t

    def memo_hits(self) -> int:
        from lab3_spark.functions.partitioning import memo_result_hit_count

        return memo_result_hit_count()


def configure_environment() -> int:
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # no hsperfdata files in the system /tmp from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the train-once codebook store would carry state across runs
    os.environ.pop("SPARK_GRAFT_CODEBOOK_STORE", None)
    return cpus


def start_session():
    from lab3_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(WORK, "tmp"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); None when there are ten samples or fewer."""
    xs = sorted(samples)
    if len(xs) <= 10:
        return None
    i = len(xs) - 11
    return xs[i], 100.0 * i / (len(xs) - 1)


def pass_metric(passes: list[list[dict]], key: str) -> float:
    agg = max if key in EXIT_STATE else sum
    return statistics.median(agg(r.get(key, 0.0) for r in p) for p in passes)


def median_query(samples: list[dict]) -> float:
    """Median over queries of each query's median wall time: the pooled
    median of unlike queries would jump from one query to another with
    the noise."""
    walls: dict[str, list[float]] = {}
    for r in samples:
        walls.setdefault(r["query"], []).append(r["wall_s"])
    return statistics.median(statistics.median(w) for w in walls.values())


def previous_runs(workload: str) -> list[dict]:
    path = os.path.join(WORK, "runs.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [r for r in map(json.loads, fh) if r.get("workload") == workload]


def measure(wl, ctx, seconds: float, t_proc: float) -> dict:
    """Set up the session, warm up, and run the workload's passes."""
    with ctx.tracer.span("session.get_spark"):
        t = time.time()
        ctx.spark = start_session()
        start_s = time.time() - t
    ctx.stages = probes.StageReader(ctx.spark)
    try:
        with ctx.tracer.span("session.warm_up"):
            t = time.time()
            wl.warm_up()
            for q in wl.queries() * wl.WARMUP_PASSES:  # pass 0, not recorded
                wl.run_query(q)
            warmup_s = time.time() - t
        setup_s = time.time() - t_proc - ctx.phases["generate"]
        passes: list[list[dict]] = []
        t0 = time.time()
        # a fixed number of passes, so every run of a workload takes the
        # same samples whatever the host's speed
        for ctx.pass_no in range(1, wl.passes(seconds) + 1):
            recs = []
            for q in wl.queries():
                try:
                    recs.append(wl.run_query(q))
                except Exception as exc:  # a failed query is counted, not fatal
                    recs.append({"query": q, "pass": ctx.pass_no, "error": repr(exc)[:300]})
            passes.append(recs)
        measured_s = time.time() - t0
        jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"jvm": probes.vm_hwm_mb(jvm_pid), "python": probes.vm_hwm_mb(os.getpid())}
    finally:
        stop_session(ctx.spark)
    return {
        "passes": passes, "setup_s": setup_s, "start_s": start_s,
        "warmup_s": warmup_s, "measured_s": measured_s, "rss": rss,
    }


def jobs_self_check(workload: str, seed: int, samples: list[dict]) -> tuple[dict, list[str]]:
    """A query launches the same number of jobs in every pass, and in
    every run of the same seed."""
    jobs: dict[str, set[int]] = {}
    for r in samples:
        if "exec.jobs" in r:
            jobs.setdefault(r["query"], set()).add(r["exec.jobs"])
    faults = [q for q, n in jobs.items() if len(n) > 1]
    for prev in previous_runs(workload):
        if prev["seed"] == seed:
            faults += [q for q, n in prev["jobs"].items() if q in jobs and jobs[q] != {n}]
    return {q: min(n) for q, n in jobs.items()}, sorted(set(faults))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    from perfbench.workloads import WORKLOADS

    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_proc = probes.process_start_epoch()
    ticks0 = probes.cpu_ticks()
    cpus = configure_environment()
    import lab3_spark.session  # noqa: F401  (fails fast outside a checkout)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    ctx = Context(run_id, bool(args.trace))
    wl = WORKLOADS[args.workload](ctx)
    with ctx.phase("generate"):
        inputs = wl.prepare(args.seed)
    m = measure(wl, ctx, args.seconds, t_proc)
    with ctx.phase("oracle"):
        expected = wl.expected()
    noise = probes.noise(ticks0, probes.cpu_ticks())

    passes = m["passes"]
    samples = [r for p in passes for r in p]
    for r in samples:
        if "error" not in r and r["digest"] != expected[r["query"]]:
            r["error"] = f"output differs from oracle: {r['digest']} vs {expected[r['query']]}"
    failed = [r for r in samples if "error" in r]
    ok_passes = [p for p in passes if not any("error" in r for r in p)] or passes
    ok = [r for r in samples if "error" not in r]
    times = [r["wall_s"] for r in ok] or [0.0]
    jobs, jobs_faults = jobs_self_check(args.workload, args.seed, samples)

    e2e = {
        "setup_s": m["setup_s"],
        "pass_s": pass_metric(ok_passes, "wall_s"),
        "query_p50_s": median_query(ok) if ok else 0.0,
        "executor_cpu_s": pass_metric(ok_passes, "exec.cpu_s"),
    }
    # printed and recorded, not gated: G1 heap sizing moves the JVM's
    # peak by 20-30% between runs of the same input
    peak_rss_mb = m["rss"]["jvm"] + m["rss"]["python"]
    layers = {k: pass_metric(ok_passes, k) for k in LAYER_UNITS if k not in SESSION}
    layers["session.start_s"] = m["start_s"]
    layers["session.warmup_s"] = m["warmup_s"]

    print(f"# {args.workload} seed={args.seed} trace={args.trace} cpus={cpus} "
        f"passes={len(passes)} queries={len(samples)}; input: {inputs}")
    print(f"# run {time.time() - t_proc:.1f} s: measured {m['measured_s']:.1f} s, generate "
        f"{ctx.phases['generate']:.2f} s and oracle {ctx.phases['oracle']:.2f} s (not in setup_s)")
    print(f"# noise: loadavg {noise['loadavg_1m']:.2f}, steal {noise['steal_s']:.2f} s "
        f"({100 * noise['steal_share']:.2f}% of CPU time)")
    for r in samples:
        cols = " ".join(
            f"{k}={r[k]:.4g}" for k in ("wall_s", "operators.construct_s", "exec.action_s",
                                        "exec.jobs", "exec.stages", "exec.cpu_s",
                                        "cache.memo_result_hits") if k in r
        )
        left = {k: n for k, n in r.get("cache.left_by_previous", {}).items() if n}
        if left:
            cols += " left_by_previous=" + ",".join(f"{k}:{n}" for k, n in left.items())
        print(f"query pass={r['pass']} {r['query']}: {cols}" + (f" ERROR {r['error']}" if "error" in r else ""))
    for k, v in e2e.items():
        print(f"{k} = {v:.4f} {UNITS[k]}")
    t = tail(times)
    print(f"query_tail_s = {t[0]:.4f} s (p{t[1]:.0f} of {len(times)} samples)" if t else
        f"query_tail_s: none, no percentile of {len(times)} samples has ten beyond it")
    print(f"peak_rss_mb = {peak_rss_mb:.1f} MB (JVM {m['rss']['jvm']:.1f} + Python {m['rss']['python']:.1f})")
    print(f"failed_ratio = {len(failed) / len(samples):.4f} ({len(failed)} of {len(samples)})")
    print(f"jobs per query repeat: {'yes' if not jobs_faults else 'NO: ' + ', '.join(jobs_faults)}")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "run_id": run_id, "end_to_end": e2e, "peak_rss_mb": peak_rss_mb,
        "layers": layers, "noise": noise,
        "generate_s": ctx.phases["generate"], "oracle_s": ctx.phases["oracle"],
        "jobs": jobs, "queries": samples,
    }
    if args.trace:
        for k, u in LAYER_UNITS.items():
            print(f"{k} = {layers[k]:.4f} {u}")
        # warm-up passes run as pass 0; their spans are written, not summed
        measured = ctx.tracer.self_times(lambda s: not (s["query"] or "").startswith("0."))
        for name, v in sorted(measured.items()):
            print(f"self time {name} = {v:.4f} s")
        untraced = [r for r in previous_runs(args.workload) if not r["trace"]]
        ref = ([r for r in untraced if r["seed"] == args.seed] or untraced or [None])[-1]
        if ref is None:
            print("tracing overhead: no untraced run of this workload recorded yet")
        else:
            base = ref["end_to_end"]["pass_s"]
            print(f"tracing overhead: traced pass_s {e2e['pass_s']:.4f} s vs untraced "
                f"{base:.4f} s (seed {ref['seed']}): {100 * (e2e['pass_s'] / base - 1):+.1f}%")
        ctx.tracer.write(os.path.join(WORK, "trace", f"{run_id}.jsonl"))
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")

    metrics = (
        {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        if args.trace
        else {k: {"value": e2e[k], "unit": UNITS[k]} for k in GATED}
    )
    print(json.dumps({
        "correct": not failed and not jobs_faults,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
