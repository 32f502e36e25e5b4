"""Benchmark for the neural_search_spark engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. One closed-loop client on ``local[nproc]``:
the inputs are generated from ``--seed`` (``gen.py``), set-up builds the
artifacts the workload needs, then requests are issued back to back for
``--seconds`` (the request running at the deadline completes). Every
answer is checked against the repo's oracles after the loop. The last
stdout line is one JSON object ``{correct, attempted,
failed, metrics}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics (from an outside-in trace, see ``spans.py``) with
``--trace 1``. Lines before it give the same numbers for a reader, plus
workload-specific figures.

Host settings, identical for every run: ``local[nproc]``; the repo root on
``PYTHONPATH`` (Python workers import the engine); Spark local dirs, temp
dirs and the warehouse under a per-run directory that is deleted at exit,
and no JVM perf-data files, so a run writes only inside the checkout;
``SPARK_GRAFT_DRIVER_MEM`` = a quarter of ``MemTotal``; the engine's own
session defaults otherwise (32 shuffle partitions, AQE and Arrow on).

End-to-end metrics: ``setup_s`` (session start, then the median of the
workload's set-up repetitions, then the first warm-up request; the further
warm-up requests are untimed), ``latency_p50_s``
and ``requests_per_s`` over the timed requests. ``peak_rss_mb`` (JVM VmHWM
plus this process's peak after input generation) is printed on every run
and reported with the per-layer metrics: across seeds it spreads by up to
a fifth on a 4-core host, too close to any bound to gate on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_settings(run_dir: str) -> dict[str, str]:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, mem_kb // (4 * 1024 * 1024))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # no JVM perf-data files in the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }


class Context:
    """What one run shares between the request loop and its workload."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None
        self.tracer = None
        self.failures: list[tuple[str, str]] = []
        self._dirs = 0

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.run_dir, f"{name}-{self._dirs}")
        os.makedirs(path)
        return path

    def fail(self, what: str, why: str) -> None:
        self.failures.append((what, why))


def start_session(run_dir: str):
    from neural_search_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.hadoop.hadoop.tmp.dir": os.environ["TMPDIR"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # the tracer reads these stores after the run; keep all of it
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_session(spark) -> None:
    """First action and first Python worker: paid once per session."""
    from pyspark.sql import functions as F

    from neural_search_spark.analysis.tokenizer import tokenize_udf

    toks = tokenize_udf(F.concat(F.lit("w"), F.col("id").cast("string")))
    spark.range(10_000).select(F.size(toks).alias("n")).groupBy("n").count().collect()


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so input
    generation does not count as the engine's memory."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:  # kernel without the reset: the peak includes generation
        pass


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it (it exits when its
    stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples above it."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    return s[n - 11], 100.0 * (n - 10) / n


# ---------------------------------------------------------------------------
# per-layer metrics from the trace
# ---------------------------------------------------------------------------

COUNTS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "cached_tables_delta")
TIMES = ("build_s", "exec_s", "driver_s", "executor_run_s")

#: layer-named count metrics; 0 on a workload that never calls the layer
LAYER_COUNTS = {
    "search.hybrid": ("jobs", "stages", "tasks", "cached_tables_delta"),
    "search.bm25": ("jobs",),
    "search.wand": ("jobs", "stages", "tasks", "rows_examined_per_hit"),
    "index.builder.build_index": ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"),
    "index.builder.update_index": ("jobs", "stages", "tasks", "shuffle_write_bytes"),
    "analysis": ("stages", "tasks"),
    "pipeline": ("jobs", "stages", "tasks", "shuffle_write_bytes", "cached_tables_delta"),
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(spans: list[dict], extra: dict) -> dict[str, tuple[float, str]]:
    by_layer: dict[str, list[dict]] = {}
    for s in spans:
        p = s["parent"]
        while p is not None and spans[p]["layer"] != "warmup":
            p = spans[p]["parent"]
        if p is not None:
            continue  # inside the warm-up request
        by_layer.setdefault(s["layer"], []).append(s)
        for name, sub in s.items():
            if name.startswith("split."):
                by_layer.setdefault(name[len("split."):], []).append(sub)
    for s in by_layer.get("search.wand", []):
        s["rows_examined_per_hit"] = s["postings_scan_rows"] / max(1, s.get("hits", 0))

    requests = {s["request"]: s for s in spans if s["layer"] == "request"}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["layer"] != "request" and s["request"] in requests:
            children.setdefault(s["request"], []).append(s)
    per_request = []
    for rid, rs in requests.items():
        kids = children.get(rid, [])
        row = {k: sum(c[k] for c in kids) for k in COUNTS + ("build_s", "exec_s", "executor_run_s")}
        row["driver_s"] = rs["driver_s"]
        per_request.append(row)

    out: dict[str, tuple[float, str]] = {
        "session.start_s": (extra["session_s"], "s"),
        "corpus.load_s": (_median(s["build_s"] + s["exec_s"] for s in by_layer.get("corpus", [])), "s"),
        "traced.latency_p50_s": (extra["latency_p50_s"], "s"),
        "cached_tables_total": (float(extra["cached_tables_total"]), "count"),
    }
    for k in TIMES:
        out[f"request.{k}"] = (_median(r[k] for r in per_request), "s")
    for k in COUNTS:
        out[f"request.{k}"] = (_median(r[k] for r in per_request), "bytes" if k.endswith("bytes") else "count")
    for layer, keys in LAYER_COUNTS.items():
        calls = by_layer.get(layer, [])
        for k in keys:
            unit = "bytes" if k.endswith("bytes") else ("ratio" if k.endswith("hit") else "count")
            out[f"{layer}.{k}"] = (_median(c[k] for c in calls), unit)
    out["index.builder.update_useful_ratio"] = (extra.get("update_useful_ratio", 0.0), "ratio")
    out["index.bytes_per_posting"] = (extra.get("index.bytes_per_posting", 0.0), "bytes")
    return out


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def run(args, ctx: Context) -> dict:
    import workloads
    from spans import Tracer

    wl = workloads.WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    inputs = wl.prepare(args.seed)
    prepare_s = time.perf_counter() - t0
    reset_peak_rss()

    t0 = time.perf_counter()
    ctx.spark = start_session(ctx.run_dir)
    warm_session(ctx.spark)
    session_s = time.perf_counter() - t0
    ctx.tracer = tracer = Tracer(ctx.spark, bool(args.trace))

    setup_times = []
    for rep in range(wl.setup_reps):
        t0 = time.perf_counter()
        with tracer.span("setup"):
            state = wl.setup(inputs)
        setup_times.append(time.perf_counter() - t0)
        if rep + 1 < wl.setup_reps:
            wl.release(state)
    # requests outside the stream: the first pays lazy per-plan set-up
    # (code generation, first Python worker of a kind) and counts in
    # setup_s; the rest bring the JVM's JIT to a steady state, untimed
    warmup_times = []
    for j in range(wl.warmup_requests):
        t0 = time.perf_counter()
        with tracer.span("warmup"):
            wl.warmup(state, inputs, j)
        warmup_times.append(time.perf_counter() - t0)
    warmup_s = warmup_times[0]

    cached_at_start = ctx.spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    latencies: list[float] = []
    answers: list[tuple[int, object]] = []
    errors: list[tuple[int, str]] = []
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    i = 0
    while time.perf_counter() < deadline:
        t0 = time.perf_counter()
        try:
            with tracer.span("request", request=i):
                answer = wl.request(state, inputs, i)
        except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
            errors.append((i, traceback.format_exc(limit=3)))
        else:
            answers.append((i, answer))
        latencies.append(time.perf_counter() - t0)
        i += 1
    elapsed = time.perf_counter() - t_start
    cached_total = ctx.spark._jsparkSession.sharedState().cacheManager().numCachedEntries() - cached_at_start

    # JVM plus this driver process
    peak_mb = peak_rss_mb(ctx.spark.sparkContext._gateway.proc.pid) + peak_rss_mb("self")
    if args.trace:
        wl.after_loop(state, inputs)
    summary = wl.summary(state)
    spans = tracer.report()

    t0 = time.perf_counter()
    mismatches = []
    for rid, answer in answers:
        why = wl.check(inputs, rid, answer)
        if why:
            mismatches.append((rid, why))
    inputs["oracle"].save()
    check_s = time.perf_counter() - t0

    attempted = i + len(ctx.failures)
    failed = len(errors) + len(mismatches) + len(ctx.failures)
    for what, why in ctx.failures:
        print(f"FAILED {what}: {why}")
    for rid, why in errors + mismatches:
        print(f"FAILED request {rid}: {why.strip()}")

    latency_p50 = _median(latencies)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print("host " + " ".join(f"{k}={v}" for k, v in host_settings(ctx.run_dir).items() if k != "PYTHONPATH"))
    print(f"requests {i} in {elapsed:.3f} s, failed_ratio {failed / max(1, attempted):.6f} ({failed}/{attempted})")
    print(
        f"phases prepare {prepare_s:.2f} s, session {session_s:.2f} s, setup {' '.join(f'{t:.2f}' for t in setup_times)} s, "
        f"warmup {' '.join(f'{t:.2f}' for t in warmup_times)} s, loop {elapsed:.2f} s, check {check_s:.2f} s"
    )
    print("latencies_s " + " ".join(f"{x:.3f}" for x in latencies))
    tail = tail_percentile(latencies)
    if tail:
        print(f"latency_tail_s {tail[0]:.6f} s at p{tail[1]:.1f} of n={len(latencies)}")
    else:
        print(f"latency_tail_s n/a: n={len(latencies)} < 11 samples")
    print(f"peak_rss_mb {peak_mb:.1f} MB")
    for k, v in summary.items():
        print(f"{k} {v:.6f}")

    if args.trace:
        extra = dict(summary, session_s=session_s, latency_p50_s=latency_p50, cached_tables_total=cached_total)
        metrics = layer_metrics(spans, extra)
        metrics["peak_rss_mb"] = (peak_mb, "MB")
        trace_dir = os.path.join(HERE, ".traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-s{args.seed}-{os.getpid()}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": spans}, f)
        for s in spans:
            if s["layer"] in LAYER_COUNTS or s["layer"].startswith(("index.", "search.")):
                label = s.get("pair") or s.get("key") or ""
                print(
                    f"span request={s['request']} {s['layer']} {label} "
                    + " ".join(f"{k}={s[k]}" for k in COUNTS)
                    + " "
                    + " ".join(f"{k}={s[k]:.3f}" for k in TIMES)
                )
    else:
        metrics = {
            "setup_s": (session_s + _median(setup_times) + warmup_s, "s"),
            "latency_p50_s": (latency_p50, "s"),
            "requests_per_s": (i / elapsed, "1/s"),
        }
    for name, (value, unit) in metrics.items():
        print(f"metric {name} {value:.6f} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "neural_search_spark", "__init__.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, ".run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    os.environ.update(host_settings(run_dir))
    os.makedirs(os.environ["TMPDIR"])
    ctx = Context(run_dir)
    try:
        result = run(args, ctx)
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
