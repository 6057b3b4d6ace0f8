"""Benchmark command: run one workload in a fresh driver process at
``local[nproc]`` with the engine's session defaults, check its outputs,
and print its metrics.

    python3 perfbench/run.py --workload forecast_panel --seed 1 --seconds 5 --trace 0

Phases of one run:

1. Inputs: seeded tables derived from ``perfbench/data`` into a work
   directory inside the checkout (full share and a small warm share).
2. Set-up (``setup_s``): JVM start and session creation, then the
   workload's set-up: a warm pass on the small input, so codegen and JIT
   happen off the clock, and for ``analytics_mix`` the build of the three
   LLM-data stores its store step works on.
3. Measurement: measured passes on the full input, one client in a closed
   loop, repeated until ``--seconds`` have elapsed (at least one).
4. Checks, outside the timed region: oracle comparisons, stable row
   counts, per-class verdicts, served neighbours, finite model metrics.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics``; the gated end-to-end metrics untraced
(``--trace 0``), the per-layer metrics traced (``--trace 1``). The line
before it is the full record (execution context, workload-specific
metrics, per-operation samples), also written to ``.perfbench_out/``
with the trace's spans. Exit code 1 when a check fails, 2 when the run
cannot start.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FULL_SHARE = 0.9  # share of fact-side keys kept in the measured input
WARM_SHARE = 0.15  # ... and in the smaller warm-up input

# End-to-end metrics every run computes; the result line prints those
# BENCHMARK.json lists, the record keeps them all.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "query_p50_s": "s",
    "forecast_mae": "qty",
}


def _self_time(spans, pred):
    return sum(s.self_time for s in spans if pred(s))


def _count(spans, attr, pred=lambda s: True):
    return sum(getattr(s, attr) for s in spans if pred(s))


def _sql(spans, counter):
    return sum(s.sql[counter] for s in spans)


def _named(*names):
    return lambda s: s.name in names


def _tasks_ratio(spans):
    tasks = _count(spans, "tasks")
    return _count(spans, "failed_tasks") / tasks if tasks else 0.0


# per-layer metric -> (unit, value from the measured passes' spans)
PER_LAYER = {
    "sources.scan_files": ("count", lambda sp: _sql(sp, "scan_files")),
    "sources.scan_bytes": ("bytes", lambda sp: _sql(sp, "scan_bytes")),
    "plans.build_s": ("s", lambda sp: _self_time(sp, lambda s: s.kind == "build" and s.name.startswith("plans."))),
    "plans.eager_jobs": ("count", lambda sp: _count(sp, "jobs", lambda s: s.kind == "build" and s.name.startswith("plans."))),
    "plans.exec_s": ("s", lambda sp: _self_time(sp, _named("plans.exec"))),
    "plans.frontier_fill_s": ("s", lambda sp: _self_time(sp, _named("plans.frontier_fill"))),
    "operators.windows.exec_s": ("s", lambda sp: _self_time(sp, _named("operators.windows.exec"))),
    "forecast.prepare_s": ("s", lambda sp: _self_time(sp, _named("forecast.run.prepare_features"))),
    "forecast.fit_s": ("s", lambda sp: _self_time(sp, _named("forecast.run.train_and_eval"))),
    "forecast.jobs": ("count", lambda sp: _count(sp, "jobs", lambda s: s.name.startswith("forecast."))),
    "spark.jobs": ("count", lambda sp: _count(sp, "jobs")),
    "spark.stages": ("count", lambda sp: _count(sp, "stages")),
    "spark.tasks": ("count", lambda sp: _count(sp, "tasks")),
    "spark.failed_tasks": ("count", lambda sp: _count(sp, "failed_tasks")),
    "spark.task_retry_ratio": ("ratio", _tasks_ratio),
    "exec.shuffle_write_bytes": ("bytes", lambda sp: _sql(sp, "shuffle_write_bytes")),
    "exec.spill_bytes": ("bytes", lambda sp: _sql(sp, "spill_bytes")),
    "exec.python_rows": ("count", lambda sp: _sql(sp, "python_rows")),
    # an LLM-data call and the action that collects its result
    "llmdata.ingest.screen_s": ("s", lambda sp: _self_time(sp, _named(
        "llmdata.ingest.screen_against_fp_store", "llmdata.ingest.screen.exec"))),
    "llmdata.dedup_store.screen_s": ("s", lambda sp: _self_time(sp, _named(
        "llmdata.dedup_store.screen_against_minhash_store", "llmdata.dedup_store.screen.exec"))),
    "llmdata.ann_index.screen_s": ("s", lambda sp: _self_time(sp, _named(
        "llmdata.ann_index.screen_against_ivfpq_index", "llmdata.ann_index.screen.exec"))),
    "llmdata.ann_index.scan_tasks": ("count", lambda sp: _count(sp, "tasks", _named(
        "llmdata.ann_index.screen_against_ivfpq_index", "llmdata.ann_index.screen.exec"))),
    "llmdata.ingest.append_s": ("s", lambda sp: _self_time(sp, _named("llmdata.ingest.append_to_fp_store"))),
    "llmdata.ann_index.append_s": ("s", lambda sp: _self_time(sp, _named("llmdata.ann_index.append_to_ivfpq_index"))),
    "llmdata.ann_index.serve_s": ("s", lambda sp: _self_time(sp, _named(
        "llmdata.ann_index.query_ivfpq_index", "llmdata.ann_index.serve.exec"))),
}
# per-layer metrics of the set-up, timed by the run rather than by spans
RUN_LAYER = {
    "session.start_s": "s",
    "bench.warmup_s": "s",
    "llmdata.ingest.build_s": "s",
    "llmdata.dedup_store.build_s": "s",
    "llmdata.ann_index.build_s": "s",
}


def listed(section: str) -> set[str] | None:
    """Metric names ``BENCHMARK.json`` lists in ``section`` (None when
    the file is absent): the result line prints exactly these."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {m["name"] for m in json.load(f)[section]}


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile that leaves at least ten samples beyond it:
    the 11th largest sample, and the percentile it sits at."""
    ordered = sorted(samples)
    n = len(ordered)
    return ordered[n - 11], 100.0 * (n - 10) / n


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    with open(f"/proc/{jvm_pid}/status") as status:
        jvm_kb = next(int(line.split()[1]) for line in status if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def process_tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields, from the state on, of ``root`` and
    every live process under it."""
    stats, children = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as stat:
                fields = stat.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since the listing
            continue
        stats[int(entry)] = fields
        # fields[1] is the ppid (field 4 of /proc/<pid>/stat)
        children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo += children.get(pid, [])
    return tree


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time (user + system) used so far by the driver JVM and every
    process under it (the PySpark daemon and its Python workers), each
    with the children it has reaped, plus this Python process."""
    # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
    ticks = sum(int(f) for fields in process_tree(jvm_pid).values() for f in fields[11:15])
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """Content hash of the engine package: identifies the code measured
    when the checkout is not a git repository."""
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "sales_forecast_pyspark_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as src:
                    h.update(src.read())
    return h.hexdigest()


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return res.stdout.strip() or None


def isolate(work: str, cores: int) -> None:
    """Keep every file the run writes inside the checkout, and pin the
    engine's master to ``local[cores]``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, [
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-XX:-UsePerfData",
        ])
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it and every process it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = process_tree(spark._jvm.ProcessHandle.current().pid())
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the PySpark daemon and its workers, which the JVM stops but does
    # not wait for; an exited process that nobody reaps stays a zombie
    deadline = time.monotonic() + 30
    for pid in started:
        while (fields := process_tree(pid).get(pid)) and fields[0] != "Z":
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sales_forecast_pyspark_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = nproc()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    isolate(work, cores)
    try:
        return _run(args, run_id, cores, work, out_dir, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id, cores, work, out_dir, workload_cls) -> int:
    import inputs
    from workloads import Context

    full_dir = inputs.derive(args.seed, FULL_SHARE, os.path.join(work, "input"))
    warm_dir = inputs.derive(args.seed, WARM_SHARE, os.path.join(work, "warm"))

    t0 = time.perf_counter()
    from sales_forecast_pyspark_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        sc = spark.sparkContext
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "traced": bool(args.trace),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": cores,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": __import__("pyspark").__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "commit": git_commit(),
            "source_digest": source_digest(),
            "seconds": args.seconds,
        }
        if context["master"] != f"local[{cores}]":
            print(f"perfbench: master {context['master']} is not local[{cores}]", file=sys.stderr)
            return 2

        workload = workload_cls(args.seed, full_dir)

        t0 = time.perf_counter()
        setup = Context(spark, work)
        prep = workload.setup(setup, full_dir, warm_dir)
        spark.catalog.clearCache()
        warmup_s = time.perf_counter() - t0

        ctx = Context(spark, work)
        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = ctx.tracer = Tracer(spark, run_id)

        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        outs, walls, error = [], [], None
        cpu_start = cpu_seconds(jvm_pid)
        t_start = time.perf_counter()
        try:
            with ctx.tracer.instrument(workload.instrument_targets()):
                while not outs or time.perf_counter() - t_start < args.seconds:
                    t0 = time.perf_counter()
                    outs.append(workload.run_pass(ctx, prep, full_dir, f"p{len(outs)}"))
                    walls.append(time.perf_counter() - t0)
        except Exception as exc:  # reported as a failed operation
            traceback.print_exc()
            error = f"{type(exc).__name__}: {exc}"
        measured_s = time.perf_counter() - t_start
        cpu_s = (cpu_seconds(jvm_pid) - cpu_start) / max(len(outs), 1)
        if tracer is not None:
            tracer.close()

        if error is None:
            try:
                workload.check(ctx, prep, full_dir, outs)
            except Exception as exc:  # reported as a failed check
                traceback.print_exc()
                error = f"check raised {type(exc).__name__}: {exc}"
        failed_checks = [c for c in ctx.checks if not c[1]]
        attempted = len(ctx.ops) + (1 if error else 0)
        failed = len(failed_checks) + (1 if error else 0)
        correct = error is None and not failed_checks

        latencies = [s for _, s in ctx.ops]
        record = {"context": context, "passes": len(outs), "measured_s": measured_s}
        metrics = {}
        if correct:
            e2e = {
                "setup_s": session_start_s + warmup_s,
                "wall_s": statistics.median(walls),
                "cpu_s": cpu_s,
                "query_p50_s": statistics.median(latencies),
                "forecast_mae": ctx.extra["forecast_mae"],
            }
            recorded = {}
            if len(latencies) >= 11:
                tail_s, tail_pct = tail(latencies)
                recorded["query_tail_s"] = {"value": tail_s, "unit": "s", "percentile": tail_pct}
            record.update(
                end_to_end={k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
                recorded=recorded,
                operations=len(latencies),
                peak_rss_mb=peak_rss_mb(jvm_pid),
                failed_ops_frac=failed / attempted,
                workload_metrics=ctx.extra,
                pass_wall_s=walls,
                setup={"session.start_s": session_start_s, "bench.warmup_s": warmup_s, **setup.extra},
                ops=ctx.ops,
            )
            if tracer is None:
                names = listed("end_to_end")
                metrics = {k: v for k, v in record["end_to_end"].items() if names is None or k in names}
            else:
                per_pass = len(outs)
                layer = {name: fn(tracer.spans) / per_pass for name, (unit, fn) in PER_LAYER.items()}
                layer.update({name: record["setup"].get(name, 0.0) for name in RUN_LAYER})
                units = {**{k: u for k, (u, _) in PER_LAYER.items()}, **RUN_LAYER}
                record["per_layer"] = {
                    k: {"value": float(v), "unit": units[k]} for k, v in layer.items()
                }
                names = listed("per_layer")
                metrics = {k: v for k, v in record["per_layer"].items() if names is None or k in names}
                spans_path = os.path.join(out_dir, f"{run_id}.spans.jsonl")
                tracer.write(spans_path)
                record["spans"] = os.path.relpath(spans_path, ROOT)
                record["tracing_overhead_s"] = _overhead(out_dir, args, e2e["wall_s"])
        record["error"] = error
        record["checks"] = ctx.checks
    finally:
        stop_spark(spark)

    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if not correct:
        for name, _, detail in failed_checks:
            print(f"perfbench: check {name} failed: {detail}", file=sys.stderr)
        if error:
            print(f"perfbench: {error}", file=sys.stderr)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _overhead(out_dir: str, args, traced_wall_s: float) -> float | None:
    """Traced wall_s minus the latest untraced wall_s of the same
    workload and seed in this checkout, when there is one."""
    prefix = f"{args.workload}-s{args.seed}-t0-"
    runs = sorted(
        (f for f in os.listdir(out_dir) if f.startswith(prefix) and f.endswith(".json")),
        key=lambda f: os.path.getmtime(os.path.join(out_dir, f)),
    )
    for f in reversed(runs):
        with open(os.path.join(out_dir, f)) as src:
            record = json.load(src)
        if "end_to_end" in record:
            return traced_wall_s - record["end_to_end"]["wall_s"]["value"]
    return None


if __name__ == "__main__":
    sys.exit(main())
