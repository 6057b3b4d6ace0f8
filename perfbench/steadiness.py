"""Steadiness record: run every benchmark workload on several seeds,
untraced, then once traced, and write the spread of each metric to
``perfbench/baseline/steadiness.{json,md}``.

    python3 perfbench/steadiness.py

Every workload in ``BENCHMARK.json`` runs on seeds 100, 101, ...; for
each end-to-end metric, gated or recorded, it reports the median,
the quartiles as ``statistics.quantiles(values, n=4)`` gives them, and
the quartile distance as a share of the median, next to the metric's
bound in ``BENCHMARK.json`` (blank when the metric is not gated). The
traced run gives the per-layer table and the tracing overhead (traced
``wall_s`` minus the untraced median).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED0 = 100
RUNS = 10
OUT = os.path.join(HERE, "baseline")


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    """One benchmark run; returns (result line, full record, elapsed s)."""
    t0 = time.perf_counter()
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    elapsed = time.perf_counter() - t0
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {res.returncode}: {res.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["record"], elapsed


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med, "values": values}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    report = {"runs": RUNS, "seeds": [SEED0 + i for i in range(RUNS)], "workloads": {}}
    for workload in (w["name"] for w in bench["workloads"]):
        samples, elapsed, context = {}, [], None
        for seed in report["seeds"]:
            line, record, took = run(workload, seed, seconds, 0)
            context = record["context"]
            elapsed.append(took)
            recorded = {
                **{name: m["value"] for name, m in record["end_to_end"].items()},
                **{name: m["value"] for name, m in record["recorded"].items()},
                "peak_rss_mb": record["peak_rss_mb"],
                **record["workload_metrics"],
            }
            for name, value in recorded.items():
                samples.setdefault(name, []).append(value)
            print(f"{workload} seed {seed}: {took:.1f}s {line['metrics']}", file=sys.stderr)
        line, record, took = run(workload, SEED0, seconds, 1)
        untraced_wall = statistics.median(samples["wall_s"])
        traced_wall = record["end_to_end"]["wall_s"]["value"]
        report["workloads"][workload] = {
            "context": {k: context[k] for k in (
                "master", "default_parallelism", "nproc", "shuffle_partitions",
                "pyspark", "java", "commit", "source_digest")},
            "run_elapsed_s": spread(elapsed),
            "end_to_end": {
                name: {**spread(v), "bound": bounds.get(name)} for name, v in samples.items()
            },
            "traced": {
                "seed": SEED0,
                "per_layer": {k: v["value"] for k, v in line["metrics"].items()},
                "wall_s": traced_wall,
                "tracing_overhead_s": traced_wall - untraced_wall,
                "run_elapsed_s": took,
            },
        }

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    with open(os.path.join(OUT, "steadiness.md"), "w") as f:
        f.write(render(report))
    return 0


def render(report: dict) -> str:
    out = [f"# Steadiness record\n\n{report['runs']} untraced runs per workload, "
           f"seeds {report['seeds'][0]}..{report['seeds'][-1]}, then one traced run.\n"]
    for workload, w in report["workloads"].items():
        ctx = w["context"]
        out.append(
            f"\n## {workload}\n\nmaster `{ctx['master']}`, defaultParallelism "
            f"{ctx['default_parallelism']}, nproc {ctx['nproc']}, shuffle partitions "
            f"{ctx['shuffle_partitions']}, PySpark {ctx['pyspark']}, Java {ctx['java']}, "
            f"commit `{ctx['commit']}`. One run takes {w['run_elapsed_s']['median']:.1f} s "
            f"(median).\n\n| metric | median | q1 | q3 | (q3-q1)/median | bound |\n|---|---|---|---|---|---|\n"
        )
        for name, s in w["end_to_end"].items():
            bound = "" if s["bound"] is None else f"{s['bound']}"
            out.append(
                f"| {name} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                f"{s['iqr_share']:.3f} | {bound} |\n"
            )
        t = w["traced"]
        out.append(
            f"\nTraced run (seed {t['seed']}): wall_s {t['wall_s']:.3f} s, tracing overhead "
            f"{t['tracing_overhead_s']:+.3f} s against the untraced median.\n\n"
            "| per-layer metric | value |\n|---|---|\n"
        )
        for name, value in t["per_layer"].items():
            out.append(f"| {name} | {value:.6g} |\n")
    return "".join(out)


if __name__ == "__main__":
    sys.exit(main())
