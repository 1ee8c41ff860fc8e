"""Engine benchmark: one workload per run, seeded inputs, checked answers.

    python3 perfbench/run.py --workload build_serve --seed 1 --seconds 6 --trace 0

Run from the repository root. The metric names and units come from
BENCHMARK.json; with --trace 0 the last stdout line carries every
end-to-end metric, with --trace 1 every per-layer metric:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

Query latencies are scaled to a reference CPU speed measured by probes
between queries (workloads.REF_PROBE_MS). A human-readable
report (all metrics, unscaled values too, error rate, sample counts,
nproc, load average at start and end) goes to stderr, and the run's record,
spans included when traced, to .perfbench_out/. Scratch files live under
.perfbench_work/ and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()


def _env_for_spark(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    `work`, and let the workers import the engine from the checkout."""
    import tempfile

    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = work


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 scale=None, spark=None, plant_wrong: bool = False) -> dict:
    """Run one workload; returns the full record (every metric computed)."""
    from workloads import WORKLOADS, Run, Scale

    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    _env_for_spark(work)
    env = {"nproc": os.cpu_count(), "loadavg_start": os.getloadavg()}
    run = Run(work, seed, seconds, trace, scale or Scale(), spark=spark,
              plant_wrong=plant_wrong)
    t0 = time.perf_counter()
    try:
        WORKLOADS[workload](run)
        env["driver_hwm_mb"], env["jvm_hwm_mb"] = run.peak_rss_mb()
        run.e2e["peak_rss_mb"] = run.raw_e2e["peak_rss_mb"] = env["driver_hwm_mb"] + env["jvm_hwm_mb"]
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()
    env["probe_ms"] = run.probe_ms
    env["par_probe_ms"] = run.par_probe_ms
    env["probe_n"] = len(run.probes)
    env["wall_s"] = time.perf_counter() - t0
    return {
        "workload": workload, "seed": seed, "trace": trace, "env": env,
        "attempted": run.attempted, "failed": run.failed,
        "e2e": run.e2e, "raw_e2e": run.raw_e2e, "layer": run.layer, "samples": run.samples,
        "queries": run.query_log, "probes": run.probes, "par_probes": run.par_probes,
        "spans": [
            {"name": s.name, "parent": s.parent.name if s.parent else None,
             "start": s.start, "end": s.end, "self_s": s.self_s}
            for s in run.tr.spans
        ],
    }


def result_line(record: dict, spec: dict) -> dict:
    """The contract's last stdout line, metrics named and united by spec."""
    trace = record["trace"]
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = record["layer"] if trace else record["e2e"]
    metrics = {}
    for m in wanted:
        if not trace and m["name"] not in values:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        # a layer this workload never calls reads 0
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }


def report(record: dict, spec: dict) -> None:
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    err = record["failed"] / record["attempted"] if record["attempted"] else 1.0
    lines = [
        f"workload {record['workload']} seed {record['seed']} trace {int(record['trace'])}",
        f"  env {json.dumps(record['env'])}",
        f"  error_rate {err:.6f} failed/attempted ({record['failed']}/{record['attempted']})",
        f"  samples {json.dumps(record['samples'])}",
    ]
    for k, v in record["e2e"].items():
        raw = record["raw_e2e"].get(k, v)
        note = f" (unscaled {raw:.6g})" if raw != v else ""
        lines.append(f"  {k} {v:.6g} {units.get(k, '')}{note}")
    for k, v in record["layer"].items():
        lines.append(f"  {k} {v:.6g} {units.get(k, '')}")
    print("\n".join(lines), file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import olaf_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    record = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f)
    report(record, spec)
    print(json.dumps(result_line(record, spec)), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
