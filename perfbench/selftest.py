"""Tiny-scale self-test of the benchmark itself (about five minutes).

    python3 perfbench/selftest.py

Runs both workloads at a few hundred docs in one shared Spark session,
untraced and traced, and asserts that
  * every metric BENCHMARK.json names is emitted with its unit,
  * end-to-end metrics are positive and a clean run has no failed op,
  * the traced layers account for at least 90% of the timed wall,
  * a planted wrong answer makes the error rate positive.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from run import _env_for_spark, load_spec, result_line, run_workload  # noqa: E402
from workloads import CORES, Scale, spark_conf  # noqa: E402

TINY = Scale(n_docs=300, min_queries=40, batch_size=32, exhaustive_checks=20)


def check_line(line: dict, wanted: list[dict], trace: bool) -> None:
    got = line["metrics"]
    assert set(got) == {m["name"] for m in wanted}, set(got) ^ {m["name"] for m in wanted}
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], m
        assert isinstance(got[m["name"]]["value"], float), m
        if not trace:
            assert got[m["name"]]["value"] > 0, (m["name"], got[m["name"]])


def main() -> int:
    from olaf_spark.session import get_spark

    spec = load_spec()
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    _env_for_spark(work)
    spark = get_spark(CORES, app_name="perfbench-selftest", extra_conf=spark_conf(work))
    try:
        for wl in (w["name"] for w in spec["workloads"]):
            for trace in (False, True):
                rec = run_workload(wl, 7, 0.2, trace, TINY, spark=spark)
                line = result_line(rec, spec)
                check_line(line, spec["per_layer" if trace else "end_to_end"], trace)
                assert line["correct"] and line["failed"] == 0, (wl, trace, line["failed"])
                assert line["attempted"] >= 1
                if trace:
                    cov = line["metrics"]["trace.layer_coverage"]["value"]
                    assert cov >= 0.9, (wl, cov)
                print(f"selftest: {wl} trace={int(trace)} ok", flush=True)
            rec = run_workload(wl, 7, 0.2, False, TINY, spark=spark, plant_wrong=True)
            line = result_line(rec, spec)
            assert line["failed"] > 0 and not line["correct"], (wl, line["failed"])
            print(f"selftest: {wl} planted wrong answer -> error_rate "
                  f"{line['failed'] / line['attempted']:.4f} ok", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print("selftest: all ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
