"""Self-test of the benchmark on a tiny corpus.

    python3 perfbench/selftest.py

Checks, in one Spark session:

* every workload named in BENCHMARK.json emits exactly the end-to-end
  metrics (``--trace 0``) and the per-layer metrics (``--trace 1``) that
  BENCHMARK.json names, each with its unit, and judges its units correct;
* a unit whose F1 is below the 0.99 floor counts as failed, both in the
  judging rule and end to end (a match threshold no pair can reach leaves
  every record a singleton, so F1 is 0);
* cluster fingerprints ignore row order and tell assignments apart, and
  groupings also ignore cluster names.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import run

TINY_DOCS = 64


def expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures: list[str] = []
    expect(run.unit_failed(0.98, raised=False), "F1 0.98 fails a unit", failures)
    expect(not run.unit_failed(0.99, raised=False), "F1 0.99 passes a unit", failures)
    expect(run.unit_failed(1.0, raised=True), "a raised unit fails", failures)
    a = run.fingerprint([(1, 1), (2, 1), (3, 3)])
    expect(a == run.fingerprint([(3, 3), (1, 1), (2, 1)]),
           "a fingerprint ignores row order", failures)
    b = run.fingerprint([(1, 1), (2, 2), (3, 3)])
    expect(run.all_same([a, a]) and not run.all_same([a, b])
           and not run.all_same([a, None]),
           "differing or missing fingerprints are not stable", failures)
    urls = {"a", "b", "c"}
    g = run.grouping({"a": 1, "b": 1, "c": 2}, urls)
    expect(g == run.grouping({"a": 5, "b": 5, "c": 7, "d": 5}, urls)
           and g != run.grouping({"a": 1, "b": 2, "c": 2}, urls)
           and g != run.grouping({"a": 1, "b": 1}, urls),
           "a grouping ignores cluster names and urls outside the set",
           failures)

    work = run.WORK / f"selftest-{os.getpid()}"
    run.prepare_env(work)
    spark = None
    try:
        spark = run.start_session(work, run.cores(), ui=True)
        for w in (x["name"] for x in bench["workloads"]):
            for trace in (0, 1):
                args = argparse.Namespace(
                    workload=w, seed=7, seconds=0.1, trace=trace, docs=TINY_DOCS
                )
                res = run.run_workload(spark, args, time.perf_counter(), work)
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                expect(
                    got == want[trace],
                    f"{w} --trace {trace}: metric names and units match"
                    + ("" if got == want[trace] else
                       f" (missing {sorted(set(want[trace]) - set(got))},"
                       f" extra {sorted(set(got) - set(want[trace]))},"
                       f" unit differs {sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])})"),
                    failures,
                )
                expect(res["correct"] and res["failed"] == 0,
                       f"{w} --trace {trace}: units correct", failures)
        args = argparse.Namespace(
            workload="er_batch_lsh", seed=7, seconds=0.1, trace=0, docs=TINY_DOCS
        )
        res = run.run_workload(
            spark, args, time.perf_counter(), work, {"threshold": 1.01}
        )
        expect(
            not res["correct"]
            and res["failed"] == res["attempted"] >= 1
            and res["metrics"]["ok_frac"]["value"] == 0.0
            and res["metrics"]["f1"]["value"] < run.MIN_F1,
            "a run whose F1 is below 0.99 counts every unit as failed",
            failures,
        )
    finally:
        run.stop_session(spark, work)
    print(f"{len(failures)} check(s) failed" if failures else "all checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
