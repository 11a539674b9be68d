#!/usr/bin/env python3
"""Fast self-test of the benchmark on sf0.001-sized inputs (a few minutes).

    python3 perfbench/selftest.py

Checks, on cut-down copies of each workload:

- a plain run prints every ``end_to_end`` metric of ``BENCHMARK.json`` with
  its unit, and a traced run every ``per_layer`` metric;
- two traced runs with the same seed repeat every job, stage, task, scan
  and shuffle count exactly;
- a query wrapped to drop one row of its output is caught: the run reports
  it as failed, ``correct`` is false and the command exits 1.

Exits 0 when every check holds.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [p for p in (HERE, os.path.dirname(HERE)) if p not in sys.path]

import run  # noqa: E402

TINY = {
    "headline": run.Workload(("topk", "wordcount", "triangle_count"), rel=1),
    "server": run.Workload(("topk", "wordcount", "text_stats"), rel=1, server=True),
}


def repeats(name: str) -> bool:
    """Counts that depend only on the plan and its input."""
    return name.endswith((".jobs", ".stages", ".tasks")) or name.startswith(
        ("scan.", "shuffle."))


def bench(workload: str, trace: int, drop_row: tuple[str, ...] = ()) -> tuple[int, dict]:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(["--workload", workload, "--seed", "1",
                         "--seconds", "1", "--trace", str(trace)], TINY, drop_row)
    return code, json.loads(out.getvalue().strip().splitlines()[-1])


def expect(ok: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if ok else "FAIL ") + what, file=sys.stderr)
    if not ok:
        failures.append(what)


def units(result: dict) -> dict:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}
    failures: list[str] = []
    for workload in TINY:
        code, plain = bench(workload, 0)
        expect(code == 0 and plain["correct"] and plain["failed"] == 0,
               f"{workload}: plain run passes its output checks", failures)
        expect(units(plain) == want["end_to_end"],
               f"{workload}: every end_to_end metric, with its unit", failures)
        traced = [bench(workload, 1)[1] for _ in range(2)]
        expect(units(traced[0]) == want["per_layer"],
               f"{workload}: every per_layer metric, with its unit", failures)
        counts = [{k: v["value"] for k, v in t["metrics"].items() if repeats(k)}
                  for t in traced]
        diff = {k: (counts[0][k], counts[1][k]) for k in counts[0]
                if counts[0][k] != counts[1][k]}
        expect(not diff, f"{workload}: counts repeat across traced runs {diff or ''}",
               failures)

    query = "wordcount"
    code, broken = bench("headline", 0, drop_row=(query,))
    expect(code == 1 and not broken["correct"] and broken["failed"] >= 1,
           f"headline: a dropped row in {query} fails the run", failures)
    print(json.dumps({"failures": failures}), file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
