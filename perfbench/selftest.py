#!/usr/bin/env python3
"""Self-test of the benchmark on the sf0.001 tables.

    python3 perfbench/selftest.py

Checks, on a short run of every workload:

- the result object carries exactly the metrics ``BENCHMARK.json``
  lists for the mode (``end_to_end`` untraced, ``per_layer`` traced),
  each with its unit;
- traced spans nest: a child starts and ends inside its parent and no
  span's self time is negative;
- a failing query injected into each query workload is counted in
  ``failed`` and ``error_rate`` instead of crashing the run.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
from tracing import self_times  # noqa: E402
from workloads import WORK, WORKLOADS  # noqa: E402

SEED = 7


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}")


def check_metrics(result: dict, declared: list[dict], label: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    expect(got == want, f"{label}: metric names and units match BENCHMARK.json")
    expect(
        all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
        f"{label}: every metric value is a number",
    )


def check_spans(path: str, label: str) -> None:
    with open(path) as fh:
        spans = json.load(fh)
    expect(bool(spans), f"{label}: the traced run recorded spans")
    for sp in spans:
        if sp["parent"] is not None:
            parent = spans[sp["parent"]]
            inside = parent["start"]["t"] <= sp["start"]["t"] <= sp["end"]["t"] <= parent["end"]["t"]
            if not inside:
                raise AssertionError(f"{label}: span {sp['name']}#{sp['id']} escapes its parent")
    expect(min(self_times(spans).values()) >= 0, f"{label}: spans nest and self times are >= 0")


def injected_failure(spark, sf_dir):
    raise RuntimeError("injected failure")


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    for name, wl in WORKLOADS.items():
        inject = {"injected_failure": injected_failure} if wl.queries else None
        result = bench.run(name, SEED, 0, trace=True, dataset="sf0.001", extra_queries=inject)
        check_metrics(result, spec["per_layer"], f"{name} traced")
        check_spans(os.path.join(WORK, f"trace-{name}-seed{SEED}.json"), name)
        failed, attempted = result["failed"], result["attempted"]
        if inject:
            passes = attempted // (len(wl.items) + 1)  # every pass attempts every item once
            expect(
                not result["correct"] and failed == passes
                and result["metrics"]["error_rate"]["value"] == failed / attempted,
                f"{name}: the injected query failed once per pass and counts in error_rate "
                f"({failed}/{attempted})",
            )
        else:
            expect(result["correct"] and failed == 0, f"{name}: traced smoke run is correct")

    name = next(iter(WORKLOADS))
    result = bench.run(name, SEED, 0, trace=False, dataset="sf0.001")
    expect(result["correct"] and result["failed"] == 0, f"{name}: untraced smoke run is correct")
    check_metrics(result, spec["end_to_end"], f"{name} untraced")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
