"""Fast self-check of the benchmark itself, on tiny generated inputs.

    python3 perfbench/selfcheck.py

Makes one traced ``etl_load`` run at ``--sf 0.001`` with one key's result
deliberately corrupted, then checks four things:

1. every metric named in BENCHMARK.json is printed with the unit declared
   there (end-to-end ones in the report lines, per-layer ones in the JSON);
2. the corrupted result is counted as a failure, and the other keys still
   ran;
3. the trace spans nest: each closes inside its parent, each self time is
   non-negative, and each key span lies inside its unit span;
4. the Spark stages of the streaming key, which run on the stream's own
   thread, are booked to that key in a traced unit.

Exits 0 when all four hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WRONG_KEY = "job_incremental_etl"
STREAM_KEY = "stream_foreachbatch_sink"


def main() -> int:
    import observe

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_selfcheck-") as tmp:
        detail_path = os.path.join(tmp, "detail.json")
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(HERE, "run.py"),
                "--workload", "etl_load",
                "--seed", "7",
                "--seconds", "0",
                "--trace", "1",
                "--sf", "0.001",
                "--inject-wrong", WRONG_KEY,
                "--detail", detail_path,
            ],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=900,
        )
        if proc.returncode != 0:
            print(proc.stderr[-4000:], file=sys.stderr)
            print(f"selfcheck: run failed with exit code {proc.returncode}")
            return 1
        with open(detail_path) as f:
            detail = json.load(f)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    problems: list[str] = []

    # 1. every named metric with its unit
    printed = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) == 3:
            printed[parts[0]] = parts[2]
    for m in spec["end_to_end"]:
        if printed.get(m["name"]) != m["unit"]:
            problems.append(f"end-to-end {m['name']} not printed with unit {m['unit']}")
    for m in spec["per_layer"]:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            problems.append(f"per-layer {m['name']} missing or not in {m['unit']}")
        elif not isinstance(got["value"], (int, float)):
            problems.append(f"per-layer {m['name']} is not a number")
    extra = set(result["metrics"]) - {m["name"] for m in spec["per_layer"]}
    if extra:
        problems.append(f"metrics not declared in BENCHMARK.json: {sorted(extra)}")

    # 2. the corrupted result counts as a failure; nothing else fails
    wrong = [f for f in detail["failures"] if f"/{WRONG_KEY}:" in f]
    if result["correct"] or result["failed"] < 1 or not wrong:
        problems.append("the deliberately wrong result was not counted as a failure")
    if result["failed"] != len(wrong):
        problems.append(f"unexpected failures: {detail['failures']}")
    if result["attempted"] <= result["failed"]:
        problems.append("a failure stopped the other keys")

    # 3. spans nest
    tracer = observe.Tracer()
    tracer.spans = detail["spans"]
    problems += tracer.problems()
    units = [s for s in tracer.spans if s["name"].startswith("unit/")]
    if not units:
        problems.append("no unit spans recorded")
    for u in units:
        for child in tracer.children(u["id"]):
            if not (u["start"] <= child["start"] <= child["end"] <= u["end"]):
                problems.append(f"{child['name']} lies outside {u['name']}")
        if tracer.self_time(u) < 0:
            problems.append(f"{u['name']} has negative self time")

    # 4. the streaming query's stages are counted with its key
    traced = [u for u in detail["units"] if u["traced"]]
    if not any(u["spark"]["stages_by_key"].get(STREAM_KEY) for u in traced):
        problems.append(f"no Spark stages booked to {STREAM_KEY} in a traced unit")

    for p in problems:
        print(f"selfcheck: FAIL {p}")
    print(
        f"selfcheck: {'ok' if not problems else 'FAILED'} "
        f"({len(spec['end_to_end'])} end-to-end and {len(spec['per_layer'])} per-layer "
        f"metrics, {len(units)} unit spans, {result['failed']}/{result['attempted']} failed)"
    )
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
