#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

For every workload it checks that an untraced run emits every end-to-end
metric of BENCHMARK.json with its unit and passes its own output checks,
that a traced run emits every per-layer metric with its unit, that
`etl_daily` loads a mixed day (updates, deletes, inserts and key rewrites,
each checked), and that a run with one deliberately corrupted expected
answer reports a failure (correct false, failed >= 1). Exits non-zero on
the first miss.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# a run shorter than 8 s uses the benchmark's tiny sizes
TINY = ["--seconds", "1"]


def run(workload, trace, corrupt):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--trace", str(trace), "--corrupt", str(corrupt)] + TINY
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace} corrupt={corrupt}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = [json.loads(l) for l in p.stdout.strip().splitlines()]
    return lines[-1], next(l["detail"] for l in lines if "detail" in l)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, detail = run(w, trace, 0)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                sys.exit(f"FAIL {w} trace={trace}: metrics {sorted(got.items())} != {sorted(want.items())}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                sys.exit(f"FAIL {w} trace={trace}: checks failed on clean inputs: {res}")
            if w == "etl_daily" and "mixed" not in detail["day_kinds"]:
                sys.exit(f"FAIL {w}: no day with updates, deletes, inserts and key rewrites was loaded")
            print(f"ok   {w} trace={trace}: {len(got)} metrics, {res['attempted']} ops checked")
        res, _ = run(w, 0, 1)
        if res["correct"] or res["failed"] < 1:
            sys.exit(f"FAIL {w}: a corrupted expected answer was not reported: {res}")
        print(f"ok   {w} corrupt: {res['failed']} of {res['attempted']} ops reported failed")
    print("selftest passed")


if __name__ == "__main__":
    main()
