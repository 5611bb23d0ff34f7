#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how steady it is.

    python3 perfbench/spread.py [--workloads events_pipeline corpus_refresh] \
        [--seeds 1 2 3 4 5] [--trace 0] [--save results.jsonl]
    python3 perfbench/spread.py --compare A.jsonl B.jsonl

For each workload and end-to-end metric it prints the median, the spread
(distance between the first and third quartile, as a share of the median)
and the metric's bound from BENCHMARK.json, plus the wall time of every run.
``--compare A.jsonl B.jsonl`` instead checks that two saved sets agree: for
every workload and metric, B's median is not worse than A's by more than the
bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [*bench_spec()["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    summary = next((json.loads(x)["summary"] for x in lines if x.startswith('{"summary"')), None)
    return {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
            "wall_s": wall, "result": result, "summary": summary,
            "stderr_tail": p.stderr[-2000:] if p.returncode else ""}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def by_metric(rows: list[dict], workload: str) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in rows:
        if r["workload"] == workload and r["result"]:
            for k, v in r["result"]["metrics"].items():
                out.setdefault(k, []).append(v["value"])
    return out


def report(rows: list[dict]) -> bool:
    bounds = {m["name"]: m["bound"] for m in bench_spec()["end_to_end"]}
    ok = True
    for w in sorted({r["workload"] for r in rows}):
        mine = [r for r in rows if r["workload"] == w]
        print(f"{w}: runs {len(mine)}, walls "
              + " ".join(f"{r['wall_s']:.0f}" for r in mine)
              + f", failed runs {sum(r['exit'] != 0 for r in mine)}")
        summaries = [r["summary"] for r in mine if r.get("summary")]
        for k in ("pass_s", "cold_pass_s", "cpu_steal_frac"):
            vals = [s[k] for s in summaries if k in s]
            if len(vals) >= 2 and statistics.median(vals) > 0:
                print(f"  {k:18s} median {statistics.median(vals):10.3f}  spread "
                      f"{spread(vals):6.3f}  (summary line, not bounded)")
        for k, vals in by_metric(rows, w).items():
            if len(vals) < 2 or k not in bounds:
                continue
            s = spread(vals)
            steady = k == "setup_s" or s <= bounds[k] / 3
            ok &= steady
            print(f"  {k:18s} median {statistics.median(vals):10.3f}  spread {s:6.3f}"
                  f"  bound {bounds[k]:.2f}  {'ok' if steady else 'WIDE'}")
    return ok


def compare(a_rows: list[dict], b_rows: list[dict]) -> bool:
    spec = bench_spec()["end_to_end"]
    ok = True
    for w in sorted({r["workload"] for r in a_rows}):
        a, b = by_metric(a_rows, w), by_metric(b_rows, w)
        for m in spec:
            ma, mb = statistics.median(a[m["name"]]), statistics.median(b[m["name"]])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            good = worse <= m["bound"]
            ok &= good
            print(f"{w:16s} {m['name']:18s} {ma:10.3f} -> {mb:10.3f}  worse by {worse:+.3f}"
                  f"  bound {m['bound']:.2f}  {'ok' if good else 'FAIL'}")
    return ok


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="*", default=None)
    ap.add_argument("--seeds", type=int, nargs="*", default=[1, 2, 3, 4, 5])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    a = ap.parse_args()
    if a.compare:
        return 0 if compare(load(a.compare[0]), load(a.compare[1])) else 1
    spec = bench_spec()
    rows = []
    for w in a.workloads or [x["name"] for x in spec["workloads"]]:
        for s in a.seeds:
            r = run_once(w, s, spec["run_seconds"], a.trace)
            rows.append(r)
            print(json.dumps({k: r[k] for k in ("workload", "seed", "exit", "wall_s")}
                             | {"metrics": {k: v["value"] for k, v in
                                            (r["result"] or {}).get("metrics", {}).items()}}),
                  flush=True)
            if r["exit"]:
                print(r["stderr_tail"], file=sys.stderr)
            if a.save:
                with open(a.save, "a") as f:
                    f.write(json.dumps(r) + "\n")
    return 0 if report(rows) else 1


if __name__ == "__main__":
    sys.exit(main())
