"""Run a workload once per seed and report each metric's median and
spread (interquartile distance over median), against the bounds in
``BENCHMARK.json``: the check that decides whether the benchmark is
steady enough to judge a change by.

    python3 perfbench/steady.py --workload vortex_scan --seeds 1-10 [--trace 0]
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
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        wall = time.monotonic() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", flush=True)
            runs.append({"seed": seed, "exit": out.returncode, "wall_s": wall})
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **res})
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.0f} s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
    report = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        sp = stats.spread(vs) if len(vs) >= 2 and med else None
        report[k] = {"median": med, "spread": sp, "bound": bounds.get(k), "n": len(vs)}
        flag = ""
        if sp is not None and k in bounds and k != "setup_s":
            flag = "ok" if sp < bounds[k] / 3 else ("within bound" if sp < bounds[k] else "TOO WIDE")
        print(f"{k:28s} median={med:.4g} spread={sp if sp is None else round(sp, 4)} {flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    path = os.path.join(ROOT, ".perfbench_work", "records", f"steady-{a.workload}-{int(time.time())}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"workload": a.workload, "runs": runs, "report": report}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
