"""Steadiness evidence: sets of ``--trace 0`` runs of the unchanged code.

    python3 perfbench/steadiness.py --sets A B --seeds 1-10 --out perfbench/steadiness.json

Run from the repository root. For each set, and each workload listed in
``BENCHMARK.json``, it runs ``run.py`` once per seed, one run at a time,
and records every run's result line, its wall-clock figures (printed by
``run.py`` but not part of the result) and its duration. Each set gets
the median, quartiles and spread, (q3 - q1) / median as
``statistics.quantiles(values, n=4)`` gives them, of every metric, and
each later set the change of its medians against the first set's.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WALL_LINE = re.compile(r"^  (\S+): (\S+) (\S+) \(wall clock")


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _one(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    run = {"seed": seed, "exit": p.returncode, "wall_s": round(time.perf_counter() - t0, 1)}
    lines = p.stdout.strip().splitlines()
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
        run |= {k: result[k] for k in ("correct", "attempted", "failed")}
        run["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    run["wall_clock"] = {m[1]: float(m[2]) for m in map(WALL_LINE.match, lines) if m}
    return run


def _summary(runs: list[dict], key: str, bounds: dict) -> dict:
    out = {}
    for name in runs[0].get(key, {}):
        xs = [r[key][name] for r in runs if name in r.get(key, {})]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
        if name in bounds:
            out[name]["bound"] = bounds[name]
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sets", nargs="+", default=["A", "B"])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out", default=os.path.join(HERE, "steadiness.json"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    doc = {
        "what": f"{len(args.sets)} independent sets of --trace 0 runs per listed workload of the "
                f"unchanged code, seeds {args.seeds} in each set, one run at a time, the sets one "
                "after the other; every run generates its own inputs. wall_clock holds the "
                "wall-time figures run.py prints but does not put in its result line.",
        "command": f"python3 perfbench/run.py --workload <workload> --seed <seed> --seconds {seconds} --trace 0",
        "host": f"{os.cpu_count()} vCPU {platform.machine()}, {platform.system()} {platform.release()}",
        "spread": "(q3 - q1) / median with statistics.quantiles(values, n=4)",
        "sets": {},
    }
    for s in args.sets:
        doc["sets"][s] = {}
        for w in (w["name"] for w in bench["workloads"]):
            runs = []
            for seed in _seeds(args.seeds):
                runs.append(_one(w, seed, seconds))
                print(f"{s} {w} {json.dumps(runs[-1])}", flush=True)
            doc["sets"][s][w] = {
                "runs": runs,
                "summary": _summary(runs, "metrics", bounds),
                "wall_clock_summary": _summary(runs, "wall_clock", {}),
            }
        _write(doc, args.sets, args.out)  # after every set, so a cut-short run keeps the sets done
    return 0


def _write(doc: dict, sets: list[str], out: str) -> None:
    first = doc["sets"][sets[0]]
    doc["median_change"] = {
        s: {w: {m: v["median"] / first[w]["summary"][m]["median"] - 1
                for m, v in doc["sets"][s][w]["summary"].items()} for w in first}
        for s in sets[1:] if s in doc["sets"]
    }
    with open(out, "w") as fh:
        json.dump(doc, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
