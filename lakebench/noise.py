"""Run sets of benchmark runs and report their noise.

    python3 lakebench/noise.py run OUT.jsonl [--workloads erd payload]
        [--seeds 1-10] [--trace 0]
    python3 lakebench/noise.py report SET_A.jsonl [SET_B.jsonl]

``run`` runs ``lakebench/run.py`` once per (workload, seed), one after
another, and appends one JSON record per run to OUT.jsonl: the result,
the load average at the start and end of the run and the CPU time stolen
per second.

``report`` prints, per workload and end-to-end metric, each set's median
and spread (the distance between the first and third quartiles as a
share of the median) and, given two sets, the drift of the second median
from the first in the metric's worse direction. It names every metric
whose spread exceeds its bound in ``BENCHMARK.json`` or a third of it,
and every metric whose drift exceeds its bound. Exit status 1 if any
bound is exceeded.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(out: str, workloads: list[str], seeds: list[int],
            trace: int) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        seconds = json.load(f)["run_seconds"]
    for wl in workloads:
        for seed in seeds:
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, "lakebench/run.py", "--workload", wl,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            noise = next((json.loads(line.split(" ", 1)[1])
                          for line in proc.stderr.splitlines()
                          if line.startswith("lakebench-noise ")), {})
            lines = proc.stdout.strip().splitlines()
            rec = {"workload": wl, "seed": seed, "rc": proc.returncode,
                   "run_s": time.monotonic() - t0,
                   "result": json.loads(lines[-1]) if lines else None,
                   "loadavg_start": noise.get("loadavg_start"),
                   "loadavg_end": noise.get("loadavg_end"),
                   "steal_s_per_s": noise.get("steal_s_per_s"),
                   "passes": noise.get("passes")}
            with open(out, "a", encoding="utf-8") as f:
                f.write(json.dumps(rec) + "\n")
            m = (rec["result"] or {}).get("metrics", {})
            print(f"{wl} seed={seed} rc={proc.returncode} "
                  f"run={rec['run_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()),
                  flush=True)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _load(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def report(paths: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    sets = [_load(p) for p in paths]
    bad = 0
    for wl in [w["name"] for w in bench["workloads"]]:
        runs = [[r for r in s if r["workload"] == wl] for s in sets]
        if not all(runs):
            continue
        for i, rs in enumerate(runs):
            res = [r["result"] or {} for r in rs]
            failed = sum(r.get("failed", 0) for r in res)
            med = lambda key: statistics.median(  # noqa: E731
                r[key] or 0 for r in rs)
            print(f"{wl} set{i}: runs={len(rs)} "
                  f"nonzero_rc={sum(r['rc'] != 0 for r in rs)} "
                  f"attempted={sum(r.get('attempted', 0) for r in res)} "
                  f"failed={failed} "
                  f"run_s_max={max(r['run_s'] for r in rs):.1f} "
                  f"loadavg={med('loadavg_start'):.2f}"
                  f"->{med('loadavg_end'):.2f} "
                  f"steal_s_per_s={med('steal_s_per_s'):.4f}")
            bad += failed > 0
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds, line = [], f"  {wl:8s} {name:16s} bound={bound:.2f}"
            for rs in runs:
                vals = [r["result"]["metrics"][name]["value"] for r in rs
                        if r["result"]]
                med, spr = statistics.median(vals), spread(vals)
                meds.append(med)
                line += f" | median={med:.4g} spread={spr:.3f}"
                if spr > bound:
                    line += " EXCEEDS-BOUND"
                    bad += 1
                elif spr > bound / 3:
                    line += " above-third"
            if len(meds) == 2:
                sign = 1 if m["better"] == "lower" else -1
                drift = sign * (meds[1] - meds[0]) / meds[0]
                line += f" | drift={drift:+.3f}"
                if drift > bound:
                    line += " DRIFT-EXCEEDS-BOUND"
                    bad += 1
            print(line)
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--workloads", nargs="+", default=["erd", "payload"])
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("report")
    p.add_argument("sets", nargs="+")
    args = ap.parse_args(argv)
    if args.cmd == "run":
        run_set(args.out, args.workloads, _seeds(args.seeds), args.trace)
        return 0
    return report(args.sets)


if __name__ == "__main__":
    sys.exit(main())
