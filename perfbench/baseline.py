"""Run the benchmark over several seeds and record medians and spreads.

    python3 perfbench/baseline.py --seeds 1-10 [--workloads a,b] [--out FILE]

For every workload, runs ``perfbench/run.py --trace 0`` once per seed
(one process at a time), then one traced run on the first seed, and
writes per metric the ten values, their median, quartiles and the
quartile spread as a share of the median (``statistics.quantiles(n=4)``).
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
REPO = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.monotonic() - t0
    with open(os.path.join(HERE, "out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        result["fingerprint"] = json.load(f)["extra"]["fingerprint"]
    return result


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "values": values,
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / statistics.median(values),
    }


def main() -> None:
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", default="")
    ap.add_argument("--no-trace", action="store_true")
    args = ap.parse_args()
    lo, _, hi = args.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    sys.path.insert(0, REPO)
    from levi_spark.delta.writer import DEFAULT_CHECKPOINT_INTERVAL

    report = {
        "nproc": len(os.sched_getaffinity(0)),
        "seeds": seeds,
        "run_seconds": spec["run_seconds"],
        "checkpoint_interval": DEFAULT_CHECKPOINT_INTERVAL,
        "flush_policy": "local filesystem; the engine's writes as they are, no fsync added",
        "workloads": {},
    }
    for wl in args.workloads.split(","):
        runs = [run_once(wl, s, spec["run_seconds"], 0) for s in seeds]
        entry = {
            "why": next(w["why"] for w in spec["workloads"] if w["name"] == wl),
            # the inputs do not depend on the seed: one fingerprint
            "input_fingerprints": sorted({r["fingerprint"] for r in runs}),
            "attempted": [r["attempted"] for r in runs],
            "failed": sum(r["failed"] for r in runs),
            "wall_s": summarize([r["wall_s"] for r in runs]),
            "metrics": {
                m["name"]: dict(summarize([r["metrics"][m["name"]]["value"] for r in runs]),
                                unit=m["unit"], bound=m["bound"])
                for m in spec["end_to_end"]
            },
        }
        if not args.no_trace:
            traced = run_once(wl, seeds[0], spec["run_seconds"], 1)
            entry["traced_seed"] = seeds[0]
            entry["per_layer"] = {k: v["value"] for k, v in traced["metrics"].items()}
        report["workloads"][wl] = entry
        for name, m in entry["metrics"].items():
            flag = "" if m["spread"] < m["bound"] / 3 else "  <-- above a third of the bound"
            print(f"{wl:18s} {name:12s} median {m['median']:12.4f} spread {m['spread']:.4f}"
                  f" bound {m['bound']}{flag}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
