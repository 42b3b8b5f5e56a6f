"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload enrich_backlog --seeds 1-10
    python3 perfbench/steady.py --workload enrich_backlog --seeds 1-3 --trace 1

For every end-to-end metric it prints the median and the distance between
the first and third quartiles (``statistics.quantiles(values, n=4)``) as a
share of the median, next to the metric's bound from BENCHMARK.json; the
acceptance rule is spread below the bound, and the aim a third of it. It
also prints the host probe (``host.calib_s``) over the same runs. With
``--trace 1`` it runs traced and, for seeds that also have an untraced
record in ``.perfbench_runs/``, prints the tracing overhead (traced minus
untraced ``rows_per_s`` and ``op_latency_p50_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _record(workload: str, seed: int, trace: int) -> dict | None:
    path = os.path.join(ROOT, ".perfbench_runs", f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    results, calib = [], []
    for seed in _seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=900)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        rec = _record(args.workload, seed, args.trace)
        results.append((seed, res, rec))
        calib.extend(rec["host_calib_s"])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                  if args.trace == 0), flush=True)

    if args.trace == 0:
        print(f"\n{'metric':<22}{'median':>12}{'IQR/median':>12}{'bound':>8}")
        for m in bench["end_to_end"]:
            values = [r["metrics"][m["name"]]["value"] for _, r, _ in results]
            med, spread = _spread(values)
            print(f"{m['name']:<22}{med:>12.5g}{spread:>12.4f}{m['bound']:>8}")
    else:
        for key in ("rows_per_s", "op_latency_p50_s"):
            deltas = []
            for seed, res, _ in results:
                untraced = _record(args.workload, seed, 0)
                if untraced is not None:
                    deltas.append(res["metrics"][f"tracing.{key}"]["value"]
                                  - untraced["result"]["metrics"][key]["value"])
            if deltas:
                print(f"tracing overhead {key}: median {statistics.median(deltas):+.4g} "
                      f"over {len(deltas)} seeds")
    med, spread = _spread(calib)
    print(f"host.calib_s: median {med:.4f} s, IQR/median {spread:.4f}, "
          f"min {min(calib):.4f}, max {max(calib):.4f}")
    return 0 if all(r["correct"] and r["failed"] == 0 for _, r, _ in results) else 1


if __name__ == "__main__":
    sys.exit(main())
