"""Run the benchmark over several seeds and summarise every metric.

    python3 perfbench/sweep.py --seeds 1-10
    python3 perfbench/sweep.py --workloads rmat-skew --seeds 1-5 --trace 1

Each run is a separate ``run.py`` process. For every workload the table
gives each metric's unit, sample count, median, upper quartile, maximum,
and spread: the distance between the first and third quartiles as a share
of the median, next to the bound BENCHMARK.json fixes. ``--trace 1`` runs
each seed untraced and then traced, so every traced run can report its
tracing overhead.
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


def seeds_arg(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict | None, float]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    start = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - start
    lines = proc.stdout.strip().splitlines()
    for line in lines:
        if line.startswith('{"info"'):
            info = json.loads(line)["info"]
            print(f"{workload} seed {seed}: exit {proc.returncode}, wall {wall:.1f} s, "
                  f"memcpy {info['memcpy_gb_s']} GB/s, steal {info['steal_pct']}%, work {info['work']}", flush=True)
    if trace:
        print("\n".join(line for line in lines[:-1] if not line.startswith("{")))
    try:
        return json.loads(lines[-1]), wall
    except (IndexError, json.JSONDecodeError):
        print(f"{workload} seed {seed}: no result (exit {proc.returncode})\n"
              f"{proc.stderr[-2000:]}", file=sys.stderr)
        return None, wall


def summarise(results: list[dict], bounds: dict[str, float]) -> None:
    names = list(results[0]["metrics"])
    print(f"{'metric':<30}{'unit':>9}{'n':>4}{'median':>14}{'p75':>14}{'max':>14}"
          f"{'spread':>8}{'bound':>7}")
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        bound = bounds.get(name)
        flag = "" if bound is None or spread < bound / 3 else " *" if spread <= bound else " !"
        print(f"{name:<30}{results[0]['metrics'][name]['unit']:>9}{len(vals):>4}"
              f"{med:>14.4f}{q[2]:>14.4f}{max(vals):>14.4f}{spread:>8.3f}"
              f"{'' if bound is None else f'{bound:.2f}':>7}{flag}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="also write every run's result to this JSON file")
    args = p.parse_args()
    raw: dict[str, list[dict]] = {}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    status = 0
    for workload in args.workloads.split(","):
        plain, traced, walls = [], [], []
        failed = attempted = 0
        for seed in args.seeds:
            res, wall = run_once(workload, seed, args.seconds, 0)
            walls.append(wall)
            if res is None:
                status = 1
                continue
            plain.append(res)
            attempted += res["attempted"]
            failed += res["failed"]
            if args.trace:
                res, _ = run_once(workload, seed, args.seconds, 1)
                if res is not None:
                    traced.append(res)
        print(f"\n== {workload}: {len(plain)} runs, failed {failed}/{attempted} "
              f"operations, fail_ratio {failed / max(attempted, 1):.4f}, "
              f"wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        if plain:
            summarise(plain, bounds)
        if traced:
            print(f"\n-- {workload}: per-layer metrics, {len(traced)} traced runs")
            summarise(traced, {})
        status |= int(failed > 0)
        raw[workload] = plain + traced
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(raw, fh)
    return status


if __name__ == "__main__":
    sys.exit(main())
