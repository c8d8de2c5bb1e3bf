"""Steadiness check: run one workload once per seed, in sequence, and print
each metric's median and quartile spread (Q3 - Q1 over the median).

    python3 perfbench/spread.py --workload kv_mixed --seeds 1-10 --seconds 10 [--trace 0]

``--overhead`` measures the tracing overhead instead: each seed runs once
untraced and once traced, and the traced run's end-to-end figures (its
``perfbench: traced`` line) are compared with the untraced run's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from summary import quartile_spread  # noqa: E402


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(args, seed: int, trace: str) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(seed), "--seconds", args.seconds, "--trace", trace],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
    ).stdout
    lines = out.strip().splitlines()
    if args.verbose:
        print("\n".join(lines[:-1]))
    return lines[:-1], json.loads(lines[-1])


def traced_e2e(lines: list[str]) -> dict[str, float]:
    """The traced run's own end-to-end figures: ``perfbench: traced k v ...``."""
    for line in lines:
        if line.startswith("perfbench: traced "):
            parts = line.split()[2:]
            return {k: float(v) for k, v in zip(parts[::2], parts[1::2])}
    raise ValueError("no 'perfbench: traced' line in the traced run")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--overhead", action="store_true",
                    help="compare traced with untraced end-to-end figures per seed")
    ap.add_argument("--verbose", action="store_true", help="print every run's report lines")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds_of(args.seeds):
        if args.overhead:
            _, plain = run_once(args, seed, "0")
            lines, _ = run_once(args, seed, "1")
            traced = traced_e2e(lines)
            row = {
                f"{k}_overhead_pct": (traced[k] - plain["metrics"][k]["value"])
                / plain["metrics"][k]["value"] * 100.0
                for k in traced
            }
            print(f"seed {seed} " + " ".join(f"{k}={v:+.2f}" for k, v in row.items()),
                  flush=True)
        else:
            _, res = run_once(args, seed, args.trace)
            row = {k: v["value"] for k, v in res["metrics"].items()}
            print(f"seed {seed} correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    for k, xs in values.items():
        med = statistics.median(xs)
        if args.overhead:  # a difference: its spread over the median means nothing
            print(f"{k} median={med:+.2f} min={min(xs):+.2f} max={max(xs):+.2f}")
            continue
        spread = quartile_spread(xs) if len(xs) > 1 and med else 0.0
        print(f"{k} median={med:.6g} spread={spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
