#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Runs one workload once per seed (from the repository root), then prints
per metric the median, the quartiles, IQR / median and whether that spread
fits the metric's bound in BENCHMARK.json (and a third of it, the target
the benchmark is tuned to). ``setup_s`` is judged on its median only, by
comparing two sets of runs.

    python3 kgbench/spread.py run --workload crawl_batch --seeds 1-10 \\
        --out kgbench/results/crawl_batch-a.json
    python3 kgbench/spread.py compare kgbench/results/crawl_batch-a.json \\
        kgbench/results/crawl_batch-b.json

``compare`` checks that the two sets' medians of every metric differ by no
more than the metric's bound (as a share of the first set's median), in
either direction.

Within each run, ``run`` also reports how far apart the timed passes are
(``(max - min) / median``) and how much the last warm-up pass is slower
than the median timed pass: evidence that the window opened in steady
state.
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


def bounds() -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m for m in json.load(fh)["end_to_end"]}


def parse_seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        cmd = json.load(fh)["command"]
    t0 = time.time()
    proc = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    detail = next((json.loads(l[7:]) for l in lines if l.startswith("DETAIL ")), {})
    detail.pop("spark_conf", None)
    detail.pop("trace", None)
    return {"seed": seed, "exit": proc.returncode, "wall_s": wall,
            "result": json.loads(lines[-1]) if proc.returncode == 0 else None,
            "stderr_tail": proc.stderr[-2000:] if proc.returncode else "",
            "detail": detail}


def summarise(runs: list[dict]) -> dict[str, dict]:
    b = bounds()
    vals: dict[str, list[float]] = {}
    for r in runs:
        for name, m in ((r["result"] or {}).get("metrics") or {}).items():
            vals.setdefault(name, []).append(m["value"])
    out = {"_within_run": within_run(runs)} if runs else {}
    for name, xs in vals.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("inf")
        bound = b.get(name, {}).get("bound")
        out[name] = {"n": len(xs), "median": med, "q1": q1, "q3": q3,
                     "iqr_over_median": spread, "bound": bound,
                     "fits_bound": None if bound is None else spread <= bound,
                     "fits_third": None if bound is None else spread <= bound / 3,
                     "values": xs}
    return out


def within_run(runs: list[dict]) -> dict:
    """Per run: the spread of its timed passes and the last warm-up pass
    over the median timed pass; medians and maxima over the runs."""
    spread, warm = [], []
    for r in runs:
        timed = r["detail"].get("passes_s") or []
        warmup = r["detail"].get("warmup_passes_s") or []
        if timed:
            med = statistics.median(timed)
            spread.append((max(timed) - min(timed)) / med)
            if warmup:
                warm.append(warmup[-1] / med - 1.0)
    return {"timed_spread": spread, "last_warmup_over_timed": warm,
            "timed_spread_median": statistics.median(spread) if spread else None,
            "timed_spread_max": max(spread) if spread else None,
            "last_warmup_over_timed_median": statistics.median(warm) if warm else None}


def cmd_run(args) -> int:
    runs = []
    for seed in parse_seeds(args.seeds):
        r = one_run(args.workload, seed, args.seconds, args.trace)
        res = r["result"] or {}
        print(f"seed {seed}: exit {r['exit']} wall {r['wall_s']:.1f}s "
              f"correct={res.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in
                         (res.get("metrics") or {}).items() if not args.trace),
              flush=True)
        runs.append(r)
    summary = summarise(runs)
    w = summary.get("_within_run") or {}
    if w.get("timed_spread"):
        print(f"within run: timed passes (max-min)/median median "
              f"{w['timed_spread_median']:.3f} max {w['timed_spread_max']:.3f}; "
              f"last warm-up over median timed pass, median "
              f"{w['last_warmup_over_timed_median']:+.3f}")
    for name, s in summary.items():
        if name.startswith("_"):
            continue
        print(f"{name:16s} median {s['median']:.4g}  IQR/median {s['iqr_over_median']:.3f}"
              f"  bound {s['bound']}  fits {s['fits_bound']}  third {s['fits_third']}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "runs": runs, "summary": summary},
                      fh, indent=1)
    ok = all(r["exit"] == 0 and r["result"]["correct"] for r in runs)
    return 0 if ok else 1


def cmd_compare(args) -> int:
    b = bounds()
    with open(args.first) as fh:
        first = json.load(fh)["summary"]
    with open(args.second) as fh:
        second = json.load(fh)["summary"]
    ok = True
    for name, s1 in first.items():
        if name not in second or name not in b:
            continue
        m1, m2 = s1["median"], second[name]["median"]
        moved = (m2 - m1) / m1
        fits = abs(moved) <= b[name]["bound"]
        ok &= fits
        print(f"{name:16s} first {m1:.4g}  second {m2:.4g}  moved {moved:+.3f}"
              f"  bound {b[name]['bound']}  {'ok' if fits else 'EXCEEDS'}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int, default=None)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    if args.cmd == "run":
        if args.seconds is None:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
                args.seconds = json.load(fh)["run_seconds"]
        return cmd_run(args)
    return cmd_compare(args)


if __name__ == "__main__":
    sys.exit(main())
