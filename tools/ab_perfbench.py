#!/usr/bin/env python3
"""A/B two checkouts with perfbench, alternated seed by seed.

    python3 tools/ab_perfbench.py BASE CAND --seeds 21-28 [--workload vault_mixed ...]
    python3 tools/ab_perfbench.py --aa CHECKOUT --seeds 21-28

For every seed both checkouts run ``perfbench/run.py --workload W --seed S
--seconds N --trace T`` from their own directory, one after the other; the
order flips on every seed, so a host that drifts during the window weighs on
both sides alike. ``--aa`` runs CHECKOUT against a ``cp -r`` copy of itself
made in a hidden directory beside it (removed at the end): the spread it
shows is what the directory alone moves, the floor under any A/B verdict.

Per workload and metric it prints the median of each side, their ratio, a
bootstrap 95% interval on that ratio (the pairs resampled with replacement
BOOT_RESAMPLES times from a fixed seed, so a report is reproducible from its
runs), the base side's IQR (q3 - q1), the pairs the candidate won (better in
the metric's direction from BASE's BENCHMARK.json) and whether the medians
differ by more than that IQR. Besides the JSON result line's metrics it reads, from
the printed run summary, each op class's and op type's CPU per op (``class.*``
and ``op.*`` rows, lower is better), and each run's round count. Every run
must print ``"correct": true`` with no failed op; the tool says which did
not. ``--out`` keeps the raw per-run results as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

CLASS_LINE = re.compile(r"^\s+class (\w+)\s.*cpu_ms_per_op=\s*([\d.]+)")
OP_LINE = re.compile(r"^\s+(\w+)\s+n=(\d+)\s+p50=.*cpu p50=\s*([\d.]+) ms")
BOOT_RESAMPLES, BOOT_SEED = 2000, 20240101


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One perfbench run from ``checkout``: its metrics, rounds and verdict."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    out = {"checkout": checkout, "workload": workload, "seed": seed, "metrics": {}, "ok": False}
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        out["error"] = f"exit {proc.returncode}: {proc.stderr.strip().splitlines()[-1:]}"
        return out
    out["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    out["ok"] = result["correct"] and result["failed"] == 0
    for line in lines:
        if m := re.search(r"\brounds=(\d+)", line):
            out["rounds"] = int(m.group(1))
        elif m := CLASS_LINE.match(line):
            out["metrics"][f"class.{m.group(1)}.cpu_ms_per_op"] = float(m.group(2))
        elif m := OP_LINE.match(line):
            out["metrics"][f"op.{m.group(1)}.cpu_ms"] = float(m.group(3))
    return out


def directions(checkout: str) -> dict[str, str]:
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def ratio_interval(both: list[tuple[float, float]]) -> tuple[float, float] | None:
    """Bootstrap 95% interval of median(cand) / median(base): the pairs are
    resampled together, so host drift shared by a pair stays paired."""
    rng = random.Random(BOOT_SEED)
    ratios = []
    for _ in range(BOOT_RESAMPLES):
        sample = rng.choices(both, k=len(both))
        mb = statistics.median(x for x, _ in sample)
        if mb:
            ratios.append(statistics.median(y for _, y in sample) / mb)
    if len(ratios) < BOOT_RESAMPLES // 2:
        return None
    ratios.sort()
    return ratios[int(0.025 * len(ratios))], ratios[int(0.975 * len(ratios)) - 1]


def report(runs: list[dict], base: str, cand: str, better: dict[str, str]) -> None:
    for workload in dict.fromkeys(r["workload"] for r in runs):
        pairs = {}
        for r in runs:
            if r["workload"] == workload:
                pairs.setdefault(r["seed"], {})["base" if r["checkout"] == base else "cand"] = r
        pairs = [p for p in pairs.values() if len(p) == 2]
        bad = [f"{side} seed {p[side]['seed']}: {p[side].get('error', 'incorrect or failed ops')}"
               for p in pairs for side in ("base", "cand") if not p[side]["ok"]]
        print(f"\n== {workload}: {len(pairs)} pairs, "
              f"rounds per run base {[p['base'].get('rounds') for p in pairs]} "
              f"cand {[p['cand'].get('rounds') for p in pairs]}")
        for line in bad:
            print(f"  NOT CORRECT  {line}")
        names = sorted({k for p in pairs for k in p["base"]["metrics"]}
                       & {k for p in pairs for k in p["cand"]["metrics"]},
                       key=lambda k: (k.startswith(("class.", "op.")), k))
        print(f"  {'metric':<36} {'base med':>11} {'cand med':>11} {'ratio':>7} "
              f"{'ratio 95% CI':>15} {'base IQR':>10} {'won':>6}  beyond IQR")
        for name in names:
            both = [(p["base"]["metrics"][name], p["cand"]["metrics"][name]) for p in pairs
                    if name in p["base"]["metrics"] and name in p["cand"]["metrics"]]
            b, c = [x for x, _ in both], [y for _, y in both]
            higher = better.get(name, "lower") == "higher"
            won = sum((y > x) if higher else (y < x) for x, y in both)
            mb, mc, spread = statistics.median(b), statistics.median(c), iqr(b)
            ratio = f"{mc / mb:7.3f}" if mb else "      -"
            ci = ratio_interval(both)
            ci = f"[{ci[0]:.3f}, {ci[1]:.3f}]" if ci else "-"
            print(f"  {name:<36} {mb:11.4g} {mc:11.4g} {ratio} {ci:>15} {spread:10.4g} "
                  f"{won:>2}/{len(both):<3}  {'yes' if abs(mc - mb) > spread else 'no'}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("checkouts", nargs="+", help="BASE CAND, or one CHECKOUT with --aa")
    ap.add_argument("--aa", action="store_true", help="run the checkout against a cp -r copy of itself")
    ap.add_argument("--workload", action="append", help="repeatable; default vault_mixed")
    ap.add_argument("--seeds", default="21-28", help="e.g. 21-28 or 21,23,25")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append each run's result to this JSON-lines file")
    args = ap.parse_args(argv)
    if len(args.checkouts) != (1 if args.aa else 2):
        ap.error("give BASE CAND, or one CHECKOUT with --aa")
    base = os.path.abspath(args.checkouts[0])
    copy_dir = None
    if args.aa:
        # beside the checkout, so both sides sit on one filesystem
        copy_dir = tempfile.mkdtemp(prefix=".ab_perfbench_", dir=os.path.dirname(base))
        cand = os.path.join(copy_dir, os.path.basename(base))
        subprocess.run(["cp", "-r", base, cand], check=True)
    else:
        cand = os.path.abspath(args.checkouts[1])
    runs = []
    try:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            for workload in args.workload or ["vault_mixed"]:
                for checkout in (base, cand) if i % 2 == 0 else (cand, base):
                    r = run_once(checkout, workload, seed, args.seconds, args.trace)
                    runs.append(r)
                    side = "base" if checkout == base else "cand"
                    print(f"{workload} seed={seed} {side} rounds={r.get('rounds')} ok={r['ok']} "
                          + " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items()
                                     if not k.startswith(("class.", "op."))), flush=True)
                    if args.out:
                        with open(args.out, "a") as f:
                            f.write(json.dumps({**r, "side": side}) + "\n")
    finally:
        if copy_dir:
            shutil.rmtree(copy_dir, ignore_errors=True)
    report(runs, base, cand, directions(base))
    return 0 if all(r["ok"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
