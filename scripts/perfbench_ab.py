#!/usr/bin/env python3
"""Order-alternating A/B of ``perfbench/run.py`` between two checkouts.

    python3 scripts/perfbench_ab.py --parent ../base --change . \\
        --workload vector_index --seeds 911-920 [--seconds 5] [--trace 0]

For each seed it runs the workload once in each checkout (``p`` is
``--parent``, ``c`` is ``--change``), the parent first on the 1st,
3rd, ... seed and the change first on the others, so neither side
always runs on a warmer or busier host. Each run prints as
``seed+side:items_per_s/setup_s`` the moment it ends; a run that is
not correct or has failed operations is flagged. At the end come, for
both end-to-end metrics, each side's median and quartiles (inclusive
method), the parent's IQR/median, the change's median gap and the
number of pairs the change won (higher ``items_per_s``, lower
``setup_s``). With ``--trace 1`` each run prints its per-layer
metrics as one JSON object instead, and no summary follows.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from statistics import quantiles

METRICS = (("items_per_s", "higher", "{:.4g}"), ("setup_s", "lower", "{:.3g}"))


def seeds_arg(text: str) -> list[int]:
    """``911-920`` or ``911,913,917`` (or a mix)."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout: str, args, seed: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(
        f"{checkout} seed {seed}: no result line (exit {p.returncode})\n"
        + p.stderr[-2000:]
    )


def quartiles(xs: list[float]) -> list[float]:
    """[q1, median, q3]; one run is its own quartiles."""
    return quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3


def summary(name: str, better: str, fmt: str, runs: dict) -> None:
    p = [runs[s]["p"]["metrics"][name]["value"] for s in runs]
    c = [runs[s]["c"]["metrics"][name]["value"] for s in runs]
    won = sum((cv > pv) if better == "higher" else (cv < pv)
              for pv, cv in zip(p, c))
    (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
    f = fmt.format
    print(
        f"{name}: parent median {f(pm)} q1 {f(p1)} q3 {f(p3)}"
        f" (IQR {f(p3 - p1)}, IQR/median {(p3 - p1) / pm:.3f});"
        f" change median {f(cm)} q1 {f(c1)} q3 {f(c3)};"
        f" gap {f(cm - pm)} ({100 * (cm - pm) / pm:+.1f}%);"
        f" change better in {won}/{len(p)} pairs ({better} is better)"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="baseline checkout")
    ap.add_argument("--change", required=True, help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sides = {"p": os.path.abspath(args.parent), "c": os.path.abspath(args.change)}

    runs: dict[int, dict] = {}
    for i, seed in enumerate(args.seeds):
        runs[seed] = {}
        for side in ("pc" if i % 2 == 0 else "cp"):
            r = run_once(sides[side], args, seed)
            runs[seed][side] = r
            m = {k: v["value"] for k, v in r["metrics"].items()}
            flag = "" if r["correct"] and not r["failed"] else (
                f" [correct={r['correct']} failed={r['failed']}]"
            )
            if args.trace:  # per-layer metrics in place of end-to-end
                print(f"{seed}{side}:{flag} {json.dumps(m, sort_keys=True)}")
                continue
            print(
                f"{seed}{side}:{METRICS[0][2].format(m['items_per_s'])}"
                f"/{METRICS[1][2].format(m['setup_s'])}{flag}",
                flush=True,
            )
    if not args.trace:
        for name, better, fmt in METRICS:
            summary(name, better, fmt, runs)


if __name__ == "__main__":
    main()
