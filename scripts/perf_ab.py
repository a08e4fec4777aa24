#!/usr/bin/env python3
"""Interleaved A/B of the repository benchmark between two checkouts.

    python3 scripts/perf_ab.py --parent REF_OR_DIR --change REF_OR_DIR \\
        [--workload bulk_crawl --workload seen_dedup] [--pairs 10] \\
        [--seed 401] [--out ab.json]

Each side is a directory holding a checkout, or a git ref of this
repository, exported with ``git archive`` into a temporary directory.  For
every workload the tool runs ``perfbench/run.py --trace 0`` once per side
per pair, for the ``run_seconds`` of ``BENCHMARK.json``, alternating which
side goes first so a drifting host load hits both sides alike; both runs of
a pair use the same seed, and seeds differ between pairs.  A gain may only
be claimed from at least 10 pairs (the default); fewer pairs (at least 5)
check that no metric regressed.  Runs are strictly sequential: two Spark sessions at once
would measure each other.

For every end-to-end metric of ``BENCHMARK.json`` it reports, per workload:
the parent's median and interquartile range, the median of the per-pair
change/parent ratios with a 95% percentile-bootstrap confidence interval,
in how many pairs the change was better, and a verdict (``verdict``):

  * ``worse`` — the change's median is worse than the parent's by more
    than the metric's bound;
  * ``better`` — the change was better in at least nine tenths of the
    pairs and the medians differ by more than the parent's interquartile
    range;
  * ``unresolved`` — the parent's own spread (IQR / median) exceeds the
    bound, so a regression of the bound's size would not show, and not
    every change run beats every parent run;
  * ``within bound`` — otherwise.

Every run's result line, including ``correct``/``failed`` and the
host-contention diagnostics ``perfbench/run.py`` prints on stderr, is kept
in the ``--out`` JSON.  Progress and the table go to stderr; the last
stdout line is the summary JSON.  Standard library only.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESAMPLES = 2000


def log(*parts) -> None:
    print("[perf_ab]", *parts, file=sys.stderr, flush=True)


def checkout(spec: str, tmp: str, name: str) -> str:
    """A directory holding ``spec``: itself when it is one, else the git
    ref exported from this repository."""
    if os.path.isdir(spec):
        return os.path.abspath(spec)
    dest = os.path.join(tmp, name)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", spec], check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{tree}: {' '.join(cmd)} exited {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    diag = [ln.split("diagnostics ", 1)[1] for ln in proc.stderr.splitlines() if "] diagnostics " in ln]
    result["diagnostics"] = json.loads(diag[-1]) if diag else None
    return result


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def bootstrap_ci(ratios: list[float], rng: random.Random) -> tuple[float, float]:
    """95% percentile-bootstrap interval of the median ratio."""
    meds = sorted(
        statistics.median(rng.choices(ratios, k=len(ratios))) for _ in range(RESAMPLES)
    )
    return meds[int(0.025 * RESAMPLES)], meds[int(0.975 * RESAMPLES) - 1]


def verdict(par: list[float], chg: list[float], lower: bool, bound: float) -> str:
    """``worse``, ``better``, ``unresolved`` or ``within bound`` (module
    docstring) for one metric's parent and change runs, paired by index."""
    sign = 1 if lower else -1  # sign * (x - y) > 0: x is worse than y
    par_med, chg_med = statistics.median(par), statistics.median(chg)
    q1, q3 = quartiles(par)
    if sign * (chg_med - par_med) > bound * abs(par_med):
        return "worse"
    wins = sum(sign * (p - c) > 0 for c, p in zip(chg, par))
    if wins >= 0.9 * len(par) and sign * (par_med - chg_med) > q3 - q1:
        return "better"
    separated = max(chg) < min(par) if lower else min(chg) > max(par)
    if q3 - q1 > bound * abs(par_med) and not separated:
        return "unresolved"
    return "within bound"


def summarize(pairs: list[dict], metrics: list[dict], rng: random.Random) -> dict:
    out = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name]["value"] for p in pairs]
        chg = [p["change"]["metrics"][name]["value"] for p in pairs]
        ratios = [c / p for c, p in zip(chg, par)]
        q1, q3 = quartiles(par)
        lo, hi = bootstrap_ci(ratios, rng)
        out[name] = {
            "parent_median": statistics.median(par),
            "parent_iqr": q3 - q1,
            "change_median": statistics.median(chg),
            "ratio_median": statistics.median(ratios),
            "ratio_ci95": [lo, hi],
            "change_better_pairs": sum((c < p) if lower else (c > p) for c, p in zip(chg, par)),
            "pairs": len(pairs),
            "better": m["better"],
            "bound": m["bound"],
            "verdict": verdict(par, chg, lower, m["bound"]),
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout directory or git ref")
    ap.add_argument("--change", required=True, help="checkout directory or git ref")
    ap.add_argument("--workload", action="append", help="repeatable; default: every BENCHMARK.json workload")
    ap.add_argument("--pairs", type=int, default=10,
                    help="pairs per workload (>= 5); a claimed gain needs at least 10")
    ap.add_argument("--seed", type=int, default=401, help="seed of the first pair")
    ap.add_argument("--out", default=None, help="write every run and the summary here")
    args = ap.parse_args(argv)
    if args.pairs < 5:
        ap.error("--pairs must be at least 5")

    with tempfile.TemporaryDirectory(prefix="perf_ab-") as tmp:
        trees = {side: checkout(getattr(args, side), tmp, side) for side in ("parent", "change")}
        with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
            bench = json.load(f)
        workloads = args.workload or [w["name"] for w in bench["workloads"]]
        seconds = bench["run_seconds"]
        rng = random.Random(0)
        report: dict = {"parent": args.parent, "change": args.change, "seconds": seconds, "workloads": {}}
        for wl in workloads:
            pairs = []
            for i in range(args.pairs):
                seed = args.seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    pair[side] = run_once(trees[side], wl, seed, seconds)
                    ok = pair[side]["correct"] and not pair[side]["failed"]
                    log(f"{wl} pair {i + 1}/{args.pairs} {side}: "
                        + ("ok" if ok else "INCORRECT or FAILED ops") + " "
                        + " ".join(f"{k}={v['value']:.4g}" for k, v in pair[side]["metrics"].items()))
                pairs.append(pair)
            summary = summarize(pairs, bench["end_to_end"], rng)
            report["workloads"][wl] = {
                "summary": summary,
                "all_correct": all(p[s]["correct"] and not p[s]["failed"] for p in pairs for s in ("parent", "change")),
                "runs": pairs,
            }
            for name, s in summary.items():
                log(f"{wl} {name:15s} parent {s['parent_median']:.4g} (IQR {s['parent_iqr']:.3g})  "
                    f"change/parent {s['ratio_median']:.3f} [{s['ratio_ci95'][0]:.3f}, {s['ratio_ci95'][1]:.3f}]  "
                    f"better in {s['change_better_pairs']}/{s['pairs']} ({s['better']} is better)  "
                    f"{s['verdict']} (bound {s['bound']})")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps({wl: {"all_correct": r["all_correct"], **{
        n: {k: s[k] for k in ("ratio_median", "ratio_ci95", "change_better_pairs", "pairs", "verdict")}
        for n, s in r["summary"].items()}} for wl, r in report["workloads"].items()}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
