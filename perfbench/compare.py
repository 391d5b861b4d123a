#!/usr/bin/env python3
"""Paired comparison of two checkouts on the benchmark.

Runs alternating pairs (parent, change) on every workload, the same seed
within a pair and the order flipped every other pair, then reports per
workload and end-to-end metric: median and quartiles on each side, the
median paired change, and the share of pairs the change wins. A gain needs
the change to win 9 of 10 pairs and a median gap wider than the parent's
own quartile spread. A metric whose spread (IQR / median) on either side
exceeds its bound is "unresolved", unless every change run beats every
parent run. A run that fails is recorded and its pair left out; no metric
of a workload is "better" when the change failed more ops or runs there
than the parent did.

Usage:
  python3 perfbench/compare.py --parent <checkout> --change <checkout>
      [--workloads dp_session,pipeline_heavy] [--pairs 10] [--seconds 20]
      [--out comparison.json]

Each checkout must hold perfbench/run.py; each builds in its own tree.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        print(f"warning: {checkout} {workload} seed {seed} failed:\n{res.stderr[-2000:]}",
              file=sys.stderr)
        return None
    out = json.loads(lines[-1])
    if not out["correct"]:
        print(f"warning: {checkout} {workload} seed {seed}: {out['failed']} failed ops",
              file=sys.stderr)
    return out


def spread(xs):
    med = statistics.median(xs)
    if len(xs) < 2:
        return float("inf"), med, med, med
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else float("inf"), q1, med, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", default="dp_session,pipeline_heavy")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.pairs < 10:
        print("note: fewer than 10 pairs; the comparison is indicative only", file=sys.stderr)
    spec = json.loads((Path(a.change) / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}

    runs, failed = {}, {}
    for i in range(a.pairs):
        for w in a.workloads.split(","):
            seed = 1000 + i
            sides = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                sides.reverse()
            pair = {}
            for side, checkout in sides:
                out = run_one(checkout, w, seed, a.seconds)
                # [failed runs, failed ops]
                f = failed.setdefault((w, side), [0, 0])
                f[0 if out is None else 1] += 1 if out is None else out["failed"]
                if out:
                    pair[side] = out["metrics"]
                    print(f"pair {i} {w} {side}: " + " ".join(
                        f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
            if len(pair) == 2:
                for side, m in pair.items():
                    runs.setdefault((w, side), []).append(m)

    report = {}
    for w in a.workloads.split(","):
        if (w, "parent") not in runs:
            print(f"{w}: no pair completed on both sides")
            continue
        more_failures = any(c > p for p, c in zip(failed[(w, "parent")], failed[(w, "change")]))
        for name, m in metrics.items():
            par = [r[name]["value"] for r in runs[(w, "parent")]]
            chg = [r[name]["value"] for r in runs[(w, "change")]]
            sp, q1p, mp, q3p = spread(par)
            sc, q1c, mc, q3c = spread(chg)
            lower = m["better"] == "lower"
            wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg)) / len(par)
            delta = statistics.median((c - p) / p for p, c in zip(par, chg) if p)
            # a gain needs 9 of 10 pairs and a median gap wider than the
            # parent's own quartile spread; a regression is a median worse by
            # more than the bound
            gain = (mp - mc) if lower else (mc - mp)
            all_better = (max(chg) < min(par)) if lower else (min(chg) > max(par))
            verdict = ("refused: the change fails more ops" if more_failures else
                       "better" if all_better or (wins >= 0.9 and gain > q3p - q1p
                                                  and max(sp, sc) <= m["bound"]) else
                       "unresolved" if max(sp, sc) > m["bound"] else
                       "worse" if -gain > m["bound"] * mp else "no regression")
            report[f"{w}/{name}"] = {
                "unit": m["unit"], "parent": [q1p, mp, q3p], "change": [q1c, mc, q3c],
                "median_paired_change": delta, "change_wins": wins,
                "spread": [sp, sc], "bound": m["bound"], "pairs": len(par),
                "failed": [failed[(w, "parent")], failed[(w, "change")]], "verdict": verdict}
            print(f"{w:15s} {name:12s} parent {mp:.4g} [{q1p:.4g}, {q3p:.4g}]  "
                  f"change {mc:.4g} [{q1c:.4g}, {q3c:.4g}] {m['unit']}  "
                  f"paired {delta:+.1%}  change wins {wins:.0%}  -> {verdict}")
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
