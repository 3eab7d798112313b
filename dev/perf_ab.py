#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark between two checkouts.

    python3 dev/perf_ab.py PARENT_DIR CHANGE_DIR --workload W --pairs N
                           [--seed S] [--json OUT.json]

Each pair runs `python3 perfbench/run.py --trace 0` once in each checkout
(run from that checkout's root, so each side builds and measures its own
sources) with the same fresh seed (S, S+1, ...); which side goes first
alternates from pair to pair. `--seconds` is BENCHMARK.json's
`run_seconds`, the same on both sides. Every run's metrics go to stdout as
they finish. At the end, for every end-to-end metric of BENCHMARK.json,
it prints each side's median and quartiles, the change's win count, and:

- the gain verdict: a gain only when the change wins at least nine
  tenths of the pairs (ties count for neither) and the medians differ by
  more than the parent's interquartile range;
- the regression verdict against the metric's bound: the change's median
  may be worse than the parent's by at most `bound` (relative); where
  either side's spread (IQR / median) exceeds the bound, the metric is
  unresolved unless every change run beats every parent run.

A run that exits non-zero or reports failures is counted per side and
left out of the statistics. The script does not modify either checkout
beyond what perfbench/run.py itself writes (.bench_build/).
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(root, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"ok": False, "error": (p.stderr.strip().splitlines() or ["no output"])[-1]}
    res = json.loads(lines[-1])
    return {"ok": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--json", type=Path, help="also write every run to this file")
    args = ap.parse_args()
    sides = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    for name, root in sides.items():
        if not (root / "perfbench" / "run.py").is_file():
            sys.exit(f"perf_ab: {name} checkout {root} has no perfbench/run.py")
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    e2e = spec["end_to_end"]

    runs = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"pair": i, "seed": seed, "first": order[0]}
        for side in order:
            r = run_once(sides[side], args.workload, seed, seconds)
            pair[side] = r
            shown = " ".join(f"{k}={v:.3f}" for k, v in r.get("metrics", {}).items())
            print(f"pair {i} seed {seed} {side}: {'ok' if r['ok'] else 'FAIL'} {shown or r.get('error', '')}",
                  flush=True)
        runs.append(pair)
    if args.json:
        args.json.write_text(json.dumps({"workload": args.workload, "seconds": seconds, "runs": runs},
                                        indent=1))

    good = [p for p in runs if p["parent"]["ok"] and p["change"]["ok"]]
    print(f"\n{args.workload}: {len(runs)} pairs, {len(good)} with both sides correct")
    for side in sides:
        att = sum(p[side].get("attempted", 0) for p in runs)
        fail = sum(p[side].get("failed", 0) for p in runs)
        bad = sum(not p[side]["ok"] for p in runs)
        print(f"  {side}: {bad} failed runs, operations failed {fail}/{att}")
    if not good:
        sys.exit(1)
    need = math.ceil(0.9 * len(good))
    for m in e2e:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        xs = {s: [p[s]["metrics"][name] for p in good] for s in sides}
        stats = {s: quartiles(xs[s]) for s in sides}
        wins = sum((c < p) if lower else (c > p) for p, c in zip(xs["parent"], xs["change"]))
        pmed, cmed = stats["parent"][1], stats["change"][1]
        gap = (pmed - cmed) if lower else (cmed - pmed)
        iqr = stats["parent"][2] - stats["parent"][0]
        gain = wins >= need and gap > iqr
        worse = -gap / pmed if pmed else 0.0
        spread = max((st[2] - st[0]) / st[1] if st[1] else 0.0 for st in stats.values())
        all_better = (max(xs["change"]) < min(xs["parent"])) if lower else \
            (min(xs["change"]) > max(xs["parent"]))
        if worse > bound:
            regression = f"REGRESSION: median {worse:+.1%} worse, bound {bound:.0%}"
        elif spread > bound and not all_better:
            regression = f"unresolved: spread {spread:.2f} exceeds bound {bound:.2f}"
        else:
            regression = f"within bound ({worse:+.1%} vs {bound:.0%})"
        print(f"  {name} [{m['unit']}, {m['better']} is better]")
        for s in sides:
            q1, q2, q3 = stats[s]
            print(f"    {s:6s} median {q2:.3f}  q1 {q1:.3f}  q3 {q3:.3f}  "
                  f"runs {' '.join(f'{x:.2f}' for x in xs[s])}")
        print(f"    change wins {wins}/{len(good)} (need {need}); median gap {gap:+.3f} vs parent IQR "
              f"{iqr:.3f} -> {'GAIN' if gain else 'no gain'}; {regression}")


if __name__ == "__main__":
    main()
