"""Paired parent/change runs of the repo benchmark.

    python scripts/ab_perfbench.py --parent DIR --change DIR \
        --workload search_hot --seeds 9001,9002,... [--seconds 20] \
        [--trace 0|1] [--out runs.jsonl]

``DIR`` is the root of a checkout (for example a ``git worktree`` or a
``git archive`` of the parent commit, and the working tree). For every
seed the tool runs ``perfbench/run.py`` unchanged in both checkouts, one
after the other, alternating which side goes first from pair to pair. It
then prints, per workload and metric, each side's median and quartiles and
the number of pairs the change won (ties count for neither side), and
applies the rule for a claimed gain: the change wins at least nine tenths
of the pairs and the medians differ by more than the parent's
interquartile distance. For an end-to-end metric it also checks the change's
median against the parent's by the bound in ``BENCHMARK.json``; where the
parent's own spread is wider than the bound the result reads
``unresolved`` unless every change run beat every parent run.

Each run's last stdout line (the benchmark's JSON) is appended to
``--out`` with its side and seed. Runs are sequential: one benchmark at a
time, so the two sides never share the machine.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    xs = sorted(xs)

    def q(p):
        i = (len(xs) - 1) * p
        lo = math.floor(i)
        return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo)

    return q(0.25), statistics.median(xs), q(0.75)


def run_one(root: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        out = json.loads(last)
    except json.JSONDecodeError:
        out = {"correct": False, "failed": -1, "metrics": {},
               "error": (p.stderr or p.stdout)[-2000:]}
    out["exit"] = p.returncode
    return out


def verdict(spec: dict, par: list[float], chg: list[float], wins: int) -> str:
    """The gain rule, and for a bounded metric the regression rule."""
    lower = spec["better"] == "lower"
    q1, pm, q3 = quartiles(par)
    cm = statistics.median(chg)
    better = (pm - cm) if lower else (cm - pm)
    gain = wins >= math.ceil(0.9 * len(par)) and better > (q3 - q1)
    out = "gain" if gain else "no gain"
    bound = spec.get("bound")
    if bound is None or not pm:
        return out
    worse = -better / abs(pm)
    if (q3 - q1) / abs(pm) > bound:
        all_better = max(chg) < min(par) if lower else min(chg) > max(par)
        return out + ("; every change run better" if all_better
                      else "; unresolved (parent spread > bound)")
    return out + (f"; worse by {worse:+.1%}, bound {bound:.0%}: "
                  + ("regression" if worse > bound else "within bound"))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated, one pair per seed")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    seeds = [int(s) for s in args.seeds.split(",") if s]
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = bench["per_layer" if args.trace else "end_to_end"]
    sides = {"parent": args.parent, "change": args.change}

    for workload in args.workload:
        runs: dict[str, list[dict]] = {"parent": [], "change": []}
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_one(sides[side], workload, seed, args.seconds, args.trace)
                runs[side].append(res)
                ok = res.get("correct") and res.get("failed") == 0
                print(f"{workload} seed {seed} {side}: "
                      f"{'ok' if ok else 'FAILED'} exit {res['exit']}", file=sys.stderr)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps({"workload": workload, "seed": seed,
                                            "side": side, **res}) + "\n")
        pairs = len(seeds)
        print(f"== {workload}: {pairs} pairs, seeds {seeds}, --seconds {args.seconds}"
              f", --trace {args.trace}")
        bad = {s: sum(1 for r in runs[s] if not (r.get("correct") and r.get("failed") == 0))
               for s in sides}
        print(f"runs not correct or with failures: parent {bad['parent']}, change {bad['change']}")
        for spec in specs:
            name = spec["name"]
            par = [r["metrics"].get(name, {}).get("value") for r in runs["parent"]]
            chg = [r["metrics"].get(name, {}).get("value") for r in runs["change"]]
            if any(v is None for v in par + chg):
                print(f"{name}: missing from some runs")
                continue
            lower = spec["better"] == "lower"
            wins = sum(1 for p, c in zip(par, chg) if (c < p if lower else c > p))
            p1, pm, p3 = quartiles(par)
            c1, cm, c3 = quartiles(chg)
            print(f"{name} [{spec['unit']}, {spec['better']} is better]: "
                  f"parent {pm:.4g} (q1 {p1:.4g}, q3 {p3:.4g})  "
                  f"change {cm:.4g} (q1 {c1:.4g}, q3 {c3:.4g})  "
                  f"change won {wins}/{pairs}  -> {verdict(spec, par, chg, wins)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
