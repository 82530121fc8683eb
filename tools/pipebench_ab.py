#!/usr/bin/env python3
"""A/B of two source trees on one pipebench workload.

    python3 tools/pipebench_ab.py <parent-tree> <change-tree> \\
        --workload dupes_checkpointed --seeds 11-20 [--json out.json]

Runs `pipebench/run.py --trace 0` in each tree, one run at a time, one
pair per seed: the parent runs first on odd pairs, the change on even
ones. Each tree builds from its own sources on its first run, so give it
a copy of each commit (`git archive`), not the working repository.

For every end-to-end metric that BENCHMARK.json declares, it prints each
side's median and quartiles, the pairs the change wins by the metric's
`better` direction (ties count for neither), whether a gain can be
claimed (wins in at least 9/10 of the pairs, and a median gap wider than
the parent's interquartile range) and whether the change's median stays
within the metric's bound. A run that fails or reports a failed check
leaves its pair out, and is counted.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(tree, workload, seed, seconds):
    """Metric values of one run, or None when it failed."""
    proc = subprocess.run(
        [sys.executable, "pipebench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    res = json.loads(lines[-1])
    if not res.get("correct") or res.get("failed"):
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds,
                    help="e.g. 11-20 or 3,5,8")
    ap.add_argument("--json", help="also write every run's metrics here")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    trees = {"parent": a.parent, "change": a.change}
    pairs, failed = [], {"parent": 0, "change": 0}
    for i, seed in enumerate(a.seeds, 1):
        order = ("parent", "change") if i % 2 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_once(trees[side], a.workload, seed,
                                 bench["run_seconds"])
            if got[side] is None:
                failed[side] += 1
        print(f"pair {i} seed {seed} ({order[0]} first): "
              + json.dumps(got), file=sys.stderr, flush=True)
        if got["parent"] is not None and got["change"] is not None:
            pairs.append({"seed": seed, **got})

    print(f"{a.workload}: {len(pairs)} pairs of {len(a.seeds)}, "
          f"failed runs parent {failed['parent']} change {failed['change']}")
    if len(pairs) < 2:
        sys.exit(1)
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["parent"][name] for r in pairs]
        c = [r["change"][name] for r in pairs]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        gain = wins >= 0.9 * len(pairs) and gap > pq[2] - pq[0]
        worse = -gap / pq[1] if pq[1] else 0.0
        print(f"  {name} [{m['unit']}, {m['better']} is better]: "
              f"parent {pq[1]:.4g} (q1 {pq[0]:.4g}, q3 {pq[2]:.4g}), "
              f"change {cq[1]:.4g} (q1 {cq[0]:.4g}, q3 {cq[2]:.4g}); "
              f"change wins {wins}/{len(pairs)}, gap {gap:+.4g} vs parent IQR "
              f"{pq[2] - pq[0]:.4g}: gain {'holds' if gain else 'not shown'}, "
              f"{'within' if worse <= m['bound'] else 'OUTSIDE'} bound "
              f"{m['bound']:.0%}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "pairs": pairs,
                       "failed": failed}, f, indent=1)


if __name__ == "__main__":
    main()
