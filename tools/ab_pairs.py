"""Paired A/B runs of the repo benchmark, judged by the claim rule.

    python3 tools/ab_pairs.py --parent DIR --change DIR \\
        --workload catalog --pairs 10 [--first-seed 201] [--out pairs.json]

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds T
--trace 0` once in each checkout with the same seed S (first-seed, +1, ...);
even pairs run the parent first, odd pairs the change first. The run length
T, the metric names, their `better` direction and their bounds come from
the change's BENCHMARK.json, which is only read. Per end-to-end metric it prints each
side's median and quartiles, the pairs the change won (ties count for
neither side), whether the claim rule holds -- the change wins at least 9/10
of the pairs and the medians differ, in the better direction, by more than
the parent's interquartile range -- and whether the change's median stays
within the metric's bound (a share of the parent's median). When the
parent's interquartile range is wider than the bound, the bound check reads
`unresolved` unless every change run beats every parent run.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return {"error": (p.stderr or p.stdout).strip()[-400:] or f"exit {p.returncode}"}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=201)
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    runs = []
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "order": list(order)}
        for side in order:
            pair[side] = run_once(sides[side], a.workload, seed, seconds)
        runs.append(pair)
        brief = {s: ("error" if "error" in pair[s] else
                     {n: pair[s]["metrics"][n]["value"] for n in metrics})
                 for s in ("parent", "change")}
        print(f"pair {i + 1}/{a.pairs} seed {seed} ({order[0]} first): {json.dumps(brief)}",
              flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "sides": sides,
                       "runs": runs}, f, indent=1)

    for s in ("parent", "change"):
        ok = [r[s] for r in runs if "error" not in r[s]]
        failed = sum(r["failed"] for r in ok)
        attempted = sum(r["attempted"] for r in ok)
        print(f"{s}: {len(ok)}/{len(runs)} runs finished, all correct: "
              f"{all(r['correct'] for r in ok)}, failed {failed}/{attempted} operations")
    good = [r for r in runs if "error" not in r["parent"] and "error" not in r["change"]]
    if not good:
        sys.exit("no pair finished on both sides")
    need = math.ceil(0.9 * len(runs))
    for name, m in metrics.items():
        sign = 1 if m["better"] == "lower" else -1
        p = [r["parent"]["metrics"][name]["value"] for r in good]
        c = [r["change"]["metrics"][name]["value"] for r in good]
        wins = sum(1 for x, y in zip(p, c) if sign * (x - y) > 0)
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        gap = sign * (pm - cm)  # > 0: the change's median is better
        claim = wins >= need and gap > p3 - p1
        if p3 - p1 > m["bound"] * pm and not all(sign * (x - y) > 0 for x in p for y in c):
            within = "unresolved (parent IQR wider than the bound)"
        else:
            within = "yes" if sign * (cm - pm) <= m["bound"] * pm else "NO"
        print(f"{a.workload} {name} ({m['unit']}, {m['better']} is better): "
              f"parent median {pm:.4g} [q1 {p1:.4g}, q3 {p3:.4g}]; "
              f"change median {cm:.4g} [q1 {c1:.4g}, q3 {c3:.4g}]; "
              f"median change {100 * (cm - pm) / pm:+.1f}%")
        print(f"  change won {wins}/{len(runs)} pairs; claim rule "
              f"({need}/{len(runs)} wins, gap {gap:.4g} > parent IQR {p3 - p1:.4g}): "
              f"{'HOLDS' if claim else 'fails'}")
        print(f"  within bound {m['bound']:.0%} of the parent median: {within}")


if __name__ == "__main__":
    main()
