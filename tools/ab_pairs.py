#!/usr/bin/env python3
"""Parent / parent-copy / change benchmark triples in one command.

    python3 tools/ab_pairs.py --parent <rev> --change <rev> \\
        --workload core50_sf01 --pairs 10 --seeds 1401-1410 [--trace]

Clones each revision from this repository (no network) into a work dir,
plus a second clone of the parent: the A/A floor, which shows how far two
checkouts of the same code drift apart on this host. Each clone builds
once (perfbench/build.py), then every pair runs the three sides
back to back on one fresh seed, in an order that rotates from pair to pair,
with `perfbench/run.py` exactly as the benchmark runs it. Nothing under
perfbench/ is edited.

Each run lasts BENCHMARK.json's `run_seconds`. Per end-to-end metric it
prints each side's median and quartiles, change/parent and
parent-copy/parent, the pairs the change won out of all pairs run (ties,
and pairs where either side crashed, count as not won) and a verdict:
  - worse (failures): the change crashed more runs, failed more
    operations or gave more wrong answers than the parent;
  - gain: the change won at least 9/10 of the pairs and its median is
    better than the parent's by more than the parent's IQR;
  - worse: the change's median is worse than the parent's by more than the
    metric's bound;
  - unresolved: the parent's own IQR is wider than the bound, and not
    every change run beats every parent run;
  - within bound: none of these.
`--trace` adds one traced run per side and a per-layer table. Every run,
with its host witness (the calibration loop's median), is written as JSON
to .bench_out/ab/ under the repository root.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SIDES = ("parent", "parent_copy", "change")


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def clone(rev, dest):
    subprocess.run(["git", "clone", "--quiet", "--no-checkout", str(ROOT),
                    str(dest)], check=True)
    subprocess.run(["git", "-C", str(dest), "checkout", "--quiet", rev],
                   check=True)
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=dest,
                   check=True, stdout=subprocess.DEVNULL)


def run(tree, workload, seed, seconds, trace):
    """One perfbench run in `tree`: its result and detail lines."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(int(trace))],
        cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode or len(lines) < 2:
        return {"error": p.stderr[-2000:], "returncode": p.returncode}
    detail = json.loads(lines[-2])["detail"]
    return dict(json.loads(lines[-1]), detail=detail)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def faults(runs, side):
    """(crashed runs, failed operations, runs not correct) of one side."""
    mine = [r for r in runs if r["side"] == side]
    ok = [r for r in mine if "metrics" in r]
    return (len(mine) - len(ok), sum(r["failed"] for r in ok),
            sum(not r["correct"] for r in ok))


def verdict(par, cha, lower, bound, won, pairs, par_faults, cha_faults):
    """`won` of `pairs` run; the faults are `faults()` of each side."""
    if any(c > p for p, c in zip(par_faults, cha_faults)):
        return "worse (failures)"
    q1, pm, q3 = quartiles(par)
    cm = statistics.median(cha)
    better = (pm - cm) if lower else (cm - pm)
    worse_by = -better / pm if pm else 0.0
    if won >= 0.9 * pairs and better > q3 - q1:
        return "gain"
    if worse_by > bound:
        return "worse"
    beats_all = (max(cha) < min(par)) if lower else (min(cha) > max(par))
    if pm and (q3 - q1) / pm > bound and not beats_all:
        return "unresolved"
    return "within bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", required=True,
                    help="e.g. 1401-1410 or 5,7,9; one seed per pair")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--workdir", help="where the clones go (default: a "
                    "temporary dir, removed at the end)")
    args = ap.parse_args()
    seeds = seeds_of(args.seeds)
    if len(seeds) < args.pairs:
        ap.error(f"{args.pairs} pairs need {args.pairs} seeds, got {len(seeds)}")
    revs = {s: subprocess.run(["git", "-C", str(ROOT), "rev-parse", r],
                              check=True, capture_output=True,
                              text=True).stdout.strip()
            for s, r in (("parent", args.parent), ("change", args.change))}
    revs["parent_copy"] = revs["parent"]
    work = Path(args.workdir or tempfile.mkdtemp(prefix="ab_pairs-"))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = ROOT / ".bench_out" / "ab" / (
        f"{args.workload}-{revs['parent'][:7]}-{revs['change'][:7]}-{stamp}.json")
    out.parent.mkdir(parents=True, exist_ok=True)
    runs = []
    try:
        trees = {}
        for side in SIDES:
            trees[side] = work / side
            shutil.rmtree(trees[side], ignore_errors=True)
            clone(revs[side], trees[side])
        for i, seed in enumerate(seeds[:args.pairs]):
            order = SIDES[i % 3:] + SIDES[:i % 3]
            for side in order:
                r = run(trees[side], args.workload, seed,
                        spec["run_seconds"], False)
                runs.append(dict(r, side=side, seed=seed, pair=i,
                                 order=order.index(side)))
                out.write_text(json.dumps({"revs": revs, "runs": runs}))
                wit = r.get("detail", {}).get("host_witness", {})
                print(f"pair {i} seed {seed} {side}: "
                      f"{'failed' if 'error' in r else 'ok'} "
                      f"calibration {wit.get('calibration_median_s')}",
                      file=sys.stderr)
        traced = {}
        if args.trace:
            for side in ("parent", "change"):
                traced[side] = run(trees[side], args.workload, seeds[0],
                                   spec["run_seconds"], True)
            out.write_text(json.dumps({"revs": revs, "runs": runs,
                                       "traced": traced}))
    finally:
        if not args.workdir:
            shutil.rmtree(work, ignore_errors=True)

    def values(side, metric):
        return [r["metrics"][metric]["value"] for r in runs
                if r["side"] == side and "metrics" in r]

    print(f"{args.workload}: parent {revs['parent'][:7]}, change "
          f"{revs['change'][:7]}, {args.pairs} triples, seeds "
          f"{seeds[0]}..{seeds[args.pairs - 1]}; raw runs in {out}")
    fault = {side: faults(runs, side) for side in SIDES}
    for side in SIDES:
        ok = [r for r in runs if r["side"] == side and "metrics" in r]
        cal = [r["detail"]["host_witness"]["calibration_median_s"] for r in ok]
        crashed, failed, wrong = fault[side]
        print(f"  {side}: {len(ok)} runs, failed ops {failed}, not correct "
              f"{wrong}, crashed {crashed}, "
              f"calibration {min(cal, default=0):.3f}-{max(cal, default=0):.3f} s")
    print(f"  {'metric':16} {'parent med [q1, q3]':>28} {'copy med':>9} "
          f"{'change med [q1, q3]':>28} {'chg/par':>8} {'A/A':>6} "
          f"{'won':>6}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par, aa, cha = (values(s, name) for s in SIDES)
        if not (par and aa and cha):
            print(f"  {name:16} missing runs")
            continue
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p in runs for c in runs
                 if p["side"] == "parent" and c["side"] == "change"
                 and p["pair"] == c["pair"] and "metrics" in p
                 and "metrics" in c]
        won = sum((c < p) if lower else (c > p) for p, c in pairs)
        (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(par), quartiles(cha)
        am = statistics.median(aa)
        print(f"  {name:16} {pm:9.3f} [{pq1:7.3f}, {pq3:7.3f}] {am:9.3f} "
              f"{cm:9.3f} [{cq1:7.3f}, {cq3:7.3f}] {cm / pm:8.3f} "
              f"{am / pm:6.3f} {won:>2}/{args.pairs:<3}  "
              + verdict(par, cha, lower, m["bound"], won, args.pairs,
                        fault["parent"], fault["change"]))
    if traced:
        print("  per layer (one traced run per side, seed "
              f"{seeds[0]}): parent -> change")
        for m in spec["per_layer"]:
            v = [traced[s].get("metrics", {}).get(m["name"], {}).get("value")
                 for s in ("parent", "change")]
            if None not in v:
                print(f"    {m['name']:28} {v[0]:>14.4g} -> {v[1]:<14.4g} "
                      f"{m['unit']}")
        for s in ("parent", "change"):
            med = traced[s].get("detail", {}).get("steady_median_s", {})
            print(f"    steady medians ({s}): " + ", ".join(
                f"{q} {t:.3f}" for q, t in sorted(med.items())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
