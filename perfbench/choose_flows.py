#!/usr/bin/env python3
"""Chooses the benchmark's flows from a traced sizing run over every
candidate flow, one at each scale factor, so that the chosen flows split
their pass between the layers the way all candidates do.

    python3 perfbench/run.py --workload flows_sf0.1 --flows <all> --seed 7 \\
        --seconds 0 --passes 2 --trace 1 --deadline 900 --data <tables>
    (copy .bench_work/run-*/records.jsonl and spans.json aside; the same
    for flows_sf0.001)
    python3 perfbench/choose_flows.py --sized sf0.1=RECORDS,SPANS \\
        --sized sf0.001=RECORDS,SPANS --budget-s 5 --size 8

A subset is scored by the largest difference, over both scale factors and
every self-time column, between its share of the traced pass and the full
set's, and by how far its sf0.001/sf0.1 pass ratio (the part of a flow's
time that does not depend on input size) is from the full set's. The
subset must keep the sf0.1 pass (untraced medians) within --budget-s.
Prints the table that LAYERS.md keeps."""

import argparse
import json
import os
import random
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

COLUMNS = [c for c in metrics.SELF_COLUMNS if c != "micro_batch"]


def load(records_path, spans_path):
    """Per flow: mean self ms per column over the traced passes, and the
    median untraced wall ms."""
    with open(records_path) as fh:
        recs = [json.loads(line) for line in fh if line.strip()]
    with open(spans_path) as fh:
        spans = {(s["pass"], s["flow"]): s["spans"] for s in json.load(fh)}
    cols, walls = {}, {}
    for r in recs:
        if r["type"] != "flow" or r["phase"] != "timed" or not r["ok"]:
            continue
        if r["traced"]:
            own = metrics.flow_self_ms(spans[(r["pass"], r["flow"])],
                                       r.get("catalyst.codegen_ms", 0.0))
            cols.setdefault(r["flow"], []).append(own)
        else:
            walls.setdefault(r["flow"], []).append((r["end_us"] - r["start_us"]) / 1000.0)
    out = {}
    for f, owns in cols.items():
        if f in walls:
            out[f] = ({c: statistics.fmean(o[c] for o in owns) for c in COLUMNS},
                      statistics.median(walls[f]))
    return out


def shares(flows, sized):
    tot = {c: sum(sized[f][0][c] for f in flows) for c in COLUMNS}
    s = sum(tot.values())
    return {c: tot[c] / s for c in COLUMNS}


def pass_ms(flows, sized):
    return sum(sized[f][1] for f in flows)


def score(flows, sizes, full):
    """Largest share difference (absolute) and the fixed-cost ratio's
    difference, both as fractions."""
    worst = 0.0
    for sf, sized in sizes.items():
        sh = shares(flows, sized)
        worst = max([worst] + [abs(sh[c] - full[sf][0][c]) for c in COLUMNS])
    small, large = sorted(sizes, key=lambda sf: float(sf[2:]))
    ratio = pass_ms(flows, sizes[small]) / pass_ms(flows, sizes[large])
    return worst, abs(ratio - full["ratio"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sized", action="append", required=True,
                    help="SF=RECORDS,SPANS of a traced sizing run (give two)")
    ap.add_argument("--size", type=int, default=8)
    ap.add_argument("--budget-s", type=float, default=5.0)
    ap.add_argument("--exclude", default="", help="comma-separated flows not to choose")
    ap.add_argument("--keep", default="", help="comma-separated flows always chosen")
    ap.add_argument("--restarts", type=int, default=200)
    args = ap.parse_args()
    sizes = {}
    for spec in args.sized:
        sf, paths = spec.split("=", 1)
        sizes[sf] = load(*paths.split(","))
    excluded = set(args.exclude.split(","))
    keep = [f for f in args.keep.split(",") if f]
    common = sorted(set.intersection(*(set(s) for s in sizes.values())))
    pool = [f for f in common if f not in excluded and f not in keep]
    small, large = sorted(sizes, key=lambda sf: float(sf[2:]))
    full = {sf: (shares(common, sized), pass_ms(common, sized)) for sf, sized in sizes.items()}
    full["ratio"] = full[small][1] / full[large][1]

    def cost(fl):
        if pass_ms(fl, sizes[large]) > args.budget_s * 1000:
            return (float("inf"),)
        worst, dratio = score(fl, sizes, full)
        return (max(worst, dratio),)

    # local search from random starts: swap one flow in and one out while it helps
    rng = random.Random(0)
    best, best_cost = None, (float("inf"),)
    for _ in range(args.restarts):
        cur = keep + rng.sample(pool, args.size - len(keep))
        cur_cost = cost(cur)
        improved = True
        while improved:
            improved = False
            for i in range(len(keep), args.size):
                for g in pool:
                    if g in cur:
                        continue
                    cand = cur[:i] + [g] + cur[i + 1:]
                    c = cost(cand)
                    if c < cur_cost:
                        cur, cur_cost, improved = cand, c, True
        if cur_cost < best_cost:
            best, best_cost = sorted(cur), cur_cost
    if best is None or best_cost[0] == float("inf"):
        sys.exit("no subset of %d flows fits a %.1f s pass" % (args.size, args.budget_s))
    worst, dratio = score(best, sizes, full)
    print("chosen:", ",".join(best))
    print("largest share difference %.3f, fixed-cost ratio difference %.3f" % (worst, dratio))
    print()
    print("| scale | flows | pass | " + " | ".join(COLUMNS) + " | sf0.001/sf0.1 pass |")
    print("|---" * (len(COLUMNS) + 4) + "|")
    for label, fl in (("all %d" % len(common), common), ("chosen %d" % len(best), best)):
        ratio = pass_ms(fl, sizes[small]) / pass_ms(fl, sizes[large])
        for sf in (large, small):
            sh = shares(fl, sizes[sf])
            print("| %s | %s | %.1f s | %s | %.2f |" % (
                sf, label, pass_ms(fl, sizes[sf]) / 1000.0,
                " | ".join("%.1f%%" % (100 * sh[c]) for c in COLUMNS), ratio))


if __name__ == "__main__":
    main()
