#!/usr/bin/env python3
"""Derive a workload's probe set from a full traced run of it.

    python3 perfbench/run.py --workload lsm_stream --seed 5 --seconds 0 \\
        --trace 1 --full 1 --passes 4
    python3 perfbench/probe.py .bench_build/perfbench/artifacts/lsm_stream-s5-t1.json

perfbench/mix/<workload>.json holds the fields this script reads from the
run the registered probe sets were derived from.

A time-budgeted run measures a probe set, not the whole workload. This
script picks the probe set so that its pooled layer mix matches the whole
workload's: the shares of query wall time spent in the query builder, in
Catalyst (analysis, optimization, planning) and in driver gaps (wall time
with no job running), and the Spark jobs and micro-batches per second of
query wall time. Rates, not counts per query, because a probe set of a few
queries cannot match a per-query mean of many; the table shows jobs per
query id as well. Each query's figures are its mean over the traced passes of
the artifact.

The search starts from the workload's required rows and adds, one at a
time, the query that keeps the mix closest to the whole workload's, while
the estimated run cost stays within the budget and the mix within the
tolerances; then it swaps queries in and out while that brings the mix
closer. The estimated cost of a probe set is the set-up time of the ingest
artifacts its queries read, summed over the run's set-up repetitions, plus
PASS_FACTOR warm passes over its queries (a cold pass is about two warm
ones, and a run has four warm passes after it). A run takes 15–20 s
more than its estimate: JVM and session start, shutdown, and queries that
run less warm than in a pass over the whole workload.

Prints the comparison table and the ids to put in Workloads.probeIds.
"""
import argparse
import json
import statistics

PASS_FACTOR = 6
# rows a workload's probe keeps whatever the search finds: olap's ingest
# layer is its layouts, which only q55/q56 (date partitions, DPP) and q95
# (z-order) read, so without them its set-up would build nothing; and
# lsm_stream's character includes compactions, and q117e is its streaming
# compaction row
REQUIRED = {"olap": ["q55", "q56", "q95"], "lsm_stream": ["q117e"]}
# absolute tolerance on a share of wall time; relative one on rates
SHARE_TOL = 0.05
RATE_TOL = 0.25
SHARES = {
    "build_share": ["queries.build_s"],
    "catalyst_share": ["catalyst.analysis_s", "catalyst.optimization_s",
                       "catalyst.planning_s"],
    "exec_share": ["exec.s"],
    "gap_share": ["driver.gap_s"],
}
RATES = {"jobs_per_s": "exec.jobs", "batches_per_s": "stream.batches"}


def id_of(name):
    return name.split("_")[0]


def load(path):
    with open(path) as f:
        a = json.load(f)
    if not (a["full"] and a["trace"]):
        raise SystemExit("probe.py needs the artifact of a --full 1 --trace 1 run")
    # a probe id names every query whose name starts with it (q15 is two
    # queries): sum those per pass, then take the mean over the passes
    keys = {k for ks in SHARES.values() for k in ks} | set(RATES.values()) | {"wall_s"}
    per_pass = {}
    for r in a["layers_per_query"]:
        acc = per_pass.setdefault(id_of(r["query"]), {}).setdefault(
            r["pass"], dict.fromkeys(keys, 0.0))
        for k in keys:
            acc[k] += r[k]
    per_query = {q: {k: statistics.mean(p[k] for p in ps.values()) for k in keys}
                 for q, ps in per_pass.items()}
    setup = a["setup"]
    art_cost = {n: sum(rep["artifacts"].get(n, 0.0) for rep in setup["reps"])
                for n in setup["readers"]}
    readers = {n: set(ids) for n, ids in setup["readers"].items()}
    return a["workload"], per_query, art_cost, readers


def profile(qs, per_query):
    wall = sum(per_query[q]["wall_s"] for q in qs)
    p = {n: sum(per_query[q][k] for q in qs for k in ks) / wall
         for n, ks in SHARES.items()}
    for n, k in RATES.items():
        p[n] = sum(per_query[q][k] for q in qs) / wall
    p["jobs_per_id"] = sum(per_query[q]["exec.jobs"] for q in qs) / len(qs)
    p["wall_s"] = wall
    return p


def distance(p, full):
    """The mix's largest deviation from the whole workload's, in units of
    its tolerance: at most 1 is within tolerance."""
    d = [abs(p[n] - full[n]) / SHARE_TOL for n in SHARES if n != "exec_share"]
    d += [abs(p[n] / full[n] - 1) / RATE_TOL for n in RATES if full[n] > 0]
    return max(d)


def cost(qs, per_query, art_cost, readers):
    arts = {n for n, ids in readers.items() if ids & set(qs)}
    return sum(art_cost[n] for n in arts) + \
        PASS_FACTOR * sum(per_query[q]["wall_s"] for q in qs)


def search(per_query, art_cost, readers, full, required, budget):
    def score(qs):
        return distance(profile(qs, per_query), full)

    def fits(qs):
        return cost(qs, per_query, art_cost, readers) <= budget

    chosen = list(required)
    while True:
        cands = [q for q in sorted(per_query) if q not in chosen and fits(chosen + [q])]
        scored = sorted((score(chosen + [q]), q) for q in cands)
        if not scored:
            break
        d, q = scored[0]
        if chosen and d > max(score(chosen), 1.0):
            break
        chosen.append(q)
    improved = True
    while improved:
        improved = False
        here = score(chosen)
        for out in [q for q in chosen if q not in required]:
            for q in sorted(per_query):
                trial = [x for x in chosen if x != out] + [q]
                if q in chosen or not fits(trial):
                    continue
                if score(trial) < here - 1e-9:
                    chosen, here, improved = trial, score(trial), True
                    break
            if improved:
                break
    return sorted(chosen, key=lambda q: (len(q), q))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("artifact", help="artifact of a --full 1 --trace 1 run")
    ap.add_argument("--budget", type=float, default=38.0,
                    help="estimated seconds of set-up and passes per run")
    args = ap.parse_args()
    workload, per_query, art_cost, readers = load(args.artifact)
    everything = sorted(per_query)
    full = profile(everything, per_query)
    probe = search(per_query, art_cost, readers, full,
                   REQUIRED.get(workload, []), args.budget)
    p = profile(probe, per_query)
    print(f"{workload}: {len(probe)} of {len(everything)} query ids, estimated run "
          f"cost {cost(probe, per_query, art_cost, readers):.1f} s of {args.budget:.0f} s, "
          f"distance {distance(p, full):.2f} (at most 1 is within tolerance)")
    print(f"| {'':18} | {'probe':>8} | {'full':>8} |")
    for n in list(SHARES) + list(RATES) + ["jobs_per_id", "wall_s"]:
        print(f"| {n:18} | {p[n]:8.3f} | {full[n]:8.3f} |")
    print(" ".join(f'"{q}",' for q in probe).rstrip(","))


if __name__ == "__main__":
    main()
