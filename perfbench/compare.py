"""Compare two sets of benchmark runs, or show one set's spread.

    python3 perfbench/compare.py spread runs.jsonl [more.jsonl ...]
    python3 perfbench/compare.py diff parent.jsonl change.jsonl

Run files are what series.py writes: one JSON object per line with
"workload", "seed", "trace" and the run's "result".

diff applies the rule for claiming a gain in a small sandbox: runs are
paired in file order (alternate which side runs first when making them); a
change wins a pair when it reads better, ties count for neither. A gain
needs a 9/10 win share and a median gap larger than the parent's own
interquartile range. Every end-to-end metric is also held to its bound from
BENCHMARK.json: worse by more than the bound is a regression; a spread wider
than the bound is "unresolved" unless every change run beats every parent
run. Traced runs are compared on the named counts, exactly, seed by seed.
"""
import json
import statistics
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"

# The deterministic cost vector: per-layer counts that must repeat exactly
# at a fixed seed. They are compared as counts, never as a speed-up. Byte
# counts are left out: shuffle read order varies from run to run, so a
# rewritten Parquet file (and the sizes its manifest records) can differ by
# a few bytes.
NAMED_COUNTS = [
    "spark.jobs", "spark.stages", "spark.tasks", "catalyst.actions",
    "fs.pointer_reads", "fs.manifest_reads", "fs.data_files_opened",
    "fs.data_files_live", "fs.prune_ratio", "fs.creates", "fs.renames",
    "fs.deletes", "fs.lists", "fs.stats",
    "ops.candidate_pairs", "ops.verified_pairs",
]


def load(paths):
    recs = []
    for p in paths:
        for line in Path(p).read_text().splitlines():
            if line.strip():
                recs.append(json.loads(line))
    return recs


def end_to_end():
    spec = json.loads(BENCHMARK.read_text())
    return {m["name"]: m for m in spec["end_to_end"]}


def values(recs, workload, metric, trace=0):
    return [r["result"]["metrics"][metric]["value"] for r in recs
            if r["workload"] == workload and r["trace"] == trace and r["result"]
            and metric in r["result"]["metrics"]
            and r["result"]["metrics"][metric]["value"] is not None]


def quartiles(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def spread(vals):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(vals)
    return (q3 - q1) / q2 if q2 else float("inf")


def better(a, b, direction):
    return a < b if direction == "lower" else a > b


def verdict(parent, change, direction, bound):
    """One metric on one workload: (verdict, detail dict)."""
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if better(c, p, direction))
    share = wins / len(pairs) if pairs else 0.0
    worse_by = (cm - pm) / pm if direction == "lower" else (pm - cm) / pm
    all_better = all(better(c, p, direction) for c in change for p in parent)
    wider = max((p3 - p1) / pm, (c3 - c1) / cm) > bound
    if worse_by > bound:
        v = "regressed"
    elif wider and not all_better:
        v = "unresolved"
    elif share >= 0.9 and abs(cm - pm) > (p3 - p1) and better(cm, pm, direction):
        v = "gain"
    else:
        v = "no regression"
    return v, {"parent": (p1, pm, p3), "change": (c1, cm, c3),
               "wins": wins, "pairs": len(pairs), "worse_by": worse_by}


def count_diffs(parent, change):
    """Named counts of traced runs at the same workload and seed."""
    out = []
    by_key = {(r["workload"], r["seed"]): r for r in parent
              if r["trace"] == 1 and r["result"]}
    for r in change:
        if r["trace"] != 1 or not r["result"]:
            continue
        p = by_key.get((r["workload"], r["seed"]))
        if p is None:
            continue
        for name in NAMED_COUNTS:
            a = p["result"]["metrics"][name]["value"]
            b = r["result"]["metrics"][name]["value"]
            out.append((r["workload"], r["seed"], name, a, b))
    return out


def overhead(recs):
    """Tracing overhead per workload: untraced vs traced throughput."""
    out = {}
    for w in sorted({r["workload"] for r in recs}):
        plain = values(recs, w, "items_per_s", 0)
        traced = values(recs, w, "trace.items_per_s", 1)
        if plain and traced:
            out[w] = statistics.median(plain) / statistics.median(traced) - 1.0
    return out


def print_spread(recs):
    e2e = end_to_end()
    for w in sorted({r["workload"] for r in recs}):
        failed = [r["seed"] for r in recs if r["workload"] == w and
                  (r["exit"] != 0 or not r["result"] or not r["result"]["correct"])]
        print(f"{w}: runs={sum(1 for r in recs if r['workload'] == w)} failed_seeds={failed}")
        for name, m in e2e.items():
            vals = values(recs, w, name)
            if len(vals) < 2:
                continue
            q1, q2, q3 = quartiles(vals)
            s = spread(vals)
            flag = "steady" if s <= m["bound"] / 3 else (
                "within bound" if s <= m["bound"] else "TOO WIDE")
            print(f"  {name:18s} n={len(vals):2d} median={q2:.6g} q1={q1:.6g} "
                  f"q3={q3:.6g} spread={s:.4f} bound={m['bound']} {flag}")
    for w, o in overhead(recs).items():
        print(f"{w}: tracing overhead {100 * o:.1f}% (untraced vs traced items_per_s)")


def print_diff(parent, change):
    e2e = end_to_end()
    for w in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        print(w)
        for name, m in e2e.items():
            p, c = values(parent, w, name), values(change, w, name)
            if len(p) < 2 or len(c) < 2:
                continue
            v, d = verdict(p, c, m["better"], m["bound"])
            print(f"  {name:18s} {v:13s} parent={d['parent'][1]:.6g} "
                  f"[{d['parent'][0]:.6g}, {d['parent'][2]:.6g}] change={d['change'][1]:.6g} "
                  f"[{d['change'][0]:.6g}, {d['change'][2]:.6g}] wins={d['wins']}/{d['pairs']}")
    diffs = count_diffs(parent, change)
    same = sum(1 for *_, a, b in diffs if a == b)
    print(f"named counts: {same}/{len(diffs)} identical")
    for w, seed, name, a, b in diffs:
        if a != b:
            print(f"  {w} seed {seed} {name}: {a} -> {b}")


def main(argv):
    if len(argv) >= 2 and argv[0] == "spread":
        print_spread(load(argv[1:]))
    elif len(argv) == 3 and argv[0] == "diff":
        print_diff(load([argv[1]]), load([argv[2]]))
    else:
        print(__doc__, file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
