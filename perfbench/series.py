"""Run one workload at several seeds and record every result.

    python3 perfbench/series.py --workload dml_mix --seeds 1-10 --out runs.jsonl
    python3 perfbench/series.py --workload ingest --seeds 1,1 --trace 1 --out t.jsonl

Each run is `run.py` with the benchmark's own run length (BENCHMARK.json
run_seconds unless --seconds is given). Every finished run appends one line
{"workload", "seed", "trace", "exit", "result", "log"} to --out; the spread of each
metric is printed at the end (see compare.py).
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import compare  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,3")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    seconds = args.seconds or json.loads((BENCH.parent / "BENCHMARK.json").read_text())["run_seconds"]
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
               "exit": proc.returncode, "result": result,
               "log": [x for x in lines if x.startswith("perfbench:")]}
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"seed {seed}: exit {proc.returncode}", flush=True)
    compare.print_spread(compare.load([args.out]))


if __name__ == "__main__":
    main()
