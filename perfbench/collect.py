#!/usr/bin/env python3
"""Run the benchmark several times and append each result to a JSON-lines file.

    python3 perfbench/collect.py --out runs.jsonl --seeds 1-10 [--workloads a,b] [--trace 0]

Run it from the root of a checkout. Each line of the output file holds the
workload, seed and trace flag of one run, the result line run.py printed and
its detail line. Workloads run one after another, never in parallel.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    for wl in args.workloads.split(","):
        for seed in seeds(args.seeds):
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(args.trace)]
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            rec = {"workload": wl, "seed": seed, "trace": args.trace, "exit": p.returncode}
            if p.returncode == 0 and lines:
                rec["result"] = json.loads(lines[-1])
                detail = [l for l in lines if l.startswith("detail ")]
                if detail:
                    rec["detail"] = json.loads(detail[-1][len("detail "):])
            else:
                rec["stderr"] = p.stderr[-2000:]
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            status = "ok" if "result" in rec else f"FAILED ({p.returncode})"
            print(f"{wl} seed {seed}: {status}", file=sys.stderr)


if __name__ == "__main__":
    main()
