#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload and metric by metric.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl
    python3 perfbench/compare.py BASE.jsonl           # one set: its spread only

Both files are what collect.py writes. For each workload and metric the table
gives each set's median and quartiles, the spread (quartile distance over the
median) of the base set, and the share of seed-matched pairs each side wins
(ties count for neither). The verdict uses the metric's bound from
BENCHMARK.json:
  unresolved  the base spread is wider than the bound, and not every new run
              beats every base run;
  worse       the new median is worse than the base median by more than the bound;
  better      the new side wins at least nine tenths of the pairs and the medians
              differ by more than the base spread;
  same        otherwise.
With untraced base runs and traced new runs, it also prints the tracing
overhead: how far the traced operations per second fall below the untraced.
Exits 1 when a metric is worse, so a script can gate on it.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if "result" in rec:
                runs.setdefault(rec["workload"], {})[rec["seed"]] = rec["result"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base = load(sys.argv[1])
    new = load(sys.argv[2]) if len(sys.argv) == 3 else None
    worse = False
    for wl in sorted(base):
        print(f"\n== {wl}: base {len(base[wl])} runs" +
              (f", new {len(new.get(wl, {}))} runs" if new else ""))
        names = sorted({n for r in base[wl].values() for n in r["metrics"]})
        for name in names:
            m = spec.get(name, {"better": "lower", "bound": None})
            bound = m.get("bound")
            a = [r["metrics"][name]["value"] for r in base[wl].values() if name in r["metrics"]]
            aq = quartiles(a)
            spread = (aq[2] - aq[0]) / aq[1] if aq[1] else float("inf")
            row = f"  {name:32s} base {aq[1]:.4g} [{aq[0]:.4g}, {aq[2]:.4g}] spread {spread:.3f}"
            if bound is not None:
                row += f" (bound {bound})"
            if new is not None and wl in new:
                b = [r["metrics"][name]["value"] for r in new[wl].values() if name in r["metrics"]]
                if not b:
                    print(row + "  new: missing")
                    continue
                bq = quartiles(b)
                sign = 1 if m["better"] == "higher" else -1
                common = [s for s in base[wl] if s in new[wl]]
                if common:  # same seeds: pair runs by seed
                    pairs = [(base[wl][s]["metrics"][name]["value"],
                              new[wl][s]["metrics"][name]["value"]) for s in common]
                else:  # different seeds: pair runs in the order they were made
                    pairs = list(zip(a, b))
                new_wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
                base_wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
                n = max(len(pairs), 1)
                change = sign * (bq[1] - aq[1]) / aq[1] if aq[1] else 0.0
                all_better = all(sign * (y - x) > 0 for x in a for y in b)
                if bound is None:
                    verdict = ""
                elif spread > bound and not all_better:
                    verdict = "unresolved"
                elif -change > bound:
                    verdict, worse = "worse", True
                elif pairs and new_wins >= 0.9 * len(pairs) and abs(bq[1] - aq[1]) > aq[2] - aq[0]:
                    verdict = "better"
                else:
                    verdict = "same"
                row += (f" | new {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}] change {change:+.3f}"
                        f" wins new {new_wins / n:.2f} base {base_wins / n:.2f} {verdict}")
            print(row)
        if new is not None and wl in new:
            untraced = [r["metrics"]["ops_per_s"]["value"] for r in base[wl].values()
                        if "ops_per_s" in r["metrics"]]
            traced = [r["metrics"]["trace.ops_per_s"]["value"] for r in new[wl].values()
                      if "trace.ops_per_s" in r["metrics"]]
            if untraced and traced:
                loss = 1 - statistics.median(traced) / statistics.median(untraced)
                print(f"  tracing overhead: traced ops_per_s is {loss:+.3f} below untraced")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
