#!/usr/bin/env python3
"""Run seeds and summarise or compare benchmark results.

    python3 perfbench/compare.py sweep --out A.jsonl [--seeds 1-10] [--trace 0|1]
                                       [--checkout DIR]
    python3 perfbench/compare.py summary A.jsonl [B.jsonl]

sweep runs perfbench/run.py once per workload x seed of BENCHMARK.json, with
its run_seconds, in a checkout (default: this one) and appends each record
to --out. With two checkouts
(--checkout A,B --out a.jsonl,b.jsonl) it alternates which side runs first.

summary prints, for every workload x end-to-end metric of BENCHMARK.json,
the median, quartiles and spread ((q3 - q1) / median) of A, and failed_frac
per workload. With B it adds B's median and quartiles, the pair wins (runs
paired by seed; ties count for neither) and a verdict against the metric's
bound:
  better          B wins >= 9/10 of the pairs and the medians differ by more
                  than A's quartile distance;
  worse           B's median is worse than A's by more than the bound;
  unresolved      A's or B's spread exceeds the bound and not every B run
                  beats every A run;
  within bound    otherwise.
Traced records (--trace 1) are summarised per layer metric (median only).
Exits 1 if any run was not correct, naming the failed queries.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def sweep(a):
    spec = bench_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    dirs = [os.path.abspath(d) for d in (a.checkout or ROOT).split(",")]
    outs = [os.path.abspath(o) for o in a.out.split(",")]
    if len(dirs) != len(outs):
        sys.exit("--checkout and --out need the same number of entries")
    seconds = spec["run_seconds"]
    for i, seed in enumerate(seeds(a.seeds)):
        for w in workloads:
            sides = list(zip(dirs, outs))
            if i % 2:
                sides.reverse()
            for d, o in sides:
                cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                       "--seconds", str(seconds), "--trace", str(a.trace), "--out", o]
                r = subprocess.run(cmd, cwd=d, capture_output=True, text=True)
                last = (r.stdout.strip().splitlines() or ["(no output)"])[-1]
                print(f"{os.path.basename(d)} {w} seed={seed} rc={r.returncode} {last[:300]}", flush=True)


def load(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def by_workload(recs, trace):
    out = {}
    for r in recs:
        if r["detail"]["trace"] == trace:
            out.setdefault(r["detail"]["workload"], []).append(r)
    return out


def summary(a):
    spec = bench_spec()
    A = load(a.a)
    B = load(a.b) if a.b else None
    bad = [(r["detail"]["workload"], r["detail"]["seed"], r["detail"]["failures"])
           for r in A + (B or []) if not r["result"]["correct"]]
    for trace in (0, 1):
        wa = by_workload(A, trace)
        wb = by_workload(B, trace) if B else {}
        for w in sorted(wa):
            ra = wa[w]
            att = sum(r["result"]["attempted"] for r in ra)
            fl = sum(r["result"]["failed"] for r in ra)
            print(f"\n== {w} ({'traced' if trace else 'untraced'}, {len(ra)} runs; "
                  f"failed_frac {fl}/{att} = {fl / max(1, att):.4f})")
            metrics = spec["end_to_end"] if trace == 0 else spec["per_layer"]
            for m in metrics:
                name, unit, better = m["name"], m["unit"], m["better"]
                xa = {r["detail"]["seed"]: r["result"]["metrics"][name]["value"] for r in ra
                      if name in r["result"]["metrics"]}
                if not xa:
                    continue
                q1, med, q3 = quartiles(sorted(xa.values()))
                line = f"  {name:28s} {unit:6s} A med {med:.4g} [{q1:.4g}, {q3:.4g}]"
                if trace == 0:
                    spread = (q3 - q1) / med if med else float("inf")
                    line += f" spread {spread:.3f}/{m['bound']}"
                if w in wb and trace == 0:
                    xb = {r["detail"]["seed"]: r["result"]["metrics"][name]["value"] for r in wb[w]
                          if name in r["result"]["metrics"]}
                    line += " | " + verdict(xa, xb, m)
                print(line)
    if bad:
        for w, seed, failures in bad:
            print(f"NOT CORRECT: {w} seed {seed}: {failures}")
        sys.exit(1)


def verdict(xa, xb, m):
    sign = 1 if m["better"] == "lower" else -1
    qa1, ma, qa3 = quartiles(sorted(xa.values()))
    qb1, mb, qb3 = quartiles(sorted(xb.values()))
    pairs = [(xa[s], xb[s]) for s in xa if s in xb]
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) > 0)
    worse_by = sign * (mb - ma) / ma if ma else 0.0
    all_better = max(sign * y for y in xb.values()) < min(sign * x for x in xa.values())
    if pairs and wins >= 0.9 * len(pairs) and abs(mb - ma) > (qa3 - qa1):
        v = "better"
    elif worse_by > m["bound"]:
        v = "worse"
    elif ((qa3 - qa1) / ma > m["bound"] or (qb3 - qb1) / mb > m["bound"]) and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return (f"B med {mb:.4g} [{qb1:.4g}, {qb3:.4g}] wins {wins}/{len(pairs)} "
            f"(losses {losses}) B/A-1 {(mb - ma) / ma if ma else 0.0:+.1%} -> {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sweep")
    s.add_argument("--out", required=True)
    s.add_argument("--seeds", default="1-10")
    s.add_argument("--trace", type=int, default=0, choices=[0, 1])
    s.add_argument("--checkout")
    m = sub.add_parser("summary")
    m.add_argument("a")
    m.add_argument("b", nargs="?")
    a = ap.parse_args()
    sweep(a) if a.cmd == "sweep" else summary(a)


if __name__ == "__main__":
    main()
