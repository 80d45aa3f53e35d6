#!/usr/bin/env python3
"""Freeze the benchmark's membership lists and expected outputs.

    python3 perfbench/census.py

Runs every SparkEntry.queries entry once on the benchmark's sf0.1 tables in
one JVM (the benchmark session at all cores), writing each output the way
graft.Verify does, and records per query: jobs started inside the
SparkEntry.queries(...) call (build_jobs) and inside the final action,
streams started, scratch files written, graft rewrite nodes and graft
expressions in its executed plans, the row count and the output digest.
tools/check.py then compares every output with its DuckDB oracle; the
lists and digests are written only if all of them match.

Membership rule, applied in this order:
  stream-write  the query starts a StreamingQuery or writes scratch files;
  iterative     of the rest, construction starts >= ITERATIVE_JOBS jobs;
  light-mix     every other query.
Each workload runs a frozen sample of its list: every STRIDE-th query in
name order (see SAMPLES), so a run fits its time budget. The light-mix
queries whose executed plan holds a graft.plans rewrite (an as-of join
node, or a range/similarity join keyed on the rule's bucket columns) are
sampled on their own (REWRITE_SAMPLE), so the rewrites are measured.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import run

ITERATIVE_JOBS = 2
# every k-th query of each list, in name order, starting at the offset
SAMPLES = {"light-mix": (18, 0), "iterative": (24, 0), "stream-write": (16, 8)}
REWRITE_SAMPLE = (2, 0)


def census():
    run.build()
    out = os.path.join(run.WORK, "census")
    shutil.rmtree(out, ignore_errors=True)
    rc = run.run_java(["census", run.DATA, run.WORK, out, str(run.CORES)], "census.log", 3600)
    if rc != 0:
        run.fail(f"census failed (rc={rc}); see perfbench/.work/census.log", 1)
    chk = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"), run.DATA, out],
                         capture_output=True, text=True)
    sys.stdout.write(chk.stdout[-3000:])
    bad = [ln for ln in chk.stdout.splitlines() if ln.startswith("FAIL")]
    if chk.returncode != 0 or bad:
        run.fail(f"DuckDB check failed for {len(bad)} queries; digests not written", 1)
    shutil.copy(os.path.join(run.WORK, "census.tsv"), os.path.join(run.HERE, "census.tsv"))


def derive():
    rows = []
    with open(os.path.join(run.HERE, "census.tsv")) as f:
        header = f.readline().rstrip("\n").split("\t")
        for line in f:
            rows.append(dict(zip(header, line.rstrip("\n").split("\t"))))
    errors = [r["name"] for r in rows if r["build_s"] == "error" or r["digest_stable"] != "true"]
    if errors:
        run.fail(f"census rows with errors or unstable digests: {errors}", 1)
    lists = {"light-mix": [], "iterative": [], "stream-write": []}
    evidence = {}
    for r in sorted(rows, key=lambda r: r["name"]):
        streams, files, bj = int(r["streams"]), int(r["scratch_files"]), int(r["build_jobs"])
        if streams > 0 or files > 0:
            lst, why = "stream-write", f"{streams} streams started, {files} scratch files written"
        elif bj >= ITERATIVE_JOBS:
            lst, why = "iterative", f"{bj} jobs inside SparkEntry.queries(...)"
        else:
            lst, why = "light-mix", f"{bj} jobs inside SparkEntry.queries(...), no streams, no scratch"
        lists[lst].append(r["name"])
        evidence[r["name"]] = {"list": lst, "why": why, "build_jobs": bj,
                               "action_jobs": int(r["action_jobs"]), "streams": streams,
                               "scratch_files": files, "rewrites": int(r["rewrites"]),
                               "graft_exprs": int(r["graft_exprs"]), "cold_build_s": float(r["build_s"]),
                               "cold_action_s": float(r["action_s"])}
    def stride(qs, every_offset):
        every, offset = every_offset
        return qs[offset::every]
    samples = {k: stride(v, SAMPLES[k]) for k, v in lists.items()}
    rewritten = [q for q in lists["light-mix"] if evidence[q]["rewrites"] > 0]
    samples["light-mix"] = sorted(
        stride([q for q in lists["light-mix"] if q not in rewritten], SAMPLES["light-mix"])
        + stride(rewritten, REWRITE_SAMPLE))
    doc = {"rule": __doc__.split("Membership rule, applied in this order:\n")[1].strip(),
           "iterative_min_build_jobs": ITERATIVE_JOBS,
           "sample_stride": {k: {"every": s, "offset": o} for k, (s, o) in SAMPLES.items()},
           "light_mix_rewrite_stride": {"every": REWRITE_SAMPLE[0], "offset": REWRITE_SAMPLE[1]},
           "lists": lists, "samples": samples, "evidence": evidence}
    with open(os.path.join(run.HERE, "lists.json"), "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    with open(os.path.join(run.HERE, "digests.tsv"), "w") as f:
        f.write("# query\trows\tdigest (sum of xxhash64 over row JSON / column-name hash); "
                "confirmed by tools/check.py against DuckDB\n")
        for r in sorted(rows, key=lambda r: r["name"]):
            f.write(f"{r['name']}\t{r['rows']}\t{r['digest']}\n")
    for k, v in lists.items():
        cold = sum(evidence[q]["cold_build_s"] + evidence[q]["cold_action_s"] for q in samples[k])
        print(f"{k}: {len(v)} queries, sample {len(samples[k])} (cold {cold:.1f} s)")


def main():
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()
    census()
    derive()


if __name__ == "__main__":
    main()
