#!/usr/bin/env python3
"""One run of the engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--out results.jsonl]

Builds the engine and the benchmark program from this checkout (sbt, once
per source state), then starts one fresh JVM that sets up a Spark session
the way graft.Bench does, runs one cold pass over the workload's queries
with the output check, a fixed number of untimed warm-up passes, and as
many timed passes as took --seconds on the baseline code (a count fixed by
the workload and --seconds, whatever the code's speed). The last stdout
line is one JSON object: correct, attempted, failed and metrics (end-to-end
metrics with --trace 0, per-layer metrics with --trace 1). The line before
it echoes the seed and the run's details. --out appends the whole record to
a JSON-lines file for perfbench/compare.py.

The seed fixes the order of every pass; the engine never sees it. Inputs
are the sf0.1 tables under perfbench/data.
"""
import argparse
import hashlib
import json
import os
import random
import re
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.1")
ENGINE_ENTRY = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")

CORES = len(os.sched_getaffinity(0))
HEAP = "4g"          # fixed heap, -Xms = -Xmx
JVM_TIMEOUT_S = 170  # one run must end within 180 s

# The membership lists each workload draws its frozen samples from (see
# lists.json for the lists, the samples and the evidence that placed each
# query). One client runs one query at a time.
WORKLOADS = {
    "light-mix": ["light-mix"],
    "iterative-stream": ["iterative", "stream-write"],
}
# Untimed warm-up passes after the cold pass, and the seconds one warm pass
# took on the baseline code (4 cores): --seconds / PASS_S timed passes.
WARMUPS = {"light-mix": 2, "iterative-stream": 5}
PASS_S = {"light-mix": 3.0, "iterative-stream": 4.5}


def timed_passes(workload, seconds):
    return max(2, round(seconds / PASS_S[workload]))

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with the benchmark's own sbt build when the
    sources changed since the last build in this checkout."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"build failed (rc={rc}); log in {log_path}", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def spark_jars():
    """The Spark and Scala jar directory: the one the root build's
    `unmanagedBase` names, which the benchmark's own build also uses."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("no unmanagedBase := file(...) in build.sbt")
    return m.group(1)


def java_cmd(*args):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
            + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.PerfBench"] + list(args))


def run_java(args, log_name, timeout):
    """Run the benchmark JVM; its output goes to a log file. Returns rc."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    log_path = os.path.join(WORK, log_name)
    # a SIGTERM to this script must not leave the JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(*args), cwd=WORK, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
    return rc


def load_lists():
    with open(os.path.join(HERE, "lists.json")) as f:
        return json.load(f)


def load_digests():
    out = {}
    with open(os.path.join(HERE, "digests.tsv")) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            name, rows, digest = line.rstrip("\n").split("\t")
            out[name] = (rows, digest)
    return out


def sample(lists, workload):
    """The frozen query sample a workload runs each pass (seed-independent,
    so every seed measures the same work in another order)."""
    return [q for lst in WORKLOADS[workload] for q in lists["samples"][lst]]


def orders(names, seed, passes):
    """Seeded order of every pass."""
    rng = random.Random(seed)
    return [rng.sample(names, len(names)) for _ in range(passes)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--out", help="append the full record to this JSON-lines file")
    a = ap.parse_args()

    if not os.path.isfile(ENGINE_ENTRY):
        fail(f"engine sources not found ({os.path.relpath(ENGINE_ENTRY, ROOT)}); "
             "run from a full checkout of the repository")
    if not os.path.isdir(DATA):
        fail("input tables not found under perfbench/data")
    build()

    lists = load_lists()
    digests = load_digests()
    names = sample(lists, a.workload)
    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    plan_path = os.path.join(WORK, f"plan-{tag}.tsv")
    result_path = os.path.join(WORK, f"result-{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    with open(plan_path, "w") as f:
        warmups, timed = WARMUPS[a.workload], timed_passes(a.workload, a.seconds)
        conf = {"sf": DATA, "work": WORK, "cores": CORES, "trace": a.trace, "warmups": warmups,
                "timed": timed, "workload": a.workload, "seed": a.seed}
        for k, v in conf.items():
            f.write(f"conf\t{k}\t{v}\n")
        for lst, qs in lists["lists"].items():
            for q in qs:
                f.write(f"list\t{lst}\t{q}\n")
        for q, (rows, d) in sorted(digests.items()):
            f.write(f"digest\t{q}\t{rows}\t{d}\n")
        for p, o in enumerate(orders(names, a.seed, 1 + warmups + timed)):
            f.write(f"order\t{p}\t{','.join(o)}\n")

    t0 = time.time()
    rc = run_java(["run", plan_path, result_path], f"run-{tag}.log", JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM failed (rc={rc}); log in perfbench/.work/run-{tag}.log", 1)
    with open(result_path) as f:
        res = json.load(f)

    detail = {"kind": "perfbench_detail", "workload": a.workload, "seed": a.seed,
              "trace": a.trace, "cores": CORES, "heap": HEAP,
              "queries_per_pass": len(names), "wall_s": round(time.time() - t0, 3),
              "failed_frac": res["failed"] / max(1, res["attempted"]),
              "tail": "slowest query's median over the timed passes",
              "samples": res["samples"],
              "warmups": warmups, "timed_passes_s": res["warm_passes_s"],
              "failures": res["failures"], "passes_wall_cpu_s": res["pass_stats"]}
    metrics = res["layers"] if a.trace else res["metrics"]
    line = {"correct": res["failed"] == 0 and not res["failures"],
            "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}
    if a.out:
        with open(a.out, "a") as f:
            f.write(json.dumps({"detail": detail, "result": line, "per_query": res["per_query"],
                                "all_metrics": res["metrics"], "layers": res["layers"]}) + "\n")
    print(json.dumps(detail))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
