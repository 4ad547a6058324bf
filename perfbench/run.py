#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source with sbt (once per source state), runs one workload in a fresh JVM on
local[nproc], checks every output outside the timed window, prints a summary
naming every metric with its unit, and prints one JSON object as the last
line of standard output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("weighted_analytics", "corpus_curation")
# A run must end within this many seconds once the build is done.
RUN_BUDGET_S = 170
HEAP = "3g"

# The tail percentile is the highest one with ten samples beyond it in a
# 32-call weighted_analytics round. p90 rests on three calls there, each a
# different heavy corr call, and its spread over seeds nears the bound; it
# is printed but not reported.
TAIL = 0.68
END_TO_END = {  # name -> unit
    "latency_p50_s": "s",
    "latency_p68_s": "s",
    "throughput_per_s": "1/s",
    "setup_s": "s",
    "live_heap_mb": "MB",
}
# The issue-level name of each end-to-end metric, per workload.
NAMES = {
    "weighted_analytics": {"latency_p50_s": ("query_p50_s", "s"),
                           "latency_p68_s": ("query_p68_s", "s"),
                           "throughput_per_s": ("queries_per_s", "1/s")},
    "corpus_curation": {"latency_p50_s": ("pass_p50_s", "s"),
                        "latency_p68_s": ("pass_p68_s", "s"),
                        "throughput_per_s": ("docs_per_s", "docs/s")},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles the program's main sources with the harness; returns the
    runtime classpath. Skipped when no source changed since the last build."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (build.sbt, src/main/scala/graft) not found in the checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp = os.path.join(BUILD, "digest")
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=700)
    lines = p.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or "perfbench" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, budget):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=budget)
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish within {budget:.0f} s")
    if p.returncode != 0 or not os.path.isfile(os.path.join(work, "result.json")):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        fail(f"workload process exited with {p.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ---- output check (after the timed window) --------------------------------

def check_outputs(workload, res, work):
    """Returns (attempted, failed, notes). Every operation that threw or whose
    output differs from the reference counts as failed."""
    import check
    attempted, failed, notes = check.check(workload, res, os.path.join(work, "outputs.jsonl"),
                                           res["inputs"])
    # a traced corpus_curation run also pushes the stream feed through the
    # streaming layer and checks its admissions
    layers = res["layers"]
    if "check.stream_batches" in layers:
        attempted += int(layers["check.stream_batches"])
        failed += int(layers["check.stream_mismatched_batches"])
        if layers["check.stream_mismatched_batches"]:
            notes.append("stream admissions differ from the recomputation, "
                         "or no repeat outlived the TTL window")
    return attempted, failed, notes


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    t0 = time.time()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res = run_jvm(cp, args, work, RUN_BUDGET_S - 15)
        attempted, failed, notes = check_outputs(args.workload, res, work)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                HERE, ".work", f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    samples = res["samples"]
    if not samples:
        fail("no operation completed")
    attempted = max(attempted, len(samples) + len(res["errors"]))
    e2e = {
        "latency_p50_s": statistics.median(samples),
        "latency_p68_s": quantile(samples, TAIL),
        "throughput_per_s": (res["items"] / statistics.median(samples)
                             if args.workload == "corpus_curation"
                             else res["items"] / res["timed_wall_s"]),
        "setup_s": res["setup_s"],
        "live_heap_mb": res["live_heap_mb"],
    }
    w = args.workload
    print(f"# {w}: seed {args.seed}, {len(samples)} operations timed over "
          f"{res['timed_wall_s']:.2f} s on {int(res['cores'])} cores, "
          f"{time.time() - t0:.1f} s wall")
    for k, v in e2e.items():
        name, unit = NAMES[w].get(k, (k, END_TO_END[k]))
        print(f"{name} = {v:.6g} {unit}   [{k}]")
    p90 = quantile(samples, 0.9)
    print(f"{NAMES[w]['latency_p68_s'][0].replace('68', '90')} = {p90:.6g} s   "
          f"[{sum(x > p90 for x in samples)} samples beyond it; not reported]")
    print(f"failed_frac = {failed / attempted:.6g} ratio   ({failed} of {attempted})")
    for e in res["errors"][:5]:
        print(f"# error: {e}")
    for n in notes[:5]:
        print(f"# mismatch: {n}")
    if args.trace:
        # a layer the workload does not call, or a rate over no work, reads 0
        metrics = {k: {"value": res["layers"].get(k) or 0.0, "unit": u}
                   for k, u in per_layer_units().items()}
        for k, m in metrics.items():
            print(f"{k} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    main()
