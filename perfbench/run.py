#!/usr/bin/env python3
"""graft workload benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Builds graft and the harness from
source (once per source state), generates the workload's inputs from the
seed (once per seed), then launches one fresh JVM per repetition until
``--seconds`` have passed (at least one), checks every repetition's
outputs, and prints one JSON result line last.

``--trace 0`` reports the end-to-end metrics: medians over repetitions,
with set-up-only JVMs added until there are ``MIN_SETUPS`` set-up samples.
``--trace 1`` runs one untraced and one traced repetition and reports the
traced one's per-layer metrics, the tracing overhead, and how many
deterministic counts differ from a second traced pass that the same JVM
makes over the restored start state.
See perfbench/README.md.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = os.path.join(".bench_build", "perfbench")
WORK_DIR = ".bench_work"
def spark_jars():
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


SPARK_JARS = spark_jars()
# no hsperfdata file under /tmp: the benchmark writes only inside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"
# the --add-opens set build.sbt passes to forked JVMs (Spark on JDK 17)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# workload -> (Spark cores, fixed heap, needs an untimed preparation step).
# change_feed's heap is small enough that it always fills, which keeps its
# peak RSS steady from run to run.
WORKLOADS = {
    "daily_refresh": (4, "1g", True),
    "geocode_backfill": (4, "1g", False),
    "corpus_curation": (4, "1g", False),
    "change_feed": (3, "512m", False),
}
MIN_SETUPS = 2         # set-up samples per run (set-up-only JVMs fill up)
REP_BUDGET_S = 100      # start no repetition after this much wall time
JVM_TIMEOUT_S = 120
KEEP_INPUTS = 3         # generated input sets kept per workload

END_TO_END = ["setup_s", "run_s", "rows_per_s", "peak_rss_mb",
              "event_latency_p50_s", "event_latency_p95_s"]
UNITS = {"setup_s": "s", "run_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB",
         "event_latency_p50_s": "s", "event_latency_p95_s": "s"}

SPANS = ["sources", "functions", "operators.dedup", "operators.merge",
         "operators.diff_merge", "operators.geocode", "streaming.snapshot",
         "operators.validate", "operators.near_dup", "operators.components",
         "operators.split_pack", "io.publish", "streaming.microbatch"]
MAP_ONLY = {"sources", "functions"}
GENERIC = ["self_s", "jobs", "tasks", "task_cpu_s", "plan_s", "shuffle_write_bytes", "rows_out"]
SPECIFIC = [
    "sources.files", "sources.bytes_read", "operators.dedup.dup_ratio",
    "operators.diff_merge.carried_ratio", "operators.diff_merge.by_domain",
    "operators.geocode.candidates_per_row", "operators.geocode.cache_hit_ratio",
    "operators.geocode.resolver_hit_ratio", "operators.geocode.fallback_street",
    "operators.geocode.fallback_county", "operators.geocode.unresolved",
    "resolver_calls", "util.ratelimited.retries",
    "streaming.snapshot.bytes_written", "streaming.snapshot.write_amplification",
    "operators.validate.violations", "operators.near_dup.candidate_pairs",
    "operators.near_dup.precision", "operators.near_dup.recall", "util.iterative.rounds",
    "io.publish.files", "io.publish.bytes_written",
    "streaming.microbatch.batches", "streaming.microbatch.add_batch_s",
    "streaming.microbatch.wal_commit_s", "streaming.microbatch.planning_s",
    "streaming.state_rows", "generator.lag_s", "generator.backlog_files",
    "spark.gc_s", "spark.spill_bytes", "spark.idle_frac",
    "trace.run_s", "trace.overhead_s", "trace.uncovered_s", "trace.nonexact_counts",
]
PER_LAYER = [f"{s}.{g}" for s in SPANS for g in GENERIC
             if not (g == "shuffle_write_bytes" and s in MAP_ONLY)] + SPECIFIC
# counts that must repeat exactly across two traced runs of one seed
EXACT = ["resolver_calls", "operators.near_dup.candidate_pairs", "util.iterative.rounds"] + \
    [f"{s}.{g}" for s in SPANS for g in ("jobs", "tasks", "shuffle_write_bytes")
     if not (g == "shuffle_write_bytes" and s in MAP_ONLY)]


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_read", "bytes_written")):
        return "bytes"
    if name.endswith(("ratio", "frac", "precision", "recall", "amplification",
                      "candidates_per_row")):
        return "ratio"
    return "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    for top in ("src/main", os.path.join("perfbench", "scala"), os.path.join("perfbench", "build.sh")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft + harness unless this source state is already built."""
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building graft and the harness")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as lf:
        subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, SPARK_JARS],
                       stdout=lf, stderr=subprocess.STDOUT, check=True, timeout=800)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


# ----------------------------------------------------------------- inputs

def inputs(workload, seed):
    """The seed's generated input directory (generated once)."""
    root = os.path.join(WORK_DIR, "inputs")
    d = os.path.join(root, f"{workload}-{seed}")
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        rows = gen.GENERATORS[workload](seed, d)
        with open(meta, "w") as f:
            json.dump({"rows": rows}, f)
        old = sorted((p for p in os.listdir(root)
                      if p.startswith(workload + "-") and not p.endswith("-yesterday")),
                     key=lambda p: os.path.getmtime(os.path.join(root, p)))
        for p in old[:-KEEP_INPUTS]:
            shutil.rmtree(os.path.join(root, p), ignore_errors=True)
    with open(meta) as f:
        return d, json.load(f)["rows"]


# -------------------------------------------------------------------- JVM

def jvm(classes, mode, workload, input_dir, work, seed, trace, state=None):
    """One fresh JVM; returns its result.json (or an error record).
    ``state`` is copied to ``<work>/state`` first, byte for byte."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if state:
        shutil.copytree(state, os.path.join(work, "state"))
    tmp = os.path.abspath(os.path.join(WORK_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cp = os.path.abspath(classes) + os.pathsep + os.path.join(SPARK_JARS, "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cores, heap, _ = WORKLOADS[workload]
    cmd = ["java", f"-Xmx{heap}", NO_PERF_DATA, *opens, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Main",
           "--mode", mode, "--workload", workload, "--input", os.path.abspath(input_dir),
           "--work", os.path.abspath(work), "--seed", str(seed),
           "--trace", "1" if trace else "0", "--cores", str(cores)]
    launch_ms = int(time.time() * 1000)
    cmd += ["--launch-ms", str(launch_ms)]
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        try:
            proc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
            code = proc.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    res_path = os.path.join(work, "result.json")
    res = {}
    if os.path.exists(res_path):
        with open(res_path) as f:
            res = json.load(f)
    if code != 0 and "error" not in res:
        res["error"] = f"JVM exit {code}"
    return res


def prepared(classes, workload):
    """daily_refresh's start state: yesterday's snapshot and geocode cache,
    made once by the program's own day-1 path (untimed). Returns the state
    directory every repetition starts from, or None."""
    if not WORKLOADS[workload][2]:
        return None
    d = os.path.join(WORK_DIR, "inputs", f"{workload}-yesterday")
    done = os.path.join(d, "state.done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        gen.gen_daily_yesterday(d)
        res = jvm(classes, "prepare", workload, d, os.path.join(WORK_DIR, "prepare"), 0, False)
        if "error" in res:
            raise RuntimeError(f"preparation failed: {res['error']}")
        open(done, "w").close()
    return os.path.join(d, "state")


def rep(classes, workload, input_dir, state, seed, trace, i):
    work = os.path.join(WORK_DIR, "run", str(i))
    res = jvm(classes, "run", workload, input_dir, work, seed, trace, state)
    if "error" not in res:
        with open(os.path.join(input_dir, "truth.json"), encoding="utf-8") as f:
            truth = json.load(f)
        problems = checks.CHECKS[workload](os.path.join(work, "out"), truth)
        if problems:
            res["error"] = "; ".join(problems)
        if trace and workload == "corpus_curation" and not problems:
            res["layers"].update(near_dup_quality(os.path.join(work, "pairs"), truth))
    if "error" in res:
        log(f"repetition {i} failed: {res['error']}")
    return res


def near_dup_quality(pairs_dir, truth):
    """precision / recall of the LSH candidate pairs against the planted
    near-duplicate clusters"""
    found = {(min(p["id_a"], p["id_b"]), max(p["id_a"], p["id_b"]))
             for p in checks.read_parts(pairs_dir)}
    planted = {(min(a, b), max(a, b)) for g in truth["near"] for a in g for b in g if a < b}
    hit = len(found & planted)
    return {"operators.near_dup.precision": hit / len(found) if found else 0.0,
            "operators.near_dup.recall": hit / len(planted) if planted else 0.0}


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(results, rows, setups):
    """Medians over the repetitions (set-up: over every JVM launched).
    Event latency: change_feed's per-event samples pooled; for a batch
    workload every input row waits from launch until the outputs are
    committed, i.e. set-up plus run."""
    lat = [x for r in results for x in r["latencies_s"]]
    if not lat:
        lat = [r["setup_s"] + r["run_s"] for r in results]
    return {
        "setup_s": statistics.median(setups),
        "run_s": statistics.median(r["run_s"] for r in results),
        "rows_per_s": statistics.median((len(r["latencies_s"]) or rows) / r["run_s"]
                                        for r in results),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in results),
        "event_latency_p50_s": quantile(lat, 0.5),
        "event_latency_p95_s": quantile(lat, 0.95),
    }


def per_layer(traced, untraced_run_s):
    """The traced JVM's first pass, plus the count check against its
    second pass over the restored start state."""
    first, second = traced["layers"], traced["layers_again"]
    out = {k: float(first.get(k, 0.0)) for k in PER_LAYER}
    out["trace.run_s"] = traced["run_s"]
    out["trace.overhead_s"] = traced["run_s"] - untraced_run_s
    diff = {k: (first.get(k, 0.0), second.get(k, 0.0)) for k in EXACT
            if first.get(k, 0.0) != second.get(k, 0.0)}
    out["trace.nonexact_counts"] = float(len(diff))
    for k, (a, b) in sorted(diff.items()):
        log(f"non-exact count {k}: {a} vs {b}")
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        log("no graft sources under ./src/main/scala: run from the root of a checkout")
        return 2
    classes = build()
    input_dir, rows = inputs(args.workload, args.seed)
    state = prepared(classes, args.workload)

    start = time.time()
    results, traced, setups = [], [], []

    def one(trace):
        return rep(classes, args.workload, input_dir, state, args.seed, trace,
                   len(results) + len(traced))

    if args.trace:
        results.append(one(False))
        traced = [one(True)]
    else:
        while not results or (time.time() - start < args.seconds
                               and time.time() - start < REP_BUDGET_S):
            results.append(one(False))
        setups = [r["setup_s"] for r in results if "error" not in r]
        while len(setups) < MIN_SETUPS:
            res = jvm(classes, "setup", args.workload, input_dir,
                      os.path.join(WORK_DIR, "setup"), args.seed, False)
            if "error" in res:
                raise RuntimeError(f"set-up failed: {res['error']}")
            setups.append(res["setup_s"])
    everything = results + traced
    failed_reps = sum("error" in r for r in everything)
    if args.workload == "change_feed":   # an operation is an event
        attempted, failed = rows * len(everything), rows * failed_reps
    else:                                # an operation is a run
        attempted, failed = len(everything), failed_reps
    ok = [r for r in results if "error" not in r]
    metrics = {}
    if ok and not args.trace:
        for k, v in end_to_end(ok, rows, setups).items():
            metrics[k] = {"value": v, "unit": UNITS[k]}
    if args.trace and not failed_reps:
        for k, v in per_layer(traced[0], ok[0]["run_s"]).items():
            metrics[k] = {"value": v, "unit": unit_of(k)}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
