#!/usr/bin/env python3
"""The repo benchmark: one workload, one fresh JVM, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark's own Scala sources from source into
.bench_build/ (once per source state), stages the workload's seeded inputs,
runs perfbench's Harness JVM (local[N], one closed-loop client) from launch
to ready and then for a fixed number of passes, checks every result, takes
a machine-speed probe before the launch and after the exit, and prints the
metrics named in BENCHMARK.json: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. The last line of stdout is the JSON
result. Exit status is 0 only when every operation succeeded and every
result matched.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402

# The query mix: declared keys whose results are checked on every execution
# against fingerprints recorded against their DuckDB oracle (expected.json).
# One short key per family; their warm time is the per-action floor
# (graft.Tables, analysis, the graft.plans rules, codegen, job dispatch),
# not executor work. etl_noaa_daily is the paper's daily job in one plan;
# scan_fixed_width_agg is the one key on graft.sources' fixed-width DSv2
# reader (the NOAA raw format).
SHORT_KEYS = [
    "fn_hash", "agg_global", "win_rank_topn", "scan_fixed_width_agg",
    "join_inner_equi", "etl_noaa_daily", "sql_tpch_q6", "stream_tumbling",
    "plan_topk_rewrite", "setop_union_by_name"]
# The n-gram near-duplicate key over the sf0.1 corpus: PPJoin candidate
# generation, shuffle and executor CPU.
NEARDUP_KEYS = ["llm_dedup_ngram_jaccard"]

WORKLOADS = {
    "query_mix": SHORT_KEYS + NEARDUP_KEYS,
    "gvt_commit_mix": [],
}
# Warm-up passes between the cold pass and the measured ones: they take
# the steepest part of the JIT curve (README, "Pass schedule").
WARMUP_PASSES = {"query_mix": 2, "gvt_commit_mix": 1}
# A measured pass's nominal length: the measured passes are as many as it
# takes to cover --seconds. A constant, so a run's work never follows how
# fast its passes go.
NOMINAL_PASS_S = {"query_mix": 4.0, "gvt_commit_mix": 6.0}
CORES = min(4, os.cpu_count() or 1)
JVM_HEAP = "1536m"  # initial and maximum
RUN_TIMEOUT_S = 160
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BUILD_DIR, "results")
EXPECTED = os.path.join(HERE, "expected.json")
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# Gvt calls that only touch metadata and take a few milliseconds; timed to
# a fraction of a millisecond, their noise would set a geometric mean's
# spread, so kind_gmean leaves them out (gvt.*_ms report them).
METADATA_CALLS = {"create", "snapshot", "vacuum"}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def schedule(workload: str, seconds: float) -> tuple:
    """(warm-up passes, measured passes): a function of the workload and
    the run length only."""
    return (WARMUP_PASSES[workload],
            max(1, math.ceil(seconds / NOMINAL_PASS_S[workload])))


_PROBE_BLOCK = bytes(range(256)) * 4096  # 1 MiB


def probe() -> float:
    """CPU seconds this process takes to SHA-256 a fixed 32 MiB, median
    of five: a single-thread gauge of how fast the machine runs at the
    moment. Recorded in every result's context; never applied to a
    metric."""
    def once():
        t0 = time.process_time()
        h = hashlib.sha256()
        for _ in range(32):
            h.update(_PROBE_BLOCK)
        return time.process_time() - t0
    return statistics.median(once() for _ in range(5))


def spark_jars() -> str:
    """$SPARK_HOME/jars, or the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under '{jars}' "
             "(set SPARK_HOME)")
    return jars


def build(build_dir: str, jars: str) -> str:
    """Compile src/main and perfbench/scala once per source state;
    return the classes dir."""
    main = os.path.join(ROOT, "src", "main")
    sources = sorted(glob.glob(f"{main}/scala/**/*.scala", recursive=True))
    if not sources:
        fail(f"no program sources under {main}/scala")
    sources += sorted(glob.glob(f"{HERE}/scala/**/*.scala", recursive=True))
    resources = os.path.join(main, "resources")
    h = hashlib.sha256()
    for f in sources + sorted(glob.glob(f"{resources}/**/*", recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(build_dir, f"classes-{stamp}")
    if os.path.isdir(classes):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for p in ("compiler", "library", "reflect")
                for j in glob.glob(f"{jars}/scala-{p}-2.13.*.jar")]
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
         "-d", tmp, f"@{argfile}"], capture_output=True, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed:\n" + proc.stdout[-4000:] + proc.stderr[-4000:])
    os.remove(argfile)
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    try:
        os.rename(tmp, classes)
    except OSError:  # a concurrent build got there first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != classes and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    print(f"built {len(sources)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def jvm_command(classes: str, jars: str, run_dir: str, main: list) -> list:
    """`java` running `main` (class and arguments) on the built classes,
    with temp and Spark local dirs under run_dir."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch"] +
            [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS] +
            [f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dspark.local.dir={run_dir}/local",
             "-cp", f"{classes}:{jars}/*"] + main)


def run_jvm(classes: str, jars: str, args: dict, run_dir: str) -> None:
    """Run the Harness JVM with `args` in its own process group; kill the
    group and fail if it is still running after RUN_TIMEOUT_S."""
    cmd = jvm_command(classes, jars, run_dir, ["graft.perfbench.Harness"] +
                      [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as log:
            tail = log.read()[-4000:]
        fail(f"harness JVM exited with {code}:\n{tail}")


def quantile(xs: list, q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def kind_gmean(passes: list) -> float:
    """Geometric mean over operation kinds (each key; each Gvt call but
    the metadata calls) of the kind's median latency in `passes`: every
    kind counts once, however often the mix runs it, and each moves it by
    its own share."""
    by_kind = {}
    for p in passes:
        for name, ms in p["ops"]:
            if name not in METADATA_CALLS:
                by_kind.setdefault(name, []).append(ms)
    return math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by_kind.values()))


def commit() -> str:
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return "unknown (not a git checkout)"


def run(workload: str, seed: int, seconds: float, trace: int,
        expected: str = None, dump: str = None) -> dict:
    """Build if needed, stage inputs, run the Harness JVM; its result,
    with the machine-speed probe taken around it."""
    jars = spark_jars()
    classes = build(BUILD_DIR, jars)
    run_id = f"{workload}-{seed}-{os.getpid()}"
    run_dir = os.path.join(BUILD_DIR, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
        inputs.stage(workload, seed, data)
        os.makedirs(out)
        warmup, measured = schedule(workload, seconds)
        args = {"workload": workload, "seed": seed, "warmup": warmup,
                "measured": measured, "trace": trace, "data": data,
                "out": out, "cores": CORES, "run": run_id}
        keys = WORKLOADS[workload]
        if keys:
            args["keys"] = ",".join(keys)
            args["expected"] = os.path.abspath(expected or EXPECTED)
        if dump:
            args["dump"] = os.path.abspath(dump)
        probe_before = probe()
        run_jvm(classes, jars, args, run_dir)
        probe_after = probe()
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        res["context"].update(build=os.path.basename(classes),
                              probe_before_s=probe_before,
                              probe_after_s=probe_after)
        if len(res["passes"]) != 1 + warmup + measured:
            fail(f"{len(res['passes'])} passes, scheduled 1 + {warmup} + "
                 f"{measured}")
        spans = os.path.join(out, "spans.jsonl")
        if trace and os.path.exists(spans):
            os.makedirs(RESULTS, exist_ok=True)
            shutil.move(spans, os.path.join(
                RESULTS, f"{workload}-seed{seed}-spans.jsonl"))
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def end_to_end(res: dict) -> dict:
    passes = res["passes"]
    measured = passes[-res["measured"]:]
    return {
        "setup_s": res["setup"]["setup_s"],
        "first_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in measured),
        "op_kind_gmean_ms": kind_gmean(measured),
        "rss_peak_mb": res["rss_peak_mb"],
    }


def per_layer(res: dict) -> dict:
    passes = res["passes"]
    cold, measured = passes[0], passes[-res["measured"]:]
    samples = [ms for p in measured for _, ms in p["ops"]]
    e2e = end_to_end(res)
    setup = res["setup"]
    return dict(res["layers"], **{
        "setup.jvm_s": setup["jvm_s"],
        "setup.session_s": setup["session_s"],
        "setup.inputs_s": setup["inputs_s"],
        "jvm.classes_loaded_ready": setup["classes_loaded"],
        "jvm.classes_loaded_cold": cold["classes_loaded"],
        "jvm.jit_cold_ms": cold["jit_ms"],
        "jvm.gc_cold_ms": cold["gc_ms"],
        "jvm.jit_warm_ms": statistics.median(p["jit_ms"] for p in measured),
        "jvm.gc_warm_ms": statistics.median(p["gc_ms"] for p in measured),
        "trace.first_pass_s": e2e["first_pass_s"],
        "trace.warm_pass_s": e2e["warm_pass_s"],
        "trace.op_kind_gmean_ms": e2e["op_kind_gmean_ms"],
        "trace.op_p90_ms": quantile(samples, 0.9),
    })


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    res = run(a.workload, a.seed, a.seconds, a.trace)
    report(a, spec, res)


def report(a, spec: dict, res: dict) -> None:
    failures = res["failures"]
    if a.trace:
        values, wanted = per_layer(res), spec["per_layer"]
    else:
        values, wanted = end_to_end(res), spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:  # a layer this workload does not exercise
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{a.workload:16s} {m['name']:34s} {v:14.4f} {m['unit']}")
    measured = res["passes"][-res["measured"]:]
    ops = [name for p in measured for name, _ in p["ops"]]
    print(f"{a.workload:16s} samples: 1 launch; passes: "
          f"1 cold, {res['warmup']} warm-up, {len(measured)} measured with "
          f"{len(ops)} operations of {len(set(ops))} kinds "
          f"({len(set(ops) - METADATA_CALLS)} in op_kind_gmean_ms)")
    for f in failures:
        print(f"FAILED {f}")
    out = {"correct": not failures, "attempted": res["attempted"],
           "failed": len(failures), "metrics": metrics}
    record = dict(out, workload=a.workload, seed=a.seed, seconds=a.seconds,
                  trace=a.trace, failures=failures, passes=res["passes"],
                  warmup=res["warmup"], measured=res["measured"],
                  setup=res["setup"],
                  context=dict(res["context"], commit=commit(),
                               spark_conf=res["spark_conf"]))
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS,
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(out))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
