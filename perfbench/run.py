#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational|curation \
        --seed N --seconds S --trace 0|1

Builds the library and the benchmark JVM program from source on first use (sbt,
offline), generates the seeded inputs, runs the workload in one JVM with one
client in a closed loop, checks every op's output once against its DuckDB
oracle with the repository's scripts/check.py, and prints the metrics. The
last stdout line is one JSON object: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

INPUT_SETUPS = 3      # input generations per run; setup_s uses their median
JVM_HEAP = "3g"
CODEGEN_CACHE = 2000  # Spark's generated-class cache, entries
RUN_LIMIT_S = 170     # a run (after any build) must end within this
BUILD_LIMIT_S = 700

END_TO_END = {"setup_s": "s", "cpu_s": "s", "rss_peak_mb": "MB"}
KERNELS = ["shingle_md5_bottom_k", "shingle_md5_grams", "simhash_bits",
           "text_token_counts", "bpe_token_count", "vec_dot", "vec_argmin",
           "might_contain"]
PER_LAYER = {
    "host.canary_st_s": "s", "host.canary_mt_s": "s", "host.load_1m": "load",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.build_actions": "count", "operators.build_write_s": "s",
    "operators.build_write_mb": "MB",
    "cache_registry.tracked": "count", "cache_registry.mem_mb": "MB",
    "cache_registry.drain_s": "s",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms", "plans.graft_rule_ms": "ms",
    "plans.rule_effective_ratio": "ratio", "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "execution.run_s": "s", "execution.jobs": "count", "execution.stages": "count",
    "execution.tasks": "count", "execution.task_cpu_s": "s",
    "execution.task_run_s": "s", "execution.slot_util": "ratio",
    "execution.sched_wait_s": "s", "execution.gc_s": "s",
    "execution.shuffle_write_mb": "MB", "execution.shuffle_read_mb": "MB",
    "execution.spill_mb": "MB", "execution.peak_task_mem_mb": "MB",
    "execution.stage_skew": "ratio", "execution.task_failures": "count",
    "execution.output_mb": "MB",
    **{f"functions.{k}.ns_row": "ns" for k in KERNELS},
    **{f"functions.{k}.alloc_b_row": "B" for k in KERNELS},
    "jvm.jit_cpu_s": "s", "jvm.classes_loaded": "count", "wall.pass_s": "s",
    "tracing.overhead_ratio": "ratio",
    "counts.varying_ops": "count",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_checked(cmd, timeout, log, **kw):
    """Run `cmd` to completion with output to `log`; kill its whole process
    group on timeout. Returns the exit code (None on timeout)."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(work):
    """Compile the library and the benchmark (sbt, offline) unless the launch
    files already match the current sources. Returns (classpath, options)."""
    launch = os.path.join(BENCH, "target", "launch")
    stamp_file = os.path.join(launch, "stamp.txt")
    stamp = source_stamp()
    fresh = os.path.exists(stamp_file) and open(stamp_file).read() == stamp
    if not fresh:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS=" ".join([os.environ.get("SBT_OPTS", "")] + opts))
        log = os.path.join(work, "build.log")
        code = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFiles"],
                           BUILD_LIMIT_S, log, cwd=BENCH, env=env,
                           stdin=subprocess.DEVNULL)
        if code != 0:
            fail(f"build failed (exit {code}); see {log}", 1)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    cp = open(os.path.join(launch, "classpath.txt")).read().strip()
    jopts = [l.strip() for l in open(os.path.join(launch, "jvm_options.txt")) if l.strip()]
    return cp, [o for o in jopts if not o.startswith("-Xmx")]


def oracle_check(gen0, check_out, ops, log):
    """Compare each op's check-pass output with its DuckDB oracle through the
    repository's scripts/check.py. Returns {op: "PASS" | failure text}."""
    names = json.load(open(os.path.join(check_out, "oracle_sql.json")))
    todo = [op for op in ops if op in names]
    res = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                          gen0, check_out] + todo,
                         capture_output=True, text=True, timeout=150, cwd=ROOT)
    with open(log, "a") as fh:
        fh.write(res.stdout + res.stderr)
    out = {op: "FAIL: no oracle" for op in ops if op not in names}
    for line in res.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(" ")[0].rstrip(":")
        if word in ("PASS", "FAIL") and name in todo:
            out[name] = "PASS" if word == "PASS" else line
    for op in todo:
        out.setdefault(op, "FAIL: not checked")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["relational", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in (os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("scripts", "check.py"), "build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not inside a graft checkout: {need} is missing")
    src = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.exists(os.path.join(src, "lineitem.parquet")):
        fail(f"source tables not found at {src} (set SPARK_GRAFT_SF_DIR)")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    outdir = os.path.join(base, "out")
    os.makedirs(outdir, exist_ok=True)
    cp, jopts = build(work)

    import gen  # noqa: E402  (after the checkout checks: needs pyarrow)
    t_start = time.monotonic()
    gen_s = []
    for _ in range(INPUT_SETUPS):
        t = time.perf_counter()
        shutil.rmtree(os.path.join(work, "inputs"), ignore_errors=True)
        dirs, stats = gen.generate(a.workload, src, os.path.join(work, "inputs"),
                                   a.seed)
        gen_s.append(time.perf_counter() - t)

    tmp = os.path.join(work, "tmp")
    check_out = os.path.join(work, "check")
    for d in (tmp, check_out, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    trace_path = os.path.join(outdir, f"{tag}.trace.json")
    cmd = (["java"] + jopts + [
        # a fixed, pre-touched heap: peak resident memory is then the heap
        # plus what the run keeps outside it (metaspace, code cache, direct
        # buffers, thread stacks), not when the collector chose to touch
        # or grow heap pages
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
        # compiler threads that never exit, so their cpu time can be read
        "-XX:-UseDynamicNumberOfCompilerThreads",
        # Spark caches generated code by source text, 100 classes by
        # default; one pass generates about 290 (relational) or 190
        # (curation), so with the default every pass would recompile and
        # re-JIT all of them
        f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--check-gen", dirs[0], "--timed-gen", dirs[1],
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(len(os.sched_getaffinity(0))),
        "--check-out", check_out, "--out", result_path, "--trace-out", trace_path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jvm_log = os.path.join(outdir, f"{tag}.log")
    if os.path.exists(jvm_log):
        os.remove(jvm_log)
    budget = RUN_LIMIT_S - (time.monotonic() - t_start)
    t_jvm = time.monotonic()
    code = run_checked(cmd, budget - 25, jvm_log, cwd=ROOT, env=env,
                       stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM failed (exit {code}); see {jvm_log}", 1)
    r = json.load(open(result_path))
    t_check = time.monotonic()
    checks = oracle_check(dirs[0], check_out, r["ops"], jvm_log)
    t_end = time.monotonic()
    for op, why in r["check_failures"].items():
        checks[op] = f"FAIL: {why}"
    shutil.rmtree(work, ignore_errors=True)

    passes = r["passes"]
    timed = [c for p in passes for c in p["calls"]]
    failed_checks = sorted(op for op, v in checks.items() if v != "PASS")
    attempted = len(timed) + len(checks)
    failed = sum(1 for c in timed if not c["ok"]) + len(failed_checks)

    plain = [p for p in passes if not p["traced"]]
    calls = [c["wall_s"] for p in plain for c in p["calls"]]
    e2e = {
        "setup_s": statistics.median(gen_s) + r["jvm_start_s"] + r["session_s"]
        + r["warm_s"],
        # the JIT compilers' share is left out: it is the JVM still warming
        # up (it falls pass after pass) and the run's noisiest part
        "cpu_s": statistics.median(p["cpu_s"] - p["jit_cpu_s"] for p in plain),
        "rss_peak_mb": r["rss_peak_mb"],
    }
    wall = {
        "pass_s": statistics.median(p["wall_s"] for p in plain),
        "op_s_p50": statistics.median(calls),
        "op_s_p90": statistics.quantiles(calls, n=10, method="inclusive")[8],
    }

    print(f"perfbench {tag}: " + ", ".join(
        f"{k}={v:.4f} {END_TO_END.get(k, 's')}" for k, v in {**e2e, **wall}.items())
        + f", fail_rate={failed / attempted:.4f} ({failed}/{attempted} calls),"
        f" timed calls={len(calls)} in {len(plain)} untraced passes")
    by_op = {}
    for c in (c for p in plain for c in p["calls"]):
        by_op.setdefault(c["op"], []).append(c["wall_s"])
    print("median call wall by op (s): " + ", ".join(
        f"{k}={statistics.median(v):.3f}" for k, v in by_op.items()))
    print("passes (wall s, cpu s, jit cpu s, classes loaded; T: traced): " + ", ".join(
        f"{p['wall_s']:.2f} {p['cpu_s']:.1f} {p['jit_cpu_s']:.1f} {p['classes']}"
        + (" T" if p["traced"] else "") for p in passes))
    print("inputs (rows, bytes): " + json.dumps(stats, sort_keys=True))
    print("oracle check: " + (f"{len(checks)}/{len(checks)} PASS" if not failed_checks
                              else "; ".join(checks[op] for op in failed_checks)))
    print("host at start: " + json.dumps(r["host_start"]))
    print(f"run phases (s): inputs={t_jvm - t_start:.1f} jvm={t_check - t_jvm:.1f}"
          f" oracle_check={t_end - t_check:.1f}; jvm start={r['jvm_start_s']:.2f}"
          f" session={r['session_s']:.2f} warm={r['warm_s']:.1f}"
          f" inputs per set-up={[round(x, 2) for x in gen_s]}")
    if a.trace:
        layers = dict(r["layers"])
        layers["counts.varying_ops"] = float(len(r["varying_counts"]))
        print("counts varying across traced passes: "
              + (", ".join(r["varying_counts"]) or "none") + f"; trace: {trace_path}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
