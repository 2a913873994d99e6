#!/usr/bin/env python3
"""End-to-end benchmark of the Spark engine and the World Cup ELT.

Run from the root of a checkout:

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 10 --trace 0

It builds the program and the harness (perfbench/build.sbt) once per
checkout into .bench_build/, then starts one JVM on the compiled classpath
at local[nproc] with one closed-loop client. The JVM sets up the session
(timed from its launch), runs a cold first pass over the workload's ops
and then warm passes for --seconds and at least the workload's minimum
number of passes, each pass in a seed-permuted order. The workloads and
their pass counts are defined in
perfbench/src/main/scala/perfbench/Main.scala. After the timed region
the JVM dumps each op's output with graft.Verify.dump, and this script
compares the dump against the DuckDB oracles with tools/check_oracle.py.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of the traced passes (traced
and untraced warm passes alternate; the gap is the tracing overhead).
Per-op records, spans and the run summary of the latest run of each
workload are kept under .bench_build/last/.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_worldcup  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
# disjoint World Cup copies: the largest tables of the workload (team,
# stadium) get 4 rows per copy, 8,000 in all
WORLDCUP_COPIES = 2000
TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("ops_per_s", "1/s"),
              ("op_p50_s", "s"), ("op_tail_s", "s"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("etl.build_s", "s"), ("catalog.load_s", "s"),
    ("catalog.validate_jobs", "count"), ("catalog.export_s", "s"),
    ("catalog.export_mb", "MB"), ("sources.input_mb", "MB"),
    ("sources.input_rows", "count"), ("spark.analysis_s", "s"),
    ("spark.optimization_s", "s"), ("spark.planning_s", "s"),
    ("spark.gap_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.stage_reuse_frac", "ratio"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.task_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.straggler_s", "s"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"),
    ("spark.output_mb", "MB"), ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
    ("trace.overhead_pct", "%"),
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root: str) -> str:
    """Digest of everything the build compiles, so a stale build is
    never reused."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(root: str, work: str) -> str:
    """Compiles the program and the harness; returns the classpath."""
    stamp = os.path.join(work, f"classpath-{sources_digest(root)}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=out,
            stderr=subprocess.STDOUT, timeout=850)
    with open(log) as f:
        lines = f.read().splitlines()
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed, see {log}")
    for old in os.listdir(work):
        if old.startswith("classpath-"):
            os.remove(os.path.join(work, old))
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def java_cmd(classpath, run_dir, csv_dir, main_class, args):
    """A JVM on the compiled classpath whose scratch files all land in
    run_dir (to be run with run_dir as its working directory), reading
    the World Cup CSVs from csv_dir."""
    props = {
        "java.io.tmpdir": os.path.join(run_dir, "tmp"),
        "spark.ui.enabled": "false",
        "graft.worldcup.fixtures": csv_dir,
        "graft.wet.tmp": os.path.join(run_dir, "wet"),
        "graft.wet.stream.tmp": os.path.join(run_dir, "wet_stream"),
        "graft.x90.wet.tmp": os.path.join(run_dir, "x90_wet"),
        "graft.jsonl.tmp": os.path.join(run_dir, "jsonl"),
    }
    # a fixed heap size: G1 otherwise grows the heap at moments that vary
    # from run to run, and peak_rss_mb with it
    return (["java", "-Xms1536m", "-Xmx1536m"]
            + [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + [f"-D{k}={v}" for k, v in props.items()]
            + ["-cp", classpath, main_class] + args)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs, n_min):
    """Percentile (n_min - 10) / n_min of xs, interpolated between the two
    nearest ranks: with at least n_min samples, at least 10 lie above it.
    Returns (value, percentile, sample count)."""
    s = sorted(xs)
    q = (n_min - 10) / n_min
    if q <= 0 or len(s) < n_min:
        return float("nan"), float("nan"), len(s)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    return s[lo] + (s[lo + 1] - s[lo]) * (pos - lo), 100.0 * q, len(s)


def check_outputs(root, run_dir, stderr_log, entries):
    """Compares the Verify dump with the DuckDB oracles; returns the
    entries that failed, each with a reason."""
    r = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"),
         DATA, os.path.join(run_dir, "verify")],
        capture_output=True, text=True, timeout=25)
    passed = set(re.findall(r"^PASS (\S+)", r.stdout, re.M))
    bad = {m[0]: m[1] for m in re.findall(r"^FAIL (\S+): (.*)$", r.stdout, re.M)}
    with open(stderr_log, errors="replace") as f:
        log = f.read()
    for name in re.findall(r"^\[verify\] VIOLATION (\S+)", log, re.M):
        bad.setdefault(name, "boundary violation")
    for name in entries:
        if name not in passed:
            bad.setdefault(name, "no oracle verdict")
    return bad


def layer_metrics(execs, run):
    """Per-layer metrics of one warm pass: totals over the traced warm
    executions divided by the number of traced warm passes."""
    warm = [e for e in execs if e["phase"] == "warm"]
    traced = [e for e in warm if e["traced"]]
    n_pass = len({e["pass"] for e in traced}) or 1

    def tot(key):
        return sum(e["layers"].get(key, 0.0) for e in traced) / n_pass

    m = {
        "queries.build_s": tot("queries.build.s"),
        "queries.build_jobs": tot("queries.build.jobs"),
        "etl.build_s": tot("etl.build.s"),
        "catalog.load_s": tot("catalog.load.s"),
        "catalog.validate_jobs": tot("catalog.load.jobs"),
        "catalog.export_s": tot("catalog.export.s"),
        "catalog.export_mb": run["export_mb"],
    }
    for k in ("sources.input_mb", "sources.input_rows", "spark.analysis_s",
              "spark.optimization_s", "spark.planning_s", "spark.gap_s",
              "spark.jobs", "spark.stages", "spark.tasks",
              "spark.failed_tasks", "spark.task_s", "spark.task_cpu_s",
              "spark.straggler_s", "spark.shuffle_read_mb",
              "spark.shuffle_write_mb", "spark.spill_mb", "spark.output_mb",
              "jvm.jit_s", "jvm.gc_s"):
        m[k] = tot(k)
    skipped = tot("spark.skipped_stages")
    m["spark.stage_reuse_frac"] = (
        skipped / (m["spark.stages"] + skipped)
        if m["spark.stages"] + skipped else 0.0)
    m["spark.peak_exec_mem_mb"] = max(
        [e["layers"].get("spark.peak_exec_mem_mb", 0.0) for e in traced] or [0.0])
    # tracing overhead: per op, median traced over median untraced
    # latency, summed over ops
    by_op = {}
    for e in warm:
        by_op.setdefault(e["op"], ([], []))[0 if e["traced"] else 1].append(
            e["wall_s"])
    pairs = [(median(t), median(u)) for t, u in by_op.values() if t and u]
    m["trace.overhead_pct"] = (
        100.0 * (sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1.0)
        if pairs else float("nan"))
    return m


def main() -> None:
    p = argparse.ArgumentParser(description="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    root = os.getcwd()
    fixtures = os.path.join(root, "src", "test", "resources", "worldcup")
    for need in ("build.sbt", "src/main/scala/graft", "tools/check_oracle.py",
                 fixtures):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")

    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)

    # scratch space of earlier runs is cleared before each run
    runs = os.path.join(work, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    csv_dir = os.path.join(run_dir, "csv")
    if a.workload == "worldcup_elt":
        gen_worldcup.generate(fixtures, csv_dir, a.seed, WORLDCUP_COPIES)

    cpus = len(os.sched_getaffinity(0))
    log_out = os.path.join(run_dir, "jvm.out")
    log_err = os.path.join(run_dir, "jvm.err")
    launched = time.time()
    cmd = java_cmd(classpath, run_dir, csv_dir, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--out", run_dir, "--data", DATA, "--csv", csv_dir,
        "--cpus", str(cpus), "--launch-ms", str(int(launched * 1000))])
    with open(log_out, "w") as fo, open(log_err, "w") as fe:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=fo, stderr=fe,
                               timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish in {TIMEOUT_S} s")
    if r.returncode != 0 or not os.path.exists(os.path.join(run_dir, "run.json")):
        with open(log_err, errors="replace") as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"the JVM exited with code {r.returncode}")

    with open(os.path.join(run_dir, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(run_dir, "ops.jsonl")) as f:
        execs = [json.loads(line) for line in f]
    entries = run["verify_entries"]
    jvm_done = time.time()
    bad = check_outputs(root, run_dir, log_err, entries)
    print(f"perfbench: jvm {jvm_done - launched:.1f} s, oracle check "
          f"{time.time() - jvm_done:.1f} s", file=sys.stderr)

    threw = [e for e in execs if e["error"]]
    failed_execs = {e["seq"] for e in threw}
    extra = 0
    for name in bad:
        same = [e["seq"] for e in execs if e["op"] == name]
        failed_execs.update(same)
        extra += 0 if same else 1
    attempted = len(execs) + extra
    failed = len(failed_execs) + extra
    for e in threw[:5]:
        print(f"error in {e['op']}: {e['error']}", file=sys.stderr)
    for name, why in sorted(bad.items()):
        print(f"oracle miss {name}: {why}", file=sys.stderr)

    print(f"workload {a.workload}: seed {a.seed}, local[{cpus}], 1 closed-loop "
          f"client, {len(run['warm_pass_s'])} measured warm passes")
    print(f"  failed_frac = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} ops)")
    if a.trace:
        layers = layer_metrics(execs, run)
        for name, unit in PER_LAYER:
            print(f"  {name} = {layers[name]:.6g} {unit}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        warm_execs = [e for e in execs if e["phase"] == "warm"]
        warm = [e["wall_s"] for e in warm_execs]
        by_op = {}
        for e in warm_execs:
            by_op.setdefault(e["op"], []).append(e["wall_s"])
        ops_per_pass = sum(1 for e in execs if e["phase"] == "first")
        t_val, t_pct, t_n = tail(warm, run["min_warm_passes"] * ops_per_pass)
        e2e = {
            "setup_s": run["setup_s"],
            "first_pass_s": run["first_pass_s"],
            "ops_per_s": len(warm) / sum(warm),
            # median over ops of each op's median: the pooled median of
            # 6 ops falls in the gap between the third and the fourth
            "op_p50_s": median([median(v) for v in by_op.values()]),
            "op_tail_s": t_val,
            "peak_rss_mb": run["peak_rss_mb"],
        }
        for name, unit in END_TO_END:
            note = f" (p{t_pct:.1f} of n={t_n})" if name == "op_tail_s" else ""
            print(f"  {name} = {e2e[name]:.6g} {unit}{note}")
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    keep = os.path.join(work, "last", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for f in ("run.json", "ops.jsonl", "spans.jsonl"):
        shutil.copy(os.path.join(run_dir, f), keep)
    shutil.rmtree(runs, ignore_errors=True)

    correct = failed == 0 and run["boundary_violations"] == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
