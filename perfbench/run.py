#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload extract|query_mix|cdc_merge \
        --seed N --seconds S --trace 0|1

Builds graft plus the harness under perfbench/src on first use (sbt,
into $CARGO_TARGET_DIR or .bench_build), generates the input tables
(perfbench/datagen.py), runs graft.perfbench.Main in one JVM on
local[4], checks the outputs, and prints one JSON object as the last
line of stdout: every end-to-end metric of BENCHMARK.json with
--trace 0, every per-layer metric with --trace 1. See
perfbench/README.md for what each workload and metric measures.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402

CORES = 4
# a run must end within 180 s
DEADLINE_S = 170
BUILD_TIMEOUT_S = 840

# Input-table scale per workload (datagen.py): 0.1 is the bench scale of
# the project's test data, 600,000 lineitem rows. These keep a run near
# 30-45 s, so that 70 runs and two builds fit the 3,420 s run budget.
SCALE = {"extract": 0.01, "query_mix": 0.01, "cdc_merge": 0.02}
HEAP = "2g"

# query_mix: 17 of the project's declared queries, all oracle-checked,
# drawn from each class of the 44-query mix so that a pass fits its time
# budget (README.md lists the rest). Fixed-cost queries are the larger
# part, as in the full mix, so the median latency sits among many queries
# of similar cost rather than between two of unlike cost. Left out on
# purpose: the queries that memoize their own write work per JVM (q231,
# q233, q250, q210, q108, q133, q152, q228, q220, q258, q288), whose
# second call times a read of a cached result.
QUERY_MIX = {
    "fixed_cost": [
        "q10_filter_range", "q20_join_inner", "q22_join_left", "q27_join_full",
        "q30_agg_q1", "q33_agg_cube", "q35_agg_stats", "q40_win_rank",
        "q59_scalar_subquery", "q61_date_funcs", "q72_dedup_minhash",
        "q83_quality_score"],
    "build_phase": ["q45_win_ntile", "q229_pareto_frontier", "q261_gap_ranges"],
    "iterative": ["q256_kcore"],
    "action_heavy": ["q265_fifo_costing"],
}
MIX = [q for qs in QUERY_MIX.values() for q in qs]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark distribution: set SPARK_HOME")
    return jars


def source_digest(root):
    """Digest of every file the build compiles, so a changed source
    rebuilds and an unchanged one does not."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")):
        for base, subdirs, names in os.walk(d):
            subdirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, bb):
    """Compiles graft and the harness once per source state; returns the
    runtime classpath."""
    target = os.path.join(bb, "perfbench")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "sources.sha256")
    digest = source_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building graft and the harness (sbt compile)")
    env = dict(os.environ, PERFBENCH_TARGET=target, SPARK_JARS=spark_jars())
    t0 = time.time()
    with open(os.path.join(bb, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed; see {os.path.join(bb, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


def run_jvm(cmd, env, log_path, deadline):
    """Runs the measuring JVM in its own process group and waits for it;
    on timeout the whole group is killed and waited for."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def oracle_check(root, data, dump):
    """DuckDB oracle compare of the warm-up's dump (graft.Verify's
    layout): returns the mix queries whose output does not match."""
    r = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"), data, dump],
        capture_output=True, text=True, timeout=120)
    status = {}
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in MIX:
            status[parts[0]] = parts[1]
    return [f"{q}: oracle {status.get(q, 'NOT_CHECKED')}" for q in MIX
            if status.get(q) != "OK"]


def result_line(bench, raw, trace):
    """The final JSON object: BENCHMARK.json's metrics for the mode, with
    their units; `None` if the run measured one of them not at all."""
    attempted, failed = raw["attempted"], raw["failed"]
    m = dict(raw["metrics"])
    m["ops_ok_share"] = 1.0 - failed / attempted if attempted else None
    for k in ("setup_s", "pass_s", "op_p50_s"):
        m[f"trace.{k}"] = m.get(k)
    names = bench["per_layer"] if trace else bench["end_to_end"]
    metrics = {}
    for spec in names:
        v = m.get(spec["name"])
        if v is None:
            return None
        metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    deadline = t_start + DEADLINE_S

    root = os.getcwd()
    for need in ("src/main/scala/graft", "tools/check_oracle.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a graft checkout: {need} is missing", 2)
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    bb = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(bb, exist_ok=True)

    cp = build(root, bb)
    scale = SCALE[args.workload]
    data = datagen.write(scale, os.path.join(bb, "data", f"sf{scale}"))

    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    work = os.path.join(bb, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    results = os.path.join(bb, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file, which the JVM would write
    # outside the checkout
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out,
            "--cores", str(CORES), "--queries", ",".join(MIX)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jvm_log = os.path.join(results, f"{tag}.log")
    code = run_jvm(cmd, env, jvm_log, deadline)
    if code is None:
        fail(f"run exceeded {DEADLINE_S} s; see {jvm_log}")
    if code != 0 or not os.path.exists(out):
        fail(f"measuring JVM exited with {code}; see {jvm_log}")
    raw = json.load(open(out))

    if args.workload == "query_mix":
        bad = oracle_check(root, data, os.path.join(work, "verify"))
        raw["attempted"] += len(MIX)
        raw["failed"] += len(bad)
        raw["notes"] += bad
    shutil.rmtree(work, ignore_errors=True)
    for note in raw["notes"]:
        log(f"FAILED {note}")

    line = result_line(bench, raw, args.trace)
    if line is None:
        fail(f"a metric was not measured; see {jvm_log}")
    log(f"{tag}: {time.time() - t_start:.1f} s")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
