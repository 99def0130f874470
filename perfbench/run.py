#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload soql_client --seed 1 --seconds 12 \
        --trace 0

Run from the repository root. The first run builds the driver together
with the library sources (sbt, once per source change) and generates the
fixture tables; both land under .bench_build/ and perfbench/target/. Each
run then starts one JVM on `local[4]`, sets up (session, untimed priming
units), times whole units of closed-loop work sized for --seconds, checks
every output it can and prints the metrics as the last stdout line. With
--trace 1 it records spans and prints the per-layer metrics instead; the
span tree is written to .bench_build/perfbench/traces/. README.md has
the details.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import fixtures  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("soql_client", "heavy_batch", "iterative")
# op time of one unit of timed work at the baseline (a soql_client block
# of eleven requests, a batch pass); a run times round(seconds / unit)
# whole units, so every run of a workload does the same work
UNIT_S = {"soql_client": 6.0, "heavy_batch": 6.0, "iterative": 6.0}
CORES = 4
# a fixed heap (-Xms = -Xmx): G1's heap growth would otherwise make the
# peak resident size a coin toss between runs
HEAP = "3g"
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

START = time.monotonic()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the driver and the library once per source change."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {LIB_SRC}")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "compile", "writeClasspath"], BUILD_TIMEOUT_S, cwd=HERE,
                     env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def launch(classpath, plan_path, result_path, run_dir):
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}",
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "perfbench.Driver", plan_path, result_path]
    launch_us = int(time.time() * 1e6)
    left = RUN_TIMEOUT_S - (time.monotonic() - START)
    code = run_group(cmd, max(30.0, left), cwd=run_dir,
                     stdout=sys.stderr, stderr=sys.stderr)
    if code != 0:
        fail(f"driver exited {code}")
    return launch_us


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    bench_dir = os.path.join(WORK, "fixtures")
    fixtures.write(bench_dir)
    global START
    START = time.monotonic()

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-"
                                         f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        n_units = max(1, round(args.seconds / UNIT_S[args.workload]))
        if args.workload == "soql_client":
            plan = workloads.soql_plan(args.seed, n_units, run_dir)
        else:
            plan = workloads.batch_plan(args.seed, n_units, args.workload)
        plan.update(workload=args.workload, cores=CORES, seconds=args.seconds,
                    trace=bool(args.trace), work=run_dir, bench_dir=bench_dir)
        plan_path = os.path.join(run_dir, "plan.json")
        result_path = os.path.join(run_dir, "result.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        launch_us = launch(classpath, plan_path, result_path, run_dir)
        with open(result_path) as f:
            result = json.load(f)
        report(args, result, launch_us, bench_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, result, launch_us, bench_dir):
    ops = result["ops"]
    if not ops:
        fail("no op was timed")
    checks_ok = not result["setup_errors"]
    oracle_s = None
    if result["workload"] != "soql_client":
        detail = result["workload_detail"]
        t0 = time.monotonic()
        oracle_errors = oracle.compare(bench_dir, detail["outputs"],
                                       detail["oracle_sql"],
                                       os.path.join(WORK, "oracle"))
        oracle_s = time.monotonic() - t0
        checks_ok = mark_oracle_failures(result, oracle_errors) and checks_ok
    failed = sum(1 for o in ops if not o["ok"])
    m, extra = analyze.e2e(result, launch_us)
    extra.update(oracle_check_s=oracle_s,
                 run_wall_s=time.monotonic() - START)
    if args.trace:
        metrics, detail = analyze.layers(result, CORES)
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"end_to_end": m, "end_to_end_detail": extra,
                       "per_layer": metrics, "per_layer_detail": detail,
                       "spans": trace_export(result)}, f, indent=1)
        print("perfbench detail: " + json.dumps(
            {"end_to_end_traced": m, **detail}))
    else:
        metrics = m
        print("perfbench detail: " + json.dumps(extra))
    problems = result["setup_errors"] + sorted(
        {o["error"] for o in ops if not o["ok"]})
    if problems:
        print("perfbench errors: " + json.dumps(problems[:10]))
    print(json.dumps({
        "correct": failed == 0 and checks_ok,
        "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()}}))


def mark_oracle_failures(result, oracle_errors):
    """Fail every timed execution of a query whose checked output differs
    from its oracle, or whose priming pass failed. True when none did."""
    bad = {q: e for q, e in oracle_errors.items() if e}
    bad.update({q: "priming pass failed" for q, n in
                result["workload_detail"]["primed_rows"].items() if n < 0})
    for o in result["ops"]:
        if o["name"] in bad and o["ok"]:
            o["ok"] = False
            o["error"] = f"output check: {bad[o['name']]}"
    return not bad


def unit_of(name):
    if name == "ops_per_s":
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("per_delta_row"):
        return "bytes/row"
    if name == "exec.core_util":
        return "ratio"
    return "count"


def trace_export(result):
    """The span tree of every timed op: workload -> op -> layer call ->
    Spark job -> stage (planning phases under the call that ran them)."""
    out = []
    for i, t in enumerate(analyze.op_trees(result)):
        for n in t["nodes"].values():
            out.append({"op": i, "id": n["id"],
                        "parent": n["parent"] or "workload",
                        "name": n["name"], "layer": n["layer"],
                        "t0_us": n["t0"], "t1_us": n["t1"],
                        "self_us": n["self"]})
    return out


if __name__ == "__main__":
    main()
