#!/usr/bin/env python3
"""Run one benchmark workload against the engine in the enclosing checkout.

    python3 perfbench/run.py --workload classify --seed 1 --seconds 10 --trace 0

Steps: build the engine and the harness from source (once per source
state), generate the workload's inputs from the seed, run the harness in
one JVM on local[nproc] with an explicit heap, check every output outside
the timed spans, and print the metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (the
traced run also writes its span tree to perfbench/.traces/). Exits 1 when
an output check fails, 2 when the engine sources are missing, 3 when the
build fails.
"""
import argparse
import fcntl
import hashlib
import json
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

import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import (LSH_AUDIT, ML_JOBS, MODEL_CHECKS, SIG_JOBS,  # noqa: E402
                       WORKLOADS, input_rows)

HEAP = "2g"      # the benchmark's inputs and memos need far less
PASSES = 4       # fewest timed passes over the job mix: 28 jobs a run
# Untimed passes over the job mix in the set-up: the first gives every
# entry's first execution, the second lets the JIT compiler settle. After a
# single warm-up pass the timed passes ran 20-45 % slower at first and sped
# up for three more passes; a third warm-up pass left the first timed pass
# as much slower than the rest (8-9 % on average) and the spreads as wide.
WARMUPS = 2
RUN_LIMIT_S = 170
# The engine writes sink and stream-staging files under these fixed roots;
# the harness removes what a run leaves there.
ENGINE_SCRATCH = ["/tmp/graft-io", "/tmp/graft-stream"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:  # timeout, or SIGTERM / Ctrl-C while waiting
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_files():
    engine = os.path.join(ROOT, "src", "main")
    files = [os.path.join(d, f) for base in (engine, os.path.join(HERE, "src"))
             for d, _, fs in os.walk(base) for f in fs]
    if not any(f.endswith(".scala") for f in files if f.startswith(engine)):
        fail(2, f"no engine sources under {os.path.relpath(engine)}")
    return sorted(files) + [os.path.join(HERE, "build.sbt"),
                            os.path.join(HERE, "project", "build.properties")]


def build():
    """Compile engine + harness with sbt once per source state; return the
    runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(HERE, ".build")
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, f"classpath-{h.hexdigest()[:16]}.txt")
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(cp_file):
            log = os.path.join(out, "sbt.log")
            tmp = os.path.join(out, "tmp")
            os.makedirs(tmp, exist_ok=True)
            env = dict(os.environ, COURSIER_MODE="offline",
                       SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp} "
                                "-XX:-UsePerfData")
            try:
                with open(log, "w") as fh:
                    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                    "export Runtime/fullClasspath"],
                                   timeout=600, cwd=HERE, env=env, stdout=fh,
                                   stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            lines = [l.strip() for l in open(log) if l.strip()]
            if rc != 0 or not lines or "perfbench" not in lines[-1]:
                sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
                fail(3, f"build failed (sbt exit {rc}); log in {os.path.relpath(log)}")
            with open(cp_file, "w") as fh:
                fh.write(lines[-1])
    with open(cp_file) as fh:
        return fh.read().strip()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def scratch_entries():
    return {root: set(os.listdir(root)) if os.path.isdir(root) else set()
            for root in ENGINE_SCRATCH}


def remove_new_entries(before):
    for root, names in before.items():
        if os.path.isdir(root):
            for n in set(os.listdir(root)) - names:
                p = os.path.join(root, n)
                if os.path.isdir(p) and not os.path.islink(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    os.unlink(p)


def run_harness(cp, workload, data, work, seed, seconds, trace, deadline):
    spec = WORKLOADS[workload]
    out = os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    args = {
        "jobs": ",".join(spec["reads"]), "data": data, "out": out, "work": work,
        "seed": seed, "seconds": seconds, "trace": int(trace), "passes": PASSES,
        "warmups": WARMUPS,
        "cpus": len(os.sched_getaffinity(0)), "cold": int(spec["cold"]),
        "keep": ",".join(sorted(MODEL_CHECKS)),
    }
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", *opens,
           "-cp", cp, "perfbench.Harness", *(f"{k}={v}" for k, v in args.items())]
    log = os.path.join(work, "jvm.log")
    before = scratch_entries()
    try:
        with open(log, "w") as fh:
            rc = run_group(cmd, timeout=max(1.0, deadline - time.time()), cwd=work,
                           stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        remove_new_entries(before)
    result = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(1, f"harness failed ({rc})")
    with open(result) as fh:
        return json.load(fh), out


def check_outputs(res, data, results, workload):
    """Runs the DuckDB and model-quality checks (outside every timed span),
    marks every execution of a failing entry as failed, prints each failure
    and returns {entry: reason} for the failed checks."""
    import checks  # needs the repository's tools/, like the build needs src/
    bad = checks.oracle_failures(data, results, res["oracle_sql"])
    bad.update(checks.model_failures(results, MODEL_CHECKS & set(WORKLOADS[workload]["reads"])))
    for j in res["setup_jobs"]:
        if not j["ok"]:
            bad.setdefault(j["name"], j["err"])
    for name, why in sorted(bad.items()):
        print(f"CHECK FAILED {name}: {why}")
    for j in res["jobs"]:
        if j["name"] in bad:
            j["ok"] = False
        elif not j["ok"]:
            print(f"JOB FAILED {j['name']} (pass {j['pass']}): {j['err']}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # On SIGTERM, unwind like Ctrl-C: the JVM or sbt is killed and waited
    # for, and the run's files are removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(HERE, ".runs", f"{a.workload}-seed{a.seed}-pid{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        table_rows = gen.write(data, a.seed)
        t1 = time.time()
        res, out = run_harness(cp, a.workload, data, work, a.seed, a.seconds,
                               a.trace, deadline)
        t2 = time.time()

        results = os.path.join(out, "results")
        jobs = res["jobs"]
        bad = check_outputs(res, data, results, a.workload)
        failed = sum(not j["ok"] for j in jobs)
        correct = failed == 0 and not bad
        t3 = time.time()
        print(f"run phases (s): inputs {t1 - t0:.1f}; JVM {t2 - t1:.1f}, of which set-up "
              f"{res['setup_s']:.1f} + its checks {res['setup_check_s']:.1f}, timed jobs "
              f"{sum(j['latency_s'] for j in jobs):.1f} + their checks {res['check_s']:.1f}; "
              f"DuckDB and model checks {t3 - t2:.1f}")

        units = {m["name"]: m["unit"] for key in ("end_to_end", "per_layer")
                 for m in benchmark_spec()[key]}
        values = {}
        try:
            if a.trace:
                import checks
                lsh = (checks.lsh_precision(results, LSH_AUDIT)
                       if LSH_AUDIT in WORKLOADS[a.workload]["reads"] else 0.0)
                values = metrics.per_layer(res, ML_JOBS, SIG_JOBS,
                                           table_rows["documents"], lsh)
                trace_dir = os.path.join(HERE, ".traces")
                os.makedirs(trace_dir, exist_ok=True)
                shutil.copy(os.path.join(out, "trace.json"),
                            os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"))
            else:
                values, notes = metrics.end_to_end(res, input_rows(a.workload, table_rows))
                print(f"job_tail_s is the p{notes['tail_percentile']} of "
                      f"{notes['tail_jobs']} jobs")
        except (ValueError, ZeroDivisionError, KeyError, OSError) as e:
            correct = False
            print(f"METRICS FAILED: {type(e).__name__}: {e}")
        print(f"storage held at the end (MB): {res['storage_mb']:.2f} of "
              f"{res['storage_capacity_mb']:.0f}")
        by_job = {}
        for j in jobs:
            by_job.setdefault(j["name"], []).append(j["latency_s"])
        print("job latency medians (s): " + ", ".join(
            f"{n.split('_')[0]} {statistics.median(v):.3f}" for n, v in sorted(by_job.items())))
        by_pass = {}
        for j in jobs:
            by_pass[j["pass"]] = by_pass.get(j["pass"], 0.0) + j["latency_s"]
        print("job time per pass (s): " + ", ".join(f"{v:.2f}" for _, v in sorted(by_pass.items())))
        for name, v in values.items():
            print(f"{name} {v:.6g} {units[name]}")
        print(f"fail_frac {failed / max(1, len(jobs)):.6g} ratio "
              f"({failed} of {len(jobs)} jobs)")
        print(json.dumps({
            "correct": correct, "attempted": len(jobs), "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
