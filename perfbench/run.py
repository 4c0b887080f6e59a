#!/usr/bin/env python3
"""Benchmark entry point for seamdbspark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <stmt_mix|batch_board> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from the checkout's sources with sbt
(once per source state, cached under .bench_build/), runs one workload in
one JVM on local[<cores - 1>], checks its outputs (batch_board: against DuckDB
on SparkEntry.oracleSql), and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.
Everything the run writes goes under .bench_work/ and is removed at exit.
See perfbench/README.md for the workloads and metrics.
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

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170  # a run must end within 180 s (the first one may build)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to ROOT."""
    out = []
    for base in ("build.sbt", os.path.join("project", "build.properties"), "src",
                 os.path.join("perfbench", "build.sbt"), os.path.join("perfbench", "project", "build.properties"),
                 os.path.join("perfbench", "src")):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            out.append(base)
        for d, _, fs in os.walk(p):
            out.extend(os.path.relpath(os.path.join(d, f), ROOT) for f in fs)
    return sorted(out)


def build():
    """Compiles program + harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no program sources here: run from the root of a repository checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()[:16]
    cp_file = os.path.join(BUILD_DIR, f"classpath-{stamp}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # resolve only from the local toolchain repositories, never the network
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                          "export perfbench/Runtime/fullClasspath"], HERE, env, fh, 800)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return cps[-1]


def run_bounded(cmd, cwd, env, out, timeout, stderr=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=stderr or subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def host_cpu():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f[:8])
    except (OSError, ValueError, IndexError):
        return None


def oracle_check(data_dir, out_dir, queries):
    """DuckDB on SparkEntry.oracleSql over the same generated tables,
    compared by tools/oracle_check.py's own canon and compare."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import oracle_check as oc

    con = oc.duckdb.connect()
    for t in oc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    bad = []
    for name, sql in sorted(queries.items()):
        try:
            issues = oc.compare(name, oc.canon(oc.pd.read_parquet(os.path.join(out_dir, name))),
                                oc.canon(con.sql(sql).df()))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            issues = [f"{type(e).__name__}: {e}"]
        if issues:
            bad.append(f"{name}: {issues[0].strip()}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["stmt_mix", "batch_board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    # a terminated benchmark still stops (and waits for) its JVM: SystemExit
    # unwinds through run_bounded's cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        die("BENCHMARK.json not found: run from the root of a repository checkout")
    with open(bench_file) as fh:
        spec = json.load(fh)
    cp = build()

    work = os.path.join(WORK_ROOT, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        # one core fewer than the host gives: the driver thread, the JIT,
        # the collector and the host's own work then do not make stragglers
        # of Spark's tasks (on 4 cores, local[3] was both faster and
        # steadier than local[4])
        cores = max(1, len(os.sched_getaffinity(0)) - 1)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        env.pop("SPARK_HOME", None)
        # fixed heap and the parallel collector: a growing heap and G1's
        # concurrent threads roughly doubled the run-to-run spread
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp", f"-XX:ActiveProcessorCount={cores}",
                "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work])
        out_path, err_path = os.path.join(work, "stdout.txt"), os.path.join(work, "stderr.txt")
        cpu0 = host_cpu()
        with open(out_path, "w") as out, open(err_path, "w") as err:
            rc = run_bounded(cmd, ROOT, env, out, DEADLINE_S - (time.time() - start) - 5, stderr=err)
        cpu1 = host_cpu()
        with open(out_path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.startswith("PERFBENCH_RESULT ")]
        if rc != 0 or not lines:
            with open(err_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            die(f"{a.workload} run failed (exit {rc})")
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

        checks = res["checks"]
        if res.get("oracle"):
            bad = oracle_check(res["detail"]["data_dir"], res["oracle"]["dir"], res["oracle"]["queries"])
            checks.append({"name": f"{len(res['oracle']['queries'])} queries match DuckDB",
                           "ok": not bad, "detail": "; ".join(bad[:5])})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # human-readable report, then the result line
    kind = "per_layer" if a.trace else "end_to_end"
    source = res["layer"] if a.trace else res["e2e"]
    metrics = {}
    for m in spec[kind]:
        if m["name"] not in source:
            die(f"metric {m['name']} missing from the {a.workload} run")
        metrics[m["name"]] = {"value": source[m["name"]]["value"], "unit": m["unit"]}
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}" + (f" -- {c['detail']}" if c["detail"] else ""))
    for k, v in sorted(res["detail"].items()):
        if k not in ("catalog_calls", "insert_call_sites", "spark_scopes", "queries", "data_dir") or a.trace:
            print(f"detail {k} = {json.dumps(v)}")
    print(f"detail phases_s = {json.dumps(res['phases_s'])} (JVM uptime at each phase end)")
    print(f"host canary_ms = {json.dumps(res['canary_ms'])} (fixed CPU and memory work on each of the JVM's cores, before and after the run)")
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        print(f"host steal_frac = {(cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]):.4f} (share of the host's CPU time taken by other guests during the JVM's run)")
    for k, v in metrics.items():
        print(f"metric {k} = {v['value']} {v['unit']}")
    correct = all(c["ok"] for c in checks)
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
