#!/usr/bin/env python3
"""Benchmark of the graft engine, driven from outside in one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the engine's main sources together with the benchmark driver
(perfbench/build.sbt, offline sbt) on first use in a checkout, then runs
one workload in a fresh JVM: generate the inputs from the seed, set up,
warm up, run the closed loop for the given seconds, check every output.
Human-readable tables go to stdout first; the last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Exits non-zero, printing no result, when it cannot build or run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["etl_corpus", "table_rw_mix"]
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
# set-up (input generation and initial state) is repeated and its median
# reported, so that work moved into set-up shows in setup_s
SETUP_REPEATS = 3

# Spark on JDK 17 outside spark-submit needs these (the repository build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns (runtime classpath,
    whether this call compiled)."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala: nothing to "
             "benchmark")
    os.makedirs(BUILD, exist_ok=True)
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=BUILD_LIMIT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed to run: {e}")
    log_lines = p.stdout.splitlines()
    with open(log_path, "a") as log:
        log.write(p.stdout)
    cp = next((l.strip() for l in reversed(log_lines)
               if ".jar" in l and not l.startswith("[")), None)
    if p.returncode != 0 or not cp:
        fail(f"build failed (exit {p.returncode}); see {log_path}:\n" +
             "\n".join(log_lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def fresh_work():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))


def generate_inputs(workload, seed):
    """SETUP_REPEATS fresh copies of the seed's inputs; returns their
    directories and the median generation time."""
    sys.path.insert(0, BENCH)
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    import inputs
    dirs, times = [], []
    for i in range(SETUP_REPEATS):
        d = os.path.join(WORK, f"inputs{i}")
        t0 = time.perf_counter()
        inputs.generate(workload, seed, d)
        times.append(time.perf_counter() - t0)
        dirs.append(d)
    return dirs, sorted(times)[len(times) // 2]


def run_jvm(cp, main, args, deadline):
    # Every run is a fresh JVM whose time is mostly first-call compilation;
    # the C1 compiler alone finishes it sooner and more evenly than C2.
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={WORK}/tmp",
           "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args + ["--work", WORK]
    err_path = os.path.join(BUILD, "last_run.stderr")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{main} exceeded its time limit; stderr in {err_path}")
    if p.returncode != 0:
        with open(err_path) as f:
            tail = f.read().splitlines()[-30:]
        fail(f"{main} exited {p.returncode}:\n" + "\n".join(tail))
    return out


def cell_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def compare_rows(actual, expected):
    """Positional compare of two {column: [values]} tables, columns
    matched by name (both sides end in the query's total ORDER BY)."""
    if sorted(actual) != sorted(expected):
        return f"columns {sorted(actual)} != oracle {sorted(expected)}"
    cols = sorted(actual)
    n_a = len(actual[cols[0]]) if cols else 0
    n_e = len(expected[cols[0]]) if cols else 0
    if n_a != n_e:
        return f"{n_a} rows != oracle {n_e}"
    for c in cols:
        for i, (a, b) in enumerate(zip(actual[c], expected[c])):
            if not cell_equal(a, b):
                return f"col {c} row {i}: {a!r} != oracle {b!r}"
    return None


def oracle_check(cases):
    """Each case's first result against its DuckDB oracle SQL over the
    same generated inputs. Returns failure messages."""
    import duckdb
    import pyarrow.parquet as pq
    failures = []
    for name, case_dir in cases:
        with open(os.path.join(case_dir, "inputs.txt")) as f:
            inputs = f.read().strip()
        con = duckdb.connect()
        for t in sorted(os.listdir(inputs)):
            if t.endswith(".parquet"):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                            f"read_parquet('{inputs}/{t}/*.parquet')")
        with open(os.path.join(case_dir, "oracle.sql")) as f:
            sql = f.read()
        try:
            expected = con.execute(sql).arrow().to_pydict()
            actual = pq.read_table(
                os.path.join(case_dir, "result.parquet")).to_pydict()
        except Exception as e:  # a broken oracle case is a failed gate
            failures.append(f"{name}: oracle check error: {e}")
            continue
        msg = compare_rows(actual, expected)
        if msg:
            failures.append(f"{name}: {msg}")
        con.close()
    return failures


def self_test(cp):
    """Checker rejection and counting-filesystem determinism tests."""
    fresh_work()
    out = run_jvm(cp, "graft.perfbench.SelfTest", [],
                  time.time() + RUN_LIMIT_S)
    print(out, end="")
    ok = "SELFTEST PASS" in out
    good = {"a": [1, 2], "x": [0.5, None]}
    bad = {"a": [1, 3], "x": [0.5, None]}
    short = {"a": [1], "x": [0.5]}
    oracle_ok = (compare_rows(good, dict(good)) is None
                 and compare_rows(bad, good) is not None
                 and compare_rows(short, good) is not None
                 and compare_rows({"b": [1, 2], "x": [0.5, None]}, good)
                 is not None)
    print(f"oracle compare rejects corrupted results: "
          f"{'ok' if oracle_ok else 'FAILED'}")
    shutil.rmtree(WORK, ignore_errors=True)
    return 0 if ok and oracle_ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    started = time.time()
    if a.self_test:
        sys.exit(self_test(build()[0]))
    if a.workload is None or a.seed is None or a.seconds is None \
            or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    cp, built = build()
    # a run that had to compile first gets its own limit after the build
    deadline = (time.time() if built else started) + RUN_LIMIT_S
    fresh_work()
    dirs, gen_s = generate_inputs(a.workload, a.seed)
    out = run_jvm(cp, "graft.perfbench.Main",
                  ["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--inputs", ",".join(dirs), "--gen-s", repr(gen_s)],
                  deadline)
    lines = out.splitlines()
    res_line = next((l for l in reversed(lines)
                     if l.startswith("PERFBENCH_RESULT ")), None)
    if res_line is None:
        fail("the run printed no result")
    for l in lines:
        if not l.startswith("PERFBENCH_RESULT "):
            print(l)
    res = json.loads(res_line[len("PERFBENCH_RESULT "):])
    failures = oracle_check(res.pop("oracle"))
    for f in failures:
        print(f"[perfbench] ORACLE CHECK FAILED: {f}")
    res["correct"] = bool(res["correct"]) and not failures
    record = os.path.join(BUILD, f"untraced_{a.workload}.json")
    if a.trace == 0:
        with open(record, "w") as f:
            json.dump(res["metrics"], f)
    else:
        report_overhead(record, lines)
    shutil.rmtree(WORK, ignore_errors=True)
    if not res["correct"]:
        print(f"[perfbench] correctness gate FAILED for {a.workload}")
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


def report_overhead(record, lines):
    """Tracing overhead: this traced run's run_s and op_p50_s against the
    last untraced run of the same workload in this checkout."""
    traced = {}
    for l in lines:
        parts = l.split()
        if len(parts) >= 3 and parts[0] in ("run_s", "op_p50_s"):
            traced[parts[0]] = float(parts[1])
    if not os.path.isfile(record):
        print("tracing overhead: no untraced run of this workload recorded "
              "in this checkout yet")
        return
    with open(record) as f:
        untraced = json.load(f)
    for m in ("run_s", "op_p50_s"):
        if m in traced and m in untraced:
            u = untraced[m]["value"]
            print(f"tracing overhead {m}: traced {traced[m]:.4f} s vs "
                  f"untraced {u:.4f} s ({(traced[m] / u - 1) * 100:+.1f}%)")


if __name__ == "__main__":
    main()
