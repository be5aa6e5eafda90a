#!/usr/bin/env python3
"""Benchmark driver: builds the engine and the benchmark from source,
runs one workload in a fresh JVM, checks its outputs and prints one
JSON result line.

    python3 perfbench/run.py --workload editor --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Everything it writes stays under
perfbench/ (build outputs, the per-run work directory, traces); sbt's
own target directories sit next to the sources they compile.
"""
import argparse
import glob
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
# the repository's own oracle comparison (tools/compare.py)
sys.path.insert(0, os.path.join(ROOT, "tools"))
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("editor", "suite", "scale", "ingest")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)


def run_group(cmd, timeout, **kw):
    """subprocess.run in its own process group; on timeout, or when this
    script is terminated, the whole group is killed and waited for, so
    no child outlives the run. Returns None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def terminate(signum, frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    previous = signal.signal(signal.SIGTERM, terminate)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None
    finally:
        signal.signal(signal.SIGTERM, previous)
    return subprocess.CompletedProcess(cmd, proc.returncode, out, None)


# ------------------------------------------------------------------ build

def source_files():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compiles the engine (through the repository's own build) and the
    benchmark; returns the runtime classpath. Skipped when no source or
    build file changed since the last build in this checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    digest = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            digest.update(f.encode())
            with open(f, "rb") as fh:
                digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    res = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if res is None:
        die(f"build timed out after {BUILD_TIMEOUT_S} s")
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(res.stdout)
    lines = [ln.strip() for ln in res.stdout.splitlines()
             if os.path.join("perfbench", "target") in ln and os.pathsep in ln]
    if res.returncode != 0 or not lines:
        tail = "\n".join(res.stdout.splitlines()[-30:])
        die(f"build failed (exit {res.returncode}):\n{tail}")
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ------------------------------------------------------------ environment

def mem_total_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def heap_mb():
    """A quarter of physical memory, between 1 and 4 GiB."""
    return max(1024, min(4096, mem_total_mb() // 4))


def slots():
    """Spark task slots: 4, or fewer on a smaller machine."""
    return max(1, min(4, os.cpu_count() or 1))


SHUFFLE_PARTITIONS = 4


def jvm_command(cp, work, extra):
    h = heap_mb()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{h}m", f"-Xmx{h}m", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"] + extra)


# ---------------------------------------------------------- oracle checks

def same_result(got_rows, got_cols, want_rows, want_cols):
    """Compares after the canonical form of tools/compare.py: columns
    sorted by name, floats rounded to 6 places, rows sorted."""
    from compare import canon
    g, gc = canon(got_rows, got_cols)
    w, wc = canon(want_rows, want_cols)
    if gc != wc:
        return False, f"columns {gc} != {wc}"
    if g != w:
        diff = [(a, b) for a, b in zip(g, w) if a != b][:2]
        return False, f"{len(g)} vs {len(w)} rows, first diffs {diff}"
    return True, f"{len(g)} rows"


def oracle_checks(work):
    """Each query output against DuckDB running its oracle SQL over the
    same generated parquet."""
    import duckdb
    path = os.path.join(work, "oracle.json")
    if not os.path.isfile(path):
        return [("oracle.present", False, "no oracle.json written")]
    with open(path) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{work}/duckdb-tmp'")
    for t in glob.glob(os.path.join(work, "tables", "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}/*.parquet'")
    results = []
    for q, sql in oracles.items():
        t0 = time.time()
        try:
            rel = con.execute(f"SELECT * FROM '{work}/out/{q}/*.parquet'")
            g_cols = [d[0] for d in rel.description]
            g_rows = rel.fetchall()
            rel = con.execute(sql)
            w_cols = [d[0] for d in rel.description]
            w_rows = rel.fetchall()
            ok, detail = same_result(g_rows, g_cols, w_rows, w_cols)
            if ok and not w_rows:
                ok, detail = False, "oracle result is empty"
        except Exception as e:  # a failing oracle is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        results.append((f"oracle.{q}", ok, f"{detail} ({time.time() - t0:.2f} s)"))
    return results


def selftest_compare():
    """The oracle comparison accepts equal results in any row or column
    order and rejects a perturbed one."""
    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    cols = ["id", "name", "score"]
    swapped = [(s, i, n) for i, n, s in reversed(rows)]
    cases = [
        ("compare.reordered", same_result(swapped, ["score", "id", "name"], rows, cols)[0], True),
        ("compare.changed_value", same_result([(1, "a", 0.5), (2, "b", 1.26)], cols, rows, cols)[0], False),
        ("compare.missing_row", same_result(rows[:1], cols, rows, cols)[0], False),
        ("compare.renamed_column", same_result(rows, ["id", "name", "sc"], rows, cols)[0], False),
    ]
    return [(n, got == want, f"{'accepts' if want else 'rejects'}") for n, got, want in cases]


# ------------------------------------------------------------------- main

def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_selftest(cp):
    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        res = run_group(jvm_command(cp, work, ["selftest"]), JVM_TIMEOUT_S, cwd=ROOT,
                        stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        die(f"self-test timed out after {JVM_TIMEOUT_S} s")
    print(res.stdout, end="")
    py = selftest_compare()
    for name, ok, detail in py:
        print(f"[selftest] {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    ok = res.returncode == 0 and all(ok for _, ok, _ in py)
    print(f"[selftest] {'all checks pass' if ok else 'FAILED'}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    spec = bench_spec()
    cp = build()
    if a.selftest:
        sys.exit(run_selftest(cp))
    if not a.workload:
        die("--workload is required")

    traces = os.path.join(HERE, "traces")
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(traces, f"{a.workload}.json")
    log(f"workload={a.workload} seed={a.seed} heap={heap_mb()}m slots={slots()} "
        f"partitions={SHUFFLE_PARTITIONS} load_avg={os.getloadavg()[0]:.2f}")
    try:
        launch_ms = int(time.time() * 1000)
        cmd = jvm_command(cp, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--trace-out", trace_out,
            "--launch-ms", str(launch_ms), "--slots", str(slots()),
            "--partitions", str(SHUFFLE_PARTITIONS)])
        with open(os.path.join(work, "jvm.log"), "w") as err:
            res = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=err, text=True)
        with open(os.path.join(work, "jvm.log")) as fh:
            jvm_log = fh.read()
        if res is None:
            tail = "\n".join(jvm_log.splitlines()[-40:])
            die(f"run timed out after {JVM_TIMEOUT_S} s:\n{tail}")
        lines = [ln for ln in res.stdout.splitlines() if ln.startswith("PERFBENCH_JVM ")]
        if res.returncode != 0 or not lines:
            tail = "\n".join(jvm_log.splitlines()[-40:])
            die(f"benchmark JVM failed (exit {res.returncode}):\n{tail}")
        for ln in jvm_log.splitlines():
            if "[perfbench]" in ln:
                print(ln, file=sys.stderr)
        out = json.loads(lines[-1][len("PERFBENCH_JVM "):])
        checks = [(c["name"], c["ok"], c["detail"]) for c in out["checks"]]
        if a.workload in ("suite", "scale"):
            checks += oracle_checks(work)
        checks += selftest_compare()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, ok, detail in checks:
        if name.startswith("oracle.") or not ok:
            log(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    correct = all(ok for _, ok, _ in checks) and out["attempted"] > 0
    log(f"rounds={out['rounds']} timed_s={out['timed_s']:.2f} attempted={out['attempted']} "
        f"failed={out['failed']} failures={out['failures']} load_avg={out['load_avg']} "
        f"checks={sum(ok for _, ok, _ in checks)}/{len(checks)} ok")

    os.makedirs(traces, exist_ok=True)
    e2e = out["end_to_end"]
    if a.trace:
        detail = dict(out["per_layer"])
        ref = os.path.join(traces, f"{a.workload}.untraced.json")
        if os.path.isfile(ref) and os.path.isfile(trace_out):
            with open(ref) as fh:
                base = json.load(fh)
            with open(trace_out) as fh:
                traced = json.load(fh)["traced_end_to_end"]
            detail["trace.ops_s_vs_untraced_pct"] = {
                "value": 100.0 * (traced["ops_s"] / base["ops_s"]["value"] - 1.0), "unit": "%"}
        print(json.dumps({"per_layer_detail": detail}, sort_keys=True))
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: out["per_layer"][n] for n in names}
    else:
        with open(os.path.join(traces, f"{a.workload}.untraced.json"), "w") as fh:
            json.dump(e2e, fh)
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {n: e2e[n] for n in names}
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
