#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness and the
program from source (sbt, into perfbench/target); later runs reuse the build
while the sources are unchanged. The run itself happens in one JVM
(perfbench.Main); this script adds the DuckDB oracle check of every
query_mix result. The last line of standard output is the result JSON:
correct, attempted, failed, metrics.

Workloads: migrate_pg, migrate_verify, query_mix (see perfbench/README.md).
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
TARGET = os.path.join(HERE, "target")
DATA = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
WORKLOADS = ("migrate_pg", "migrate_verify", "query_mix")
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 outside spark-submit (the root build.sbt's list)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt build of harness + program; returns the runtime classpath."""
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):  # offline resolution from the local caches
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=800)
    if p.returncode != 0:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def canon(cols, rows):
    """Columns sorted by name, floats rounded to 9 places, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(round(r[i], 9) if isinstance(r[i], float) else r[i] for i in order)
           for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def oracle_answer(con, sql):
    """The oracle's canonical answer, cached under perfbench/target by the
    SQL text, fixture and DuckDB version (the answer depends on nothing
    else, and some oracles take seconds)."""
    import duckdb
    import pickle
    key = hashlib.sha256(f"{sql}\0{DATA}\0{duckdb.__version__}".encode()).hexdigest()
    path = os.path.join(TARGET, "oracle-cache", key)
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    res = con.execute(sql)
    want = canon([d[0] for d in res.description], res.fetchall())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(want, f)
    os.replace(path + ".tmp", path)
    return want


def oracle_check(work):
    """Compare every query_mix result with its DuckDB oracle; names failing."""
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    failed = []
    for name, sql in sorted(oracles.items()):
        try:
            tbl = pq.read_table(os.path.join(work, "results", name))
            got = canon(tbl.column_names,
                        [tuple(r[c] for c in tbl.column_names) for r in tbl.to_pylist()])
            want = oracle_answer(con, sql)
            if got != want:
                failed.append(f"{name}: result differs from the DuckDB oracle")
        except Exception as e:  # a missing result counts as a failure
            failed.append(f"{name}: oracle check error {e}")
    return len(oracles), failed


def stop_leftover_servers(work):
    """Stop any PostgreSQL the JVM left running (killed mid-run): immediate
    shutdown, then SIGKILL if it is still there after 10 s."""
    for pidfile in glob.glob(os.path.join(work, "**", "postmaster.pid"), recursive=True):
        try:
            with open(pidfile) as f:
                pid = int(f.readline())
            for sig in (signal.SIGQUIT, signal.SIGKILL):
                os.kill(pid, sig)
                for _ in range(100):
                    os.kill(pid, 0)  # raises once the server is gone
                    time.sleep(0.1)
        except (OSError, ValueError):
            pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("program sources not found: run from the root of a checkout")
    if not os.path.isdir(DATA):
        raise SystemExit(f"fixture {DATA} not found")

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(TARGET, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--work", work,
            "--cores", str(cores), "--out", out_file])
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, start_new_session=True)

    def interrupted(signum, _frame):
        raise SystemExit(f"interrupted by signal {signum}")
    signal.signal(signal.SIGTERM, interrupted)
    code = -1
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:  # timed out or interrupted: end the JVM's group
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        stop_leftover_servers(work)
    if code != 0 or not os.path.exists(out_file):
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    with open(out_file) as f:
        r = json.load(f)
    failures = list(r["failures"])
    if a.workload == "query_mix":
        t0 = time.time()
        n, bad = oracle_check(work)
        print(f"oracle: {n - len(bad)}/{n} queries match DuckDB ({time.time() - t0:.1f}s)")
        failures += bad
    shutil.rmtree(work, ignore_errors=True)

    attempted, failed = r["attempted"], r["failed"] + (len(failures) - len(r["failures"]))
    for note in r["notes"]:
        print(note)
    for f_ in failures:
        print("FAILED " + f_)
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} cores={cores} "
          f"error_rate={failed / max(1, attempted):.6f} ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": r["metrics"]}))


if __name__ == "__main__":
    main()
