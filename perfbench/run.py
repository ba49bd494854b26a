#!/usr/bin/env python3
"""Pipeline benchmark runner for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload wparse_batch --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source (once per source state;
the build is cached under .bench_build), launches the harness JVM for one
run of one workload, checks the program's outputs, prints each metric by
name and unit, and prints the result as one JSON object on the last line
of standard output. Exits non-zero without a result if the program is
absent, fails to build, or the run fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("wparse_batch", "wparse_daemon", "analytics_queries")
# every run reports every metric the manifest names: the end-to-end ones
# untraced, the per-layer ones traced
MANIFEST = os.path.join(HERE, "..", "BENCHMARK.json")
JVM_TIMEOUT_S = 165
# the analytics queries' input tables (read-only)
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.01"))
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp(root):
    """Hash of every input of the build: program sources and build files,
    and the harness's own sources."""
    h = hashlib.sha256()
    files = []
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, names in os.walk(os.path.join(root, base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench/build.sbt")]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build(root):
    """Compile program + harness with sbt; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src/main/scala/graft"))):
        fail("no program sources (build.sbt, src/main/scala/graft) in the working directory")
    out_dir = build_dir(root)
    os.makedirs(out_dir, exist_ok=True)
    stamp = source_stamp(root)
    cp_file = os.path.join(out_dir, "perfbench.classpath")
    stamp_file = os.path.join(out_dir, "perfbench.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found")
    log_path = os.path.join(out_dir, "build.log")
    # resolve only from the local caches: the build must never reach out
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log_path, "w") as log:
        p = subprocess.run(
            [sbt, "-batch", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
             "-Dsbt.supershell=false", "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=840, env=env)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    threads = min(4, os.cpu_count() or 1)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # fixed heap and young-generation sizes: with the collector's adaptive
    # sizing, batch pass times drifted by ~20% from one JVM to the next
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy",
            "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--threads", str(threads), "--result", result,
            "--instance", os.path.join(HERE, "instance"),
            "--sf", SF_DIR]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        launch_ns = time.time_ns()
        proc = subprocess.Popen(cmd + ["--launch-ns", str(launch_ns)], cwd=work,
                                stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0 or not os.path.isfile(result):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        fail("harness timed out" if rc is None else f"harness exited with {rc}")
    # the harness's progress lines (pass, batch and query times) to stderr
    with open(log_path, errors="replace") as f:
        sys.stderr.writelines(l for l in f if l.startswith("[perfbench]"))
    with open(result) as f:
        return json.load(f)


# ---- analytics: DuckDB oracle comparison ---------------------------------

def _norm_cell(v):
    """Tagged, comparable form of one result cell; numbers of any type
    become ("f", number) so an int column matches a decimal or double."""
    if v is None:
        return ("n",)
    if isinstance(v, bool):
        return ("f", int(v))
    if isinstance(v, int):
        return ("f", v)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v)
    if hasattr(v, "isoformat"):
        return ("s", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm_cell(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, _norm_cell(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v))
    try:
        return ("f", float(v))  # Decimal
    except (TypeError, ValueError):
        return ("s", str(v))


def _close(a, b):
    """Equal, up to a 1e-6 relative difference between non-integers."""
    if a[0] == "f" and b[0] == "f":
        x, y = a[1], b[1]
        if isinstance(x, int) and isinstance(y, int):
            return x == y
        return x == y or abs(x - y) <= 1e-6 * max(1.0, abs(x), abs(y))
    if a[0] == "l" and b[0] == "l":
        return len(a[1]) == len(b[1]) and all(_close(p, q) for p, q in zip(a[1], b[1]))
    if a[0] == "d" and b[0] == "d":
        return len(a[1]) == len(b[1]) and all(
            p[0] == q[0] and _close(p[1], q[1]) for p, q in zip(a[1], b[1]))
    return a == b


def _sort_key(row):
    # numbers rounded so rows that differ only by float noise sort alike
    def k(c):
        if c[0] == "f":
            return ("f", round(c[1], 4))
        if c[0] in ("l", "d"):
            return (c[0], tuple(k(x) for x in c[1]))
        return (c[0], repr(c[1:]))
    return tuple(k(c) for c in row)


def _rows(cur, sql):
    """(sorted column names, rows normalised and sorted by those columns)."""
    res = cur.execute(sql)
    cols = [c[0] for c in res.description]
    idx = [cols.index(c) for c in sorted(cols)]
    rows = sorted((tuple(_norm_cell(r[i]) for i in idx) for r in res.fetchall()),
                  key=_sort_key)
    return sorted(cols), rows


def check_queries(sf, results_dir, cache_dir):
    """Compare each query result with its DuckDB oracle. Oracle answers
    depend only on the read-only sf data and the SQL text, so they are
    cached in the build directory, keyed by both: on a 4-vCPU VM an
    uncached check takes about 14 s, 11 s of it in two oracles, against
    about 2 s cached."""
    import duckdb
    import pickle
    con = duckdb.connect()
    for p in sorted(os.listdir(sf)):
        if p.endswith(".parquet"):
            con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM read_parquet('{sf}/{p}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    problems = []
    for name, sql in oracles.items():
        key = hashlib.sha256(f"{os.path.abspath(sf)}\0{sql}".encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".pickle")
        try:
            got = _rows(con, f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
            if os.path.isfile(cached):
                with open(cached, "rb") as f:
                    want = pickle.load(f)
            else:
                want = _rows(con, sql)
                with open(cached + ".tmp", "wb") as f:
                    pickle.dump(want, f)
                os.replace(cached + ".tmp", cached)
        except Exception as e:  # noqa: BLE001 - any failure is a wrong result
            problems.append(f"{name}: {e}")
            continue
        (gcols, g), (wcols, w) = got, want
        if gcols != wcols:
            problems.append(f"{name}: columns {gcols} vs oracle {wcols}")
        elif len(g) != len(w):
            problems.append(f"{name}: {len(g)} rows vs oracle {len(w)}")
        else:
            bad = next((i for i, (a, b) in enumerate(zip(g, w))
                        if not all(_close(x, y) for x, y in zip(a, b))), None)
            if bad is not None:
                problems.append(f"{name}: row {bad} {g[bad]} vs oracle {w[bad]}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    cp = build(root)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.monotonic()
    try:
        res = run_jvm(cp, args, work)
        t1 = time.monotonic()
        problems = list(res["problems"])
        if res["n_problems"] > len(problems):
            problems.append(f"... {res['n_problems'] - len(problems)} more")
        if "query_results" in res["extra"]:
            problems += check_queries(SF_DIR, res["extra"]["query_results"],
                                      os.path.join(build_dir(root), "oracle"))
        if args.trace and os.path.isfile(os.path.join(work, "spans.json")):
            os.makedirs(os.path.join(root, ".bench_trace"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(root, ".bench_trace", f"{args.workload}-spans.json"))
        t2 = time.monotonic()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".bench_work"))
        except OSError:
            pass
    print(f"perfbench: harness {t1 - t0:.1f} s, checks {t2 - t1:.1f} s, "
          f"cleanup {time.monotonic() - t2:.1f} s", file=sys.stderr)
    for p in problems[:20]:
        print(f"CHECK FAILED: {p}")
    with open(MANIFEST) as f:
        names = [(m["name"], m["unit"])
                 for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    metrics = {}
    for k, unit in names:
        m = res["metrics"].get(k)
        if m is None or m["value"] is None:
            fail(f"metric {k} missing from the run")
        if m["unit"] != unit:
            fail(f"metric {k} is in {m['unit']}, the manifest says {unit}")
        metrics[k] = {"value": m["value"], "unit": m["unit"]}
        print(f"{k} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": not problems, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
