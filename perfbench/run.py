#!/usr/bin/env python3
"""graft's benchmark: builds graft and the benchmark driver from source, runs
one workload for a fixed measuring time, checks every answer, and prints one
JSON result line last on stdout.

Run from the repository root:

    python3 perfbench/run.py --workload asof_serving --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
(see BENCHMARK.json and perfbench/spec.json). --fast runs on the smallest
inputs, for the benchmark's own tests. Build outputs, generated inputs and
scratch files go under .bench_build/ in the repository root.
"""
import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("asof_serving", "analytics")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]
    return sorted(files)


def build():
    """Compile graft and the driver once per source state; return the classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    want = digest.hexdigest()
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(WORK, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    log("building graft and the benchmark driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cp = next((ln.strip() for ln in reversed(lines) if "scala-2.13/classes" in ln), None)
    if proc.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("build failed")
        sys.exit(1)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(want)
    return cp


def heap_gb():
    """Driver heap as the repository's tier-1 tests size it: half the host's
    memory, clamped to 2..8 GiB."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return max(2, min(8, total // (2 << 30)))


def run_jvm(cp, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(1)
    if proc.returncode != 0:
        log(f"driver exited with {proc.returncode}")
        sys.exit(1)
    return out.splitlines()


def canon(df):
    """Rows in a canonical form: columns sorted by name, floats rounded,
    timestamps and nested values as strings, rows sorted."""
    import pandas as pd
    df = df[sorted(df.columns, key=str.lower)]
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.round(6)
        else:
            s = s.map(lambda v: None if v is None else str(list(v)) if hasattr(v, "__len__")
                      and not isinstance(v, str) else str(v))
        out[c.lower()] = s
    r = pd.DataFrame(out)
    return r.sort_values(by=list(r.columns)).reset_index(drop=True)


def oracle_checks(detail):
    """Compares each recorded answer with its registered DuckDB twin; returns
    the number of failed ops and the failure messages."""
    wd = detail.get("workload_detail", {})
    requests = wd.get("oracle", [])
    if not requests:
        return 0, []
    import duckdb
    con = duckdb.connect()
    for table, path in wd["oracle_tables"].items():
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    failed, msgs = 0, []
    for req in requests:
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{req['path']}/*.parquet')").fetchdf()
            want = con.execute(req["sql"]).fetchdf()
            a, b = canon(got), canon(want)
            ok = list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)
            why = "" if ok else f"differs from the DuckDB twin ({len(a)} vs {len(b)} rows)"
        except Exception as e:  # a twin that cannot run is a failed check
            ok, why = False, f"oracle error: {e}"[:300]
        req["oracle_ok"] = ok
        if not ok:
            failed += max(1, int(req["runs"]))
            msgs.append(f"{req['op']} ({req['query']}): {why}")
        del req["sql"]
    return failed, msgs


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fast", action="store_true",
                    help="smallest inputs and short streams (the benchmark's own tests)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        log("graft's sources (src/main/scala/graft) are not under the current directory; "
            "run from the repository root")
        sys.exit(2)
    cp = build()
    lines = run_jvm(cp, [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", os.path.join(HERE, "data"), "--work", WORK,
        "--fast", "1" if a.fast else "0"])
    detail = next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                   if ln.startswith("PERFBENCH_DETAIL ")), None)
    result = next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                   if ln.startswith("PERFBENCH_RESULT ")), None)
    if detail is None or result is None:
        log("driver printed no result")
        sys.exit(1)

    failed_oracle, msgs = oracle_checks(detail)
    failed = min(int(result["failed"]) + failed_oracle, int(result["attempted"]))
    if failed_oracle and "ops_per_s" in result["metrics"]:
        n = detail["untraced_ops"]
        result["metrics"]["ops_per_s"]["value"] = max(0, n - failed) / detail["timed_s"]
    detail["failures"] = detail.get("failures", []) + msgs
    detail["error_rate"] = failed / max(1, int(result["attempted"]))
    for m in detail["failures"]:
        log(f"check failed: {m}")
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(result["attempted"]),
        "failed": failed,
        "metrics": result["metrics"],
    }))


if __name__ == "__main__":
    main()
