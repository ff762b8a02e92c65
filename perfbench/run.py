#!/usr/bin/env python3
"""Run one workload of the crawl-engine benchmark and print its metrics.

    python3 perfbench/run.py --workload crawl|frontier \
        --seed N --seconds S --trace 0|1 [--scale tiny]

Run it from the root of a checkout. On first use it builds the engine and
the harness from source with sbt (offline) and caches the classpath in
.bench_build/; later runs reuse the build while the sources are unchanged.
The harness runs in one JVM; everything it writes stays under .bench_build/.

Human-readable lines come first; the last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics. Trace 0
reports the end-to-end metrics of BENCHMARK.json, trace 1 the per-layer
ones, and writes the run's spans to .bench_build/traces/. See README.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("crawl", "frontier")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Files whose content decides the build."""
    pats = ["build.sbt", "project/*.sbt", "project/*.properties",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/**/*"]
    out = set()
    for p in pats:
        out.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                   if os.path.isfile(f))
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(deadline):
    """Build if the sources changed since the cached build; return the
    harness classpath."""
    stamp_f = os.path.join(BUILD, "stamp")
    cp_f = os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as f:
            if f.read() == fp:
                with open(cp_f) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=max(1, deadline - time.time()),
                           stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if l and all(os.path.isabs(e) for e in l.split(os.pathsep))]
    if not cps:
        fail("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_f, "w") as f:
        f.write(cps[-1])
    with open(stamp_f, "w") as f:
        f.write(fp)
    return cps[-1]


def duckdb_check(out_dir, data_dir):
    """Compare each query's first-pass rows with its oracle SQL run by
    DuckDB on the same tables: column names, row count, dtypes and values,
    order-independent. Returns the names of queries that differ."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.splitext(os.path.basename(p))[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

    def norm(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=sorted(df.columns)).reset_index(drop=True)

    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        try:
            got = norm(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
            want = norm(con.execute(sql).fetchdf())
            same = (list(got.columns) == list(want.columns) and len(got) == len(want)
                    and [str(d) for d in got.dtypes] == [str(d) for d in want.dtypes]
                    and got.equals(want))
        except Exception as e:  # a query DuckDB cannot answer counts as a mismatch
            print(f"[duckdb] {name}: {e}")
            same = False
        if not same:
            print(f"[duckdb] {name}: differs from its oracle SQL")
            bad.append(name)
    print(f"[duckdb] {len(oracle) - len(bad)}/{len(oracle)} queries match their oracle SQL")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    a = ap.parse_args()

    start = time.time()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    first = not os.path.exists(os.path.join(BUILD, "classpath"))
    cp = classpath(start + BUILD_LIMIT_S)
    deadline = (time.time() if first else start) + RUN_LIMIT_S

    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dderby.system.home={work}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--scale", a.scale, "--work", work,
              "--data", os.path.join(HERE, "data"),
              "--trace-out", os.path.join(BUILD, "traces",
                                          f"{a.workload}-seed{a.seed}.jsonl")])
    jvm_start = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} did not finish within {RUN_LIMIT_S} s")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"harness exited with {proc.returncode}")
    for l in lines[:-1]:
        print(l)
    print(f"[run] build_s={jvm_start - start:.1f} jvm_s={time.time() - jvm_start:.1f}")
    result = json.loads(lines[-1])

    curated = os.path.join(work, "curate-out")
    if os.path.isdir(curated):
        with open(os.path.join(curated, "ops.json")) as f:
            ops = json.load(f)
        bad = duckdb_check(curated, os.path.join(HERE, "data", "sf0.01"))
        if bad:
            result["correct"] = False
            result["failed"] = min(result["attempted"],
                                   result["failed"] + sum(ops.get(q, 0) for q in bad))
    shutil.rmtree(work, ignore_errors=True)

    got = result["metrics"]
    for m in wanted:
        if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
            fail(f"metric {m['name']} ({m['unit']}) missing from the harness output")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        fail(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    result["metrics"] = {m["name"]: got[m["name"]] for m in wanted}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
