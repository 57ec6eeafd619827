#!/usr/bin/env python3
"""graft's benchmark: dashboard, batch and ingest workloads.

Run from the root of a graft checkout:

    python3 graftbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

It builds the harness with graft's sources (graftbench/build.sbt) on
first use, runs one workload in one JVM on local[nproc], checks the
outputs (DuckDB re-runs for batch and dashboard), and prints a report
line and then, as the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
ones. Everything the run writes lives in .bench_work/ (deleted when the
run ends) and graftbench/out/ (reports and span files) in the checkout.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
BUILD_FILES = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
STAMP = os.path.join(HERE, "target", "graftbench.classpath")
ORACLE_TOOL = os.path.join(ROOT, "tools", "compare_oracle.py")
JVM_TIMEOUT_S = 165
HEAP = "3g"
# a fixed heap and young generation, so resident memory follows the
# program's live data rather than the collector's resizing decisions
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy"]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = BUILD_FILES[:]
    for d in SOURCES:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the harness once per source state; returns the
    runtime classpath and the sources' hash."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(ORACLE_TOOL)):
        fail(f"no graft sources and oracle compare under {ROOT}: run from a graft checkout")
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"], digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": classpath}, fh)
    return classpath, digest


def git_rev():
    """The checkout's revision, when it is a git work tree."""
    try:
        rev = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if rev.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain"], capture_output=True,
                               text=True, timeout=10)
        return rev.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


# ---------------------------------------------------------------- checks

def oracle_tool():
    """The repository's oracle compare, tools/compare_oracle.py."""
    spec = importlib.util.spec_from_file_location("compare_oracle", ORACLE_TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare_oracle(lake, outdir, names, work):
    """Runs the oracle compare on `names` (each a parquet result under
    `outdir`, its SQL in `outdir`/oracle_sql.json) over `lake`; returns
    the failures it reports."""
    env = dict(os.environ, GRAFT_DUCKDB_THREADS="2")
    env.pop("GRAFT_DUCKDB_MEM", None)  # it would spill outside the checkout
    p = subprocess.run([sys.executable, ORACLE_TOOL, lake, outdir] + names, cwd=work, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=60)
    failures = [line[len("FAIL "):] for line in p.stdout.splitlines() if line.startswith("FAIL ")]
    if p.returncode != 0 and not failures:
        failures.append(f"oracle compare exited with {p.returncode}: {p.stderr.strip()[-300:]}")
    return failures


def digest(path):
    """Order-independent digest of a parquet result (sorted columns and
    rows, as the oracle compare orders them), or None if there is none."""
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    d = oracle_tool().canon(pq.read_table(files).to_pandas())
    h = hashlib.sha256(repr(list(d.columns)).encode())
    for row in d.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()


def check_batch(work, lake_root):
    """Every headline query's result against the DuckDB oracle; queries
    without one against the digest recorded for them."""
    vdir = os.path.join(work, "run2", "verify")
    with open(os.path.join(vdir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    with open(os.path.join(HERE, "expected_digests.json")) as fh:
        expected = json.load(fh)
    names = sorted(set(oracles) | {d for d in os.listdir(vdir) if os.path.isdir(os.path.join(vdir, d))})
    failures = [f"batch {f}" for f in compare_oracle(
        os.path.join(lake_root, "sf0.01"), vdir, [n for n in names if n in oracles], work)]
    for name in names:
        if name in oracles:
            continue
        got = digest(os.path.join(vdir, name))
        if got is None:
            failures.append(f"batch {name}: no result")
        elif name not in expected:
            failures.append(f"batch {name}: neither an oracle nor a recorded digest (digest {got})")
        elif got != expected[name]:
            failures.append(f"batch {name}: digest differs from the recorded one")
    return len(names), failures


LEVEL = "CASE WHEN event_type = 'error' THEN 2 WHEN event_type IN ('signup', 'purchase') THEN 4 ELSE 5 END"


def dashboard_sql(r):
    """The DuckDB form of a dashboard request over the raw events."""
    rng = f"epoch_us(ts) >= {r['begin_us']} AND epoch_us(ts) < {r['end_us']}"
    pid = r["pid"]
    k = r["kind"]
    if k == "tail":
        return (f"SELECT epoch_ms(ts) AS time_ms, event_id, {LEVEL} AS level, event_type AS target, "
                f"'event ' || CAST(event_id AS VARCHAR) AS msg FROM events "
                f"WHERE user_id = {pid} AND {rng} ORDER BY time_ms DESC, event_id DESC LIMIT 50")
    if k == "stats":
        return (f"SELECT epoch_ms(ts) - (epoch_ms(ts) % 60000) AS time_bin_ms, {LEVEL} AS level, "
                f"CAST(count(*) AS BIGINT) AS n FROM events WHERE {rng} GROUP BY 1, 2")
    if k == "spans":
        return (f"WITH s AS (SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS begin_ms, "
                f"lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS end_ms "
                f"FROM events WHERE {rng}) "
                f"SELECT CAST(user_id AS VARCHAR) AS process_id, event_id, name, begin_ms, end_ms, "
                f"end_ms - begin_ms AS duration_ms FROM s WHERE end_ms IS NOT NULL AND user_id = {pid} "
                f"ORDER BY begin_ms, event_id LIMIT 100")
    if k == "measures":
        return (f"SELECT event_type AS name, CAST(count(*) AS BIGINT) AS n, min(value) AS lo, "
                f"max(value) AS hi FROM events WHERE user_id = {pid} GROUP BY 1")
    if k == "prepared":
        return (f"SELECT event_type AS target, {LEVEL} AS level, CAST(count(*) AS BIGINT) AS n "
                f"FROM events WHERE {rng} GROUP BY 1, 2")
    raise ValueError(k)


def check_dashboard(work):
    """A seeded sample of requests, re-run in DuckDB over the same parquet."""
    cdir = os.path.join(work, "run2", "dash_check")
    with open(os.path.join(cdir, "requests.json")) as fh:
        reqs = json.load(fh)
    with open(os.path.join(cdir, "oracle_sql.json"), "w") as fh:
        json.dump({str(r["id"]): dashboard_sql(r) for r in reqs}, fh)
    failures = compare_oracle(os.path.join(work, "dash_lake2"), cdir, [str(r["id"]) for r in reqs], work)
    return len(reqs), [f"dashboard {f}" for f in failures]


# ---------------------------------------------------------------- main

def stop_on_term(signum, frame):
    """SIGTERM unwinds like an error, so the JVM and temp dir are cleaned up."""
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop_on_term)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "batch", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    lake_root = os.path.join(HERE, "lake")
    if not os.path.exists(os.path.join(lake_root, "sf0.01", "events.parquet")):
        fail("the benchmark's lake is missing")
    t0 = time.time()
    classpath, sources = build()
    t1 = time.time()
    nproc = os.cpu_count() or 1
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".bench_work"))
    try:
        report = run_jvm(args, classpath, lake_root, work, nproc)
        t2 = time.time()
        if args.workload == "batch":
            checked, check_failures = check_batch(work, lake_root)
        elif args.workload == "dashboard":
            checked, check_failures = check_dashboard(work)
        else:  # ingest: the harness's recount of the materialized view
            checked, check_failures = 1, []
        check_failures = report["check_failures"] + check_failures
        attempted = report["attempted"] + checked
        failed = report["failed"] + len(check_failures)
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(out_dir, f"spans_{tag}.json"))
        rev, dirty = git_rev()
        report.update({
            "git_rev": rev, "git_dirty": dirty, "source_sha256": sources,
            "nproc": nproc, "heap": HEAP,
            "lake_tables": {os.path.relpath(f, lake_root): os.path.getsize(f)
                            for f in sorted(glob.glob(os.path.join(lake_root, "*", "*.parquet")))},
            "checked": checked, "check_failures": check_failures,
            "harness_s": {"build": t1 - t0, "jvm": t2 - t1, "checks": time.time() - t2},
            "fail_ratio": failed / attempted if attempted else 1.0})
        with open(os.path.join(out_dir, f"report_{tag}.json"), "w") as fh:
            json.dump(report, fh, indent=1)
        if check_failures:
            for f in check_failures[:20]:
                print(f"check failed: {f}", file=sys.stderr)
        # per-layer numbers of a layer the workload does not reach read 0
        values = report["per_layer"] if args.trace else report["end_to_end"]
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in declared_metrics("per_layer" if args.trace else "end_to_end")}
        print(json.dumps({k: report[k] for k in (
            "workload", "seed", "traced", "git_rev", "git_dirty", "source_sha256", "nproc", "spark_cores",
            "heap_max_mb", "jdk", "spark_version", "lake", "latency_tail_percentile",
            "latency_samples", "latency_samples_beyond_tail", "fail_ratio", "info")}))
        print(json.dumps({"correct": not check_failures and report["failed"] == 0,
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(args, classpath, lake_root, work, nproc):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--lake-root", lake_root, "--work", work,
            "--out", os.path.join(work, "result.json"), "--cpus", str(nproc),
            "--launched-at-ms", str(int(time.time() * 1000))])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # never leave the JVM behind: on timeout, or when this
            # process is itself being stopped
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log_path) as fh:
            tail = fh.read().splitlines()[-60:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"harness JVM {'timed out' if code is None else f'exited with {code}'}")
    with open(result) as fh:
        return json.load(fh)


def declared_metrics(kind):
    """The metrics BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


if __name__ == "__main__":
    main()
