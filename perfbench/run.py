#!/usr/bin/env python3
"""Run one benchmark workload with one seed and print its metrics.

    python3 perfbench/run.py --workload train|pipeline \
        --seed N --seconds N --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source with sbt (cached under .bench_build/, keyed by a digest
of the sources) and generates the seeded inputs (also cached). Each run then
starts one JVM (perfbench.Main), which sets up, measures, and re-executes
what the output checks need outside the timed part. This script checks the
outputs: query outputs against their DuckDB oracle, the trained network
against a single-partition run. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it is the run
record (cpus, parallelism, commit, seed, JVM flags, sentinel latencies).
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path[:0] = [HERE, os.path.join(ROOT, "tools")]

WORKLOADS = ("train", "pipeline")
TABLES_SF = 0.001       # tables of the sentinel queries
PIPELINE_DOCS = 5_000   # corpus size of the pipeline workload
# The seed picks one of these corpus seeds. Checking a new corpus against the
# DuckDB oracle takes minutes, so each corpus has its oracle digests stored.
CORPUS_SEEDS = (4242, 4243, 4244)
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
    "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=1g"]
END_TO_END = [  # (name, unit), in BENCHMARK.json order
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("ok_ratio", "ratio"), ("op_p50_s", "s"),
    ("op_p90_s", "s"), ("throughput_per_s", "1/s"), ("task_s", "s")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to the repository root."""
    out = []
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += ["build.sbt", "perfbench/build.sbt"]
    return sorted(p for p in out if os.path.isfile(os.path.join(ROOT, p)))


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode() + b"\0")
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(digest, deadline):
    """The harness classpath, compiling with sbt when the sources differ from
    those of the last build (sbt's class directories hold only that one)."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.isfile(cp_file):
        built, cp = open(cp_file).read().split("\n", 1)
        if built == digest:
            return cp.strip()
    log("building engine and harness with sbt")
    with open(os.path.join(WORK, "build.log"), "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True,
                timeout=max(60, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("sbt build timed out")
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed; see .bench_build/build.log")
    with open(cp_file + ".tmp", "w") as f:
        f.write(digest + "\n" + lines[-1].strip())
    os.replace(cp_file + ".tmp", cp_file)
    return lines[-1].strip()


def data_key(*params):
    """Names generated inputs by everything that determines them."""
    import numpy
    import pyarrow
    h = hashlib.sha256(repr((params, numpy.__version__, pyarrow.__version__)).encode())
    for f in (os.path.join(HERE, "gen.py"), os.path.join(ROOT, "tools", "gen_scale.py")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return f"{params[0]}-{h.hexdigest()[:12]}"


def cached_dir(path, make):
    """Generate into `path` once; a complete directory is renamed into place."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    os.replace(tmp, path)
    return path


# ---- output digests ----------------------------------------------------------
def digest_rel(rel):
    """Order-independent digest of a DuckDB relation, canonicalised the way
    the repository's oracle check compares results (columns sorted by
    lower-cased name, floats to 12 significant digits, rows sorted)."""
    from check_oracle import canon
    cols, rows = canon([c.lower() for c in rel.columns], rel.fetchall())
    h = hashlib.sha256(json.dumps([cols, rows]).encode())
    return f"{len(rows)}:{h.hexdigest()[:24]}"


def content_key(con, data_dir):
    """Names a data directory by the digests of its tables' contents."""
    h = hashlib.sha256()
    for t in sorted(os.listdir(data_dir)):
        if t.endswith(".parquet"):
            h.update(f"{t}={digest_rel(con.sql(f'SELECT * FROM {t[:-8]}'))};".encode())
    return f"{os.path.basename(data_dir).split('-')[0]}-{h.hexdigest()[:12]}"


def oracle_digests(con_for, data_dir, sqls):
    """Digest of each query's DuckDB oracle over `data_dir`, cached on disk.

    oracle_digests.json beside this script holds digests computed when the
    benchmark was defined, keyed like the cache (content of the input, query,
    hash of its oracle SQL, DuckDB version); a changed oracle or input is
    computed afresh.
    """
    import duckdb
    key = content_key(con_for(data_dir), data_dir)
    cache = os.path.join(WORK, "oracle", key)
    os.makedirs(cache, exist_ok=True)
    known = json.load(open(os.path.join(HERE, "oracle_digests.json")))
    out = {}
    for name, sql in sqls.items():
        entry = f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:12]}-duckdb{duckdb.__version__}"
        f = os.path.join(cache, entry)
        if not os.path.isfile(f):
            d = known.get(key, {}).get(entry)
            if d is None:
                d = digest_rel(con_for(data_dir).sql(sql)) if sql else "no-oracle"
            with open(f + ".tmp", "w") as fh:
                fh.write(d)
            os.replace(f + ".tmp", f)
        out[name] = open(f).read()
    return out


def check_outputs(result, data_dir):
    """Number of outputs whose digest differs from the oracle's."""
    import duckdb
    cons = {}

    def con_for(d):
        if d not in cons:
            con = duckdb.connect()
            for t in os.listdir(d):
                if t.endswith(".parquet"):
                    con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(d, t)}')")
            cons[d] = con
        return cons[d]

    want = oracle_digests(con_for, data_dir, result["oracle_sql"])
    bad = 0
    for o in result["outputs"]:
        got = digest_rel(con_for(data_dir).sql(f"SELECT * FROM read_parquet('{o['path']}/*.parquet')"))
        if want[o["name"]] != "no-oracle" and got != want[o["name"]]:
            log(f"output check failed: {o['name']} {got} != oracle {want[o['name']]}")
            bad += 1
    return bad


def unit_of(name):
    """Unit of a per-layer metric, read from its name."""
    if "bytes" in name:
        return "bytes"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")) or ".build_s." in name:
        return "s"
    if name.endswith(("busy_share", "skew")):
        return "ratio"
    return "count"


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    needed = ("build.sbt", "src/main/scala", "tools/gen_scale.py", "tools/check_oracle.py")
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a checkout of the engine (missing {', '.join(missing)})")
    os.makedirs(WORK, exist_ok=True)
    src_digest = digest_files(sources())
    cp_file = os.path.join(WORK, "classpath.txt")
    fresh_build = not (os.path.isfile(cp_file) and open(cp_file).readline().strip() == src_digest)
    deadline = start + (880 if fresh_build else 170)
    cp = build(src_digest, deadline)

    import gen
    data = os.path.join(WORK, "data")
    tables = cached_dir(os.path.join(data, data_key("tables", TABLES_SF)),
                        lambda d: gen.tables(d, TABLES_SF))
    if a.workload == "pipeline":
        profile = cached_dir(os.path.join(data, data_key("profile")), gen.profile_corpus)
        cseed = CORPUS_SEEDS[a.seed % len(CORPUS_SEEDS)]
        wl_data = cached_dir(os.path.join(data, data_key("corpus", PIPELINE_DOCS, cseed)),
                             lambda d: gen.corpus(d, PIPELINE_DOCS, cseed, profile))
    else:
        wl_data = ""
    os.makedirs(os.path.join(WORK, "reference"), exist_ok=True)
    reference = os.path.join(WORK, "reference", f"train-{src_digest}-seed{a.seed}.txt")

    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--data", wl_data, "--tables", tables, "--work", run_dir,
           "--seconds", str(a.seconds), "--seed", str(a.seed), "--trace", str(a.trace),
           "--cpus", str(cpus), "--reference", reference]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as lf:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                timeout=max(10, deadline - 15 - time.time())).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    res_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.isfile(res_file):
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM failed ({rc})", 1)
    result = json.load(open(res_file))

    mismatches = check_outputs(result, wl_data) if result["outputs"] else 0
    if a.workload == "train":
        log(f"train check: {result['check_detail']}")
    attempted = int(result["attempted"])
    failed = min(attempted, int(result["failed"]) + int(result["check_failures"]) + mismatches)

    e2e = dict(result["e2e"], ok_ratio=(attempted - failed) / attempted)
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    last = os.path.join(WORK, "last", a.workload)
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(last)
    for f in ("result.json", "spans.json", "jvm.log"):
        if os.path.isfile(os.path.join(run_dir, f)):
            shutil.copy(os.path.join(run_dir, f), last)
    shutil.rmtree(run_dir, ignore_errors=True)

    record = dict(result["record"], workload=a.workload, commit=commit(), source_digest=src_digest,
                  seconds=a.seconds, trace=a.trace, check=result["check_detail"] or None,
                  output_mismatches=mismatches)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
