#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bi_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness and the
engine from source (sbt, offline) into perfbench/target; inputs are
generated into .bench_build/data. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the
metrics are the end-to-end ones with --trace 0 and the per-layer ones
with --trace 1. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import gen      # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("bi_queries", "etl_pipeline")
TABLE_ROWS = 60000         # lineitem rows of the generated tables (sf0.01)
JOBS = {"n_batch": 8000, "n_incr": 600, "incr_batches": 3, "new_share": 0.3}
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True) +
                   glob.glob(f"{HERE}/src/main/scala/**/*.scala", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(f"{home}/jars"):
        fail("no Spark install found: set SPARK_HOME")
    return home


def build():
    """Compile engine + harness once per source state (sbt, offline)."""
    classes = f"{HERE}/target/scala-2.13/classes"
    stamp = f"{BUILD}/build.stamp"
    digest = sources_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.offline=true -Xmx2g")
    log = f"{BUILD}/build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=800)
    if r.returncode != 0:
        fail(f"build failed, see {log}", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def ensure(path, make):
    """Generate `path` once (atomically); inputs never enter a timing."""
    if not os.path.exists(f"{path}/_DONE"):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        open(f"{tmp}/_DONE", "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def load_compare():
    spec = importlib.util.spec_from_file_location("compare", f"{ROOT}/tools/compare.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(df, compare):
    n = compare.normalize(df)
    return hashlib.sha256((",".join(n.columns) + "\n" +
                           n.to_csv(index=False, header=False)).encode()).hexdigest()


def check_queries(tables, verify_dir):
    """Bit-strict parity of each query's verify-pass output with the
    DuckDB oracle (tools/compare.py's normalization); a query without an
    oracle must return rows. Oracle digests are cached per data set and
    SQL text. Returns (checked, [failures])."""
    import duckdb
    import pandas as pd
    compare = load_compare()
    oracle = json.load(open(f"{verify_dir}/oracle_sql.json"))
    cache_f = f"{tables}/oracle_digests.json"
    cache = json.load(open(cache_f)) if os.path.exists(cache_f) else {}
    con = None
    failures, checked = [], 0
    for d in sorted(glob.glob(f"{verify_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        checked += 1
        try:
            mine = pd.read_parquet(d)
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: unreadable output ({e})")
            continue
        if name not in oracle:
            if mine.empty:
                failures.append(f"{name}: no rows")
            continue
        key = hashlib.sha256(oracle[name].encode()).hexdigest()
        if cache.get(name, {}).get("sql") != key:
            if con is None:
                con = duckdb.connect()
                for t in compare.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{tables}/{t}.parquet')")
            cache[name] = {"sql": key, "digest": digest(con.execute(oracle[name]).df(), compare)}
        if digest(mine, compare) != cache[name]["digest"]:
            failures.append(f"{name}: result differs from the oracle")
    with open(cache_f + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(cache_f + ".tmp", cache_f)
    return checked, failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the cleanup below runs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("src/main/scala/graft", "tools/compare.py"):
        if not os.path.exists(f"{ROOT}/{need}"):
            fail(f"{need} not found: run from a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    classes = build()

    # Generated inputs are cached per generator version, parameters and seed.
    gen_tag = hashlib.sha256(open(gen.__file__, "rb").read() + json.dumps(
        [TABLE_ROWS, JOBS]).encode()).hexdigest()[:10]
    tables = ensure(f"{BUILD}/data/tables-{gen_tag}-seed{a.seed}",
                    lambda p: gen.make_tables(p, TABLE_ROWS, a.seed))
    jobs, manifest = "", None
    if a.workload == "etl_pipeline":
        def make_jobs(p):
            docs = pq.read_table(f"{tables}/documents.parquet").column("text").to_pylist()
            gen.make_jobs(p, docs, a.seed, **JOBS)
        jobs = ensure(f"{BUILD}/data/jobs-{gen_tag}-seed{a.seed}", make_jobs)
        manifest = json.load(open(f"{jobs}/manifest.json"))

    work = f"{BUILD}/work/{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = f"{work}/raw.json"
        os.makedirs(f"{work}/tmp")
        cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", f"{classes}:{spark_home()}/jars/*", "graftbench.Main", a.workload,
                tables, jobs or "-", work, str(a.seed), str(a.seconds), str(a.trace), out])
        with open(f"{work}/jvm.log", "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:  # also on SIGTERM: the JVM never outlives the run
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if rc != 0 or not os.path.exists(out):
            lines = open(f"{work}/jvm.log").read().splitlines()
            sys.stderr.write("\n".join([ln for ln in lines if "Exception" in ln][:5] +
                                       lines[-40:]) + "\n")
            fail(f"harness exited with {rc}", 4)
        raw = json.load(open(out))
        # The run's samples and, when traced, its span file outlive the run.
        os.makedirs(f"{BUILD}/runs", exist_ok=True)
        shutil.copy(out, f"{BUILD}/runs/{a.workload}-seed{a.seed}-trace{a.trace}.json")

        failures = [f"{c['name']}: {c['detail']}" for c in raw["checks"] if not c["ok"]]
        checked = len(raw["checks"])
        if a.workload == "bi_queries":
            n, qfail = check_queries(tables, f"{work}/verify")
            failures += qfail
            checked += n
        op_failed = sum(1 for o in raw["ops"] if not o["ok"])
        e2e, info = metrics.end_to_end(raw)
        chosen = e2e if a.trace == 0 else metrics.per_layer(raw, manifest)
        for name, (v, unit) in chosen.items():
            print(f"{name} = {v:.6g} {unit}")
        print(f"# {a.workload}: {info['samples']} latency samples, tail = "
              f"p{info['tail_percentile']}, {checked} outputs checked")
        if manifest:
            print(f"# feed: {manifest['batch_rows']} listings ({manifest['batch_bytes']} bytes), "
                  f"{manifest['incr_rows']} streamed, new-key share "
                  f"{manifest['incr_new_key_share']:.2f}")
        for f in failures:
            print(f"# MISMATCH {f}")
        print(json.dumps({
            "correct": not failures and op_failed == 0,
            "attempted": len(raw["ops"]) + checked,
            "failed": op_failed + len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
