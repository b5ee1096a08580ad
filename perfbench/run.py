#!/usr/bin/env python3
"""Benchmark of the engine's reference pipeline and declared-query families.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine together
with the harness (``perfbench/build.sbt``, sbt offline) into
``.bench_build/``; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from ``--seed``, drives the
engine's public functions from one JVM on ``local[<cores>]`` with one
closed-loop client, checks every output, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
and the spans, layer self times and tracing overhead go to
``.bench_build/reports/``. See ``perfbench/README.md``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
DEADLINE_S = 170          # the whole run, build excepted
BUILD_TIMEOUT_S = 840

# the declared queries the query workload runs: three from the relational
# modules and three from the curation modules, cheap enough at this scale
# that each run times every one of them several times. The curation three
# run the simhash and shingle-hash kernels and an iterative memoised job
# chain (logistic-regression steps).
QUERIES = [
    "scd2_merge",              # Wrangling
    "join_asof",               # Relational
    "events_window_tumbling",  # EventWindows
    "dedup_simhash",           # Dedup
    "text_novelty",            # TextAnalysis
    "ml_logreg_step",          # Similarity (ml_*)
]

# one entry per workload: which engine path runs and how big one run is
WORKLOADS = {
    "etl_ingest": dict(mode="etl", min_ops=10, setup_rounds=3, backfill_passes=6,
                       backfill_files=4, backfill_rows=12000, arrival_rows=200,
                       malformed=0.02),
    "declared_queries": dict(mode="queries", min_passes=6, warmup_passes=2, setup_rounds=3),
}
# scale of the generated tables (the query workload reads them; the kernel
# microbenchmarks of a traced run read documents and embeddings)
TABLE_SF = 0.01

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    out = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.path.basename(d) in ("target", "project") and d != os.path.join(HERE, "project"):
                continue
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java", ".properties"))]
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless the build is current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found next to perfbench/")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME is not set")
    stamp_path = os.path.join(BUILD, "build.stamp")
    fp = fingerprint()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_path) and open(stamp_path).read() == fp:
        return fp
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
                       + f" -Djava.io.tmpdir={tmp}")
    log("building engine + harness with sbt (first run only)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        raise BenchError("sbt compile failed; see .bench_build/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_path, "w") as f:
        f.write(fp)
    return fp


def java_cmd(args):
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    return (["java", "-Xmx3g", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={args['work']}", f"-Dderby.system.home={args['work']}"] + JVM_OPENS +
            ["-cp", cp, "perfbench.Main"] + [x for k, v in args.items() for x in (f"--{k}", str(v))])


def run_jvm(args, log_path, deadline):
    """Run the harness JVM in its own process group; kill the group and
    wait if it outlives ``deadline``."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(java_cmd(args), stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"harness JVM overran its deadline; see {log_path}")
    if rc != 0:
        raise BenchError(f"harness JVM exited {rc}; see {log_path}")


def metastore(fp, deadline):
    """An empty Hive metastore, made once per build (a deployment's
    catalog exists before its ingest jobs run); returns its directory."""
    path = os.path.join(BUILD, f"metastore-{fp[:16]}")
    if not os.path.exists(path):
        tmp = path + "-tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        run_jvm({"mode": "metastore", "out": tmp, "work": tmp},
                os.path.join(BUILD, "metastore.log"), deadline)
        os.replace(tmp, path)
    return os.path.join(path, "metastore_db")


def cpu_counters():
    """The aggregate ``cpu`` line of ``/proc/stat``, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


# ------------------------------------------------------------- workloads

def prepare(workload, seed, trace, run_dir):
    """Generate the run's inputs; returns (harness args, expectations)."""
    spec = WORKLOADS[workload]
    tables = os.path.join(run_dir, "tables")
    if spec["mode"] == "queries" or trace:
        gen.write_tables(tables, TABLE_SF, seed)
    args = {"data": tables, "setup-rounds": spec["setup_rounds"]}
    expect = {}
    if spec["mode"] == "queries":
        args.update({"queries": ",".join(QUERIES), "min-passes": spec["min_passes"],
                     "warmup-passes": spec["warmup_passes"]})
    else:
        files, exp = gen.encounter_files(seed, spec["backfill_files"], spec["backfill_rows"],
                                         spec["malformed"])
        bf = os.path.join(run_dir, "backfill")
        os.makedirs(bf)
        for i, body in enumerate(files):
            with open(os.path.join(bf, f"encounters-{i:03d}.csv"), "wb") as f:
                f.write(body)
        # arrivals for set-up and warm-up, and twice the timed minimum
        n_arr = 4 + 2 * spec["min_ops"]
        arr, _ = gen.encounter_files(seed + 1, n_arr, spec["arrival_rows"], spec["malformed"],
                                     id_offset=10 ** 8)
        stage = os.path.join(run_dir, "work", "staged")
        os.makedirs(stage)
        for i, body in enumerate(arr):
            with open(os.path.join(stage, f"arrival-{i:05d}.csv"), "wb") as f:
                f.write(body)
        args.update({"backfill": bf, "arrivals": "staged", "min-ops": spec["min_ops"],
                     "backfill-passes": spec["backfill_passes"]})
        expect = dict(exp, csv_bytes=sum(len(b) for b in files), arrival_rows=spec["arrival_rows"])
    return args, expect


def query_checks(run, tables, results_dir):
    """Per-query oracle verdicts for the queries the run executed; the
    harness records each query's declared oracle SQL (or null)."""
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    verdict = {}
    for name in sorted({op["name"] for op in run["ops"]}):
        path = os.path.join(results_dir, f"{name}.jsonl")
        sql = run["oracles"][name]
        if not os.path.exists(path):
            verdict[name] = "no successful execution"
        elif sql is None:
            verdict[name] = "no oracle declared"
        else:
            verdict[name] = oracle.compare(path, con, sql)
    return verdict


def etl_check(expect):
    """Check one ingest-workload operation against the generated inputs."""
    def check(op):
        k = op["kind"]
        if k == "ingest":
            if op["rows"] != expect["rows"] or op["rows_back"] != expect["rows"]:
                return f"ingested {op['rows']} rows (read back {op['rows_back']}), landed {expect['rows']}"
        elif k == "quarantine":
            got = (op["valid_back"], op["rejects_unparseable"], op["rejects_missing_required"])
            want = (expect["valid"], expect["unparseable"], expect["missing_required"])
            if got != want:
                return f"curated/unparseable/missing = {got}, expected {want}"
        elif k in ("arrival", "publish"):
            # every backfill pass and every arrival lands its own partition
            per_batch = expect["rows"] if op["name"] == "encounters_batch" else expect["arrival_rows"]
            got = (op["rows_seen"], op["partitions_seen"])
            want = (op["landed"] * per_batch, op["landed"])
            if got != want:
                return f"{k} query saw {got[0]} rows in {got[1]} partitions, landed {want[0]} in {want[1]}"
        return None
    return check


# known engine defects: a failure that matches one exactly counts as a
# failed operation but does not make the run incorrect. Each entry is
# (description, predicate on the failed op); any other failure, including
# a different wrong count or an exception on the same step, is a real one.
KNOWN_DEFECTS = [
    ("Tables.registerCatalog over a batch-written ingest_date= layout leaves the "
     "Hive catalog with no partitions, and refreshCatalog adds none, so the "
     "published query reads 0 rows by table name",
     lambda op: (op["kind"], op["name"]) == ("publish", "encounters_batch")
     and not op.get("error") and op.get("landed", 0) > 0
     and op.get("rows_seen") == 0 and op.get("partitions_seen") == 0),
]


def known_defect(op):
    """The description of the known defect a failed op shows, or None."""
    return next((why for why, match in KNOWN_DEFECTS if match(op)), None)


def summarize(ops, check):
    """Failure accounting for a run: ``(attempted, failures, ok, correct)``.
    A run is correct when every failure is a known defect."""
    attempted, failures, ok = stats.account(ops, check)
    correct = all(known_defect(op) for op, _ in failures)
    return attempted, failures, ok, correct


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    fp = build()
    start = time.time()
    deadline = start + DEADLINE_S
    spec = WORKLOADS[a.workload]
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        args, expect = prepare(a.workload, a.seed, a.trace, run_dir)
        if spec["mode"] == "etl":
            shutil.copytree(metastore(fp, deadline), os.path.join(work, "metastore_db"))
        out = os.path.join(run_dir, "out")
        args.update({"mode": spec["mode"], "out": out, "work": work, "trace": a.trace,
                     "seed": a.seed, "seconds": a.seconds, "cores": len(os.sched_getaffinity(0)),
                     "max-seconds": max(10, deadline - time.time() - 25)})
        cpu0 = cpu_counters()
        run_jvm(args, os.path.join(run_dir, "jvm.log"), deadline)
        with open(os.path.join(out, "run.json")) as f:
            run = json.load(f)
        run["steal_frac"] = stats.steal_frac(cpu0, cpu_counters())

        if spec["mode"] == "queries":
            verdict = query_checks(run, args["data"], os.path.join(out, "results"))
            check = lambda op: verdict.get(op["name"])  # noqa: E731
        else:
            check = etl_check(expect)
        attempted, failures, ok, correct = summarize(run["ops"], check)
        for op, reason in failures[:20]:
            log(f"FAILED {op['kind']} {op['name']} ({op['phase']}): {reason[:200]}")
        for why, _ in KNOWN_DEFECTS:
            n = sum(1 for op, _ in failures if known_defect(op) == why)
            if n:
                log(f"known defect, {n} failed operations: {why}")
        log(f"host: cores={run['cores']} canary_cpu_s={run['canary_cpu_s']:.3f} "
            f"steal_frac={run['steal_frac']:.3f}")

        if a.trace:
            metrics, report = layers.per_layer(run, ok, spec["mode"], expect)
            os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
            rpath = os.path.join(BUILD, "reports", f"{a.workload}-seed{a.seed}-trace.json")
            with open(rpath, "w") as f:
                json.dump(report, f, indent=1)
            log(f"trace report: {os.path.relpath(rpath, ROOT)}")
        else:
            metrics = layers.end_to_end(run, ok, spec["mode"])
        result = {"correct": correct, "attempted": attempted, "failed": len(failures),
                  "metrics": metrics}
    except Exception:
        log(f"inputs and logs kept in {os.path.relpath(run_dir, ROOT)}")
        raise
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
